"""Skew handling: salted two-stage aggregation for head-heavy keys.

North-rule requirement: Zipf-distributed domains make some keys orders of
magnitude hotter than others. Spark's map-side partial aggregation already
collapses per-task duplicates, and AQE (enabled in sparkts.session) splits
skewed shuffle partitions — but when a single (domain, bucket) cell is hot
enough that even its *partial* rows overwhelm one reducer (e.g. a crawl
burst producing 10⁸ events in one domain-minute across thousands of map
tasks), the standard remedy is salting: aggregate on (keys, salt) first so
the hot cell's load spreads over ``n_salts`` reducers, then merge the salted
partials: ``stat_aggs`` then ``merge_aggs`` (operators/rollup.py). All tier
statistics are decomposable, so the two-stage result is bit-identical to
the direct aggregation — tested.

Salt derivation is deterministic (xxhash64 of a stable row attribute, not
rand()) so retries/speculative tasks stay idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sparkts.operators.rollup import TIERS, bucket_ts, merge_aggs, stat_aggs


def salted_rollup_base(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    tier: str = "1m",
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-stage salted version of ``rollup_base`` — same output, skew-proof
    shuffle. ``salt_source`` is a column whose hash spreads the hot cell
    (defaults to the raw timestamp so rows of one hot bucket still spread)."""
    width = TIERS[tier]
    src = F.col(salt_source) if salt_source else F.col(ts_col).cast("string")
    salt = F.pmod(F.xxhash64(src), F.lit(n_salts)).alias("__salt")
    partial = (
        df.groupBy(*key_cols, bucket_ts(ts_col, width).alias("bucket"), salt)
        .agg(*stat_aggs(value_col))
    )
    return partial.groupBy(*key_cols, "bucket").agg(*merge_aggs())


def key_skew_profile(df: DataFrame, key_cols: list[str], top_n: int = 20) -> DataFrame:
    """Planning helper: per-key row counts + share of total, descending —
    the input to choosing n_salts (hot key rows / target partition rows)."""
    total = df.count()
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("n_rows"))
        .withColumn("share", F.col("n_rows") / F.lit(float(total)))
        .orderBy(F.col("n_rows").desc())
        .limit(top_n)
    )
