"""Continuous-aggregate tier rollups (1m → 5m → 1h → 1d) + retention.

The reference's only downsample primitive is ``_chunk_sums`` (fixed-size chunk
sums over the per-series array, reference models.py:2272-2278). Here the same
idea is a first-class distributed operator: time-bucketed aggregation with
*decomposable* statistics (count/sum/min/max/sumsq) so coarser tiers are
re-aggregations of finer tiers — never of the raw data. That property is what
makes the cascade cheap at 100 TB: raw data is scanned exactly once (for the
1m base tier) and every coarser tier is built from 1m buckets, never from raw
rows. ``build_tiers`` chains the tiers (each from the one below);
``sparkts.lineage.TierPipeline`` derives all coarser tiers from the 1m slice
in one aggregation. The tier row is defined once, here: every base rollup
(batch, salted, streamed) aggregates raw rows with ``stat_aggs``, and every
merge of finer rows uses ``merge_aggs``.

Unlike the reference's "discard incomplete trailing chunk" policy
(models.py:2277 ``trim``), partial tail buckets are KEPT and flagged via the
bucket timestamp — retention/gap-fill downstream decide what to do with them.

Scale notes
-----------
* The base rollup is one shuffle on (keys, bucket); map-side partial
  aggregation (Spark's HashAggregate partial→final) compresses before the
  exchange, so shuffle volume ≈ n_distinct_buckets, not n_rows.
* Cascades reuse the same keys, so AQE coalesces the already-small exchanges.
* All expressions are built-in (whole-stage codegen); no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: tier name → bucket width in seconds
TIERS: dict[str, int] = {"1m": 60, "5m": 300, "1h": 3600, "1d": 86400}

#: default retention horizon per tier (seconds kept relative to max bucket);
#: mirrors typical continuous-aggregate policies (fine tiers short-lived).
DEFAULT_RETENTION: dict[str, int] = {
    "1m": 2 * 86400,
    "5m": 7 * 86400,
    "1h": 30 * 86400,
    "1d": 365 * 86400,
}

STAT_COLS = ["n_rows", "v_sum", "v_min", "v_max", "v_sumsq"]


def bucket_ts(ts_col: str, width_s: int) -> F.Column:
    """Floor a timestamp column to a bucket of ``width_s`` seconds (UTC).

    ``cast(ts as long)`` = epoch seconds (sub-second truncation is the
    bucketing we want); integer floor-div keeps it codegen-friendly.
    TIMESTAMP_NTZ inputs are first cast to TIMESTAMP (session tz is pinned
    to UTC in sparkts.session, so the interpretation is stable).
    """
    return F.expr(bucket_sql(ts_col, width_s))


def bucket_sql(ts_col: str, width_s: int) -> str:
    """``bucket_ts`` as one SQL expression string. Parsed in a single call
    into the JVM, where building the same tree operator by operator costs
    one py4j round trip each."""
    epoch = f"CAST(CAST({ts_col} AS TIMESTAMP) AS BIGINT)"
    return f"timestamp_seconds({epoch} - {epoch} % {int(width_s)})"


def stat_aggs(value_col: str) -> list[F.Column]:
    """The ``STAT_COLS`` aggregates of ``value_col`` cast to double: count,
    sum, min, max and sum of squares — the one raw→stats list."""
    v = F.col(value_col).cast("double")
    return [
        F.count(v).alias("n_rows"),
        F.sum(v).alias("v_sum"),
        F.min(v).alias("v_min"),
        F.max(v).alias("v_max"),
        F.sum(v * v).alias("v_sumsq"),
    ]


def rollup_base(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    tier: str = "1m",
    extra_aggs: dict[str, F.Column] | None = None,
) -> DataFrame:
    """Base tier: raw rows → (keys, bucket, ``stat_aggs`` of the value).

    ``extra_aggs`` rides extra *decomposable* aggregates (e.g. a data-quality
    mismatch count) through the same single scan — at 100 TB the raw scan is
    the dominant cost, so every per-row check must share it rather than
    re-scan."""
    width = TIERS[tier]
    aggs = stat_aggs(value_col) + [
        col.alias(name) for name, col in (extra_aggs or {}).items()]
    return df.groupBy(*key_cols, bucket_ts(ts_col, width).alias("bucket")).agg(*aggs)


def merge_aggs(extra_sum_cols: list[str] | None = None) -> list[F.Column]:
    """Aggregates that merge finer tier rows into one coarser row: counts,
    sums and sums of squares add, minima and maxima fold. ``extra_sum_cols``
    are summed through (they must be sum-decomposable, like the extra_aggs
    of rollup_base)."""
    aggs = [
        F.sum("n_rows").alias("n_rows"),
        F.sum("v_sum").alias("v_sum"),
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
        F.sum("v_sumsq").alias("v_sumsq"),
    ]
    return aggs + [F.sum(name).alias(name) for name in extra_sum_cols or []]


def rollup_cascade(
    finer: DataFrame,
    key_cols: list[str],
    to_tier: str,
    extra_sum_cols: list[str] | None = None,
) -> DataFrame:
    """Re-aggregate a finer tier into ``to_tier`` using only decomposable
    stats — the continuous-aggregate invariant (coarse == direct-from-raw is
    tested; see tests/test_rollup.py), with the ``merge_aggs`` of
    ``extra_sum_cols``."""
    width = TIERS[to_tier]
    return (
        finer.groupBy(*key_cols, bucket_ts("bucket", width).alias("bucket"))
        .agg(*merge_aggs(extra_sum_cols))
    )


def build_tiers(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    tiers: list[str] | None = None,
    extra_aggs: dict[str, F.Column] | None = None,
) -> dict[str, DataFrame]:
    """Full cascade: raw → finest tier → each coarser tier from the previous.

    Returned DataFrames are lazy; callers persist/write per tier. The
    persisted, resumable form of the same cascade is
    ``sparkts.lineage.TierPipeline``, which commits each tier's day
    partitions with lineage from one raw scan. ``extra_aggs`` (sum-
    decomposable) propagate through every tier.
    """
    tiers = tiers or list(TIERS)
    tiers = sorted(tiers, key=lambda t: TIERS[t])
    extra_cols = list(extra_aggs or {})
    out: dict[str, DataFrame] = {}
    base = rollup_base(df, ts_col, key_cols, value_col, tiers[0], extra_aggs)
    out[tiers[0]] = base
    prev = base
    for t in tiers[1:]:
        prev = rollup_cascade(prev, key_cols, t, extra_sum_cols=extra_cols)
        out[t] = prev
    return out


def apply_retention(
    tier_dfs: dict[str, DataFrame],
    horizons: dict[str, int] | None = None,
    as_of: str | None = None,
) -> dict[str, DataFrame]:
    """Drop buckets older than each tier's horizon.

    ``as_of`` anchors "now" (ISO timestamp string); defaults must be supplied
    by the caller in batch jobs (deterministic runs pass an explicit as_of).
    The filter is a partition-prunable predicate on ``bucket`` — with tiers
    stored partitioned by days(bucket), retention sweeps are metadata-only
    deletes at scale.
    """
    horizons = horizons or DEFAULT_RETENTION
    out = {}
    for tier, df in tier_dfs.items():
        h = horizons.get(tier)
        if h is None or as_of is None:
            out[tier] = df
        else:
            cutoff = F.timestamp_seconds(
                F.unix_timestamp(F.lit(as_of)) - F.lit(h)
            )
            out[tier] = df.where(F.col("bucket") >= cutoff)
    return out


def _activity_cols() -> list[F.Column]:
    """(domain, warc_ts, bytes) of a pages frame: the projection of
    ``crawl_activity`` and ``crawl_activity_checked``."""
    return [
        F.parse_url(F.col("url"), F.lit("HOST")).alias("domain"),
        F.col("warc_ts"),
        F.length("html").cast("double").alias("bytes"),
    ]


def crawl_activity(pages: DataFrame) -> DataFrame:
    """North-star series derivation: pages → (domain, warc_ts, bytes).

    domain via built-in ``parse_url`` (no UDF); the measured value is the
    page payload size — ``length(html)`` — giving non-trivial sum/min/max.
    Column pruning discipline: this projects url/warc_ts/html ONLY; when the
    caller ran ``extract_text`` separately, Catalyst prunes ``text`` from the
    scan entirely.
    """
    return pages.select(*_activity_cols())


def crawl_activity_checked(pages: DataFrame, mismatch: F.Column) -> DataFrame:
    """``crawl_activity`` + a per-row extraction-mismatch flag (``bad``),
    so the invariant check and the base rollup share ONE raw scan — at
    100 TB the scan dominates, so the quality check must not re-read the
    corpus. Feed to ``build_tiers(extra_aggs={'n_bad': F.sum('bad')})``."""
    return pages.select(*_activity_cols(), mismatch.cast("long").alias("bad"))
