"""Checkpointed tier pipeline with per-partition lineage + idempotent resume.

North-rule requirement: every stage checkpoints with lineage rows
(stage, partition id, watermark, input/output row counts, rollup hash) so a
retention sweep or backfill killed mid-run resumes idempotently.

Design
------
* Each tier is written as parquet partitioned by ``day`` (UTC date of the
  bucket) — the unit of checkpointing. At 100 TB that makes retention a
  partition-prunable delete and backfill a per-day filter.
* ``_lineage`` is itself a parquet table of rows
  (stage, part_id, watermark, n_in, n_out, rollup_hash, run_id). Commits
  happen on the driver: one small parquet file written under a hidden
  ``.``-prefixed name, then atomically renamed into place, so a reader
  sees a commit whole or not at all (Spark skips hidden files, and so does
  the manifest read). No distributed job is launched to append a row.
* Rollup hash = ``bit_xor`` of per-row ``xxhash64`` over the canonicalized
  row — order-insensitive, computed JVM-side, so two runs (any partitioning,
  any executor count) of the same day must produce the same hash.
* Resume protocol: the manifest is read once per run; pending days are the
  input's days filtered by ``day NOT IN completed``. Day directories on disk
  that have NO lineage row are torn out first (a crash window leaves data
  without lineage, never lineage without data — each tier's lineage is
  committed right after its write).
* Day-local cascade: every width in ``TIERS`` divides 86,400, so day D of a
  coarser tier depends only on day D of the finer one. New days cascade
  from the cached pending slice of the finer tier; backlog days (committed
  in the finer tier, not yet in the coarser one) are read back from disk
  with partition pruning. The rest of the finer history is never re-read.

Iceberg note: the north star names Iceberg tables; this container has no
Iceberg runtime jar (offline, no spark.jars.packages), so the storage layer
is day-partitioned parquet + the ``_lineage`` manifest — the same
snapshot/manifest discipline expressed manually. On a cluster with
``iceberg-spark-runtime`` on the classpath the writes become
``writeTo(...).using("iceberg")`` and the resume filter reads the
table's own snapshot metadata; nothing else changes.
"""

from __future__ import annotations

import datetime
import functools
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkts.operators.rollup import STAT_COLS, TIERS, rollup_base, rollup_cascade

LINEAGE_SCHEMA = pa.schema([
    ("stage", pa.string()),
    ("part_id", pa.string()),
    ("watermark", pa.int64()),
    ("n_in", pa.int64()),
    ("n_out", pa.int64()),
    ("rollup_hash", pa.int64()),
    ("run_id", pa.string()),
])
LINEAGE_COLS = LINEAGE_SCHEMA.names
_LINEAGE_DDL = ("stage string, part_id string, watermark long, n_in long, "
                "n_out long, rollup_hash long, run_id string")


def rollup_hash_col() -> F.Column:
    """Order-insensitive content hash of a tier row (stats rounded to 6dp so
    the hash is stable across plan-dependent float summation orders)."""
    parts = [F.col("bucket").cast("long").cast("string")] + [
        F.round(F.col(c), 6).cast("string") for c in STAT_COLS
    ]
    return F.xxhash64(F.concat_ws("|", *parts))


class LineageStore:
    """Parquet-backed lineage table under ``<base>/_lineage``."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.path = os.path.join(base_dir, "_lineage")

    def _files(self) -> list[str]:
        """Committed manifest files; hidden (``.``) and ``_`` names skipped.
        Reading the files rather than the ``_lineage`` directory keeps Spark
        from warning that the underscore-prefixed root was ignored."""
        if not os.path.isdir(self.path):
            return []
        return [os.path.join(self.path, f) for f in sorted(os.listdir(self.path))
                if not f.startswith((".", "_"))]

    def read(self) -> DataFrame | None:
        files = self._files()
        if not files:
            return None
        return self.spark.read.schema(_LINEAGE_DDL).parquet(*files)

    def completed(self) -> dict[str, set[str]]:
        """``{stage: completed part ids}``, read on the driver."""
        out: dict[str, set[str]] = {}
        for f in self._files():
            for r in pq.read_table(f, columns=["stage", "part_id"]).to_pylist():
                out.setdefault(r["stage"], set()).add(r["part_id"])
        return out

    def completed_parts(self, stage: str) -> set[str]:
        return self.completed().get(stage, set())

    def append(self, rows: list[dict]) -> None:
        """Commit rows as one parquet file: write hidden, then rename."""
        if not rows:
            return
        table = pa.Table.from_pylist(
            [{c: r[c] for c in LINEAGE_COLS} for r in rows], schema=LINEAGE_SCHEMA)
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, os.path.join(self.path, name))


def _reconcile(out_dir: str, completed: set[str]) -> None:
    """Tear out day directories that have no lineage row (crash window)."""
    if not os.path.exists(out_dir):
        return
    for d in os.listdir(out_dir):
        if d.startswith("day=") and d.split("=", 1)[1] not in completed:
            shutil.rmtree(os.path.join(out_dir, d))


def _day_in(days: set[str]) -> F.Column:
    return F.col("day").isin([datetime.date.fromisoformat(d) for d in sorted(days)])


class TierPipeline:
    """Raw activity table → checkpointed 1m/5m/1h/1d tier tables.

    Usage::

        pipe = TierPipeline(spark, out_dir, key_cols=["domain"])
        pipe.run(activity_df, ts_col="warc_ts", value_col="bytes", run_id="r1")

    One pass: the finest tier is rolled up from raw, keeping only pending
    days; each coarser tier's pending days are cascaded from the cached
    pending slice of the tier below, plus any backlog days read back from
    the written finer tier. A resumed run never rescans raw data for tiers
    already built, and never re-reads finer history it does not need.
    """

    def __init__(self, spark: SparkSession, out_dir: str, key_cols: list[str]):
        self.spark = spark
        self.out_dir = out_dir
        self.key_cols = key_cols
        self.lineage = LineageStore(spark, out_dir)

    def tier_path(self, tier: str) -> str:
        return os.path.join(self.out_dir, f"tier={tier}")

    def read_tier(self, tier: str) -> DataFrame:
        return self.spark.read.parquet(self.tier_path(tier))

    # ------------------------------------------------------------------ #
    def run(
        self,
        activity: DataFrame,
        ts_col: str,
        value_col: str,
        run_id: str = "run0",
        tiers: list[str] | None = None,
        extra_aggs: dict | None = None,
    ) -> dict[str, int]:
        """Build/extend all tiers; returns {tier: n_new_day_partitions}.

        ``extra_aggs`` (sum-decomposable columns, e.g. the extraction-
        invariant counter ``{'n_bad': F.sum('bad')}``) ride the base
        rollup and cascade through every coarser tier — round-4 fix: the
        pipeline used to drop them, silently disabling the
        extraction-mismatch check the north rule requires."""
        tiers = sorted(tiers or list(TIERS), key=lambda t: TIERS[t])
        manifest = self.lineage.completed()
        done = {t: manifest.get(f"tier_{t}", set()) for t in tiers}
        for t in tiers:
            _reconcile(self.tier_path(t), done[t])

        def pending_days(df: DataFrame, tier: str) -> DataFrame:
            df = df.withColumn("day", F.to_date("bucket"))
            return df.where(~_day_in(done[tier])) if done[tier] else df

        extra_cols = list(extra_aggs or {})
        pending: dict[str, DataFrame] = {}
        try:
            base_df = rollup_base(activity, ts_col, self.key_cols, value_col,
                                  tiers[0], extra_aggs=extra_aggs)
            pending[tiers[0]] = pending_days(base_df, tiers[0]).cache()
            for prev, cur in zip(tiers, tiers[1:]):
                finer = pending[prev]
                backlog = done[prev] - done[cur]
                if backlog:
                    finer = finer.unionByName(
                        self.read_tier(prev).where(_day_in(backlog)))
                casc = rollup_cascade(finer.drop("day"), self.key_cols, cur,
                                      extra_sum_cols=extra_cols)
                pending[cur] = pending_days(casc, cur).cache()

            # every tier's per-day stats in one job
            h = rollup_hash_col()
            stats = functools.reduce(DataFrame.unionByName, [
                df.withColumn("h", h)
                .groupBy("day")
                .agg(
                    F.count("*").alias("n_out"),
                    F.max(F.col("bucket").cast("long")).alias("wm"),
                    F.bit_xor("h").alias("rollup_hash"),
                    F.sum("n_rows").alias("n_in"),
                )
                .withColumn("tier", F.lit(t))
                for t, df in pending.items()
            ]).collect()
            by_tier: dict[str, list] = {t: [] for t in tiers}
            for r in stats:
                by_tier[r.tier].append(r)

            # finest first; each tier's lineage commits right after its write
            for t in tiers:
                if not by_tier[t]:
                    continue
                (pending[t].write.mode("append")
                 .partitionBy("day")
                 .parquet(self.tier_path(t)))
                self.lineage.append([
                    {
                        "stage": f"tier_{t}",
                        "part_id": str(r.day),
                        "watermark": int(r.wm),
                        "n_in": int(r.n_in),
                        "n_out": int(r.n_out),
                        "rollup_hash": int(r.rollup_hash),
                        "run_id": run_id,
                    }
                    for r in by_tier[t]
                ])
            return {t: len(by_tier[t]) for t in tiers}
        finally:
            for df in pending.values():
                df.unpersist()
