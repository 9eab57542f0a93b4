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
  that have NO lineage row are torn out first.
* One aggregation, one write, one commit per run: every width in ``TIERS``
  divides 86,400, so day D of every tier depends only on day D of the
  finest tier. The pending finest-tier slice is exploded into one (tier,
  bucket) slot per tier, slots of committed (tier, day)s are dropped, and a
  single ``groupBy(tier, day, keys, bucket)`` builds every tier's pending
  days.
  That frame is cached, its per-(tier, day) stats are collected in one
  action, and it is written once, partitioned by (tier, day), rows sorted
  by (keys, bucket) and split into ceil(n_out / ``ROWS_PER_FILE``) files
  per tier-day. All tiers' lineage rows of the run are then committed as
  ONE manifest file.
* Crash window: between the write and the commit, the run's days exist on
  disk in every tier without lineage — data without lineage, never lineage
  without data — and the next run tears them out and rebuilds them.
* Backlog: a day committed in the finest tier but pending in a coarser one
  (left by an interrupted per-tier commit of an older layout, or by lost
  lineage) is read back from the finest tier on disk, with partition
  pruning, and feeds the same aggregation. The rest of the finest history
  is never re-read.
* Readers see committed data only: ``read_tier`` reads the days the
  manifest lists, with the schema stored in a committed file's footer, so
  a read launches no schema-inference job.

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
import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from sparkts.operators.rollup import STAT_COLS, TIERS, bucket_sql, merge_aggs, rollup_base

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

#: row target of one tier file: a run writes a tier-day of ``n_out`` rows as
#: ceil(n_out / ROWS_PER_FILE) parquet files
ROWS_PER_FILE = 2_000_000

#: parquet footer key under which Spark stores a file's Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def rollup_hash_col() -> F.Column:
    """Order-insensitive content hash of a tier row (stats rounded to 6dp so
    the hash is stable across plan-dependent float summation orders)."""
    parts = ["CAST(CAST(bucket AS BIGINT) AS STRING)"] + [
        f"CAST(round({c}, 6) AS STRING)" for c in STAT_COLS
    ]
    return F.expr(f"xxhash64(concat_ws('|', {', '.join(parts)}))")


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
        """Commit rows as one parquet file (see ``_publish``)."""
        if not rows:
            return
        table = pa.Table.from_pylist(
            [{c: r[c] for c in LINEAGE_COLS} for r in rows], schema=LINEAGE_SCHEMA)
        _publish(os.path.join(self.path, f"part-{uuid.uuid4().hex}.parquet"),
                 lambda tmp: pq.write_table(table, tmp, compression="zstd"))


def _publish(path: str, write) -> None:
    """Publish a commit file on the driver: ``write(tmp)`` fills a hidden
    ``.``-prefixed file next to ``path``, which is then renamed onto
    ``path`` in one atomic step. Readers skip hidden names, so they see the
    file whole or not at all, and a crash leaves only a hidden leftover."""
    directory, name = os.path.split(path)
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.{uuid.uuid4().hex}.tmp")
    write(tmp)
    os.replace(tmp, path)


def _spark_schema(directory: str) -> T.StructType:
    """The Spark schema stored in the footer of one parquet file of
    ``directory`` (every field nullable, as Spark reads it back). Passing it
    to ``spark.read.schema`` spares Spark its schema-inference job."""
    part = next(f for f in sorted(os.listdir(directory))
                if f.endswith(".parquet") and not f.startswith((".", "_")))
    meta = pq.read_schema(os.path.join(directory, part)).metadata
    data = T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return T.StructType([T.StructField(f.name, f.dataType) for f in data])


def _reconcile(out_dir: str, completed: set[str]) -> None:
    """Tear out day directories that have no lineage row (crash window)."""
    if not os.path.exists(out_dir):
        return
    for d in os.listdir(out_dir):
        if d.startswith("day=") and d.split("=", 1)[1] not in completed:
            shutil.rmtree(os.path.join(out_dir, d))


def _days_sql(days: set[str]) -> str:
    return ", ".join(f"DATE'{datetime.date.fromisoformat(d)}'" for d in sorted(days))


def _day_in(days: set[str]) -> F.Column:
    return F.expr(f"day IN ({_days_sql(days)})")


class TierPipeline:
    """Raw activity table → checkpointed 1m/5m/1h/1d tier tables.

    Usage::

        pipe = TierPipeline(spark, out_dir, key_cols=["domain"])
        pipe.run(activity_df, ts_col="warc_ts", value_col="bytes", run_id="r1")

    One run is one aggregation, one write and one manifest commit: the
    pending slice of the finest tier (rolled up from raw, plus backlog days
    read back from the finest tier on disk) feeds every tier at once. A
    resumed run never rescans raw data for days already built, and never
    re-reads finer history it does not need. ``read_tier`` returns only the
    days committed in the manifest.
    """

    def __init__(self, spark: SparkSession, out_dir: str, key_cols: list[str]):
        self.spark = spark
        self.out_dir = out_dir
        self.key_cols = key_cols
        self.lineage = LineageStore(spark, out_dir)

    def tier_path(self, tier: str) -> str:
        return os.path.join(self.out_dir, f"tier={tier}")

    def read_tier(self, tier: str) -> DataFrame:
        """The tier's committed days (``day`` partition column included)."""
        return self._read_days(tier, self.lineage.completed_parts(f"tier_{tier}"))

    def _read_days(self, tier: str, days: set[str]) -> DataFrame:
        """``days`` of a tier, read with the schema stored in one of their
        files' parquet footers, so Spark launches no schema-inference job."""
        if not days:
            raise FileNotFoundError(f"{self.tier_path(tier)}: no committed day")
        schema = _spark_schema(os.path.join(self.tier_path(tier), f"day={min(days)}"))
        return (self.spark.read.schema(schema.add("day", T.DateType()))
                .parquet(self.tier_path(tier)).where(_day_in(days)))

    # ------------------------------------------------------------------ #
    def run(
        self,
        activity: DataFrame,
        ts_col: str,
        value_col: str,
        run_id: str = "run0",
        extra_aggs: dict | None = None,
    ) -> dict[str, int]:
        """Build/extend all ``TIERS``; returns {tier: n_new_day_partitions}.

        ``extra_aggs`` (sum-decomposable columns, e.g. the extraction-
        invariant counter ``{'n_bad': F.sum('bad')}``) ride the base
        rollup and are summed into every coarser tier."""
        tiers = sorted(TIERS, key=TIERS.get)
        finest = tiers[0]
        manifest = self.lineage.completed()
        done = {t: manifest.get(f"tier_{t}", set()) for t in tiers}
        for t in tiers:
            _reconcile(self.tier_path(t), done[t])

        # pending finest-tier slice: new days from raw, plus backlog days
        # (committed in the finest tier, pending in a coarser one) from disk
        base = rollup_base(activity, ts_col, self.key_cols, value_col, finest,
                           extra_aggs=extra_aggs).withColumn("day", F.to_date("bucket"))
        if done[finest]:
            base = base.where(~_day_in(done[finest]))
        backlog = set().union(*(done[finest] - done[t] for t in tiers[1:]))
        if backlog:
            base = base.unionByName(self._read_days(finest, backlog))

        # every tier from that one slice: each row is exploded into its
        # (tier, bucket) slots, slots of committed (tier, day)s are dropped
        # (SQL strings: one py4j call each instead of one per operator)
        slots = F.expr("inline(array({}))".format(", ".join(
            f"struct('{t}' AS tier, {bucket_sql('bucket', TIERS[t])} AS bucket)"
            for t in tiers)))
        pending = F.expr(" OR ".join(
            f"(tier = '{t}' AND day NOT IN ({_days_sql(done[t])}))" if done[t]
            else f"tier = '{t}'"
            for t in tiers))
        extra_cols = list(extra_aggs or {})
        merged = (
            base.select(*self.key_cols, "day", *STAT_COLS, *extra_cols, slots)
            .where(pending)
            .groupBy("tier", "day", *self.key_cols, "bucket")
            .agg(*merge_aggs(extra_cols))
            .cache()
        )
        try:
            stats = (
                merged.groupBy("tier", "day")
                .agg(
                    F.count("*").alias("n_out"),
                    F.max(F.col("bucket").cast("long")).alias("wm"),
                    F.bit_xor(rollup_hash_col()).alias("rollup_hash"),
                    F.sum("n_rows").alias("n_in"),
                )
                .collect()
            )
            if stats:
                # each tier-day in one task, rows in (keys, bucket) order,
                # a new file every ROWS_PER_FILE rows: ceil(n_out /
                # ROWS_PER_FILE) files per tier-day
                (merged.repartition(len(stats), "tier", "day")
                 .sortWithinPartitions("tier", "day", *self.key_cols, "bucket")
                 .write.mode("append")
                 .option("maxRecordsPerFile", ROWS_PER_FILE)
                 .partitionBy("tier", "day")
                 .parquet(self.out_dir))
                self.lineage.append([
                    {
                        "stage": f"tier_{r.tier}",
                        "part_id": str(r.day),
                        "watermark": int(r.wm),
                        "n_in": int(r.n_in),
                        "n_out": int(r.n_out),
                        "rollup_hash": int(r.rollup_hash),
                        "run_id": run_id,
                    }
                    for r in stats
                ])
        finally:
            merged.unpersist()
        return {t: sum(r.tier == t for r in stats) for t in tiers}
