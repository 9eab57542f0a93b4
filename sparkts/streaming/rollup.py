"""Structured Streaming path for the base rollup tier.

The reference has no streaming surface (SURVEY.md §2.9) — this is the
north-rule extension that makes the 1m base tier a *continuous* aggregate:
``readStream`` → event-time window + watermark → decomposable stats →
``foreachBatch`` commit into a merge-on-read parquet sink. The stats are
the batch tier's ``stat_aggs`` (operators/rollup.py), and all of them are
sum/min/max-decomposable, so 5m/1h/1d follow from the streamed 1m tier
with no semantic change: chain ``rollup_cascade`` over
``read_tier_stream_output``.

Late data: the watermark bounds state; rows later than the watermark are
dropped by Spark (documented behavior). Batch tiers commit through
``sparkts.lineage.TierPipeline``, and the batch backfill path (rollup_base
over the raw table) remains the source of truth for replays.

Sink layout and commit protocol (``<out>`` is a driver-visible path):

* ``data/batch=<id>/`` — one micro-batch's rows, the one Spark write a
  batch needs;
* ``commits/batch=<id>`` — its marker, a zero-byte regular file published
  on the driver after the data write (hidden name, then ``os.replace``:
  ``sparkts.lineage._publish``, the same step that commits lineage);
* ``floor/next_id.parquet`` — the lowest id the next stream writer may
  use, written by ``compact_tier_output`` the same way.

Batch ids form one space: a writer commits micro-batch ``floor +
checkpoint id``, and compaction folds every committed batch into
``max(committed) + 1`` and moves the floor above it. Readers take the
latest committed batch per (keys, bucket).

Marker listing (``_committed``) and the floor read are plain file-system
calls on the driver, and readers take the Spark schema from a committed
file's footer, so committing, listing and opening the sink launch no
Spark job. Markers from older layouts (parquet directories under
``commits/``) are not read: no persisted sink predates this layout.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from sparkts.lineage import _publish, _spark_schema
from sparkts.operators.rollup import STAT_COLS, TIERS, stat_aggs

#: file under ``<out>/floor`` that holds the next stream writer's id floor
_FLOOR_FILE = "next_id.parquet"


def stream_rollup(
    stream_df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    tier: str = "1m",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming base tier: ``rollup_base``'s ``stat_aggs`` and schema over
    an event-time tumbling window of ``tier`` width with a late-data
    watermark (a window on the event-time column, not ``bucket_ts``, so
    the watermark can evict state)."""
    width = TIERS[tier]
    ts = F.col(ts_col).cast("timestamp")
    return (
        stream_df.withColumn("__ts", ts)
        .withWatermark("__ts", watermark)
        .groupBy(*key_cols, F.window("__ts", f"{width} seconds").alias("w"))
        .agg(*stat_aggs(value_col))
        .select(*key_cols, F.col("w.start").alias("bucket"), *STAT_COLS)
    )


def _committed(out_path: str) -> list[int]:
    """Committed batch ids, listed on the driver: the regular files named
    ``batch=<id>`` in ``commits``. Hidden names (an unfinished marker) are
    skipped and a missing directory means nothing is committed; any other
    listing error propagates."""
    try:
        with os.scandir(f"{out_path}/commits") as it:
            return sorted(int(e.name[len("batch="):]) for e in it
                          if e.name.startswith("batch=") and e.is_file())
    except FileNotFoundError:
        return []


def _mark(out_path: str, batch_id: int) -> None:
    """Publish batch ``batch_id``'s zero-byte marker."""
    _publish(f"{out_path}/commits/batch={batch_id}",
             lambda tmp: open(tmp, "wb").close())


def _floor(out_path: str) -> int:
    """The id floor ``compact_tier_output`` left, read on the driver; 0
    when no compaction has run."""
    try:
        table = pq.read_table(f"{out_path}/floor/{_FLOOR_FILE}")
    except FileNotFoundError:
        return 0
    return int(table.column("next_id")[0].as_py())


def _read_batches(spark, out_path: str, ids: list[int]) -> DataFrame:
    """The ``data/batch=<id>`` directories of ``ids``, with their ``batch``
    column. The schema comes from a file footer of the newest one, so
    Spark runs no schema-inference job, and orphan directories are never
    listed."""
    data = f"{out_path}/data"
    schema = _spark_schema(f"{data}/batch={max(ids)}").add("batch", T.LongType())
    return (spark.read.schema(schema).option("basePath", data)
            .parquet(*(f"{data}/batch={b}" for b in ids)))


def _latest_wins(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keep the highest ``batch``'s row per (keys, bucket); drop ``batch``."""
    w = W.partitionBy(*key_cols, "bucket").orderBy(F.col("batch").desc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn", "batch"))


def commit_batch(batch_df: DataFrame, batch_id: int, out_path: str) -> None:
    """Batch-id-keyed IDEMPOTENT commit (the parquet stand-in for an
    Iceberg transactional MERGE):

    1. the batch's rows land in ``data/batch=<id>`` with OVERWRITE — a
       replayed batch (foreachBatch is at-least-once after a crash/restart)
       rewrites its own directory instead of appending duplicates;
    2. only then is the marker ``commits/batch=<id>`` published: a
       zero-byte file created under a hidden name on the driver and renamed
       into place, so it costs no Spark job. Readers take committed batches
       only, so a crash between the data write and the rename leaves an
       invisible orphan (and at most a hidden leftover in ``commits``)
       that the replay overwrites; the replay re-creates the same marker.

    Observable output is therefore exactly-once: duplicate invocations of
    the same (batch_df, batch_id) are idempotent (tested by replaying
    batches, and by a crash at the marker, in tests/test_streaming.py)."""
    batch_df.write.mode("overwrite").parquet(
        f"{out_path}/data/batch={int(batch_id)}")
    _mark(out_path, int(batch_id))


def write_tier_stream(
    tier_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Sink the streaming tier via ``foreachBatch`` in UPDATE mode with
    merge-on-read: each micro-batch commits its (possibly partial) bucket
    aggregates through the idempotent ``commit_batch`` protocol; readers
    take the latest COMMITTED batch per (keys, bucket) — see
    ``read_tier_stream_output``. Update mode (not append) so the final,
    not-yet-watermark-closed buckets are still emitted. Resume safety
    comes from the streaming checkpoint; duplicate-delivery safety (the
    at-least-once foreachBatch contract) comes from the commit protocol.
    ``available_now`` processes the backlog and stops — the batch-like mode
    used in tests and backfills. With a watermark in update mode, one
    trigger runs two micro-batches (the data batch, then a no-data batch
    that advances the watermark), and each commits.

    Id floor: checkpoint micro-batch counters restart at 0 with a fresh
    checkpoint, and ``compact_tier_output`` consolidates history into
    ``max(committed) + 1``, so committing raw counter ids would overwrite
    that generation. The writer reads the floor file once, at start, on the
    driver with pyarrow (no file yet means floor 0) and commits batch
    ``floor + batch_id``: replays within a run keep their exact ids, and a
    writer started after a compaction lands strictly above the
    consolidated generation."""
    floor = _floor(out_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_batch(batch_df, floor + batch_id, out_path)

    writer = (
        tier_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_tier_stream_output(spark, out_path: str, key_cols: list[str]) -> DataFrame:
    """Merge-on-read over the committed sink output: committed batches
    only (uncommitted orphans from a mid-write crash are never read),
    latest batch id wins per (keys, bucket). The committed ids come from a
    driver-side listing of the marker files, and only their data
    directories are scanned."""
    committed = _committed(out_path)
    if not committed:
        raise ValueError(f"nothing committed under {out_path}")
    return _latest_wins(_read_batches(spark, out_path, committed), key_cols)


def compact_tier_output(spark, out_path: str, key_cols: list[str]) -> int:
    """Compact the committed merge-on-read sink (the OPTIMIZE step a
    long-running streaming tier needs: per-batch directories accumulate
    small files and the latest-wins window widens).

    Protocol-safe at every instant: (1) materialize the current merged
    view into a NEW batch directory with id = max(committed)+1 via the
    same ``commit_batch`` (data before marker); (2) only after its marker
    lands, retire the superseded markers, then their data directories. A
    reader concurrent with step 1 sees the old batches; after step 2 it
    sees the consolidated batch — identical values either way, because
    latest-wins per (keys, bucket) makes the consolidated batch shadow
    everything it folded. A crash mid-compaction leaves both generations
    committed — still correct, and the next compaction finishes the GC. A
    STALE replay of a pre-compaction micro-batch (id < consolidated)
    re-creates a directory the latest-wins read ignores.

    Compaction must not race a RUNNING stream writer (it is the OPTIMIZE
    step between runs): a live writer's next checkpoint counter would be
    exactly max(committed)+1 — the consolidated id — and its overwrite
    would destroy the folded history. The floor written last makes the
    NEXT writer start safe mechanically: ``floor/next_id.parquet`` holds
    one ``next_id`` row (consolidated id + 1), written with pyarrow on the
    driver and renamed into place like a marker, and ``write_tier_stream``
    offsets every checkpoint id by it (fresh or resumed checkpoint alike).

    Returns the consolidated batch id."""
    committed = _committed(out_path)
    if not committed:
        raise ValueError(f"nothing committed under {out_path}")
    new_id = max(committed) + 1
    merged = _latest_wins(_read_batches(spark, out_path, committed), key_cols)
    commit_batch(merged, new_id, out_path)
    # GC the folded batches only after the consolidated marker landed
    for b in committed:
        os.remove(f"{out_path}/commits/batch={b}")
        shutil.rmtree(f"{out_path}/data/batch={b}", ignore_errors=True)
    floor = pa.table({"next_id": pa.array([new_id + 1], pa.int64())})
    _publish(f"{out_path}/floor/{_FLOOR_FILE}",
             lambda tmp: pq.write_table(floor, tmp))
    return new_id
