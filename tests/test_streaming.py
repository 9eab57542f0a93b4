"""Structured Streaming 1m tier: streaming result == batch rollup_base on
the same input (the streaming-equals-batch invariance the decomposable-stat
design guarantees)."""

import os

import pandas as pd
import pytest

from sparkts.operators import rollup_base
from sparkts.streaming import (
    read_tier_stream_output,
    stream_rollup,
    write_tier_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # re-lay the events table as a small multi-file dir (a file stream source)
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = str(tmp_path_factory.mktemp("stream_src"))
    src.repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_stream_rollup_equals_batch(spark, events_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tier_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # force >1 micro-batch
        .parquet(events_dir)
    )
    # files arrive in arbitrary event-time order (repartitioned), so the
    # watermark must cover the full span or genuinely-late rows get dropped
    tier = stream_rollup(stream, "ts", ["event_type"], "value", tier="1m",
                         watermark="365 days")
    q = write_tier_stream(tier, out, ckpt, available_now=True)
    q.awaitTermination(180)

    got = read_tier_stream_output(spark, out, ["event_type"])
    batch = rollup_base(
        spark.read.parquet(events_dir), "ts", ["event_type"], "value", "1m"
    )
    cols = ["event_type", "bucket", "n_rows", "v_sum", "v_min", "v_max"]
    g = (got.select(cols).toPandas()
         .sort_values(["event_type", "bucket"]).reset_index(drop=True))
    b = (batch.select(cols).toPandas()
         .sort_values(["event_type", "bucket"]).reset_index(drop=True))
    assert len(g) == len(b) and len(g) > 0
    pd.testing.assert_frame_equal(g, b, check_exact=False, rtol=1e-12)
    assert os.path.isdir(ckpt)


def test_duplicate_batch_replay_is_exactly_once(spark, events_dir,
                                                tmp_path_factory):
    """Round-4 brief #4: foreachBatch is at-least-once — after a crash the
    last batch is REPLAYED with the same batch_id. The batch-id-keyed
    commit protocol must make the replay invisible: re-committing every
    batch (and one batch a third time) leaves the merged 1m tier
    byte-identical to the batch rollup, with no duplicate rows."""
    from sparkts.streaming.rollup import commit_batch

    out = str(tmp_path_factory.mktemp("tier_replay"))
    raw = spark.read.parquet(events_dir)
    tier = rollup_base(raw, "ts", ["event_type"], "value", "1m")
    # micro-batch halves, committed with explicit ids
    from pyspark.sql import functions as F
    b0 = tier.where(F.dayofmonth("bucket") <= 15)
    b1 = tier.where(F.dayofmonth("bucket") > 15)
    commit_batch(b0, 0, out)
    commit_batch(b1, 1, out)
    once = (read_tier_stream_output(spark, out, ["event_type"]).toPandas()
            .sort_values(["event_type", "bucket"]).reset_index(drop=True))
    # crash-replay: both batches re-delivered, batch 1 twice
    commit_batch(b0, 0, out)
    commit_batch(b1, 1, out)
    commit_batch(b1, 1, out)
    twice = (read_tier_stream_output(spark, out, ["event_type"]).toPandas()
             .sort_values(["event_type", "bucket"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(once, twice)
    batch = (tier.select(once.columns.tolist()).toPandas()
             .sort_values(["event_type", "bucket"]).reset_index(drop=True))
    assert len(twice) == len(batch) > 0
    pd.testing.assert_frame_equal(twice, batch, check_exact=False, rtol=1e-12)
    assert not twice.duplicated(["event_type", "bucket"]).any()


def test_compaction_preserves_view_and_gcs_old_batches(spark, events_dir,
                                                       tmp_path_factory):
    """compact_tier_output folds all committed batches into one, the
    merged view is unchanged, superseded directories are gone, and a STALE
    replay of a pre-compaction batch id is shadowed by latest-wins."""
    import os

    from pyspark.sql import functions as F
    from sparkts.streaming import commit_batch, compact_tier_output

    out = str(tmp_path_factory.mktemp("tier_compact"))
    raw = spark.read.parquet(events_dir)
    tier = rollup_base(raw, "ts", ["event_type"], "value", "1m")
    b0 = tier.where(F.dayofmonth("bucket") <= 10)
    b1 = tier.where((F.dayofmonth("bucket") > 10)
                    & (F.dayofmonth("bucket") <= 20))
    b2 = tier.where(F.dayofmonth("bucket") > 20)
    for i, b in enumerate((b0, b1, b2)):
        commit_batch(b, i, out)
    before = (read_tier_stream_output(spark, out, ["event_type"]).toPandas()
              .sort_values(["event_type", "bucket"]).reset_index(drop=True))
    new_id = compact_tier_output(spark, out, ["event_type"])
    assert new_id == 3
    assert sorted(os.listdir(f"{out}/data")) == ["batch=3"]
    after = (read_tier_stream_output(spark, out, ["event_type"]).toPandas()
             .sort_values(["event_type", "bucket"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(before, after)
    # stale replay of a folded batch: id < consolidated → shadowed
    commit_batch(b1.withColumn("v_sum", F.lit(-1.0)), 1, out)
    replayed = (read_tier_stream_output(spark, out, ["event_type"])
                .toPandas().sort_values(["event_type", "bucket"])
                .reset_index(drop=True))
    pd.testing.assert_frame_equal(before, replayed)


def test_stream_writer_after_compaction_respects_floor(spark, events_dir,
                                                       tmp_path_factory):
    """Regression: a stream writer started AFTER a compaction (fresh or
    resumed checkpoint — counters restart at 0 either way with a fresh
    one) must not overwrite the consolidated generation. The floor record
    the compactor writes offsets the new writer's ids above it."""
    import os

    from pyspark.sql import functions as F
    from sparkts.streaming import commit_batch, compact_tier_output

    out = str(tmp_path_factory.mktemp("tier_floor"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_floor"))
    raw = spark.read.parquet(events_dir)
    tier = rollup_base(raw, "ts", ["event_type"], "value", "1m")
    commit_batch(tier.where(F.dayofmonth("bucket") <= 15), 0, out)
    commit_batch(tier.where(F.dayofmonth("bucket") > 15), 1, out)
    new_id = compact_tier_output(spark, out, ["event_type"])
    assert new_id == 2

    # a NEW availableNow stream run on the same directory: checkpoint
    # micro-batch ids restart at 0 — without the floor, batch 2 would
    # overwrite the consolidated generation
    schema = raw.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(events_dir))
    t = stream_rollup(stream, "ts", ["event_type"], "value", tier="1m",
                      watermark="365 days")
    q = write_tier_stream(t, out, ckpt, available_now=True)
    q.awaitTermination(180)

    # the consolidated generation survives, every stream batch sits above
    # the floor, and the merged view equals the batch rollup
    dirs = sorted(int(d.split("=")[1]) for d in os.listdir(f"{out}/data"))
    assert new_id in dirs
    assert all(d == new_id or d > new_id for d in dirs)
    got = (read_tier_stream_output(spark, out, ["event_type"])
           .select("event_type", "bucket", "n_rows", "v_sum").toPandas()
           .sort_values(["event_type", "bucket"]).reset_index(drop=True))
    want = (tier.select("event_type", "bucket", "n_rows", "v_sum").toPandas()
            .sort_values(["event_type", "bucket"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-12)


def test_uncommitted_orphan_batch_is_invisible(spark, events_dir,
                                               tmp_path_factory):
    """A crash BETWEEN the data write and the marker write leaves an
    orphan data/batch=N directory; readers must not see it."""
    from sparkts.streaming.rollup import commit_batch

    out = str(tmp_path_factory.mktemp("tier_orphan"))
    raw = spark.read.parquet(events_dir)
    tier = rollup_base(raw, "ts", ["event_type"], "value", "1m")
    commit_batch(tier, 0, out)
    # simulate the torn write: data lands, marker never does
    tier.limit(5).withColumn("n_rows", F_lit_999()).write.mode(
        "overwrite").parquet(f"{out}/data/batch=1")
    got = read_tier_stream_output(spark, out, ["event_type"]).toPandas()
    want = tier.toPandas()
    assert len(got) == len(want)
    assert not (got["n_rows"] == 999).any()


def F_lit_999():
    from pyspark.sql import functions as F
    return F.lit(999).cast("long")


class TestStatefulAnomaly:
    """applyInPandasWithState custom operator: per-key SES state persists
    across micro-batches AND across query restarts (checkpointed state)."""

    def _mk_input(self, spark, d, part, rows):
        import pandas as pd
        pdf = pd.DataFrame(rows, columns=["key", "ts", "y"])
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/part={part}")

    def test_state_survives_batches_and_restart(self, spark, tmp_path_factory):
        import numpy as np
        from sparkts.streaming import stream_anomaly_flags

        src = str(tmp_path_factory.mktemp("anom_src"))
        out = str(tmp_path_factory.mktemp("anom_out"))
        ckpt = str(tmp_path_factory.mktemp("anom_ckpt"))
        rng = np.random.default_rng(0)
        # phase 1: 40 calm points per key
        rows1 = [("a", t, float(10 + rng.normal(0, 0.5))) for t in range(40)]
        self._mk_input(spark, src, 0, rows1)
        schema = "key string, ts long, y double"

        def run_once():
            stream = spark.readStream.schema(schema).option(
                "maxFilesPerTrigger", 1).parquet(src)
            flags = stream_anomaly_flags(stream, "key", "ts", "y",
                                         alpha=0.3, k=4.0, min_obs=10)
            q = (flags.writeStream.outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True)
                 .format("parquet").option("path", out).start())
            q.awaitTermination(120)

        run_once()
        first = spark.read.parquet(out).toPandas()
        assert len(first) == 40
        assert not first["is_anomaly"].any()  # calm data, warm-up respected

        # phase 2 arrives later: calm points + one 50-sigma spike. A fresh
        # query on the same checkpoint must RESUME the state (n>=min_obs,
        # learned level ~10) and flag only the spike.
        rows2 = [("a", 40 + t, float(10 + rng.normal(0, 0.5)))
                 for t in range(10)]
        rows2[5] = ("a", 45, 40.0)  # spike
        self._mk_input(spark, src, 1, rows2)
        run_once()
        both = spark.read.parquet(out).toPandas().sort_values("ts")
        assert len(both) == 50
        flagged = both[both["is_anomaly"]]
        assert list(flagged["ts"]) == [45]
        # resumed level is the learned ~10, not a cold restart at the
        # first phase-2 value
        lvl45 = both[both.ts == 45]["level"].iloc[0]
        assert abs(lvl45 - 10) < 1.5


def test_stream_cascade_equals_batch_and_resumes(spark, events_dir,
                                                 tmp_path_factory):
    """Streaming 1m sink → 5m/1h/1d cascade == batch build_tiers on the
    same rows; appending more source files and restarting from the SAME
    checkpoint incrementally refreshes every tier (round-3 stretch:
    streaming cascade + end-to-end restart)."""
    from pyspark.sql import functions as F

    from sparkts.operators import build_tiers, rollup_cascade

    out = str(tmp_path_factory.mktemp("casc_out"))
    ckpt = str(tmp_path_factory.mktemp("casc_ckpt"))
    full = spark.read.parquet(events_dir)
    first = full.where(F.dayofmonth("ts") <= 15)
    second = full.where(F.dayofmonth("ts") > 15)
    src = str(tmp_path_factory.mktemp("casc_src"))
    first.repartition(2).write.mode("overwrite").parquet(src)
    schema = full.schema

    def run_stream():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 2).parquet(src))
        tier = stream_rollup(stream, "ts", ["event_type"], "value",
                             tier="1m", watermark="365 days")
        q = write_tier_stream(tier, out, ckpt, available_now=True)
        q.awaitTermination(180)

    def compare(raw):
        got = {"1m": read_tier_stream_output(spark, out, ["event_type"])}
        for coarse, fine in (("5m", "1m"), ("1h", "5m"), ("1d", "1h")):
            got[coarse] = rollup_cascade(got[fine], ["event_type"], coarse)
        want = build_tiers(raw, "ts", ["event_type"], "value")
        cols = ["event_type", "bucket", "n_rows", "v_sum", "v_min", "v_max"]
        for t in ("1m", "5m", "1h", "1d"):
            g = (got[t].select(cols).toPandas()
                 .sort_values(["event_type", "bucket"]).reset_index(drop=True))
            b = (want[t].select(cols).toPandas()
                 .sort_values(["event_type", "bucket"]).reset_index(drop=True))
            assert len(g) == len(b) and len(g) > 0, t
            pd.testing.assert_frame_equal(g, b, check_exact=False, rtol=1e-12)

    run_stream()
    compare(first)
    # late arrival: append the rest of the month, resume from the checkpoint
    second.repartition(2).write.mode("append").parquet(src)
    run_stream()
    compare(full)


def _jobs_started(spark, run) -> list:
    """Ids of the Spark jobs that ``run()`` starts. It runs under a fresh
    job group; then one sentinel job runs in a second group, and the status
    store is polled until it has seen that job. The listener bus delivers
    events in order, so by then every job of the first group is recorded."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver-side commit probe")
    try:
        run()
    finally:
        sc.setJobGroup(f"{group}-sentinel", "sentinel")
        spark.range(1).collect()
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(f"{group}-sentinel"):
        assert time.monotonic() < deadline, "sentinel job never recorded"
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group))


def test_crash_at_marker_rename_then_resume(spark, events_dir,
                                            tmp_path_factory, monkeypatch):
    """A crash at the real commit point: inside a live write_tier_stream
    run, after a micro-batch's data write and before its marker's rename.
    Readers see only the earlier batches, the hidden leftover in
    ``commits/`` is ignored, and rerunning from the same checkpoint gives
    the batch rollup with no duplicate (keys, bucket). Marker writes,
    commit listings and floor reads start no Spark job."""
    import sparkts.streaming.rollup as sr
    from pyspark.errors import StreamingQueryException
    from sparkts.streaming import compact_tier_output

    out = str(tmp_path_factory.mktemp("crash_out"))
    ckpt = str(tmp_path_factory.mktemp("crash_ckpt"))
    raw = spark.read.parquet(events_dir)
    keys = ["event_type"]

    publish, calls = sr._publish, []

    def crash_at_second_rename(path, write):
        calls.append(path)
        if len(calls) != 2:
            return publish(path, write)
        # what _publish does up to its rename: the hidden file is written,
        # then the process "dies" before os.replace
        write(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp"))
        raise OSError("crash before the marker's rename")

    monkeypatch.setattr(sr, "_publish", crash_at_second_rename)

    def run_stream():
        stream = (spark.readStream.schema(raw.schema)
                  .option("maxFilesPerTrigger", 2).parquet(events_dir))
        tier = stream_rollup(stream, "ts", keys, "value", tier="1m",
                             watermark="365 days")
        write_tier_stream(tier, out, ckpt, available_now=True).awaitTermination(180)

    with pytest.raises(StreamingQueryException):
        run_stream()
    # batch 1's data landed before the crash, its marker did not
    assert sr._committed(out) == [0]
    assert os.path.isdir(f"{out}/data/batch=1")
    assert [f for f in os.listdir(f"{out}/commits")
            if f.startswith(".")] == [".batch=1.tmp"]
    cols = ["event_type", "bucket", "n_rows", "v_sum", "v_min", "v_max"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(cols).collect())

    assert rows(read_tier_stream_output(spark, out, keys)) == rows(
        spark.read.parquet(f"{out}/data/batch=0"))

    # restart from the same checkpoint: batch 1 is replayed with its id
    run_stream()
    assert len(calls) > 2 and sr._committed(out)[:2] == [0, 1]
    assert os.path.exists(f"{out}/commits/.batch=1.tmp")
    got = read_tier_stream_output(spark, out, keys).select(cols).toPandas()
    assert not got.duplicated(keys + ["bucket"]).any()
    want = rollup_base(raw, "ts", keys, "value", "1m").select(cols).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values(keys + ["bucket"]).reset_index(drop=True),
        want.sort_values(keys + ["bucket"]).reset_index(drop=True),
        check_exact=False, rtol=1e-12)

    # the driver-side commit calls start no Spark job (the sentinel in
    # _jobs_started shows that a job would be seen)
    new_id = compact_tier_output(spark, out, keys)
    probe = str(tmp_path_factory.mktemp("crash_probe"))
    seen = {}

    def driver_calls():
        sr._mark(probe, 7)
        seen["probe"] = sr._committed(probe)
        seen["committed"] = sr._committed(out)
        seen["floor"] = sr._floor(out)
        seen["no_floor"] = sr._floor(probe)

    assert _jobs_started(spark, driver_calls) == []
    assert seen == {"probe": [7], "committed": [new_id],
                    "floor": new_id + 1, "no_floor": 0}
    assert _jobs_started(spark, lambda: spark.range(3).count())
