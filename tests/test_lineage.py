"""Lineage/checkpoint: resume skips completed days, crash-window reconcile,
rerun produces identical rollup hashes (idempotency)."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparkts.lineage import LINEAGE_SCHEMA, LineageStore, TierPipeline, rollup_hash_col
from sparkts.operators import build_tiers, rollup_base
from sparkts.operators.rollup import TIERS


@pytest.fixture()
def activity(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select("event_type", "ts", F.col("value"))


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "tiers")


def test_full_run_then_resume_noop(spark, activity, out_dir):
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    first = pipe.run(activity, "ts", "value", run_id="r1")
    assert all(v > 0 for v in first.values())
    # tier content matches a direct rollup
    direct = rollup_base(activity, "ts", ["event_type"], "value", "1h")
    got = pipe.read_tier("1h")
    assert got.count() == direct.count()
    # resume with same input: nothing new
    second = pipe.run(activity, "ts", "value", run_id="r2")
    assert all(v == 0 for v in second.values())
    lin = pipe.lineage.read()
    assert lin.where(F.col("run_id") == "r2").count() == 0


def test_extra_aggs_cascade_through_every_tier(spark, activity, out_dir):
    """Round-4 fix: sum-decomposable extra aggregates (the extraction
    invariant's n_bad) must survive the pipeline into EVERY tier — the
    old run() dropped them, silently disabling the check."""
    flagged = activity.withColumn(
        "bad", (F.col("value") < 0).cast("long"))  # always 0 on this data
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(flagged, "ts", "value", run_id="r1",
             extra_aggs={"n_bad": F.sum("bad")})
    for t in ("1m", "5m", "1h", "1d"):
        df = pipe.read_tier(t)
        assert "n_bad" in df.columns, t
        assert df.agg(F.sum("n_bad")).collect()[0][0] == 0, t


def test_incremental_backfill(spark, activity, out_dir):
    """Feed half the days, then all days: second run adds only the new days."""
    cut = "2024-01-15 00:00:00"
    early = activity.where(F.col("ts") < cut)
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(early, "ts", "value", run_id="r1")
    n_days_early = pipe.lineage.read().where("stage = 'tier_1h'").count()
    pipe2 = TierPipeline(spark, out_dir, ["event_type"])
    pipe2.run(activity, "ts", "value", run_id="r2")
    lin = pipe2.lineage.read()
    n_days_all = lin.where("stage = 'tier_1h'").count()
    assert n_days_all > n_days_early
    # no duplicated day partitions
    dups = (
        lin.where("stage = 'tier_1h'")
        .groupBy("part_id")
        .count()
        .where("count > 1")
        .count()
    )
    assert dups == 0
    # NOTE: days straddling the cut get frozen at first write — callers
    # backfill at day granularity (the cut above is day-aligned at 00:00).


def test_crash_reconcile(spark, activity, out_dir):
    """A day directory without a lineage row is torn out and rebuilt."""
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity, "ts", "value", run_id="r1")
    lin = pipe.lineage.read().where("stage = 'tier_1h'").toPandas()
    victim = sorted(lin.part_id)[3]
    # simulate crash: data present for a day but lineage lost for it
    lin_keep = lin[lin.part_id != victim]
    shutil.rmtree(pipe.lineage.path)
    rows = [
        {c: (int(r[c]) if c in ("watermark", "n_in", "n_out", "rollup_hash") else r[c])
         for c in lin_keep.columns}
        for _, r in lin_keep.iterrows()
    ]
    pipe.lineage.append(rows)
    old_hash = int(lin[lin.part_id == victim].rollup_hash.iloc[0])
    res = pipe.run(activity, "ts", "value", run_id="r2")
    assert res["1h"] >= 1  # victim day (at least) rebuilt
    new = pipe.lineage.read().where(
        (F.col("stage") == "tier_1h") & (F.col("part_id") == victim)
    ).toPandas()
    assert len(new) == 1
    # idempotency: rebuilt day has the identical order-insensitive hash
    assert int(new.rollup_hash.iloc[0]) == old_hash


def test_hash_partitioning_invariant(spark, activity, out_dir):
    """Same day computed under different partitioning → same rollup hash."""
    p1 = TierPipeline(spark, out_dir + "_a", ["event_type"])
    p1.run(activity.repartition(2), "ts", "value", run_id="x")
    p2 = TierPipeline(spark, out_dir + "_b", ["event_type"])
    p2.run(activity.repartition(17), "ts", "value", run_id="y")
    h1 = {
        (r.stage, r.part_id): r.rollup_hash for r in p1.lineage.read().collect()
    }
    h2 = {
        (r.stage, r.part_id): r.rollup_hash for r in p2.lineage.read().collect()
    }
    assert h1 == h2


def _day_hashes(df):
    """{day: bit_xor rollup hash} of a tier DataFrame."""
    rows = (df.withColumn("h", rollup_hash_col())
            .groupBy(F.to_date("bucket").cast("string").alias("day"))
            .agg(F.bit_xor("h").alias("hash")).collect())
    return {r.day: int(r.hash) for r in rows}


def _lineage_hashes(pipe, stage):
    return {r.part_id: int(r.rollup_hash)
            for r in pipe.lineage.read().where(F.col("stage") == stage).collect()}


def _day_dirs(pipe, tier):
    return sorted(d for d in os.listdir(pipe.tier_path(tier)) if d.startswith("day="))


def test_one_day_increment(spark, activity, out_dir):
    """Landing one day on an existing state adds exactly one partition per
    tier, each hashing like a direct ``build_tiers`` of that day."""
    day = "2024-01-30"
    on_day = F.to_date("ts") == day
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity.where(~on_day), "ts", "value", run_id="r1")
    before = {t: _day_dirs(pipe, t) for t in TIERS}
    res = pipe.run(activity.where(on_day), "ts", "value", run_id="r2")
    assert res == {t: 1 for t in TIERS}
    direct = build_tiers(activity.where(on_day), "ts", ["event_type"], "value")
    for t in TIERS:
        assert _day_dirs(pipe, t) == sorted(before[t] + [f"day={day}"]), t
        got = {r.part_id: int(r.rollup_hash) for r in pipe.lineage.read()
               .where((F.col("stage") == f"tier_{t}") & (F.col("run_id") == "r2"))
               .collect()}
        assert got == _day_hashes(direct[t]), t


def test_crash_backlog_rebuilt_from_finer_tier(spark, activity, out_dir):
    """A day whose 5m partition is committed but whose 1h partition and
    lineage are lost is rebuilt from the written 5m tier alone: the rerun
    gets no raw rows for that day."""
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity, "ts", "value", run_id="r1")
    lin = pipe.lineage.read().toPandas()
    victim = "2024-01-10"
    old_hash = _lineage_hashes(pipe, "tier_1h")[victim]
    keep = lin[~((lin.stage == "tier_1h") & (lin.part_id == victim))]
    shutil.rmtree(pipe.lineage.path)
    pipe.lineage.append(keep.to_dict("records"))
    shutil.rmtree(os.path.join(pipe.tier_path("1h"), f"day={victim}"))
    assert victim in pipe.lineage.completed_parts("tier_5m")

    res = pipe.run(activity.where(F.to_date("ts") != victim), "ts", "value",
                   run_id="r2")
    assert res == {"1m": 0, "5m": 0, "1h": 1, "1d": 0}
    rebuilt = pipe.lineage.read().where(F.col("run_id") == "r2").collect()
    assert [(r.stage, r.part_id) for r in rebuilt] == [("tier_1h", victim)]
    assert int(rebuilt[0].rollup_hash) == old_hash
    hashes = pipe.lineage.read().where("stage = 'tier_1h'").toPandas()
    assert not hashes.part_id.duplicated().any()
    assert len(_day_dirs(pipe, "1h")) == len(hashes)


def test_hidden_lineage_files_ignored(spark, tmp_path):
    """A commit's hidden temp file left by a crash is not part of the
    manifest, for ``read()`` or for ``completed_parts()``."""
    store = LineageStore(spark, str(tmp_path))
    row = {"stage": "tier_1h", "part_id": "2024-01-01", "watermark": 1,
           "n_in": 1, "n_out": 1, "rollup_hash": 7, "run_id": "r1"}
    store.append([row])
    pq.write_table(
        pa.Table.from_pylist([dict(row, part_id="2099-01-01")],
                             schema=LINEAGE_SCHEMA),
        os.path.join(store.path, ".part-crashed.parquet.tmp"))
    assert store.completed_parts("tier_1h") == {"2024-01-01"}
    assert [r.part_id for r in store.read().collect()] == ["2024-01-01"]


def test_tier_widths_divide_a_day():
    """The day-local cascade relies on it: day D of a coarser tier is built
    from day D of the finer tier alone."""
    assert all(86400 % w == 0 for w in TIERS.values())
