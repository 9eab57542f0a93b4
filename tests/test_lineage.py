"""Lineage/checkpoint: resume skips completed days, crash-window reconcile,
rerun produces identical rollup hashes (idempotency)."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from sparkts import lineage
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


@pytest.mark.parametrize("lost", [{"1h"}, {"5m", "1h", "1d"}],
                         ids=["1h", "5m-1h-1d"])
def test_crash_backlog_rebuilt_from_finer_tier(spark, activity, out_dir, lost):
    """A day whose 1m partition is committed but whose ``lost`` tier
    partitions and lineage are gone is rebuilt from the finest tier on disk
    alone: the rerun gets no raw rows for that day. ``{5m, 1h, 1d}`` is the
    state an interrupted per-tier commit leaves."""
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity, "ts", "value", run_id="r1")
    lin = pipe.lineage.read().toPandas()
    victim = "2024-01-10"
    old_hash = {t: _lineage_hashes(pipe, f"tier_{t}")[victim] for t in lost}
    keep = lin[~(lin.stage.isin([f"tier_{t}" for t in lost])
                 & (lin.part_id == victim))]
    shutil.rmtree(pipe.lineage.path)
    pipe.lineage.append(keep.to_dict("records"))
    for t in lost:
        shutil.rmtree(os.path.join(pipe.tier_path(t), f"day={victim}"))
    for t in set(TIERS) - lost:
        assert victim in pipe.lineage.completed_parts(f"tier_{t}")

    res = pipe.run(activity.where(F.to_date("ts") != victim), "ts", "value",
                   run_id="r2")
    assert res == {t: int(t in lost) for t in TIERS}
    rebuilt = pipe.lineage.read().where(F.col("run_id") == "r2").collect()
    assert (sorted((r.stage, r.part_id) for r in rebuilt)
            == sorted((f"tier_{t}", victim) for t in lost))
    assert {r.stage[len("tier_"):]: int(r.rollup_hash) for r in rebuilt} == old_hash
    for t in lost:
        hashes = pipe.lineage.read().where(F.col("stage") == f"tier_{t}").toPandas()
        assert not hashes.part_id.duplicated().any()
        assert len(_day_dirs(pipe, t)) == len(hashes)


def test_crash_between_write_and_commit(spark, activity, out_dir, monkeypatch):
    """The run's one commit point: a crash after the write and before the
    manifest commit leaves the new day on disk in every tier, invisible to
    readers, and the rerun rebuilds it exactly once."""
    day = "2024-01-30"
    on_day = F.to_date("ts") == day
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity.where(~on_day), "ts", "value", run_id="r1")
    committed = {t: pipe.lineage.completed_parts(f"tier_{t}") for t in TIERS}
    before = {t: _day_dirs(pipe, t) for t in TIERS}

    commit = LineageStore.append
    calls = []

    def crash_once(self, rows):
        calls.append(len(rows))
        if len(calls) == 1:
            raise RuntimeError("crash before the manifest commit")
        commit(self, rows)

    monkeypatch.setattr(LineageStore, "append", crash_once)
    with pytest.raises(RuntimeError, match="manifest commit"):
        pipe.run(activity.where(on_day), "ts", "value", run_id="r2")
    for t in TIERS:
        assert f"day={day}" in _day_dirs(pipe, t), t
        got = {str(r.day) for r in pipe.read_tier(t).select("day").distinct().collect()}
        assert got == committed[t], t

    res = pipe.run(activity.where(on_day), "ts", "value", run_id="r3")
    assert res == {t: 1 for t in TIERS}
    assert calls == [len(TIERS), len(TIERS)]
    clean = TierPipeline(spark, out_dir + "_clean", ["event_type"])
    clean.run(activity, "ts", "value", run_id="c")
    for t in TIERS:
        assert (_lineage_hashes(pipe, f"tier_{t}")
                == _lineage_hashes(clean, f"tier_{t}")), t
        assert _day_dirs(pipe, t) == sorted(before[t] + [f"day={day}"]), t
    lin = pipe.lineage.read().toPandas()
    assert not lin.duplicated(["stage", "part_id"]).any()


def _part_files(pipe, tier, day):
    d = os.path.join(pipe.tier_path(tier), f"day={day}")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def _assert_layout(pipe, run_id):
    """Each tier-day of ``run_id`` is ceil(n_out / ROWS_PER_FILE) files of
    rows sorted by (keys, bucket); returns the largest file count."""
    most = 0
    for r in pipe.lineage.read().where(F.col("run_id") == run_id).collect():
        files = _part_files(pipe, r.stage[len("tier_"):], r.part_id)
        assert len(files) == -(-r.n_out // lineage.ROWS_PER_FILE), (r.stage, r.part_id)
        for f in files:
            tbl = pq.read_table(f, columns=["event_type", "bucket"])
            assert len(tbl) <= lineage.ROWS_PER_FILE
            order = [("event_type", "ascending"), ("bucket", "ascending")]
            assert tbl.sort_by(order).equals(tbl), f
        most = max(most, len(files))
    return most


def test_tier_file_layout_and_read_schema(spark, activity, out_dir, monkeypatch):
    """Tier-days are written as sorted files sized by ``ROWS_PER_FILE``; a
    smaller target splits a day without changing its hash; ``read_tier``'s
    footer schema is the schema Spark infers."""
    flagged = activity.withColumn("bad", (F.col("value") < 0).cast("long"))
    bad = {"n_bad": F.sum("bad")}
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(flagged, "ts", "value", run_id="r1", extra_aggs=bad)
    assert _assert_layout(pipe, "r1") == 1
    for t in TIERS:
        inferred = spark.read.parquet(pipe.tier_path(t)).schema
        assert pipe.read_tier(t).schema == inferred, t
        assert "n_bad" in inferred.fieldNames()
        assert inferred["day"].dataType == T.DateType()

    day = "2024-01-30"
    monkeypatch.setattr(lineage, "ROWS_PER_FILE", 7)
    split = TierPipeline(spark, out_dir + "_split", ["event_type"])
    split.run(flagged.where(F.to_date("ts") == day), "ts", "value",
              run_id="r2", extra_aggs=bad)
    assert _assert_layout(split, "r2") > 1
    for t in TIERS:
        assert (_lineage_hashes(split, f"tier_{t}")
                == {day: _lineage_hashes(pipe, f"tier_{t}")[day]}), t


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
