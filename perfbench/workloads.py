"""The benchmark's closed-loop workloads over sparkts' public API.

Each workload stages its inputs from the seed in ``setup``, then runs
operations one after another: ``prepare`` (untimed, restores fixed state),
``op`` (timed, one fixed amount of work), ``check`` (untimed, raises
``CheckFailed`` when the output is wrong) and, in a traced run, ``trace``
(untimed extra measurements). ``finish`` checks the state the whole loop
built. Sizes are chosen so one run fits the benchmark's time budget on a
4-core machine; README.md lists them.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time

import numpy as np
from pyspark.sql import DataFrame, functions as F

from sparkts.datagen import BASE_EPOCH, SPAN_DAYS, extract_text, panel_series, web_pages
from sparkts.engine import SparkForecast
from sparkts.kernels import (
    ADIDA,
    AutoARIMA,
    AutoETS,
    CrostonClassic,
    HistoricAverage,
    Naive,
    RandomWalkWithDrift,
    SeasonalNaive,
    SeasonalWindowAverage,
    SimpleExponentialSmoothing,
    WindowAverage,
)
from sparkts.lineage import TierPipeline, rollup_hash_col
from sparkts.operators import (
    TIERS,
    apply_retention,
    build_tiers,
    crawl_activity,
    crawl_activity_checked,
    gap_fill,
    rollup_base,
)
from sparkts.streaming import (
    compact_tier_output,
    read_tier_stream_output,
    stream_rollup,
    write_tier_stream,
)

#: web_pages corpus shared by ``refresh`` and ``stream``
CORPUS_PAGES = 28_000
CORPUS_DOMAINS = 200
#: days 1..PRISTINE_DAYS form the restored tier state; later days are landed
PRISTINE_DAYS = 7
#: stream slab width in hours
SLAB_HOURS = 6


class CheckFailed(Exception):
    """An operation's output did not match its expected value."""


def _log_phase(what: str, t0: float) -> float:
    """Log a set-up phase that started at ``t0``; returns the time now."""
    now = time.perf_counter()
    print(f"[perfbench] set-up: {what} {now - t0:.2f}s", file=sys.stderr,
          flush=True)
    return now


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _day_start_epoch(day_index: int) -> int:
    base = int(np.datetime64(BASE_EPOCH.replace(" ", "T"), "s").astype(np.int64))
    return base + day_index * 86400


def _series_sample(panel_pdf, n: int) -> list[np.ndarray]:
    """First ``n`` series (by id) of a long pandas panel, time-sorted."""
    ids = sorted(panel_pdf["unique_id"].unique())[:n]
    sub = panel_pdf[panel_pdf["unique_id"].isin(ids)].sort_values(["unique_id", "ds"])
    return [g["y"].to_numpy(dtype=np.float64) for _, g in sub.groupby("unique_id")]


class Workload:
    """Base: shared context and the driver-side kernel probe."""

    name = ""
    #: untimed operations run after set-up, before the loop
    warmup_ops = 3
    #: models the workload forecasts with; the ``kernels.series_per_s``
    #: probe runs them too, with this horizon and these levels
    models: list = []
    probe_h = 1
    probe_level: list[int] | None = None

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.rows_per_op = 0
        self.series_per_op = 0
        self.probe_series: list[np.ndarray] = []
        #: batches committed to a streaming sink by the end of the run
        self.committed_batches = 0
        #: warm-up time spent inside ``setup`` (counted in session.warmup_s)
        self.setup_warm_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def prepare(self, i: int) -> None:
        pass

    def trace(self, i: int, result) -> None:
        pass

    def finish(self, n_ops: int) -> None:
        pass

    def kernel_probe(self) -> float:
        """Series per second of single-process ``Model.forecast`` over the
        fixed sample, all probe models per series; 0 without models."""
        if not self.models or not self.probe_series:
            return 0.0
        t0 = time.perf_counter()
        for y in self.probe_series:
            for m in self.models:
                m.forecast(y, self.probe_h, level=self.probe_level)
        return len(self.probe_series) / (time.perf_counter() - t0)


# ---------------------------------------------------------------------- #
class Refresh(Workload):
    """Land one day on a restored 7-day tier state, then refresh every
    tier, apply retention, gap-fill the 1h tier and forecast it."""

    name = "refresh"
    #: set-up warms every step (see ``setup``), so no warm-up operations
    warmup_ops = 0
    models = [SeasonalNaive(24), Naive()]
    probe_h = 24

    def setup(self) -> None:
        spark = self.spark
        t0 = time.perf_counter()
        pages = web_pages(spark, CORPUS_PAGES, n_domains=CORPUS_DOMAINS,
                          seed=self.seed)
        (pages.withColumn("day", F.to_date("warc_ts")).repartition("day")
         .write.partitionBy("day").parquet(self.path("landing")))
        self.days = [str(np.datetime64(_day_start_epoch(d), "s").astype("datetime64[D]"))
                     for d in range(SPAN_DAYS)]
        landing = spark.read.parquet(self.path("landing"))
        act = self._activity(landing)
        new_days = self.days[PRISTINE_DAYS:]
        # expected per-(tier, day) rollup hashes and input rows, direct from
        # raw in one job
        tiers = build_tiers(act.where(F.to_date("warc_ts").isin(new_days)),
                            "warc_ts", ["domain"], "bytes",
                            extra_aggs={"n_bad": F.sum("bad")})
        hashes = functools.reduce(DataFrame.unionByName, [
            df.withColumn("h", rollup_hash_col())
            .groupBy(F.to_date("bucket").alias("day"))
            .agg(F.bit_xor("h").alias("hash"), F.sum("n_rows").alias("rows"))
            .withColumn("tier", F.lit(t))
            for t, df in tiers.items()])
        self.expected, self.day_rows = {}, {}
        for r in hashes.collect():
            self.expected[(r.tier, str(r.day))] = int(r.hash)
            self.day_rows[str(r.day)] = int(r.rows)
        t0 = _log_phase("corpus and expected hashes", t0)
        # the pristine 7-day state, built once by the pipeline itself
        pipe = TierPipeline(spark, self.path("pristine"), key_cols=["domain"])
        pipe.run(act.where(~F.to_date("warc_ts").isin(new_days)),
                 ts_col="warc_ts", value_col="bytes", run_id="pristine",
                 extra_aggs={"n_bad": F.sum("bad")})
        t0 = _log_phase("pristine 7-day state", t0)
        self.pipe = TierPipeline(spark, self.path("state"), key_cols=["domain"])
        # building the pristine state warmed the pipeline; warm the steps
        # after it once on that state
        self.prepare(0)
        self._downstream(-1, self.days[PRISTINE_DAYS - 1])
        self.setup_warm_s = _log_phase("warm retention, gap-fill and forecast",
                                       t0) - t0
        # the days rotate, so a landed day counts its mean size
        self.rows_per_op = float(np.mean([self.day_rows[d] for d in new_days]))
        self.series_per_op = CORPUS_DOMAINS

    @staticmethod
    def _activity(pages):
        return crawl_activity_checked(
            extract_text(pages), F.col("extracted_text") != F.col("text"))

    def day_for(self, i: int) -> str:
        return self.days[PRISTINE_DAYS + i % (SPAN_DAYS - PRISTINE_DAYS)]

    def prepare(self, i: int) -> None:
        shutil.rmtree(self.path("state"), ignore_errors=True)
        shutil.copytree(self.path("pristine"), self.path("state"))
        shutil.rmtree(self.path("forecast"), ignore_errors=True)

    def op(self, i: int):
        spark, pipe = self.spark, self.pipe
        day = self.day_for(i)
        with self.tracer.span("tier_pipeline", "TierPipeline.run", i):
            pages = spark.read.parquet(self.path("landing", f"day={day}"))
            new = pipe.run(self._activity(pages), ts_col="warc_ts",
                           value_col="bytes", run_id=f"op{i}",
                           extra_aggs={"n_bad": F.sum("bad")})
        res = self._downstream(i, day)
        res["new"] = new
        return res

    def _downstream(self, i: int, day: str) -> dict:
        """Retention counts, gap-fill of the 1h tier and its forecast."""
        span, pipe = self.tracer.span, self.pipe
        with span("rollup", "apply_retention", i):
            tiers = {t: pipe.read_tier(t) for t in TIERS}
            as_of = f"{day} 23:59:59"
            kept = {t: df.count() for t, df in
                    apply_retention(tiers, as_of=as_of).items()}
        tier_1h = tiers["1h"].drop("day")
        try:
            with span("gapfill", "gap_fill", i):
                filled = gap_fill(tier_1h, ["domain"], "bucket", value_cols=[],
                                  step_s=3600, zero_cols=["v_sum"]).persist()
                spine, gaps = filled.agg(
                    F.count("*"), F.sum(F.col("is_gap").cast("long"))).collect()[0]
            with span("engine", "SparkForecast.forecast", i):
                panel = filled.select(F.col("domain").alias("unique_id"),
                                      F.col("bucket").alias("ds"),
                                      F.col("v_sum").alias("y"))
                eng = SparkForecast(self.models, freq="h")
                eng.forecast(panel, h=24).write.parquet(self.path("forecast"))
            filled.unpersist()
        finally:
            tier_1h.unpersist()
        return {"day": day, "kept": kept, "spine": int(spine),
                "gaps": int(gaps or 0), "engine": eng}

    def check(self, i: int, res) -> None:
        day = res["day"]
        _require(res["new"] == {t: 1 for t in TIERS},
                 f"new day partitions {res['new']}")
        _require(all(n > 0 for n in res["kept"].values()),
                 f"empty tier after retention {res['kept']}")
        lin = (self.pipe.lineage.read().where(F.col("part_id") == day)
               .select("stage", "rollup_hash").collect())
        got = {r.stage: int(r.rollup_hash) for r in lin}
        for t in TIERS:
            _require(got.get(f"tier_{t}") == self.expected[(t, day)],
                     f"rollup_hash of tier {t} day {day}")
        n_bad = (self.pipe.read_tier("1m").where(F.col("day") == day)
                 .agg(F.sum("n_bad")).collect()[0][0])
        _require(n_bad == 0, f"n_bad={n_bad}")
        fc = self.spark.read.parquet(self.path("forecast"))
        n_fc, n_ids = fc.agg(F.count("*"), F.countDistinct("unique_id")).collect()[0]
        _require(n_ids > 0 and n_fc == 24 * n_ids, f"forecast rows {n_fc}/{n_ids}")

    def trace(self, i: int, res) -> None:
        tr, pipe = self.tracer, self.pipe
        t0 = time.perf_counter()
        for t in TIERS:
            pipe.lineage.completed_parts(f"tier_{t}")
        tr.add("lineage.manifest_read_s", time.perf_counter() - t0)
        n_out = (pipe.lineage.read().where(F.col("part_id") == res["day"])
                 .agg(F.sum("n_out")).collect()[0][0])
        finer = sorted(TIERS, key=TIERS.get)[:-1]
        reread = sum(pipe.read_tier(t).count() for t in finer)
        tr.add("lineage.reread_rows", reread)
        tr.add("rollup.out_rows", n_out)
        tr.add("lineage.files_written", _count_files(self.path("state"))
               - _count_files(self.path("pristine")))
        tr.add("gapfill.spine_rows", res["spine"])
        tr.add("gapfill.gaps", res["gaps"])
        eng = res["engine"]
        tr.add("kernels.busy_s", sum(a.value for a in eng.forecast_times_.values()))
        tr.add("engine.fallbacks", sum(a.value for a in eng.fallback_counts_.values()))
        if not self.probe_series:
            pdf = (pipe.read_tier("1h").select(
                F.col("domain").alias("unique_id"), F.col("bucket").alias("ds"),
                F.col("v_sum").alias("y")).toPandas())
            self.probe_series = _series_sample(pdf, 50)


def _count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


# ---------------------------------------------------------------------- #
class Stream(Workload):
    """Land one 6-hour activity slab, drain it through the streaming 1m
    tier, then read the merged view."""

    name = "stream"
    warmup_ops = 1

    def setup(self) -> None:
        spark = self.spark
        t0 = time.perf_counter()
        pages = web_pages(spark, CORPUS_PAGES, n_domains=CORPUS_DOMAINS,
                          seed=self.seed)
        base = _day_start_epoch(0)
        act = crawl_activity(pages).withColumn(
            "slab", ((F.col("warc_ts").cast("long") - F.lit(base))
                     / F.lit(SLAB_HOURS * 3600)).cast("int"))
        act.repartition("slab").write.partitionBy("slab").parquet(
            self.path("staged"))
        t0 = _log_phase("staged slabs", t0)
        staged = spark.read.parquet(self.path("staged"))
        self.schema = staged.drop("slab").schema
        per_slab = (rollup_base(staged, "warc_ts", ["domain"], "bytes")
                    .groupBy(F.floor((F.col("bucket").cast("long") - F.lit(base))
                                     / F.lit(SLAB_HOURS * 3600)).alias("slab"))
                    .agg(F.count("*").alias("buckets"), F.sum("n_rows").alias("rows"))
                    .collect())
        self.bucket_rows = {int(r.slab): int(r.buckets) for r in per_slab}
        self.slab_rows = {int(r.slab): int(r.rows) for r in per_slab}
        os.makedirs(self.path("source"))
        # rows_per_s counts a slab at the mean slab size, as refresh does days
        self.rows_per_op = float(np.mean(list(self.slab_rows.values())))
        _log_phase("expected bucket counts", t0)
        self.series_per_op = CORPUS_DOMAINS

    def _land(self, slab: int) -> None:
        src = self.path("staged", f"slab={slab}")
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                shutil.copyfile(os.path.join(src, f),
                                self.path("source", f"s{slab:04d}-{f}"))

    def op(self, i: int):
        spark, span = self.spark, self.tracer.span
        # operation i lands slab i; past the corpus's last slab the landing
        # fails and the operation counts as failed
        slab = i
        with span("streaming", "write_tier_stream", i):
            self._land(slab)
            src = spark.readStream.schema(self.schema).parquet(self.path("source"))
            q = write_tier_stream(
                stream_rollup(src, "warc_ts", ["domain"], "bytes"),
                self.path("out"), self.path("ckpt"), available_now=True)
            self.tracer.alias_group(str(q.runId), "streaming")
            q.awaitTermination()
        progress = q.recentProgress
        with span("streaming", "read_tier_stream_output", i):
            n = read_tier_stream_output(spark, self.path("out"), ["domain"]).count()
        return {"slab": slab, "rows": n, "progress": progress}

    def check(self, i: int, res) -> None:
        want = sum(self.bucket_rows.get(s, 0) for s in range(i + 1))
        _require(res["rows"] == want, f"merged rows {res['rows']} != {want}")

    def trace(self, i: int, res) -> None:
        tr = self.tracer
        for p in res["progress"]:
            d = p.durationMs
            tr.add("streaming.add_batch_ms", d.get("addBatch", 0))
            tr.add("streaming.wal_commit_ms", d.get("walCommit", 0))
            tr.add("streaming.planning_ms", d.get("queryPlanning", 0))
            tr.add("streaming.state_rows",
                   sum(s.numRowsTotal for s in p.stateOperators))

    def finish(self, n_ops: int) -> None:
        """Check that the merged view equals ``rollup_base`` over every slab
        landed. A traced run compacts the sink first: compaction is due
        every 8th batch, which a short run does not reach, so only the
        traced run pays for it, to report ``streaming.compact_s``."""
        spark = self.spark
        if self.tracer.enabled:
            self.tracer.recording = True
            with self.tracer.span("streaming", "compact_tier_output", n_ops):
                compact_tier_output(spark, self.path("out"), ["domain"])
            self.tracer.recording = False
        merged = read_tier_stream_output(spark, self.path("out"), ["domain"])
        staged = spark.read.parquet(self.path("staged")).where(
            F.col("slab") < n_ops)
        want = rollup_base(staged, "warc_ts", ["domain"], "bytes")
        cols = want.columns
        got_rows = sorted(tuple(r) for r in merged.select(cols).collect())
        want_rows = sorted(tuple(r) for r in want.collect())
        _require(got_rows == want_rows,
                 f"merged view ({len(got_rows)} rows) differs from "
                 f"rollup_base ({len(want_rows)} rows)")
        self.committed_batches = len(os.listdir(self.path("out", "commits")))


# ---------------------------------------------------------------------- #
def _forecast_summary(df, value_cols: list[str], key_cols: list[str],
                      flags: F.Column | None = None) -> dict:
    """Rows, NaN cells, an order-insensitive checksum and the sum of
    ``flags`` (bad rows) of a forecast frame, in one Spark action."""
    nan = sum(F.isnan(F.col(f"`{c}`")).cast("long") for c in value_cols)
    h = F.xxhash64(*[F.col(c) for c in key_cols],
                   *[F.round(F.col(f"`{c}`"), 6) for c in value_cols])
    flags = F.lit(0) if flags is None else flags
    r = df.agg(F.count("*"), F.sum(nan), F.bit_xor(h), F.sum(flags)).collect()[0]
    return {"rows": int(r[0]), "nan": int(r[1] or 0), "checksum": int(r[2]),
            "bad": int(r[3] or 0)}


class _PanelWorkload(Workload):
    """Shared set-up of the two forecasting workloads: a staged panel."""

    n_series = 0
    min_length = max_length = 0
    sample = 20

    def setup(self) -> None:
        spark = self.spark
        panel_series(spark, n_series=self.n_series, min_length=self.min_length,
                     max_length=self.max_length, seed=self.seed
                     ).write.parquet(self.path("panel"))
        self.panel = spark.read.parquet(self.path("panel")).cache()
        self.panel_rows = self.panel.count()
        self.rows_per_op = self.panel_rows
        self.series_per_op = self.n_series
        self.probe_series = _series_sample(
            self.panel.where(F.col("unique_id").isin(
                [f"series_{k}" for k in range(self.sample)])).toPandas(),
            self.sample)
        self.reference = None

    def check(self, i: int, res) -> None:
        got = res["summary"]
        _require(got["rows"] == self.expected_rows,
                 f"rows {got['rows']} != {self.expected_rows}")
        _require(got["nan"] == 0, f"{got['nan']} NaN cells")
        _require(got["bad"] == 0, f"{got['bad']} rows with unordered intervals")
        if self.reference is None:
            self.reference = got["checksum"]
        _require(got["checksum"] == self.reference, "checksum differs from warm-up")

    def trace(self, i: int, res) -> None:
        eng = res["engine"]
        self.tracer.add("kernels.busy_s",
                        sum(a.value for a in eng.forecast_times_.values()))
        self.tracer.add("engine.fallbacks",
                        sum(a.value for a in eng.fallback_counts_.values()))


class Backtest(_PanelWorkload):
    """9 cheap models × rolling-origin cross-validation over many short
    series (the reference's benchmarks_at_scale shape)."""

    name = "backtest"
    warmup_ops = 3
    n_series, min_length, max_length = 1000, 40, 80
    models = [Naive(), SeasonalNaive(7), HistoricAverage(), WindowAverage(7),
              SeasonalWindowAverage(7, 2), RandomWalkWithDrift(),
              SimpleExponentialSmoothing(0.3), CrostonClassic(), ADIDA()]
    probe_h = 7

    def setup(self) -> None:
        super().setup()
        self.expected_rows = self.n_series * 3 * 7

    def op(self, i: int):
        with self.tracer.span("engine", "SparkForecast.cross_validation", i):
            eng = SparkForecast(self.models, freq="D", fallback_model=Naive())
            cv = eng.cross_validation(self.panel, h=7, n_windows=3, step_size=7)
            cols = [repr(m) for m in self.models]
            summary = _forecast_summary(cv, cols, ["unique_id", "ds", "cutoff"])
        return {"summary": summary, "engine": eng}


class Autofit(_PanelWorkload):
    """AutoETS + AutoARIMA forecasts with intervals over few long series."""

    name = "autofit"
    warmup_ops = 3
    n_series, min_length, max_length = 16, 200, 400
    sample = 4
    models = [AutoETS(season_length=7), AutoARIMA(season_length=7)]
    probe_h = 14
    probe_level = [80, 95]

    def setup(self) -> None:
        super().setup()
        self.expected_rows = self.n_series * 14

    def op(self, i: int):
        with self.tracer.span("engine", "SparkForecast.forecast", i):
            eng = SparkForecast(self.models, freq="D", fallback_model=Naive())
            fc = eng.forecast(self.panel, h=14, level=[80, 95])
            cols = [c for c in fc.columns if c not in ("unique_id", "ds")]
            bad = F.lit(0)
            for m in map(repr, self.models):
                lo95, lo80, mid, hi80, hi95 = (
                    F.col(f"`{m}-lo-95`"), F.col(f"`{m}-lo-80`"), F.col(m),
                    F.col(f"`{m}-hi-80`"), F.col(f"`{m}-hi-95`"))
                ok = (lo95 <= lo80) & (lo80 <= mid) & (mid <= hi80) & (hi80 <= hi95)
                bad = bad + (~ok).cast("long")
            summary = _forecast_summary(fc, cols, ["unique_id", "ds"], bad)
        return {"summary": summary, "engine": eng}


WORKLOADS = {w.name: w for w in (Refresh, Stream, Backtest, Autofit)}
