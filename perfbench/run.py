"""Closed-loop benchmark of sparkts: tier refresh, stream ingest, backtest
and autofit.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 30 --trace 0

Run from the repository root. One client issues one operation at a time in
one warm ``local[<cores>]`` Spark session; the next operation starts when
the previous one has finished and its output has been checked. Set-up
(session start, input staging, warm-up operations) is timed apart from the
loop. The loop runs operations until their summed latency reaches
``--seconds``. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

A traced run alternates traced and untraced operations; per-layer values
are means over the traced ones, and ``trace.overhead_s`` is the difference
of the two medians. Spans and counters go to
``perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("refresh", "stream", "backtest", "autofit")
#: operations that may fail before the loop gives up on the run
MAX_FAILURES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def driver_mem_mb() -> int:
    """Driver heap: a quarter of physical memory, at most 2 GiB. The
    session pre-touches the whole heap, so it must fit the machine."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(512, min(2048, total_kb // 1024 // 4))


def pin_environment(work: str) -> int:
    """Environment the session and its Python workers start from; returns
    the core count for ``local[n]``."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARKTS_DRIVER_MEM": f"{driver_mem_mb()}m",
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(ncpu),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return ncpu


def descendants(root: int) -> set[int]:
    """Pids of every live process below ``root``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if stat[0] != "Z":
            parent[int(d)] = int(stat[1])
    tree, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def shutdown_session(spark) -> None:
    """Stop the session, end the driver JVM (it exits when its stdin
    closes) and wait until it and the Python workers it started are gone."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(map(_alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler(threading.Thread):
    """Peak resident memory of this process and its descendants (the driver
    JVM and the Python workers), sampled every 2 s. Each process counts
    its proportional set size, so pages the forked Python workers share
    are counted once. Reading it makes the kernel walk each process's page
    tables, so sampling is kept sparse; the driver heap, allocated whole
    at start, dominates the peak anyway."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_pss() -> int:
        tree = descendants(os.getpid()) | {os.getpid()}
        total_kb = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kb * 1024

    def run(self) -> None:
        while not self._stop_evt.wait(2.0):
            self.peak = max(self.peak, self._tree_pss())

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        if not self._stop_evt.is_set():
            self._stop_evt.set()
            self.join(timeout=5)
            self.peak = max(self.peak, self._tree_pss())
        return self.peak / 2**20


def run_op(wl, i: int) -> tuple[float, object]:
    """prepare (untimed) → op (timed); returns (latency, result)."""
    wl.prepare(i)
    t0 = time.perf_counter()
    res = wl.op(i)
    return time.perf_counter() - t0, res


def benchmark(name: str, seed: int, seconds: float, traced: bool,
              work: str, ncpu: int) -> dict:
    from perfbench.stats import tail
    from perfbench.trace import Collector
    from perfbench.workloads import WORKLOADS, CheckFailed
    from sparkts.session import get_spark

    rss = RssSampler()
    rss.start()
    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{name}", master=f"local[{ncpu}]",
                      shuffle_partitions=ncpu,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - t_setup
    try:
        tracer = Collector(spark, traced)
        wl = WORKLOADS[name](spark, os.path.join(work, "data"), seed, tracer)
        t0 = time.perf_counter()
        wl.setup()
        stage_s = time.perf_counter() - t0
        log(f"session {session_s:.2f}s staging {stage_s:.2f}s")
        t0 = time.perf_counter()
        for i in range(wl.warmup_ops):
            lat, res = run_op(wl, i)
            wl.check(i, res)
            log(f"warm-up op {i}: {lat:.3f}s")
        warmup_s = time.perf_counter() - t0 + wl.setup_warm_s
        setup_s = time.perf_counter() - t_setup
        tracer.mark_seen()

        lat_ok: list[float] = []
        lat_traced: list[float] = []
        lat_plain: list[float] = []
        attempted = failed = 0
        busy = 0.0
        rows = series = 0
        i = wl.warmup_ops
        # a traced run alternates traced and untraced operations, and runs
        # at least one of each
        while failed < MAX_FAILURES and (
                busy < seconds or (traced and not (lat_traced and lat_plain))):
            tracer.recording = traced and attempted % 2 == 0
            attempted += 1
            t0 = time.perf_counter()
            try:
                lat, res = run_op(wl, i)
                if tracer.recording:
                    tracer.collect_stages()
                    wl.trace(i, res)
                wl.check(i, res)
            except CheckFailed as e:
                failed += 1
                busy += time.perf_counter() - t0
                log(f"op {i} failed its check: {e}")
            except Exception:
                failed += 1
                busy += time.perf_counter() - t0
                log(f"op {i} raised:\n{traceback.format_exc()}")
            else:
                busy += lat
                lat_ok.append(lat)
                (lat_traced if tracer.recording else lat_plain).append(lat)
                rows += wl.rows_per_op
                series += wl.series_per_op
                log(f"op {i}: {lat:.3f}s")
            tracer.mark_seen()
            i += 1
        tracer.recording = False
        n_ops = i - wl.warmup_ops
        correct = failed == 0
        t0 = time.perf_counter()
        try:
            wl.finish(wl.warmup_ops + n_ops)
        except CheckFailed as e:
            correct = False
            log(f"final check failed: {e}")
        log(f"final check {time.perf_counter() - t0:.2f}s")
        if not lat_ok:
            raise RuntimeError("no operation succeeded")
        peak_mb = rss.stop()
        if not traced:
            pct, tail_s = tail(lat_ok)
            log(f"tail is p{pct} over {len(lat_ok)} ops")
            # an op that failed counts as missing every latency limit
            all_lat = lat_ok + [float("inf")] * failed
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(all_lat), "s"),
                "rows_per_s": (rows / busy, "1/s"),
                "series_per_s": (series / busy, "1/s"),
                "peak_rss_mb": (peak_mb, "MiB"),
            }
        else:
            metrics = layer_metrics(wl, tracer, ncpu, session_s, warmup_s,
                                    lat_ok, lat_traced, lat_plain, failed,
                                    attempted)
            out = os.path.join(HERE, "traces", f"{name}-seed{seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            tracer.dump(out)
            log(f"spans and counters written to {out}")
        return {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        rss.stop()
        shutdown_session(spark)


def layer_metrics(wl, tracer, ncpu, session_s, warmup_s, lat_ok, lat_traced,
                  lat_plain, failed, attempted) -> dict:
    """Per-layer metrics: per traced operation unless named otherwise."""
    from perfbench.stats import tail

    c = tracer.counters
    n = max(len(lat_traced), 1)

    def per(key: str, scale: float = 1.0) -> float:
        return c.get(key, 0.0) * scale / n

    def span(layer: str) -> float:
        return tracer.span_seconds(layer) / n

    mb = 1e-6
    engine_s = span("engine")
    kern_busy = per("kernels.busy_s")
    out_rows = per("rollup.out_rows")
    spine = per("gapfill.spine_rows")
    pct, tail_s = tail(lat_ok)
    m = {
        "session.start_s": (session_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "rollup.busy_s": (per("rollup.executorRunTime", 1e-3), "s"),
        "rollup.input_rows": (per("rollup.inputRecords"), "count"),
        "rollup.shuffle_write_mb": (per("rollup.shuffleWriteBytes", mb), "MB"),
        "rollup.out_rows": (out_rows, "count"),
        "lineage.run_s": (span("tier_pipeline"), "s"),
        "lineage.busy_s": (per("lineage.executorRunTime", 1e-3), "s"),
        "lineage.write_mb": (per("lineage.outputBytes", mb), "MB"),
        "lineage.files_written": (per("lineage.files_written"), "count"),
        "lineage.manifest_read_s": (per("lineage.manifest_read_s"), "s"),
        "lineage.reread_ratio": (
            per("lineage.reread_rows") / out_rows if out_rows else 0.0, "ratio"),
        "gapfill.s": (span("gapfill"), "s"),
        "gapfill.busy_s": (per("gapfill.executorRunTime", 1e-3), "s"),
        "gapfill.spine_rows": (spine, "count"),
        "gapfill.gap_ratio": (per("gapfill.gaps") / spine if spine else 0.0, "ratio"),
        "engine.s": (engine_s, "s"),
        "engine.busy_s": (per("engine.executorRunTime", 1e-3), "s"),
        "engine.jvm_cpu_s": (per("engine.executorCpuTime", 1e-9), "s"),
        "engine.python_wait_s": (
            per("engine.executorRunTime", 1e-3) - per("engine.executorCpuTime", 1e-9), "s"),
        "engine.tasks": (per("engine.numTasks"), "count"),
        "engine.shuffle_write_mb": (per("engine.shuffleWriteBytes", mb), "MB"),
        "engine.fallbacks": (per("engine.fallbacks"), "count"),
        "kernels.busy_s": (kern_busy, "s"),
        "kernels.series_per_s": (wl.kernel_probe(), "1/s"),
        "kernels.share": (kern_busy / (engine_s * ncpu) if engine_s else 0.0, "ratio"),
        "streaming.commit_s": (
            tracer.span_seconds("streaming", "write_tier_stream") / n, "s"),
        "streaming.busy_s": (per("streaming.executorRunTime", 1e-3), "s"),
        "streaming.read_s": (
            tracer.span_seconds("streaming", "read_tier_stream_output") / n, "s"),
        "streaming.compact_s": (
            tracer.span_seconds("streaming", "compact_tier_output"), "s"),
        "streaming.add_batch_ms": (per("streaming.add_batch_ms"), "ms"),
        "streaming.wal_commit_ms": (per("streaming.wal_commit_ms"), "ms"),
        "streaming.planning_ms": (per("streaming.planning_ms"), "ms"),
        "streaming.state_rows": (per("streaming.state_rows"), "count"),
        "spark.gc_s": (per("spark.jvmGcTime", 1e-3), "s"),
        "spark.fetch_wait_s": (per("spark.shuffleFetchWaitTime", 1e-3), "s"),
        "spark.spill_mb": (
            per("spark.memoryBytesSpilled", mb) + per("spark.diskBytesSpilled", mb), "MB"),
        "spark.failed_tasks": (per("spark.numFailedTasks"), "count"),
        "spark.jobs": (per("spark.jobs"), "count"),
        "spark.stages": (per("spark.stages"), "count"),
        "other.busy_s": (per("other.executorRunTime", 1e-3), "s"),
        "trace.overhead_s": (
            statistics.median(lat_traced) - statistics.median(lat_plain)
            if lat_traced and lat_plain else 0.0, "s"),
        "op_tail_s": (tail_s, "s"),
        "op_tail_pct": (pct, "percent"),
        "op_count": (len(lat_ok), "count"),
        "op_fail_ratio": (failed / attempted, "ratio"),
        "streaming.committed_batches": (wl.committed_batches, "count"),
    }
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparkts", "__init__.py")):
        log(f"no sparkts package under {ROOT}: run from a full checkout")
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    ncpu = pin_environment(work)
    sys.path.insert(0, ROOT)
    try:
        result = benchmark(args.workload, args.seed, args.seconds,
                           bool(args.trace), work, ncpu)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
