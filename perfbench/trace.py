"""Per-layer collector that observes sparkts from outside.

The benchmark wraps each call it makes into a layer's public function in a
``Collector.span``: the span records wall time and tags the call's Spark
jobs with a job group naming the layer. After each operation the collector
reads the jobs and their stages back from Spark's status store (through
the driver's JVM gateway) and adds each stage's task metrics to the layer
that owns it. Streaming jobs run on the query's own thread under the
query's run id as job group; ``alias_group`` maps that id to a layer.

Nothing here edits or patches the program; the only inputs are job groups,
the status store, ``StreamingQuery.recentProgress`` and the forecast
engine's public accumulators, read by the workloads themselves.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: job-group prefix that marks groups set by this collector
GROUP_PREFIX = "perfbench|"

#: span layer whose stages are split between ``lineage`` and ``rollup``
PIPELINE = "tier_pipeline"

#: StageData getters copied into a stage record (Spark units: ms / ns / B)
STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "inputRecords", "outputRecords", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "shuffleFetchWaitTime",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def stage_layer(span_layer: str, stage: dict) -> str:
    """Layer that owns one stage of a span of ``span_layer``.

    Inside ``TierPipeline.run`` stages are split by kind: a stage that
    writes files belongs to ``lineage`` (tier and manifest commits), an
    aggregation or shuffle stage to ``rollup``, and anything else (manifest
    reads, listings) to ``lineage``. Every other span owns all its stages.
    """
    if span_layer != PIPELINE:
        return span_layer
    if stage["outputRecords"] > 0 or stage["outputBytes"] > 0:
        return "lineage"
    if stage["shuffleReadBytes"] > 0 or stage["shuffleWriteBytes"] > 0:
        return "rollup"
    return "lineage"


def group_layer(group: str | None, aliases: dict[str, str]) -> str:
    """Layer named by a job group, or ``other`` for untagged jobs."""
    if group is None:
        return "other"
    if group.startswith(GROUP_PREFIX):
        return group[len(GROUP_PREFIX):].split("|", 1)[0]
    return aliases.get(group, "other")


def attribute(jobs: list[dict], stages: dict[int, dict],
              aliases: dict[str, str]) -> dict[str, dict[str, float]]:
    """Sum stage metrics per layer.

    ``jobs``: ``{"group": str|None, "stage_ids": [...]}``; ``stages``: stage
    id → record with the ``STAGE_FIELDS`` keys plus ``status``. A stage
    shared by two jobs is counted once, for the first job listing it;
    skipped stages (reused shuffle output) did no work and are left out.
    """
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    seen: set[int] = set()
    for job in jobs:
        span_layer = group_layer(job["group"], aliases)
        out["spark"]["jobs"] += 1
        for sid in job["stage_ids"]:
            st = stages.get(sid)
            if sid in seen or st is None or st["status"] == "SKIPPED":
                continue
            seen.add(sid)
            acc = out[stage_layer(span_layer, st)]
            acc["stages"] += 1
            for f in STAGE_FIELDS:
                acc[f] += st[f]
            out["spark"]["stages"] += 1
            for f in STAGE_FIELDS:
                out["spark"][f] += st[f]
    return {k: dict(v) for k, v in out.items()}


class Collector:
    """Spans, counters and stage metrics for one benchmark run.

    ``enabled`` says whether the run is traced at all; ``recording`` whether
    the current operation is. Spans, job groups and counters are taken only
    while recording, so an untraced operation pays nothing for them.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.recording = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.aliases: dict[str, str] = {}
        self._next_job = 0
        self._seq = 0

    @contextmanager
    def span(self, layer: str, name: str, op: int):
        """Time one call into ``layer``; its Spark jobs carry the layer."""
        self._seq += 1
        sc = self.spark.sparkContext
        recording = self.recording
        if recording:
            sc.setJobGroup(f"{GROUP_PREFIX}{layer}|{self._seq}", name)
        rec = {"id": self._seq, "layer": layer, "name": name, "op": op,
               "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if recording:
                sc._jsc.clearJobGroup()
                self.spans.append(rec)

    def alias_group(self, group: str, layer: str) -> None:
        """Attribute jobs of a foreign job group (a stream's run id)."""
        self.aliases[group] = layer

    def add(self, name: str, value: float) -> None:
        if self.recording:
            self.counters[name] += value

    def span_seconds(self, layer: str, name: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["layer"] == layer and name in (None, s["name"]))

    # ------------------------------------------------------------------ #
    def _read_new_jobs(self) -> tuple[list[dict], dict[int, dict]]:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs, stages = [], {}
        # job ids are consecutive; read forward from the first unseen one
        while True:
            try:
                j = store.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
            g = j.jobGroup()
            sids = j.stageIds()
            job = {"id": j.jobId(), "group": g.get() if g.isDefined() else None,
                   "stage_ids": [sids.apply(k) for k in range(sids.size())]}
            jobs.append(job)
            for sid in job["stage_ids"]:
                if sid in stages:
                    continue
                attempts = store.stageData(sid, False, None, False, None)
                rec = {f: 0 for f in STAGE_FIELDS}
                rec["status"] = "SKIPPED"
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    status = sd.status().toString()
                    if status == "SKIPPED":
                        continue
                    rec["status"] = status
                    for f in STAGE_FIELDS:
                        rec[f] += getattr(sd, f)()
                stages[sid] = rec
        return jobs, stages

    def collect_stages(self) -> None:
        """Fold the jobs finished since the last call into the counters."""
        if not self.recording:
            return
        jobs, stages = self._read_new_jobs()
        for layer, m in attribute(jobs, stages, self.aliases).items():
            for k, v in m.items():
                self.counters[f"{layer}.{k}"] += v

    def mark_seen(self) -> None:
        """Skip every job so far (set-up, checks, untraced operations)."""
        if self.enabled:
            self._read_new_jobs()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": dict(self.counters)},
                      fh, indent=1, sort_keys=True, default=str)
