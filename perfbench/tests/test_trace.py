"""Stage-to-layer attribution of the per-layer collector (no Spark needed)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.trace import (  # noqa: E402
    GROUP_PREFIX,
    PIPELINE,
    STAGE_FIELDS,
    attribute,
    group_layer,
    stage_layer,
)


def stage(status="COMPLETE", **fields):
    rec = {f: 0 for f in STAGE_FIELDS}
    rec.update(fields)
    rec["status"] = status
    return rec


def group(layer, seq=1):
    return f"{GROUP_PREFIX}{layer}|{seq}"


def test_pipeline_stages_split_by_kind():
    write = stage(outputRecords=10, outputBytes=2048, shuffleReadBytes=5)
    agg = stage(shuffleWriteBytes=100)
    read = stage(shuffleReadBytes=100)
    manifest = stage(inputRecords=4)
    assert stage_layer(PIPELINE, write) == "lineage"
    assert stage_layer(PIPELINE, agg) == "rollup"
    assert stage_layer(PIPELINE, read) == "rollup"
    assert stage_layer(PIPELINE, manifest) == "lineage"


def test_other_spans_own_every_stage():
    for layer in ("engine", "gapfill", "streaming", "rollup"):
        assert stage_layer(layer, stage(outputBytes=1)) == layer
        assert stage_layer(layer, stage(shuffleWriteBytes=1)) == layer


def test_group_layer():
    aliases = {"5c1d-run-id": "streaming"}
    assert group_layer(group("engine", 7), aliases) == "engine"
    assert group_layer(group(PIPELINE), aliases) == PIPELINE
    assert group_layer("5c1d-run-id", aliases) == "streaming"
    assert group_layer("unknown", aliases) == "other"
    assert group_layer(None, aliases) == "other"


def test_attribute_sums_per_layer_and_skips():
    stages = {
        1: stage(executorRunTime=100, shuffleWriteBytes=10),        # rollup
        2: stage(executorRunTime=50, outputRecords=3, outputBytes=9),  # lineage
        3: stage(status="SKIPPED", executorRunTime=999),
        4: stage(executorRunTime=70, numTasks=4),                   # engine
        5: stage(executorRunTime=20),                               # streaming
    }
    jobs = [
        {"group": group(PIPELINE), "stage_ids": [1, 2]},
        {"group": group(PIPELINE), "stage_ids": [3, 2]},  # reuses stage 2
        {"group": group("engine"), "stage_ids": [4]},
        {"group": "run-1", "stage_ids": [5, 99]},           # 99: unknown
    ]
    out = attribute(jobs, stages, {"run-1": "streaming"})
    assert out["rollup"]["executorRunTime"] == 100
    assert out["lineage"]["executorRunTime"] == 50
    assert out["lineage"]["stages"] == 1
    assert out["engine"]["numTasks"] == 4
    assert out["streaming"]["executorRunTime"] == 20
    assert out["spark"]["jobs"] == 4
    assert out["spark"]["stages"] == 4
    assert out["spark"]["executorRunTime"] == 240
    assert "other" not in out
