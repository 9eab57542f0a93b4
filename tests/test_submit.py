"""The north-rule deployment clause, exercised for real: the whole job
ships via ``spark-submit --py-files sparkts.zip`` — a REAL spark-submit
process, a zip built from the package sources, and a driver cwd OUTSIDE
the repo so nothing resolves from the working tree. What this sandbox
cannot spawn is a multi-executor cluster; the *shipping mechanism* (zip on
the driver and executor import path, no repo on sys.path) is exactly what
a 1000-executor run uses and is fully testable at local master."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_JOB = """
import json
from pyspark.sql import SparkSession, functions as F
from sparkts.operators import build_tiers, gap_fill
from sparkts.engine import SparkForecast
from sparkts.kernels import SeasonalNaive

spark = SparkSession.builder.getOrCreate()
spark.conf.set("spark.sql.session.timeZone", "UTC")
ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
tiers = build_tiers(ev, "ts", ["event_type"], "value")
filled = gap_fill(tiers["1h"], ["event_type"], "bucket", ["v_sum"], 3600,
                  season_length=24)
panel = filled.select(F.col("event_type").alias("unique_id"),
                      F.col("bucket").alias("ds"),
                      F.col("v_sum").alias("y"))
out = SparkForecast([SeasonalNaive(24)], freq="h").forecast(panel, h=6)
n_ids = panel.select("unique_id").distinct().count()
print(json.dumps({"tier_rows": tiers["1h"].count(),
                  "n_ids": n_ids,
                  "forecast_rows": out.count()}))
"""


def _spark_submit() -> str | None:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")
    return cand if os.path.exists(cand) else None


def _zip_package(zpath, suffixes=(".py", ".c")) -> None:
    """The package as ``jobs/package.sh`` ships it: its ``.py`` files and
    the native kernels' ``.c`` source."""
    with zipfile.ZipFile(zpath, "w") as z:
        for root, dirs, files in os.walk(os.path.join(REPO, "sparkts")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(suffixes):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))


@pytest.mark.skipif(_spark_submit() is None, reason="no spark-submit")
@pytest.mark.skipif(
    not os.path.exists("/root/testdata/sf0.001/events.parquet"),
    reason="driver testdata absent")
def test_package_ships_via_spark_submit_py_files(tmp_path):
    zpath = tmp_path / "sparkts.zip"
    _zip_package(zpath)
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [_spark_submit(), "--master", "local[4]",
         "--py-files", str(zpath), str(job)],
        capture_output=True, text=True, timeout=420,
        cwd=tmp_path, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["tier_rows"] > 0
    assert res["forecast_rows"] == res["n_ids"] * 6


_ZIP_PROBE_JOB = """
import json
import pandas as pd
from pyspark.sql import SparkSession

spark = SparkSession.builder.getOrCreate()


def probe(batches):
    import importlib
    import sys
    import zipimport

    import sparkts  # noqa: F401

    seen = []
    stock = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return stock(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
        first = len(seen)
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stock
    for _ in batches:
        pass
    archives = {f.archive for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)}
    yield pd.DataFrame({
        "eager": [sys.version_info < (3, 13)],
        "sparkts_from_zip": [sparkts.__file__.startswith(tuple(archives))],
        "second_reads": [len(seen) - first]})


rows = (spark.range(4).repartition(4)
        .mapInPandas(probe, "eager boolean, sparkts_from_zip boolean, "
                            "second_reads long")
        .collect())
print(json.dumps([r.asDict() for r in rows]))
"""


@pytest.mark.skipif(_spark_submit() is None, reason="no spark-submit")
def test_py_files_zip_is_not_reread_per_task(tmp_path):
    """Under ``--py-files sparkts.zip`` an executor task imports sparkts
    from the shipped zip, and its second ``importlib.invalidate_caches()``
    re-reads no archive, that zip included (CPython < 3.13; later versions
    invalidate lazily by themselves)."""
    zpath = tmp_path / "sparkts.zip"
    _zip_package(zpath)
    job = tmp_path / "job.py"
    job.write_text(_ZIP_PROBE_JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [_spark_submit(), "--master", "local[2]",
         "--py-files", str(zpath), str(job)],
        capture_output=True, text=True, timeout=420,
        cwd=tmp_path, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(rows) == 4
    for r in rows:
        assert r["sparkts_from_zip"], rows
        if r["eager"]:
            assert r["second_reads"] == 0, rows


@pytest.mark.skipif(
    not any(shutil.which(c) for c in ("cc", "gcc", "clang")),
    reason="no C compiler")
def test_native_kernels_load_from_zip(tmp_path):
    """An executor that imports the package from the shipped zip builds and
    loads the native kernels: the C source is read out of the zip and
    compiled into a fresh per-user cache (TMPDIR), no JVM involved."""
    zpath = tmp_path / "sparkts.zip"
    _zip_package(zpath)
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from sparkts.kernels import _native\n"
        "assert _native.__file__.startswith(sys.argv[1]), _native.__file__\n"
        "print(_native.LIB is not None)\n")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARKTS_NO_NATIVE")}
    env["TMPDIR"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", probe, str(zpath)], capture_output=True,
        text=True, timeout=300, cwd=tmp_path, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["True"]


def test_native_fallback_warns_once(tmp_path):
    """A zip without ``_native.c`` cannot build the native kernels: the
    import says why in one RuntimeWarning and runs the Python kernels
    (``LIB is None``); ``SPARKTS_NO_NATIVE`` chooses them silently."""
    zpath = tmp_path / "sparkts.zip"
    _zip_package(zpath, suffixes=(".py",))
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from sparkts.kernels import _native\n"
        "assert _native.__file__.startswith(sys.argv[1]), _native.__file__\n"
        "print(_native.LIB is None)\n")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARKTS_NO_NATIVE")}
    env["TMPDIR"] = str(tmp_path)

    def run(extra):
        return subprocess.run(
            [sys.executable, "-c", probe, str(zpath)], capture_output=True,
            text=True, timeout=300, cwd=tmp_path, env={**env, **extra})

    out = run({})
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["True"]
    assert out.stderr.count("RuntimeWarning") == 1, out.stderr[-2000:]
    assert "native kernels unavailable" in out.stderr
    assert "_native.c" in out.stderr

    quiet = run({"SPARKTS_NO_NATIVE": "1"})
    assert quiet.returncode == 0, quiet.stderr[-2000:]
    assert quiet.stdout.split() == ["True"]
    assert "RuntimeWarning" not in quiet.stderr
