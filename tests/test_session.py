"""get_spark's local-mode heap sizing, checked without starting a JVM.

A fake ``SparkSession`` records the conf that ``get_spark`` would hand to
the builder, so these tests run in milliseconds.
"""

import os

import pytest

import sparkts.session as session

GIB = 1 << 30


class _FakeBuilder:
    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, m):
        self.conf["master"] = m
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return _FakeSession()


class _FakeSession:
    class sparkContext:
        @staticmethod
        def setLogLevel(_level):
            pass


@pytest.fixture
def conf(monkeypatch):
    for v in session._BLAS_VARS:  # get_spark's setdefault is undone on exit
        if v not in os.environ:
            monkeypatch.setenv(v, "1")
    b = _FakeBuilder()
    monkeypatch.setattr(
        session, "SparkSession", type("S", (), {"builder": b})
    )
    return b.conf


def _bytes(mem):
    units = {"m": 1 << 20, "g": GIB}
    return int(mem[:-1]) * units[mem[-1].lower()]


def test_default_heap_fits_the_machine(monkeypatch, conf):
    monkeypatch.delenv("SPARKTS_DRIVER_MEM", raising=False)
    session.get_spark(master="local[2]")
    mem = conf["spark.driver.memory"]
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < _bytes(mem) <= min(16 * GIB, phys // 4)
    # pre-touch and ParallelGC stay, at the same size as the heap
    assert conf["spark.driver.extraJavaOptions"] == (
        f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC"
    )


def test_env_overrides_default_heap(monkeypatch, conf):
    monkeypatch.setenv("SPARKTS_DRIVER_MEM", "3g")
    session.get_spark(master="local[2]")
    assert conf["spark.driver.memory"] == "3g"
    assert conf["spark.driver.extraJavaOptions"] == (
        "-Xms3g -XX:+AlwaysPreTouch -XX:+UseParallelGC"
    )


def test_cluster_master_sets_no_heap(monkeypatch, conf):
    monkeypatch.delenv("SPARKTS_DRIVER_MEM", raising=False)
    session.get_spark(master="spark://h:7077")
    assert "spark.driver.memory" not in conf


def test_empty_master_leaves_master_and_heap_to_spark_submit(monkeypatch, conf):
    monkeypatch.delenv("SPARKTS_DRIVER_MEM", raising=False)
    session.get_spark(master="")
    assert "master" not in conf
    assert "spark.driver.memory" not in conf
    assert "spark.driver.extraJavaOptions" not in conf


def test_tier_pipeline_job_leaves_master_to_spark_submit(monkeypatch):
    import importlib.util
    import sys

    path = os.path.join(os.path.dirname(__file__), "..", "jobs",
                        "tier_pipeline.py")
    spec = importlib.util.spec_from_file_location("tier_pipeline_job", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    seen = {}

    class Stop(Exception):
        pass

    def fake_get_spark(app_name, master=None, **_kw):
        seen["master"] = master
        raise Stop

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    monkeypatch.setattr(sys, "argv", ["tier_pipeline.py", "--input", "in",
                                      "--out", "out"])
    with pytest.raises(Stop):
        job.main()
    assert seen == {"master": ""}
