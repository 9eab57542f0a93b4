"""SparkSession factory tuned for the sparkts engine.

Local-mode testing uses ``local[N]``; the same conf block is what we'd ship
via ``spark-submit`` to a real cluster (AQE on, Arrow on, UTC, shuffle
partitions sized to parallelism). Kernels are numpy-heavy, so executors
must clamp BLAS threads to 1 (the process-parallelism discipline the
reference enforces with threadpoolctl, core.py:40,402-464).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Single-threaded BLAS under task parallelism — set before numpy loads on workers.
_BLAS_VARS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")


def get_spark(
    app_name: str = "sparkts",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard conf.

    ``master=None`` (the default) means ``local[$SPARK_GRAFT_CPUS or *]``.
    In cluster deployments pass ``master=""``: no master and no heap conf
    is set, so spark-submit owns both. In local mode the driver heap is
    ``$SPARKTS_DRIVER_MEM``, else min(16 GiB, a quarter of physical
    memory).
    """
    for v in _BLAS_VARS:
        os.environ.setdefault(v, "1")

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]") if "[" in master else "*"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # executor-side BLAS clamp for kernel tasks
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if master:
        builder = builder.master(master)
        if master.startswith("local"):
            # Fixed, pre-touched heap + ParallelGC. A growable G1 heap
            # page-faults on every expansion/uncommit; under a hypervisor
            # (this sandbox is a Firecracker microVM) those faults serialize
            # in the kernel and high-parallelism runs spend >25% CPU in sys
            # time — extraction at local[32] measured 3.6x SLOWER than
            # local[8] before this, 2.4x faster after. On a real cluster the
            # same conf goes to spark.executor.extraJavaOptions. The default
            # size is min(16g, RAM/4) in MiB: a pre-touched heap larger than
            # RAM kills the JVM before it reports its port.
            phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            mem = os.environ.get("SPARKTS_DRIVER_MEM") or (
                f"{min(16 << 10, phys // 4 >> 20)}m"
            )
            builder = (
                builder.config("spark.driver.memory", mem)
                .config(
                    "spark.driver.extraJavaOptions",
                    f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC",
                )
            )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
