"""SparkSession factory tuned for this engine."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "tantivy_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # make the package importable on executor Python workers regardless of
    # the caller's cwd (cluster deployments use spark-submit --py-files)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_parent}{os.pathsep}{pp}" if pp else pkg_parent

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus if cpus != "*" else 32)
    # default heap: half the machine, capped at 48g (a fixed heap larger
    # than the machine gets the local-mode driver JVM OOM-killed)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mem = (os.environ.get("SPARK_DRIVER_MEM")
                  or f"{min(phys // 2, 48 << 30) >> 20}m")
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.maxMetadataStringLength", "2000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warmup_python_workers(spark: SparkSession, n_workers: int | None = None) -> None:
    """Force-spawn one Python worker per core and pre-import the heavy
    kernel dependencies (numpy/pandas/pyarrow).

    Spark reuses Python workers across tasks, but the first wave of a
    fresh session pays fork + import per worker, concurrently — a startup
    storm that can dominate short jobs at high core counts.  Long-lived
    cluster executors never see this; calling it once after session
    creation removes the artifact locally too.
    """
    if n_workers is None:
        master = spark.sparkContext.master
        n_workers = int(master.split("[")[1].rstrip("]")) if "[" in master else 32

    def _imp(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import time as _t
        _t.sleep(0.4)  # hold the slot so every core spawns its own worker
        yield from batches

    (spark.range(0, n_workers * 2, 1, n_workers * 2)
     .mapInPandas(_imp, schema="id long").count())
