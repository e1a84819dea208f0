"""SparkSession factory with scale-oriented defaults.

Centralizes the knobs that matter at 100 TB so every entry point (tests,
bench, __spark_entry__) runs the same configuration:

- AQE on (runtime coalescing, skew-join splitting)
- broadcast threshold raised: all dims in this star schema are tiny
- Arrow enabled for every Python<->JVM hop (data source, pandas UDFs)
- local masters fork Python workers from ``_daemon`` (no per-task zip re-reads)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hadoop-logfile-inputformat-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode runs the whole engine in the driver JVM (32 task
        # threads + broadcast vars + any persisted intermediates): 8g
        # showed GC-pressure swings on warm queries mid-bench, 16g is
        # comfortable on the 128 GiB test box.  On a real cluster this
        # maps to executor memory, sized per-node instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if master == "local" or master.startswith("local["):
        # the package root is on the workers' PYTHONPATH (below) before
        # the daemon starts; on a cluster it may arrive only per task
        builder = builder.config(
            "spark.python.daemon.module", "hadoop_logfile_inputformat_spark._daemon"
        )
    # The JVM spawns fresh Python workers for the data source / pandas
    # UDFs; they don't inherit the driver's sys.path. Put the package
    # root on PYTHONPATH for the gateway launch only (PySpark copies
    # os.environ into the JVM's environment there, and the workers
    # inherit the JVM's), then restore it, so later subprocesses of this
    # process do not import the package by accident. On a real cluster
    # the equivalent is shipping a wheel via --py-files.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH")
    if pkg_root not in (existing or "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    try:
        spark = builder.getOrCreate()
    finally:
        if existing is None:
            os.environ.pop("PYTHONPATH", None)
        else:
            os.environ["PYTHONPATH"] = existing
    from hadoop_logfile_inputformat_spark.sources.logfile import register_logfile_source

    register_logfile_source(spark)
    return spark
