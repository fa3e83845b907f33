"""SparkSession factory.

Local sandbox runs single-JVM ``local[N]``; the same config block is what
we would submit to a 1000-executor cluster — AQE (runtime partition
coalescing + skew-join splitting), Arrow for every pandas UDF, UTC session
timezone so results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kg_microbe_merge_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-ready defaults.

    At cluster scale the only things that change are ``master`` and the
    shuffle-partition count (≈ 2-3× total cores); every other knob here is
    size-independent policy.
    """
    spark = _builder(app_name, master, shuffle_partitions, extra_conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _builder(
    app_name: str,
    master: str | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> SparkSession.Builder:
    """The configured builder behind :func:`get_spark`; builds no session."""
    # SPARK_GRAFT_CPUS is a deployment override; by default use the CPUs
    # this process may run on
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or cores
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # File-scan split sizing: guarantee ≥4 waves of scan tasks per
        # core. Spark's default bin-packing targets bytesPerCore =
        # total/defaultParallelism, which at parallelism N packs the
        # whole input into ~N splits — ONE ragged wave whose slowest
        # partition sets the stage wall (measured: local[8] read a
        # 256-file corpus as 11 splits → 5.4/8 cores busy; local[32] as
        # 32 splits → 24.9/32). Four-plus waves give the scheduler room
        # to rebalance, which is also the right shape on a 1000-executor
        # cluster. (Affordable only because workerenv removed the
        # ~0.25 s/task Python-worker zip-rescan tax.)
        .config("spark.sql.files.minPartitionNum", str(4 * int(shuffle)))
    )
    conf = extra_conf or {}
    if master.startswith("local"):
        conf = _local_worker_conf(conf)
    for k, v in conf.items():
        b = b.config(k, v)
    return b


def _local_worker_conf(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` plus the Python-worker settings of a one-host session.

    The workers fork from :mod:`worker_daemon`, which installs the
    ``workerenv`` zip-cache patch before the first fork, so no task
    re-reads ``pyspark.zip``. The daemon and every UDF need the package
    importable in the workers whatever the driver's cwd, so the directory
    holding it is appended to the workers' ``PYTHONPATH`` after any
    caller-set entries. Non-local masters keep ``pyspark.daemon``: their
    workers get the package from ``--py-files`` only once a task runs,
    and are patched when it is imported (``__init__``).
    """
    from kg_microbe_merge_spark import worker_daemon

    key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
    home = str(Path(__file__).resolve().parent.parent)
    if home not in paths:
        paths.append(home)
    return {
        "spark.python.daemon.module": worker_daemon.__name__,
        **conf,
        key: os.pathsep.join(paths),
    }
