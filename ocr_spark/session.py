"""SparkSession builder with the engine's standard knobs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """local[cores] session tuned for the Arrow-heavy extraction pipeline.

    On a real cluster the same confs ship via spark-submit; only the master
    changes. AQE stays on for runtime skew/partition coalescing; Arrow batches
    are capped so html-heavy batches fit executor memory (SURVEY.md §4.2).

    Python workers fork from ``ocr_spark.pyworker``: Spark's stock daemon
    re-reads every zip archive on its path at the start of each task (~0.2 s
    of CPU per task on pyspark.zip, the Spark jar and py4j), which was the
    fixed floor of every ``mapInArrow`` and Python UDF.
    """
    cores = cores or default_cores()
    shuffle = shuffle_partitions or max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # Heap scales with cores (as cluster memory scales with executors):
        # allocation rate grows with task slots, and an undersized heap turns
        # into GC pressure — measured 17% at local[32] (8g -> 24g).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(6, (cores * 3) // 4)}g"),
        )
        # Throughput GC: the interpreted-expression blocks allocate heavily;
        # G1's pacing cost ~30% of wall at 32 threads (measured at 96k pages:
        # 19.5s G1 -> 14.1s ParallelGC).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "ocr_spark.pyworker")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Workers import the daemon before a task puts --py-files on sys.path, so
    # give them the ocr_spark this driver runs (a checkout or a zip) first.
    env = spark.sparkContext.environment
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        env["PYTHONPATH"] = os.pathsep.join([root] + paths)
    return spark
