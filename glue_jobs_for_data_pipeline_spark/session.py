"""SparkSession factory tuned for the local[
N] test harness and scale-ready defaults.

Scale posture: AQE on (runtime coalescing, skew-join splitting), shuffle
partitions sized to cores locally (on a real cluster this would be
~2-3x total executor cores or left to AQE), UTC session timezone so
timestamp semantics match the DuckDB oracle, Arrow enabled for the few
Pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_WAREHOUSE_DIR: str | None = None
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _warehouse_dir() -> str:
    """Per-process catalog warehouse (managed tables from the bucketing
    and staging-lifecycle queries). A fixed literal path is shared by
    concurrent processes — two suites creating the same managed table
    name would clobber each other; per-process scratch (rooted at
    SPARK_GRAFT_SCRATCH_ROOT like every staging path) cannot. Cached:
    getOrCreate only honors the conf on first session construction."""
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        from .sources.readers import scratch_dir

        _WAREHOUSE_DIR = scratch_dir("spark_graft_warehouse_")
    return _WAREHOUSE_DIR


def get_spark(
    app_name: str = "glue_jobs_for_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from $SPARK_GRAFT_CPUS (default 32).
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # catalog tables (bucketing demos) land outside the repo tree
        .config("spark.sql.warehouse.dir", _warehouse_dir())
        # local mode: the driver JVM IS the executor. 32 concurrent
        # tasks over the old 8g default left ~256 MB/task — GC pauses
        # made the checkpoint-heavy graph queries swing 4.8-16 s for
        # identical plans. 32g = 1 GiB/task, the per-core executor
        # memory a real cluster job would request; triangles steadies
        # at ~3.3 s (measured r11).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
    )
    if master.startswith("local"):
        builder = (
            builder
            # Python workers import this package by name (UDFs pickle
            # their functions by reference); the driver found it on its
            # own sys.path, the workers need it on theirs whatever the
            # process cwd is
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
            # List partition directories on the driver. Above the
            # default threshold of 32 directories Spark lists them in a
            # job with one task per directory; in local mode those tasks
            # run in this same JVM on the same filesystem, so the job
            # only adds one Hadoop Configuration deserialization per
            # task. Reading back a nightly load's 91-partition fact that
            # way took 0.59 s, with 0.03 s of listing in its tasks and
            # 1.31 s of CPU; listed here it takes 0.09 s (4-vCPU host).
            .config(
                "spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(2**31 - 1),
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
