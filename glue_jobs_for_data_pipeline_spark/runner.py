"""One way to run a registered query: build it inside a query scope, act
on it through a sink, close the scope, and report the wall seconds and
the Spark jobs it took. ``bench.py`` and the ``tools/`` harnesses are
command-line front ends over this module.

Jobs are counted by job id, not by job group: every job whose id was
assigned while the query ran is the query's, including the micro-batch
jobs Structured Streaming runs under its own job group on another
thread.
"""

from __future__ import annotations

import sys
import time
from typing import Any, Callable, NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from . import lifecycle

# The warm-up set, run at the smallest scale factor before anything is
# timed: JIT and codegen, the broadcast machinery, the Arrow/Python
# workers, the streaming engine, and the catalog commit path with its
# pyarrow footer reads.
WARM_SF = "/root/testdata/sf0.001"
WARM_KEYS = (
    "m2_j2_fact_population",
    "x_dedup_minhash_lsh",
    "x_stream_window_agg",
    "x_storage_mor_upsert",
)

SINKS: dict[str, Callable[[DataFrame], Any]] = {
    "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
    "collect": lambda df: df.collect(),
    "count": lambda df: df.count(),
    # the physical plan as planned; runs no job of its own
    "plan": lambda df: df._jdf.queryExecution().executedPlan().toString(),
}


class Run(NamedTuple):
    seconds: float  # building the query plus the sink
    jobs: int  # Spark jobs that succeeded
    failed: int  # Spark jobs that failed
    value: Any  # what the sink returned: rows, a count, a plan, None
    df: DataFrame  # the built query, for its schema or an explain


def _newest_job_id(sc) -> int:
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def count_jobs(spark: SparkSession, fn: Callable[[], Any]) -> tuple[int, int]:
    """(succeeded, failed) Spark jobs submitted, from any thread, while
    ``fn()`` runs. Jobs the status store has already evicted are not
    counted: raise ``spark.ui.retainedJobs`` for very long runs."""
    sc = spark.sparkContext
    first = _newest_job_id(sc) + 1
    fn()
    last = _newest_job_id(sc)
    store = sc._jsc.sc().statusStore()
    status = []
    for job_id in range(first, last + 1):
        try:
            status.append(store.job(job_id).status().toString())
        except Py4JJavaError:  # evicted from the store
            pass
    return status.count("SUCCEEDED"), status.count("FAILED")


def run(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    sink: str = "noop",
) -> Run:
    """Build ``fn(spark, sf_dir)`` inside a query scope, act on it
    through ``sink`` (one of ``SINKS``), then close the scope, which
    releases every block and scratch directory the query registered."""
    act = SINKS[sink]
    out: list = []

    def body() -> None:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        value = act(df)
        out.append((time.perf_counter() - t0, value, df))

    with lifecycle.query_scope():
        jobs, failed = count_jobs(spark, body)
    seconds, value, df = out[0]
    return Run(seconds, jobs, failed, value, df)


def warm_up(spark: SparkSession, qs: dict) -> None:
    """Pay first-use costs outside any timed region (``WARM_KEYS``)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for key in WARM_KEYS:
        try:
            run(spark, qs[key], WARM_SF)
        except Exception as ex:  # noqa: BLE001 — warm-up must never fail a harness
            print(f"warm-up {key} failed: {ex!r}", file=sys.stderr)
