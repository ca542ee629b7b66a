"""The query runner: job counts, sinks, the resources a run leaves
behind, and the command-line tools built on it."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark import StorageLevel

from glue_jobs_for_data_pipeline_spark import lifecycle, runner

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import __spark_entry__ as e  # noqa: E402

QS = e.queries()


@pytest.mark.parametrize("key", ["m3_dim_dates", "v1_null_counts"])
def test_noop_run_counts_the_jobs_count_jobs_counts(spark, sf_dir, count_jobs, key):
    expected = count_jobs(
        lambda: QS[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
    )
    r = runner.run(spark, QS[key], sf_dir, "noop")
    assert (r.jobs, r.failed) == (expected, 0)
    assert r.value is None and r.seconds > 0


def test_plan_sink_runs_no_job(spark, sf_dir):
    r = runner.run(spark, QS["m3_dim_dates"], sf_dir, "plan")
    assert r.jobs == 0 and r.failed == 0
    assert "Project" in r.value


def test_collect_and_count_sinks_agree(spark, sf_dir):
    rows = runner.run(spark, QS["m3_dim_dates"], sf_dir, "collect").value
    assert runner.run(spark, QS["m3_dim_dates"], sf_dir, "count").value == len(rows) == 731


def test_streaming_micro_batches_are_counted(spark, sf_dir):
    """Structured Streaming runs each micro-batch under the stream's own
    job group: a count by the caller's job group sees only the 3 jobs
    the caller submits itself, not the SCD-2 upserts and staged writes
    of the two drains."""
    runner.run(spark, QS["x_stream_scd2_apply"], sf_dir)  # stage the source
    assert runner.run(spark, QS["x_stream_scd2_apply"], sf_dir).jobs > 3


LEAK_KEYS = [
    "x_ingest_incremental_dedup",  # a checkpoint pinned between two ingests
    "s5_ctas_cached",  # a cached temp view
    "x_graph_pagerank",  # loop checkpoints over a staged edge table
    "x_dedup_minhash_lsh",  # cached signatures over a staged pair table
    "x_storage_time_travel",  # a scratch catalog
    "x_stream_scd2_apply",  # scratch source, dim and stream checkpoint
]


def test_runs_leave_no_blocks_or_scratch_behind(spark, sf_dir, monkeypatch, tmp_path):
    """No persistent RDD and no scratch dir outlives its run. Blocks
    that earlier tests left outside any scope may be collected (or
    uncached by an equal plan) meanwhile, so the check is that no
    persistent RDD is new, not that the count is unchanged."""
    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_ROOT", str(root))
    jsc = spark.sparkContext._jsc
    lifecycle.reset_stages()
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(2):
        for key in LEAK_KEYS:
            runner.run(spark, QS[key], sf_dir)
    lifecycle.reset_stages()
    assert set(jsc.getPersistentRDDs().keySet()) <= before
    assert os.listdir(root) == []


def test_scope_keeps_a_cache_it_did_not_create(spark):
    """``cached`` on a plan cached outside the scope reuses that cache
    entry; closing the scope must leave it to its creator."""
    outer = spark.range(11).selectExpr("id * 7 AS kept_by_outer").cache()
    try:
        outer.count()
        with lifecycle.query_scope():
            lifecycle.cached(
                spark.range(11).selectExpr("id * 7 AS kept_by_outer")
            ).count()
        assert outer.storageLevel != StorageLevel.NONE
    finally:
        outer.unpersist()


def _tool(tmp_path, *argv: str) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_SCRATCH_ROOT=str(tmp_path),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", argv[0]), *argv[1:]],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def test_jobcount_cli(tmp_path):
    out = _tool(tmp_path, "jobcount.py", "--sf", "/root/testdata/sf0.001", "m3_dim_dates")
    assert out.strip() == "m3_dim_dates: 1 jobs, 0 failed"


def test_qprof_cli(tmp_path):
    out = _tool(
        tmp_path, "qprof.py", "--passes", "1", "--sf", "/root/testdata/sf0.001",
        "m3_dim_dates",
    )
    assert out.rstrip().endswith("m3_dim_dates") and " min | " in out
