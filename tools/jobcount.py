"""Spark JOB COUNT per registered query — the complement to qprof for
optimizations that remove whole jobs (driver-side metadata I/O, lazy
checkpoints) rather than reshaping a plan: the final explain of a
checkpoint-returning query is `Scan ExistingRDD` before AND after, so
the evidence lives in how many jobs the query submits, not in the plan
text.

Each key runs TWICE through the runner: the first invocation pays
per-process staging side effects (stage builds, fixture writes); the
second's jobs are reported — the steady-state per-invocation job bill
— as succeeded jobs, with failed jobs counted apart. Every job started
while the query runs counts, streaming micro-batches included. The
session retains every job and stage, so a long query's count is never
truncated.

Usage: python tools/jobcount.py [--sf DIR] key ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from glue_jobs_for_data_pipeline_spark import runner  # noqa: E402
from glue_jobs_for_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args and args[0] == "--sf":
        sf_dir = args[1]
        args = args[2:]
    keys = args

    import __spark_entry__ as e

    spark = get_spark(
        "jobcount",
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    qs = e.queries()
    for k in keys:
        runner.run(spark, qs[k], sf_dir)  # staging side effects land here
        r = runner.run(spark, qs[k], sf_dir)
        print(f"{k}: {r.jobs} jobs, {r.failed} failed", flush=True)


if __name__ == "__main__":
    main()
