"""Per-query micro-bench: time one (or a few) registered queries with
the bench's exact methodology (warm-up set, noop sink, min-of-N, stage
reset per pass) without paying for the whole 93-query bill. Optionally
dumps .explain('formatted') to a file.

Usage:
    python tools/qprof.py [--passes N] [--explain-dir DIR] [--sf DIR] key ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from glue_jobs_for_data_pipeline_spark import lifecycle, runner  # noqa: E402
from glue_jobs_for_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    passes = 3
    explain_dir = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    keys: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--passes":
            passes = int(args[i + 1]); i += 2
        elif args[i] == "--explain-dir":
            explain_dir = args[i + 1]; i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            keys.append(args[i]); i += 1

    import __spark_entry__ as e

    spark = get_spark("qprof")
    qs = e.queries()
    runner.warm_up(spark, qs)

    samples: dict[str, list[float]] = {k: [] for k in keys}
    for p in range(passes):
        lifecycle.reset_stages()
        for k in keys:
            r = runner.run(spark, qs[k], sf_dir)
            samples[k].append(round(r.seconds, 3))
            if explain_dir and p == 0:
                os.makedirs(explain_dir, exist_ok=True)
                with open(os.path.join(explain_dir, f"{k}.txt"), "w") as fh:
                    fh.write(r.df._sc._jvm.PythonSQLUtils.explainString(
                        r.df._jdf.queryExecution(), "formatted"))
    for k in keys:
        xs = samples[k]
        print(f"{min(xs):8.3f}  min | {sorted(xs)[len(xs)//2]:8.3f} med | "
              f"{xs}  {k}")


if __name__ == "__main__":
    main()
