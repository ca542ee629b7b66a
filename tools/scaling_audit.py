"""Measured scaling-curve audit: time every bench query at sf0.01 and
sf0.1 (10x the data) and report the ratio — the empirical check behind
the "this plan would survive 100x" claims. A ratio well above 10x after
normalizing by the calibration query (m3_dim_dates: constant work, no
scan — its ratio is the host/session noise floor) flags super-linear
behavior worth a plan audit; well below 10x means constant overheads
still dominate at these sizes.

Usage: python tools/scaling_audit.py [--json OUT.json]
           [--sfs smallLabel=smallDir,bigLabel=bigDir]
           [--only q1,q2,...] [passes]
Each query runs `passes` times per SF (default 2), min taken, full
materialization through the noop sink. --sfs overrides the default
sf0.01/sf0.1 decade (e.g. the third decade: sf0.1=/root/testdata/
sf0.1,sf1=scratch/sf1 — sf1 generated by tools/gen_sf.py because
/root/testdata is read-only); --only restricts to a named subset (the
heaviest queries, for the decade where the full sweep is expensive).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from glue_jobs_for_data_pipeline_spark import lifecycle, runner  # noqa: E402
from glue_jobs_for_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_json = None
    sf_pairs = [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
    ]
    only: set[str] | None = None
    args = sys.argv[1:]
    while args and args[0] in ("--json", "--sfs", "--only"):
        if args[0] == "--json":
            out_json = args[1]
        elif args[0] == "--sfs":
            sf_pairs = [
                (p.split("=", 1)[0], p.split("=", 1)[1])
                for p in args[1].split(",")
            ]
        else:
            only = set(args[1].split(","))
        args = args[2:]
    passes = int(args[0]) if args else 2
    (k_small, d_small), (k_big, d_big) = sf_pairs

    from bench import BENCH_QUERIES  # noqa: E402
    import __spark_entry__ as e  # noqa: E402

    spark = get_spark("scaling_audit")
    qs = e.queries()
    runner.warm_up(spark, qs)

    names = [n for n in BENCH_QUERIES if only is None or n in only]
    if only:
        names += [n for n in sorted(only) if n not in set(names) and n in qs]

    results: dict[str, dict] = {}
    for name in names:
        rec: dict = {}
        for key, sf_dir in ((k_small, d_small), (k_big, d_big)):
            samples = []
            for _ in range(passes):
                # staged tables rebuild once per (query, sf) so the
                # stage queries keep their real cost in every sample
                lifecycle.reset_stages()
                samples.append(round(runner.run(spark, qs[name], sf_dir).seconds, 3))
            rec[key] = min(samples)
            rec[f"rows_{key}"] = runner.run(spark, qs[name], sf_dir, "count").value
        rec["ratio"] = round(rec[k_big] / max(rec[k_small], 1e-9), 2)
        # Output-volume context: a time ratio tracking rows_ratio is
        # data-proportional work (honest linear scaling — e.g.
        # x_fact_periodic_snapshot's part x month grain is ~1 group per
        # lineitem at these SFs, rows 50k -> 503k), NOT super-linearity;
        # the red flag is time ratio >> max(rows_ratio, calib noise).
        rec["rows_ratio"] = round(
            rec[f"rows_{k_big}"] / max(rec[f"rows_{k_small}"], 1), 2
        )
        results[name] = rec
        print(
            f"{name}: {rec[k_small]}s -> {rec[k_big]}s  x{rec['ratio']}"
            f"  (rows x{rec['rows_ratio']})"
        )

    calib = results.get("m3_dim_dates", {}).get("ratio", 1.0)
    summary = {"passes": passes, "calib_ratio": calib, "queries": results}
    print(json.dumps({"calib_ratio": calib, "n": len(results)}))
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
