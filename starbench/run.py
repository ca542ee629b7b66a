#!/usr/bin/env python3
"""Star-ETL benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 starbench/run.py --workload full_load --seed 1 --seconds 15 --trace 0

Workloads (see starbench/README.md for why each exists):

    full_load     a day-1 Pipeline.run into an empty warehouse, then a
                  downstream report read from its published views
    dim_history   seven nightly SCD-2 delta batches of the three dims

The inputs are generated from ``--seed`` with DuckDB under
``starbench/.work/``; Spark runs ``local[<cpus>]`` in this process.
Operations repeat, closed loop with one client, until ``--seconds`` of
timed work has accumulated and the workload's cycle is complete; every
operation's committed output is then checked against DuckDB, untimed.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` wraps the
package's public calls in spans and prints the per-layer metrics
instead; the spans themselves go to ``starbench/.out/``. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

LAYERS = (
    "pipeline.run", "readers.load_table", "validation.validate",
    "validation.report", "scd2.build", "scd2.stage", "dates.stage", "fact.stage",
    "txn.read", "txn.read_committed", "txn.read_staged", "txn.commit",
    "readers.scan",
)
GEN_REPEATS = 3
# Driver JVM flags. The heap is allocated and touched up front, so peak
# RSS does not follow the collector's heap growth. C1 only, with a code
# cache that is never flushed: under the default tiers the C2 compiler
# kept recompiling for five or more loads, and a code-cache sweep in
# the middle of a run recompiled hot code, so an operation's CPU time
# depended on where in the run it fell. The initial metaspace is large
# enough that class loading triggers no full collections. The serial
# collector does no work in parallel threads that spin while they wait
# for one another.
JVM_OPTS = (
    "-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -XX:+UseSerialGC "
    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m "
    "-XX:-UseCodeCacheFlushing -XX:MetaspaceSize=512m"
)


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_SCRATCH_ROOT=os.path.join(work, "scratch"),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=local,
    )
    os.makedirs(os.environ["SPARK_GRAFT_SCRATCH_ROOT"], exist_ok=True)
    from glue_jobs_for_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name="starbench",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def install_spans(tracer) -> None:
    """Wrap the package's public calls (trace runs only)."""
    from glue_jobs_for_data_pipeline_spark.plans import pipeline as pl
    from glue_jobs_for_data_pipeline_spark.plans import tpch_fixtures as fx
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog, CatalogTransaction

    import workloads
    from spans import count_files
    from workloads import version_dir

    def stage_name(txn, df, name, *a, **k) -> str:
        if name == "fact_orders":
            return "fact.stage"
        return "dates.stage" if name == "dim_dates" else "scd2.stage"

    def read_attrs(cat, spark, name, *a, **k) -> dict:
        return {"files_listed": count_files(version_dir(cat, name))}

    tracer.wrap(fx, "load_table", "readers.load_table")
    tracer.wrap(pl, "validation_report", "validation.report")
    tracer.wrap(pl, "validate_or_raise", "validation.validate")
    tracer.wrap(workloads, "validate_or_raise", "validation.validate")
    tracer.wrap(pl, "scd2_upsert", "scd2.build")
    tracer.wrap(workloads, "scd2_upsert", "scd2.build")
    tracer.wrap(pl.Pipeline, "run", "pipeline.run")
    tracer.wrap(Catalog, "read", "txn.read", attrs=read_attrs)
    tracer.wrap(CatalogTransaction, "overwrite", stage_name)
    tracer.wrap(CatalogTransaction, "read_committed", "txn.read_committed")
    tracer.wrap(CatalogTransaction, "read_staged", "txn.read_staged")
    tracer.wrap(CatalogTransaction, "__exit__", "txn.commit")


def layer_metrics(tracer, w, roots: list[dict], op_s: float, op_cpu_s: float) -> dict:
    from spans import COUNTERS

    n = len(roots)
    totals = [tracer.layer_totals(r) for r in roots]
    under = [d for r in roots for d in tracer.descendants(r)]
    m: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        for c, unit in COUNTERS.items():
            v = sum(t.get(layer, {}).get(c, 0.0) for t in totals) / n
            m[f"{layer}.{c}"] = (v, unit)
    runs = [s for s in under if s["name"] == "pipeline.run"]
    m["pipeline.driver_s"] = (
        sum(tracer.off_job_s(s) for s in runs) / n if runs else 0.0, "s")
    reads = [s for s in under if s["name"] == "txn.read"]
    m["txn.read.files_listed"] = (
        statistics.mean(s["files_listed"] for s in reads)
        if reads else 0.0, "count")
    scans = [s for s in under if "scan" in s]
    m["readers.scan.rows_scanned_per_result"] = (
        sum(s["scan"]["rows"] for s in scans) / max(1, sum(s["rows"] for s in scans))
        if scans else 0.0, "ratio")
    m["readers.scan.partitions_scanned"] = (
        statistics.mean(s["scan"]["partitions"] for s in scans) if scans else 0.0,
        "count")
    m["scd2.versioned_per_staged"] = (
        statistics.median(getattr(w, "versioned", None) or [0.0]), "ratio")
    m["fact.files_per_partition"] = (
        statistics.median(getattr(w, "files_per_partition", None) or [0.0]), "ratio")
    m["span_coverage"] = (statistics.median(tracer.coverage(r) for r in roots), "ratio")
    m["traced_op_s"] = (op_s, "s")
    m["traced_op_cpu_s"] = (op_cpu_s, "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import glue_jobs_for_data_pipeline_spark  # noqa: F401 — fail fast without the package

    sys.path.insert(0, HERE)
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    run_id = f"{args.workload}-{args.seed}-{args.trace}"
    work = os.path.join(HERE, ".work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    spark = start_spark(work)
    try:
        session_s = time.perf_counter() - T_START
        tracer = spans.Tracer(spark, run_id, traced=bool(args.trace))
        if args.trace:
            install_spans(tracer)
        w = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed)
        gen_s = statistics.median(timed(w.generate) for _ in range(GEN_REPEATS))
        setup_s = session_s + gen_s + timed(w.setup)
        first_span = len(tracer.spans)

        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        for p in pids:
            spans.peak_rss_reset(p)
        roots, times, cpu, check_times, errors = [], [], [], [], []
        i = 0
        while True:
            try:
                cpu_before = sum(spans.cpu_s(p) for p in pids)
                with tracer.span("op") as root:
                    w.op(i)
            except Exception:  # noqa: BLE001 — counted as a failed operation
                errors.append(traceback.format_exc())
            else:
                times.append(root["end"] - root["start"])
                cpu.append(sum(spans.cpu_s(p) for p in pids) - cpu_before)
                roots.append(root)
                t = time.perf_counter()
                try:
                    w.check(i)
                except Exception:  # noqa: BLE001 — a mismatch fails the operation
                    errors.append(traceback.format_exc())
                check_times.append(time.perf_counter() - t)
            w.between(i)
            i += 1
            if sum(times) >= args.seconds and i >= w.min_ops and w.cycle_done(i - 1):
                break
            if len(errors) > 3:
                break
        rss = [spans.peak_rss_mb(p) for p in pids]
        tracer.collect(first_span)
    finally:
        stop_spark(spark)

    for e in errors:
        print(e, file=sys.stderr)
    attempted, failed = i, len(errors)
    op_s = statistics.median(times) if times else 0.0
    op_cpu_s = statistics.median(cpu) if cpu else 0.0
    if args.trace:
        metrics = layer_metrics(tracer, w, roots, op_s, op_cpu_s)
    else:
        jobs = [tracer.job_count(r) for r in roots]
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_cpu_s": (op_cpu_s, "s"),
            "op_jobs": (statistics.median(jobs) if jobs else 0, "count"),
            "stored_bytes_per_input_byte": (
                statistics.median(w.stored_ratio) if w.stored_ratio else 0.0, "ratio"),
            "warehouse_files": (statistics.median(w.files) if w.files else 0, "count"),
            "peak_rss_mb": (sum(rss), "MB"),
            "ok_ops_share": ((attempted - failed) / attempted, "ratio"),
        }
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus(), "ops": attempted, "op_times_s": times, "op_s": op_s,
        "op_cpu_times_s": cpu,
        "check_times_s": check_times,
        "input_rows": w.input_info.get("rows"), "input_bytes": w.input_info.get("bytes"),
        "setup_parts_s": {"session": session_s, "generate": gen_s, **w.setup_parts},
        "peak_rss_mb": {"python": rss[0], "jvm": rss[1]},
    }
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump({"detail": detail, "spans": tracer.dump(first_span)}, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
