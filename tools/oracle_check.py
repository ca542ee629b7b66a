"""Local differential checker: run every queries() entry against its
oracle_sql() in DuckDB and compare row count, sorted column names, and
order-insensitive canonicalized values — a strict local mirror of the
driver's correctness gate.

Usage: python tools/oracle_check.py [--json OUT.json] [--repeat N]
                                    [--kernel] [--pandas-oracle]
                                    [sf_dir] [query ...]

--kernel restricts to KERNEL_BACKED_KEYS (the multi-job-determinism
set) — combine with --repeat for the one-command pre-commit flake
pass: python tools/oracle_check.py --kernel --repeat 3

--pandas-oracle ADDITIONALLY compares values after pandas
materialization on both sides (oracle via con.execute(sql).df(),
exactly like the driver) with NO Decimal normalization — the mode
that reproduces the driver's decimal/hugeint render splits locally
(r10-r12 five-query red class). The recommended pre-commit sweep is
    python tools/oracle_check.py --pandas-oracle /root/testdata/sf0.01

--json writes a per-query record (status, row counts, match flags,
seconds) — used to commit the full-catalog sweep as a round artifact
(ORACLE_SWEEP_r{N}.json) auditable by the judge.

--repeat N re-executes each query's Spark side N times (clearing the
session cache between runs) and fails on any canonicalized-value drift
between executions — the flake harness for queries whose plans carry
multi-job determinism assumptions (the r10 x_olap_global_rank split:
sweep green once, driver red later, because the rank kernel's pids
depended on a cache surviving between jobs). Run it on every
kernel-backed / multi-job key before committing a sweep.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def canon(v):
    """Canonicalize a value for cross-engine comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def unpinned_decimals(schema) -> list[str]:
    """Columns whose type contains ANY DECIMAL — all of them are driver
    hazards, not just the wide ones.

    precision > 18 splits on widening rules (Spark DECIMAL(28,2) vs
    DuckDB DECIMAL(38,2); r01 f11, r04 grouping-sets). But even a
    narrow DECIMAL(18,2) splits at the DRIVER: it materializes Spark
    via toPandas (object ``Decimal('2.50')``) and the oracle via
    ``con.execute(sql).df()`` (float64 ``2.5``) — trailing-zero /
    float-render hash mismatch even for byte-identical values. That
    class stayed hidden from this checker for three rounds (r10-r12:
    the five x_olap/x_fact driver reds) because `canon` above compares
    normalized fetchall() Decimals. So the schema itself is the gate:
    NO hash-checked query may output DECIMAL at any precision — pin to
    DOUBLE (or BIGINT for integral values) on both engines.
    """
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    found: list[str] = []

    def walk(dt, path):
        if isinstance(dt, DecimalType):
            found.append(f"{path}:decimal({dt.precision},{dt.scale})")
        elif isinstance(dt, ArrayType):
            walk(dt.elementType, path + "[]")
        elif isinstance(dt, StructType):
            for f in dt.fields:
                walk(f.dataType, f"{path}.{f.name}")
        elif isinstance(dt, MapType):
            walk(dt.keyType, path + "<key>")
            walk(dt.valueType, path + "<value>")

    for f in schema.fields:
        walk(f.dataType, f.name)
    return found


def oracle_decimals(con, sql: str) -> list[str]:
    """Oracle-result columns whose arrow type is ANY decimal.

    DuckDB widens SUM(int) to HUGEINT and SUM(decimal) to
    DECIMAL(38,_) — both surface as arrow decimal128 — and even a
    narrow DECIMAL(18,2) renders as float64 through the driver's
    pandas materialization (``2.5`` vs Spark's ``Decimal('2.50')``,
    the r10-r12 five-query red class; HUGEINT float64 ``2.0`` vs
    BIGINT ``2`` was r07 q12). fetchall() used below yields Python
    ints/Decimals, so value comparison alone cannot see it: the
    oracle's arrow schema must be policed directly. Fix sites by
    pinning the SQL (CAST(... AS BIGINT/DOUBLE)).
    """
    import pyarrow as pa

    schema = con.execute(f"SELECT * FROM ({sql}) _q LIMIT 0").fetch_arrow_table().schema
    return [f"{f.name}:{f.type}" for f in schema if pa.types.is_decimal(f.type)]


def pandas_canon(v) -> str:
    """Canonicalize a value AS THE DRIVER SEES IT — i.e. after pandas
    materialization — deliberately WITHOUT the Decimal normalization
    `canon` applies, so render splits between the engines' pandas
    paths are visible:

    - DuckDB ``.df()`` turns DECIMAL/HUGEINT into float64 (``2.5``,
      ``5.0``); Spark toPandas keeps object ``Decimal('2.50')`` / int
      ``5`` — these must COMPARE UNEQUAL (the r10-r12 red class).
    - DuckDB ``.df()`` turns DATE into midnight Timestamps while Spark
      keeps datetime.date; the driver is green on date outputs, so
      midnight timestamps canonicalize to the date string.
    """
    import numpy as np
    import pandas as pd

    if v is None or (not isinstance(v, (list, tuple, np.ndarray)) and pd.isna(v)):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, decimal.Decimal):
        return str(v)  # no normalize: Decimal('2.50') != float 2.5
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0) and getattr(
            v, "nanosecond", 0
        ) == 0:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(pandas_canon(x) for x in v) + "]"
    return str(v)


def rows_canon_pandas(cols, rows, promote_nullable_ints: bool = False):
    """``promote_nullable_ints`` mirrors pandas' nullable-int handling
    for a SPARK result canonicalized from collect() rows: pandas has no
    nullable int64 by default, so BOTH the driver's Spark toPandas and
    DuckDB's .df() render an integer column that contains any NULL as
    float64 (``161`` -> ``161.0``). Without this, collect()-side ints
    in such columns false-mismatch the oracle's floats (found by the
    r13 full sweep: 5 nullable-int queries, all driver-green)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    if promote_nullable_ints and rows:
        n = len(cols)
        promote = [
            any(r[i] is None for r in rows)
            and any(
                isinstance(r[i], int) and not isinstance(r[i], bool)
                for r in rows
            )
            for i in range(n)
        ]
        rows = [
            tuple(
                float(v)
                if promote[i] and isinstance(v, int) and not isinstance(v, bool)
                else v
                for i, v in enumerate(r)
            )
            for r in rows
        ]
    return sorted("|".join(pandas_canon(r[i]) for i in order) for r in rows)


def unhashable_cols(schema) -> list[str]:
    """Columns whose type the DRIVER's canonicalizer cannot hash.

    The driver sorts result columns through pandas factorize, which
    raises ``TypeError: unhashable type`` on list/dict cells — any
    ArrayType/MapType/StructType output column fails the gate even when
    the values are correct (r05: x_olap_percentiles, x_emb_quantize_int8
    were hash-green here but red at the driver). canon() above handles
    lists fine, which is exactly why the schema must be flagged
    regardless of value equality: scalarize (posexplode / unnest) any
    complex-typed output before it reaches the driver.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


# Keys whose plans carry multi-job determinism assumptions (the rank
# kernel's boundary/offset collects, md5 pack-groups, staged writes):
# the set `--kernel` expands to, so the pre-commit flake pass is one
# command: python tools/oracle_check.py --kernel --repeat 3 [sf_dir]
KERNEL_BACKED_KEYS = [
    "x_olap_global_rank",
    "x_olap_rfm_scores",
    "x_corpus_epoch_shuffle",
    "x_pack_length_buckets",
    "x_olap_gini",
    "x_olap_revenue_concentration",
    "x_corpus_curriculum_order",
    "x_text_quality_ntile",
    "m1_scd2_upsert",
    "m2_j2_fact_population",
    "x_pack_sequences",
    "x_storage_compaction_plan",
    "x_scd1_overwrite",
    "x_scd3_prev_value",
    # r14 grid-kmeans consumers: centroids collect across driver jobs
    # (train rounds), so re-execution determinism is an explicit
    # assumption — covered here like every other multi-job kernel
    "x_sim_ivf_kmeans_topk",
    "x_corpus_cluster_balance",
    "x_dedup_semantic_semdedup",
    "x_graph_pagerank",
    "x_graph_edges_stage",
    "x_mm_ingest_pipeline",
    "x_validate_observed_load",
]


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    repeat = 1
    kernel_only = False
    pandas_oracle = False
    while args and args[0] in ("--json", "--repeat", "--kernel", "--pandas-oracle"):
        if args[0] == "--json":
            json_out = args[1]
            args = args[2:]
        elif args[0] == "--repeat":
            repeat = int(args[1])
            args = args[2:]
        elif args[0] == "--pandas-oracle":
            pandas_oracle = True
            args = args[1:]
        else:
            kernel_only = True
            args = args[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if kernel_only:
        only |= set(KERNEL_BACKED_KEYS)
    report: dict[str, dict] = {}

    import __spark_entry__ as e
    from glue_jobs_for_data_pipeline_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    from glue_jobs_for_data_pipeline_spark import runner

    qs, oracles = e.queries(), e.oracle_sql()
    failures, n_checked, n_rows_only = 0, 0, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            first = runner.run(spark, fn, sf_dir, "collect")
            sdf, srows = first.df, first.value
            scols = sdf.columns
            drift = None
            for rep in range(1, repeat):
                # fresh plan, cold cache: the driver's failure mode is a
                # LATER execution disagreeing with the first one
                spark.catalog.clearCache()
                again = runner.run(spark, fn, sf_dir, "collect")
                a = rows_canon([c.lower() for c in scols], [tuple(r) for r in srows])
                b = rows_canon(
                    [c.lower() for c in again.df.columns],
                    [tuple(r) for r in again.value],
                )
                if a != b:
                    drift = rep
                    break
            if drift is not None:
                print(
                    f"FAIL  {name}: NONDETERMINISTIC — rerun {drift + 1}/"
                    f"{repeat} produced different canonicalized values"
                )
                report[name] = {
                    "status": "fail",
                    "err": f"nondeterministic across {repeat} reruns",
                }
                failures += 1
                continue
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(ex).__name__}: {ex}")
            report[name] = {"status": "fail", "err": f"spark: {ex}"}
            failures += 1
            continue
        # The driver canonicalizes EVERY query's output through pandas —
        # rows-only included — so complex-typed columns crash its gate
        # regardless of oracle availability (r06: x_olap_freq_items).
        # This check must therefore run BEFORE the rows-only branch.
        bad_complex = unhashable_cols(sdf.schema)
        if name not in oracles:
            if bad_complex:
                print(
                    f"FAIL  {name}: driver-unhashable output column "
                    f"in rows-only query: {bad_complex}"
                )
                report[name] = {
                    "status": "fail",
                    "spark_rows": len(srows),
                    "err": f"driver-unhashable output column: {bad_complex}",
                    "secs": round(time.time() - t0, 1),
                }
                failures += 1
                continue
            n_rows_only += 1
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only check)")
            report[name] = {
                "status": "rows_only",
                "spark_rows": len(srows),
                "secs": round(time.time() - t0, 1),
            }
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(ex).__name__}: {ex}")
            report[name] = {"status": "fail", "err": f"duckdb: {ex}"}
            failures += 1
            continue
        n_checked += 1
        status, notes = "ok   ", []
        bad_dec = unpinned_decimals(sdf.schema)
        if bad_dec:
            # stricter than the driver: fail on schema alone, because the
            # driver's pandas canonicalization (unlike canon() here) is
            # not render-stable for ANY decimal width.
            status = "FAIL "
            notes.append(f"unpinned decimal in output: {bad_dec}")
        if bad_complex:
            # stricter than values-equal: the driver cannot hash complex
            # cells at all, so the schema alone fails its gate.
            status = "FAIL "
            notes.append(f"driver-unhashable output column: {bad_complex}")
        try:
            bad_odec = oracle_decimals(con, oracles[name])
        except Exception:  # noqa: BLE001  (LIMIT-0 probe is best-effort)
            bad_odec = []
        if bad_odec:
            # stricter than values-equal: the driver's pandas fetch turns
            # HUGEINT/DECIMAL into float64/object and hash-mismatches
            # even byte-identical values (r07 q12; r10-r12 five reds).
            status = "FAIL "
            notes.append(f"unpinned decimal in ORACLE output: {bad_odec}")
        if len(srows) != len(orows):
            status, _ = "FAIL ", notes.append(
                f"rowcount spark={len(srows)} duckdb={len(orows)}"
            )
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            status, _ = "FAIL ", notes.append(
                f"schema spark={sorted(scols)} duckdb={sorted(ocols)}"
            )
        if status == "ok   ":
            sc = rows_canon([c.lower() for c in scols], [tuple(r) for r in srows])
            oc = rows_canon([c.lower() for c in ocols], orows)
            if sc != oc:
                status = "FAIL "
                diff = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
                notes.append(f"values differ; first diffs: {diff}")
        if status == "ok   " and pandas_oracle:
            # the driver's lens: both sides through pandas, no Decimal
            # normalization — catches render splits the exact compare
            # above is structurally blind to.
            odf = con.execute(oracles[name]).df()
            spc = rows_canon_pandas(
                [c.lower() for c in scols],
                [tuple(r) for r in srows],
                promote_nullable_ints=True,
            )
            opc = rows_canon_pandas(
                [c.lower() for c in odf.columns],
                list(odf.itertuples(index=False, name=None)),
            )
            if spc != opc:
                status = "FAIL "
                diff = [(a, b) for a, b in zip(spc, opc) if a != b][:3]
                notes.append(f"pandas-render values differ; first diffs: {diff}")
        if status != "ok   ":
            failures += 1
        report[name] = {
            "status": "ok" if status == "ok   " else "fail",
            "spark_rows": len(srows),
            "oracle_rows": len(orows),
            "rows_match": len(srows) == len(orows),
            "schema_match": sorted(c.lower() for c in scols)
            == sorted(c.lower() for c in ocols),
            "hash_match": status == "ok   ",
            "secs": round(time.time() - t0, 1),
            "notes": "; ".join(notes) or None,
        }
        print(
            f"{status}{name}: {len(srows)} rows  [{time.time() - t0:.1f}s]"
            + ("  " + "; ".join(notes) if notes else "")
        )

    print(
        f"\n{n_checked} oracle-checked, {n_rows_only} rows-only, "
        f"{failures} FAILURES"
    )
    if json_out:
        import json

        summary = {
            "sf_dir": sf_dir,
            "n_oracle_checked": n_checked,
            "n_rows_only": n_rows_only,
            "n_failures": failures,
            "queries": report,
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
