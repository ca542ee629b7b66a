"""The benchmark's workloads: setup, one timed operation, and its check.

Each workload is a class with ``setup()`` (its wall time counts in
``setup_s``), ``op(i)`` (one timed operation, run inside a root span),
``check(i)`` (untimed DuckDB verification of what ``op(i)`` committed)
and ``between(i)`` (untimed restore). Operations drive the package
through its public calls only.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from decimal import Decimal

import duckdb
from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark.operators.scd2 import scd2_upsert
from glue_jobs_for_data_pipeline_spark.operators.validation import validate_or_raise
from glue_jobs_for_data_pipeline_spark.plans import tpch_fixtures as fx
from glue_jobs_for_data_pipeline_spark.plans.catalog import ORACLE
from glue_jobs_for_data_pipeline_spark.plans.pipeline import (
    DimSpec,
    Pipeline,
    PipelineContext,
)
from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

import gen
from spans import count_files

SENTINEL = "DATE '9999-12-31'"

DIMS = [
    DimSpec("customers", "CustomerID", fx.CUSTOMER_COLS, "CustomerKey"),
    DimSpec("products", "ProductID", fx.PRODUCT_COLS, "ProductKey"),
    DimSpec("stores", "StoreID", fx.STORE_COLS, "StoreKey"),
]
SOURCES = {
    "customers": fx.ref_customers,
    "products": fx.ref_products,
    "stores": fx.ref_stores,
    "orders": fx.ref_orders,
    "orderdetails": fx.ref_orderdetails,
}
# dim source -> (raw input table, the fixture mapping's SQL over it)
DIM_SQL = {
    "customers": ("customer", fx.SQL_CUSTOMERS),
    "products": ("part", fx.SQL_PRODUCTS),
    "stores": ("supplier", fx.SQL_STORES),
}
DETAIL_PK = ["OrderID", "ProductID", "StoreID"]


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def pipeline() -> Pipeline:
    """The default configuration: rownum keys, reference SCD-2,
    lenient order details."""
    return Pipeline(
        sources=SOURCES,
        dims=DIMS,
        source_pks={"orderdetails": DETAIL_PK},
        lenient_sources={"orderdetails"},
    )


def context(sf_dir: str, warehouse: str) -> PipelineContext:
    return PipelineContext(
        sf_dir=sf_dir,
        warehouse_dir=warehouse,
        run_date=gen.run_date(1),
        dates_start=gen.ORDER_START,
        dates_days=gen.ORDER_DAYS,
    )


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def version_dir(cat: Catalog, name: str) -> str:
    """Directory of ``name``'s committed version (the catalog's
    documented ``<root>/<table>/v=<N>/`` layout)."""
    return os.path.join(cat.table_dir(name), f"v={cat.manifest()[name]}")


def version_glob(cat: Catalog, name: str) -> str:
    return os.path.join(version_dir(cat, name), "**", "*.parquet")


def snapshot_files(cat: Catalog) -> int:
    return sum(count_files(version_dir(cat, t)) for t in cat.manifest())


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def dim_views(con, cat: Catalog) -> None:
    for t in [f"dim_{d.name}" for d in DIMS] + ["dim_dates", "fact_orders"]:
        if t in cat.manifest():
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{version_glob(cat, t)}', hive_partitioning = true)"
            )


def source_views(con, day_dir: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{day_dir}/{t}.parquet')"
        )


def check_current_dims(con, day_dir: str) -> None:
    """Current dim rows equal the day's source snapshot, one per key,
    and surrogate keys are unique over all versions."""
    for spec in DIMS:
        raw, sql = DIM_SQL[spec.name]
        source_views(con, day_dir, [raw])
        dim, cols = f"dim_{spec.name}", ", ".join(spec.columns)
        n_cur, n_keys = con.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT {spec.business_key}) FROM {dim} "
            f"WHERE EndDate = {SENTINEL}"
        ).fetchone()
        expect(n_cur == n_keys, f"{dim}: {n_cur} current rows for {n_keys} keys")
        diff = con.execute(
            f"SELECT COUNT(*) FROM ((SELECT {cols} FROM {dim} WHERE EndDate = "
            f"{SENTINEL} EXCEPT ALL SELECT {cols} FROM ({sql})) UNION ALL "
            f"(SELECT {cols} FROM ({sql}) EXCEPT ALL SELECT {cols} FROM {dim} "
            f"WHERE EndDate = {SENTINEL}))"
        ).fetchone()[0]
        expect(diff == 0, f"{dim}: {diff} current rows differ from the source")
        n, n_sk = con.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT {spec.surrogate_key}) FROM {dim}"
        ).fetchone()
        expect(n == n_sk, f"{dim}: surrogate keys not unique ({n} rows, {n_sk} keys)")


def daily_batch(spark, cat: Catalog, day_dir: str, run_date: dt.date,
                initial: bool = False) -> None:
    """One nightly dimension load: validate each source, SCD-2 delta
    upsert against the committed dim (or the initial load into an empty
    catalog), one commit for all three."""
    with cat.transaction() as t:
        for spec in DIMS:
            src = SOURCES[spec.name](spark, day_dir)
            validate_or_raise(src, spec.name, spec.business_key)
            cur = None if initial else t.read_committed(spark, f"dim_{spec.name}")
            t.overwrite(
                scd2_upsert(
                    cur, src, spec.business_key, list(spec.columns),
                    spec.surrogate_key, run_date=run_date, mode="delta",
                ),
                f"dim_{spec.name}",
            )


def canonical(rows: list) -> list[tuple]:
    """Sorted rows with Decimals normalised (Spark and DuckDB carry
    different decimal precisions for the same sums)."""
    out = []
    for row in rows:
        vals = []
        for v in row:
            vals.append(v.normalize() if isinstance(v, Decimal) else v)
        out.append(tuple(vals))
    return sorted(out)


class Workload:
    batches = 0
    # fewest timed operations per run, whatever --seconds says
    min_ops = 1

    def __init__(self, spark, tracer, work: str, seed: int) -> None:
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.inputs = os.path.join(work, "inputs")
        self.day1 = gen.day_dir(self.inputs, 1)
        self.input_info: dict = {}
        self.stored_ratio: list[float] = []
        self.files: list[int] = []
        self.setup_parts: dict[str, float] = {}

    def part(self, name: str, fn, *args) -> None:
        """Run one named setup step, recording its wall time."""
        t = time.perf_counter()
        fn(*args)
        self.setup_parts[name] = time.perf_counter() - t

    def generate(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.input_info = gen.generate(self.inputs, self.seed, self.batches)

    def setup(self) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def between(self, i: int) -> None:
        pass

    def cycle_done(self, i: int) -> bool:
        return True


class FullLoad(Workload):
    """A day-1 ``Pipeline.run`` into an empty warehouse, then consuming
    its outputs: the validation report is collected, the fact row count
    read from parquet footers, and one downstream report (revenue by
    store nation for a seed-chosen month, so the fact scan prunes to
    about 30 date partitions) collected from the published views."""

    name = "full_load"
    # the median of three leaves one disturbed load out
    min_ops = 3

    def setup(self) -> None:
        month = random.Random(self.seed).randrange(1, gen.ORDER_DAYS // 31 + 1)
        first = gen.ORDER_START.replace(month=month)
        self.month = (int(f"{first:%Y%m}01"), int(f"{first:%Y%m}31"))
        con = duck()
        source_views(con, self.day1, ["customer", "supplier", "part", "orders", "lineitem"])
        con.execute(f"CREATE TABLE oracle AS {ORACLE['m2_j2_fact_population']}")
        self.oracle_rows = con.execute("SELECT COUNT(*) FROM oracle").fetchone()[0]
        self.oracle_dups = con.execute(
            f"SELECT COUNT(*) FROM (SELECT 1 FROM ({fx.SQL_ORDERDETAILS}) "
            f"GROUP BY {', '.join(DETAIL_PK)} HAVING COUNT(*) > 1)"
        ).fetchone()[0]
        self.con = con
        self.files_per_partition: list[float] = []
        self.part("warmup", self.warm)

    def warm(self) -> None:
        """One untimed load: the first in a fresh JVM runs up to 2.4x
        slower while classes load and code is compiled."""
        self.op(-1)
        self.between(-1)

    def op(self, i: int) -> None:
        self.warehouse = os.path.join(self.work, f"wh_{i}")
        self.tracer.watch_dir = self.warehouse
        res = pipeline().run(self.spark, context(self.day1, self.warehouse))
        with self.tracer.span("validation.report"):
            self.report = res["validation_orderdetails"].collect()
        self.fact_rows = Catalog(self.warehouse).table_rows("fact_orders")
        monthly = (
            res["fact_orders"].filter(F.col("OrderDateKey").between(*self.month))
            .join(res["dim_stores"], "StoreKey").groupBy("NationKey")
            .agg(F.sum("TotalPrice").alias("revenue"), F.count(F.lit(1)).alias("n"))
        )
        with self.tracer.span("readers.scan") as sp:
            self.monthly = monthly.collect()
        if self.tracer.traced:
            sp["rows"] = len(self.monthly)
            sp["scan"] = scan_metrics(self.spark, monthly)

    def check(self, i: int) -> None:
        cat, con = Catalog(self.warehouse), self.con
        dim_views(con, cat)
        expect(self.fact_rows == self.oracle_rows,
               f"fact footer rows {self.fact_rows} != oracle {self.oracle_rows}")
        diff = con.execute(
            "WITH f AS (SELECT OrderID, CustomerKey, StoreKey, ProductKey, Quantity, "
            "CAST(UnitPrice AS DOUBLE) AS UnitPrice, CAST(TotalPrice AS DOUBLE) "
            "AS TotalPrice, CAST(OrderDateKey AS INTEGER) AS OrderDateKey "
            "FROM fact_orders) SELECT COUNT(*) FROM ((SELECT * FROM f EXCEPT ALL "
            "SELECT * FROM oracle) UNION ALL (SELECT * FROM oracle EXCEPT ALL "
            "SELECT * FROM f))"
        ).fetchone()[0]
        expect(diff == 0, f"fact_orders differs from the oracle in {diff} rows")
        n_dates = con.execute("SELECT COUNT(*) FROM dim_dates").fetchone()[0]
        expect(n_dates == gen.ORDER_DAYS, f"dim_dates has {n_dates} rows")
        check_current_dims(con, self.day1)
        dups = {r["check_name"]: r["violation_count"] for r in self.report}
        pk = "pk_unique_" + "_".join(DETAIL_PK)
        expect(dups.get(pk) == self.oracle_dups,
               f"validation report {pk}={dups.get(pk)}, expected {self.oracle_dups}")
        want = canonical(con.execute(
            "SELECT s.NationKey, SUM(f.TotalPrice) AS revenue, COUNT(*) AS n "
            "FROM fact_orders f JOIN dim_stores s USING (StoreKey) WHERE "
            f"f.OrderDateKey BETWEEN {self.month[0]} AND {self.month[1]} GROUP BY ALL"
        ).fetchall())
        got = canonical(self.monthly)
        expect(len(got) > 0 and got == want,
               f"monthly report: {len(got)} rows differ from DuckDB ({len(want)})")
        self.stored_ratio.append(tree_bytes(self.warehouse) / self.input_info["bytes"])
        self.files.append(snapshot_files(cat))
        fact_dir = version_dir(cat, "fact_orders")
        parts = sum(1 for d in os.listdir(fact_dir) if d.startswith("OrderDateKey="))
        self.files_per_partition.append(count_files(fact_dir) / parts)

    def between(self, i: int) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)


class DimHistory(Workload):
    """Seven consecutive nightly dimension batches against a committed
    day-1 warehouse; one timed operation is one day. After day 8 the
    warehouse is rolled back to day 1 and unreferenced versions are
    collected, untimed.

    The day-1 warehouse holds the three dims only (their initial SCD-2
    load): no operation here reads ``dim_dates`` or the fact, and a full
    ``Pipeline.run`` would double the set-up time."""

    name = "dim_history"
    batches = 7

    def setup(self) -> None:
        self.warehouse = os.path.join(self.work, "wh")
        self.tracer.watch_dir = self.warehouse
        self.cat = Catalog(self.warehouse)
        self.part("build_day1", daily_batch, self.spark, self.cat, self.day1,
                  gen.run_date(1), True)
        self.day1_head = self.cat.head()
        self.day1_bytes = tree_bytes(self.warehouse)
        self.con = duck()
        self.versioned: list[float] = []
        self.part("warmup", self.warm)

    def warm(self) -> None:
        """Two untimed days, then back to day 1: the delta path's first
        days in a fresh JVM run up to 1.5x slower."""
        self.op(0)
        self.op(1)
        self.restore()

    def day(self, i: int) -> int:
        return 2 + i % self.batches

    def op(self, i: int) -> None:
        d = self.day(i)
        daily_batch(self.spark, self.cat, gen.day_dir(self.inputs, d), gen.run_date(d))

    def check(self, i: int) -> None:
        d, con = self.day(i), self.con
        run_date = gen.run_date(d)
        closed = run_date - dt.timedelta(days=1)
        day_dir, prev_dir = gen.day_dir(self.inputs, d), gen.day_dir(self.inputs, d - 1)
        dim_views(con, self.cat)
        check_current_dims(con, day_dir)
        staged = versioned = 0
        for spec in DIMS:
            raw, sql = DIM_SQL[spec.name]
            dim, key, cols = f"dim_{spec.name}", spec.business_key, ", ".join(spec.columns)
            con.execute(f"CREATE OR REPLACE VIEW {raw} AS SELECT * FROM "
                        f"read_parquet('{prev_dir}/{raw}.parquet')")
            con.execute(f"CREATE OR REPLACE TEMP TABLE prev AS {sql}")
            source_views(con, day_dir, [raw])
            con.execute(f"CREATE OR REPLACE TEMP TABLE cur AS {sql}")
            changed = {r[0] for r in con.execute(
                f"SELECT {key} FROM (SELECT {cols} FROM cur EXCEPT SELECT {cols} "
                f"FROM prev) WHERE {key} IN (SELECT {key} FROM prev)"
            ).fetchall()}
            ended = [r[0] for r in con.execute(
                f"SELECT {key} FROM {dim} WHERE EndDate = DATE '{closed}'"
            ).fetchall()]
            expect(len(ended) == len(set(ended)) and set(ended) == changed,
                   f"{dim} day {d}: {len(ended)} versions closed on {closed}, "
                   f"{len(changed)} keys changed")
            staged += con.execute("SELECT COUNT(*) FROM cur").fetchone()[0]
            versioned += con.execute(
                f"SELECT COUNT(*) FROM {dim} WHERE StartDate = DATE '{run_date}'"
            ).fetchone()[0]
        self.versioned.append(versioned / staged)
        if d == 1 + self.batches:
            self.stored_ratio.append(tree_bytes(self.warehouse) / self.input_info["bytes"])
            self.files.append(snapshot_files(self.cat))

    def restore(self) -> None:
        self.cat.rollback_to(self.day1_head)
        self.cat.gc_uncommitted()
        size = tree_bytes(self.warehouse)
        expect(size == self.day1_bytes,
               f"warehouse holds {size} bytes after restore, day 1 had {self.day1_bytes}")

    def between(self, i: int) -> None:
        if self.day(i) == 1 + self.batches:
            self.restore()

    def cycle_done(self, i: int) -> bool:
        return self.day(i) == 1 + self.batches


def scan_metrics(spark, df) -> dict:
    """Rows and partitions read by the file scans of ``df``'s executed
    plan (SQL metrics of each FileSourceScanExec)."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    out = {"rows": 0, "partitions": 0}

    def walk(p) -> None:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(p.plan())
        if cls == "FileSourceScanExec":
            m = p.metrics()
            out["rows"] += m.apply("numOutputRows").value()
            if m.contains("numPartitions"):
                out["partitions"] += m.apply("numPartitions").value()
        for c in conv.asJava(p.children()):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return out


WORKLOADS = {w.name: w for w in (FullLoad, DimHistory)}

