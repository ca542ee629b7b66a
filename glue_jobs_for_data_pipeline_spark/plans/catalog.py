"""Query catalog: every SURVEY §2 operator as a (Spark query, DuckDB oracle) pair.

Keys follow SURVEY §2 IDs. Each Spark callable takes (spark, sf_dir) and
returns a DataFrame; ORACLE[key] is the equivalent ANSI SQL DuckDB runs
on the same parquet (views: region nation customer supplier part orders
lineitem events documents embeddings). Column names/aliases match
exactly (the driver sorts columns by name before value-hashing).

Cross-engine determinism rules used throughout (verified empirically):
- pass values through unchanged where possible (same parquet bytes);
- per-row double arithmetic only (IEEE-identical in both engines);
  never SUM raw doubles across rows (order-dependent) — cast to DECIMAL
  first so the aggregation is exact;
- no decimal downcast that can hit a .5 boundary (Spark HALF_UP vs
  DuckDB differ) — keep full precision products;
- fixed run dates instead of current_date (SURVEY F8/F10);
- surrogate keys made order-deterministic via row_number over the
  business key (SURVEY §7.4).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..lifecycle import cached, scratch_dir
from ..operators.dates_dim import generate_dim_dates
from ..operators.fact import build_staging_fact, populate_fact
from ..operators.scd2 import scd2_upsert
from ..operators.validation import null_counts, pk_duplicates, validation_report
from ..schemas import TESTDATA_TABLES
from ..sources.readers import (
    load_events,
    load_table,
    read_csv_table,
    read_parquet,
    write_overwrite,
)
from ..sources.txn import Catalog
from . import tpch_fixtures as fx

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    """Register ``fn`` (and its oracle SQL) under ``name``. A second
    registration of a name raises: a later pack would otherwise replace
    the first function and oracle silently."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"query key {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# =========================================================================
# §2.1 Scans, sources, sinks
# =========================================================================


@_q("s1_csv_bulk_load", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def s1_csv_bulk_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: COPY ... FORMAT CSV IGNOREHEADER 1 (validate_data.py:138-146).

    Round-trips `nation` through a header CSV and schema-first read so the
    oracle can check the loaded contents against the source of truth.
    """
    nation = load_table(spark, sf_dir, "nation")
    path = scratch_dir("spark_graft_s1_csv_") + "/nation"
    nation.write.mode("overwrite").option("header", True).csv(path)
    return read_csv_table(spark, path, nation.schema)


@_q("s2_truncate_and_load", "SELECT r_regionkey, r_name FROM region")
def s2_truncate_and_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: TRUNCATE + COPY full refresh (validate_data.py:139) — overwrite-mode
    write then scan-back."""
    region = load_table(spark, sf_dir, "region")
    path = scratch_dir("spark_graft_s2_pq_") + "/region"
    write_overwrite(region, path)
    return read_parquet(spark, path)


@_q("s3_table_scan", "SELECT * FROM region")
def s3_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: bare table scan (FROM <table>, e.g. populate_fact.py:111)."""
    return load_table(spark, sf_dir, "region")


@_q("s4_s7_staging_lifecycle", "SELECT r_regionkey, r_name FROM region")
def s4_s7_staging_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S7: CREATE staging / use / DROP (dynamic_upsert.py:112-114,146).

    Spark needs no physical staging table: a temp view (or just a named
    DataFrame) plays the role; dropping it is catalog-only cleanup.
    """
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    region.createOrReplaceTempView("staging_region")
    # DataFrame analysis is eager: the plan below is resolved now, so the
    # catalog-only DROP afterwards (S7) does not invalidate it.
    out = spark.table("staging_region")
    spark.catalog.dropTempView("staging_region")
    return out


@_q(
    "s5_ctas_cached",
    "SELECT CAST(d AS DATE) AS Date FROM generate_series(DATE '2023-01-01', "
    "DATE '2024-12-31', INTERVAL 1 DAY) AS t(d)",
)
def s5_ctas_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: CREATE TEMPORARY TABLE AS SELECT (datespopulation.py:19-23) —
    materialized generated dates via cache + temp view."""
    dates = cached(generate_dim_dates(spark).select("Date"))
    dates.createOrReplaceTempView("temp_dates")
    return spark.table("temp_dates")


@_q(
    "s6_insert_select_append",
    "SELECT * FROM nation UNION ALL SELECT * FROM nation",
)
def s6_insert_select_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: INSERT INTO ... SELECT append semantics (dynamic_upsert.py:120-122)
    — union of target and inserted rows."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.unionByName(nation)


@_q("s1b_json_roundtrip", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def s1b_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 variant: schema-first JSON-lines source (no inference pass)."""
    from ..sources.readers import read_json_table

    nation = load_table(spark, sf_dir, "nation")
    path = scratch_dir("spark_graft_s1b_json_") + "/nation"
    nation.write.mode("overwrite").json(path)
    return read_json_table(spark, path, nation.schema).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@_q("s1c_orc_roundtrip", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def s1c_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 variant: ORC source/sink (columnar alternative to parquet)."""
    from ..sources.readers import read_orc_table

    nation = load_table(spark, sf_dir, "nation")
    path = scratch_dir("spark_graft_s1c_orc_") + "/nation"
    nation.write.mode("overwrite").orc(path)
    return read_orc_table(spark, path)


@_q("s8_row_generator", "SELECT CAST(range AS BIGINT) AS id FROM range(731)")
def s8_row_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: N rows from nothing. Reference abuses a system-table scan + LIMIT
    (datespopulation.py:23); spark.range is parallel and input-free."""
    return spark.range(731)


# =========================================================================
# §2.2 Projection, filter, predicates
# =========================================================================


@_q("p1_projection", "SELECT c_custkey, c_name, c_mktsegment FROM customer")
def p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: explicit SELECT list — column pruning reaches the parquet scan."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@_q(
    "p2_computed_column",
    "SELECT l_orderkey, l_linenumber, l_extendedprice * l_quantity AS total_price "
    "FROM lineitem",
)
def p2_computed_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: arithmetic computed column (od.Price*od.Quantity, populate_fact.py:110).
    Per-row double multiply — IEEE-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * F.col("l_quantity")).alias("total_price"),
    )


@_q(
    "p3_literal_column",
    "SELECT o_orderkey, DATE '9999-12-31' AS end_date, 1 AS tag FROM orders",
)
def p3_literal_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: literal/constant columns (the '9999-12-31' sentinel,
    dynamic_upsert.py:138)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.lit("9999-12-31").cast("date").alias("end_date"),
        F.lit(1).alias("tag"),
    )


@_q(
    "p4_equality_filter",
    "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'",
)
def p4_equality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: equality filter (the current-row filter shape,
    dynamic_upsert.py:131)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderstatus")
    )


@_q(
    "p5_conjunction",
    "SELECT l_orderkey, l_linenumber FROM lineitem "
    "WHERE l_quantity > 30 AND l_discount < 0.05 AND l_returnflag = 'R'",
)
def p5_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: AND-ed predicates (populate_fact.py:124)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & (F.col("l_discount") < 0.05)
        & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber")


@_q("p6_null_predicate", "SELECT event_id FROM events WHERE props IS NULL")
def p6_null_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: IS NULL predicate (validate_data.py:70)."""
    return (
        load_events(spark, sf_dir)
        .filter(F.col("props").isNull())
        .select("event_id")
    )


@_q(
    "p7_in_subquery_semi",
    "SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN "
    "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')",
)
def p7_in_subquery_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: IN-subquery as a left-semi join (dynamic_upsert.py:130).

    The subquery side is small+distinct -> broadcast semi join, no
    shuffle of the probe side.
    """
    orders = load_table(spark, sf_dir, "orders")
    keys = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
        .distinct()
    )
    return orders.join(F.broadcast(keys), "o_custkey", "left_semi").select(
        "o_orderkey", "o_custkey"
    )


@_q("p8_f12_table_dispatch", "SELECT * FROM orders")
def p8_f12_table_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8+F12: table-name dispatch with identifier lower-casing
    (dynamic_upsert.py:92-95) — control flow in the driver, not the data path."""
    table_name = "ORDERS".lower()
    if table_name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {table_name}")
    return load_table(spark, sf_dir, table_name)


# =========================================================================
# §2.3 Joins
# =========================================================================


@_q(
    "j1_inner_equijoin",
    "SELECT o.o_orderkey, l.l_linenumber, CAST(o.o_orderdate AS DATE) AS order_date, "
    "l.l_quantity FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey",
)
def j1_inner_equijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: Orders JOIN OrderDetails ON OrderID (populate_fact.py:111-112)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "inner"
    ).select(
        "o_orderkey",
        "l_linenumber",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "l_quantity",
    )


@_q(
    "j3_left_semi_join",
    "SELECT p_partkey, p_name FROM part WHERE p_partkey IN "
    "(SELECT l_partkey FROM lineitem)",
)
def j3_left_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left semi-join (the expire-step IN, dynamic_upsert.py:130)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey")
    )
    return part.join(li, "p_partkey", "left_semi").select("p_partkey", "p_name")


# =========================================================================
# §2.4 Aggregations
# =========================================================================


@_q("a1_count_star", "SELECT COUNT(*) AS cnt FROM lineitem")
def a1_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: scalar COUNT(*) (validate_data.py:70-71)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@_q(
    "a2_groupby_count",
    "SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey",
)
def a2_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: GROUP BY + COUNT(*) (validate_data.py:80) — partial agg map-side,
    only per-key counts shuffle."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_q(
    "a3_having",
    "SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey "
    "HAVING COUNT(*) > 1",
)
def a3_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: HAVING = post-aggregation filter (validate_data.py:80)."""
    return a2_groupby_count(spark, sf_dir).filter(F.col("cnt") > 1)


@_q(
    "a4_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def a4_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: SELECT DISTINCT over projected columns (dynamic_upsert.py:121-122)."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


# =========================================================================
# §2.5 Window / §2.6 Sort-limit
# =========================================================================


@_q(
    "w1_row_number",
    "SELECT n_nationkey, n_name, CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS INTEGER) AS rn FROM nation",
)
def w1_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: ROW_NUMBER() OVER (ORDER BY ...) (datespopulation.py:21).

    Deterministic ordering key instead of the reference's ORDER BY 1.
    Single-partition window — only ever used on dim-sized inputs; the
    row-generator path (S8/M3) avoids it entirely.
    """
    w = Window.orderBy("n_nationkey")
    return load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", F.row_number().over(w).alias("rn")
    )


@_q(
    "l1_limit",
    "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 10",
)
def l1_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: LIMIT (datespopulation.py:23); ordered so the subset is
    deterministic for the oracle."""
    return (
        load_table(spark, sf_dir, "nation")
        .orderBy("n_nationkey")
        .limit(10)
        .select("n_nationkey", "n_name")
    )


# =========================================================================
# §2.8 Scalar functions F1-F11
# =========================================================================


def _orders_date(spark: SparkSession, sf_dir: str):
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", F.col("o_orderdate").cast("date").alias("d"))


@_q(
    "f1_extract_year",
    "SELECT o_orderkey, EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS y FROM orders",
)
def f1_extract_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _orders_date(spark, sf_dir)
    return df.select("o_orderkey", F.year("d").cast("long").alias("y"))


@_q(
    "f2_extract_quarter",
    "SELECT o_orderkey, EXTRACT(quarter FROM CAST(o_orderdate AS DATE)) AS q FROM orders",
)
def f2_extract_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _orders_date(spark, sf_dir)
    return df.select("o_orderkey", F.quarter("d").cast("long").alias("q"))


@_q(
    "f3_extract_month",
    "SELECT o_orderkey, EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS m FROM orders",
)
def f3_extract_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _orders_date(spark, sf_dir)
    return df.select("o_orderkey", F.month("d").cast("long").alias("m"))


@_q(
    "f4_extract_day",
    "SELECT o_orderkey, EXTRACT(day FROM CAST(o_orderdate AS DATE)) AS dd FROM orders",
)
def f4_extract_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _orders_date(spark, sf_dir)
    return df.select("o_orderkey", F.dayofmonth("d").cast("long").alias("dd"))


@_q(
    "f5_extract_dow",
    "SELECT o_orderkey, EXTRACT(dow FROM CAST(o_orderdate AS DATE)) AS dow FROM orders",
)
def f5_extract_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: Redshift/DuckDB DOW is 0=Sunday..6=Saturday; Spark dayofweek is
    1=Sunday..7 — the off-by-one is corrected here (datespopulation.py:34)."""
    df = _orders_date(spark, sf_dir)
    return df.select(
        "o_orderkey", (F.dayofweek("d") - F.lit(1)).cast("long").alias("dow")
    )


@_q(
    "f6_extract_week",
    "SELECT o_orderkey, EXTRACT(week FROM CAST(o_orderdate AS DATE)) AS wk FROM orders",
)
def f6_extract_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: ISO-8601 week in Redshift, Spark, and DuckDB alike."""
    df = _orders_date(spark, sf_dir)
    return df.select("o_orderkey", F.weekofyear("d").cast("long").alias("wk"))


@_q(
    "f7_date_plus_int",
    "SELECT o_orderkey, CAST(o_orderdate AS DATE) + 30 AS d30 FROM orders",
)
def f7_date_plus_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: date + int arithmetic ('2023-01-01'::DATE + n - 1,
    datespopulation.py:21)."""
    df = _orders_date(spark, sf_dir)
    return df.select("o_orderkey", F.date_add("d", 30).alias("d30"))


@_q("f8_yesterday", "SELECT DATE '1995-06-01' - 1 AS yesterday")
def f8_yesterday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: current_date - INTERVAL '1 day' (dynamic_upsert.py:129) with the
    run date injected for determinism."""
    return spark.range(1).select(
        F.date_sub(F.lit("1995-06-01").cast("date"), 1).alias("yesterday")
    )


@_q(
    "f9_cast_string_date",
    "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders",
)
def f9_cast_string_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: the '...'::DATE cast family."""
    return _orders_date(spark, sf_dir)


@_q(
    "f10_load_date_default",
    "SELECT o_orderkey, DATE '1995-06-01' AS LoadDate FROM orders",
)
def f10_load_date_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: LoadDate DATE DEFAULT current_date (dynamic_upsert.py:23-25),
    run date injected."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.lit("1995-06-01").cast("date").alias("LoadDate")
    )


@_q(
    "f11_decimal_multiply",
    "SELECT l_orderkey, l_linenumber, "
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS INTEGER) "
    "AS DOUBLE) AS total_price FROM lineitem",
)
def f11_decimal_multiply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: exact DECIMAL multiply (populate_fact.py:110). The product is
    computed in full-precision DECIMAL (no rounding anywhere), then the
    final value is cast to double ONCE at the output boundary on BOTH
    engines: Spark's decimal(23,2) vs DuckDB's decimal(22,2) product types
    hold identical rationals, and exact-decimal -> nearest-double is the
    same IEEE value in both, so the driver hash canonicalizes identically
    (round-1 hash_match failed purely on decimal type width)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_quantity").cast("int")
        )
        .cast("double")
        .alias("total_price"),
    )


# =========================================================================
# §2.10 Validation V1-V4
# =========================================================================


@_q(
    "v1_null_counts",
    "SELECT "
    + ", ".join(
        f"COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS {c}"
        for c in ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )
    + " FROM customer",
)
def v1_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1: per-column null counts — ONE conditional-aggregation scan vs the
    reference's N sequential scans (validate_data.py:68-76)."""
    return null_counts(load_table(spark, sf_dir, "customer"))


@_q(
    "v2_pk_duplicates",
    "SELECT l_orderkey, COUNT(*) AS dup_count FROM lineitem "
    "GROUP BY l_orderkey HAVING COUNT(*) > 1",
)
def v2_pk_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2: PK-uniqueness violations (validate_data.py:78-86) — lineitem at
    order grain has real duplicates, so the check fires."""
    return pk_duplicates(load_table(spark, sf_dir, "lineitem"), "l_orderkey")


@_q("v3_registry_membership", "SELECT * FROM customer")
def v3_registry_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3: schema-registry membership check (validate_data.py:57-60)."""
    table = "customer"
    if table not in TESTDATA_TABLES:
        raise ValueError(f"table {table} not registered")
    return load_table(spark, sf_dir, table)


_V4_NULL_CHECKS = " UNION ALL ".join(
    f"SELECT 'supplier' AS table_name, 'not_null_{c}' AS check_name, "
    f"COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS violation_count FROM supplier"
    for c in ("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
)


@_q(
    "v4_validation_report",
    _V4_NULL_CHECKS
    + " UNION ALL SELECT 'supplier', 'pk_unique_s_suppkey', COUNT(*) FROM "
    "(SELECT s_suppkey FROM supplier GROUP BY s_suppkey HAVING COUNT(*) > 1)",
)
def v4_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4: the load-then-validate gate as a relational report
    (validate_data.py:148-171)."""
    return validation_report(
        load_table(spark, sf_dir, "supplier"), "supplier", "s_suppkey"
    )


# =========================================================================
# §2.9 Mutation pipelines M1-M5 (+ §2.5 M3, J2)
# =========================================================================


@_q(
    "m3_dim_dates",
    "SELECT CAST(strftime(CAST(d AS DATE), '%Y%m%d') AS INTEGER) AS DateKey, "
    "CAST(d AS DATE) AS Date, "
    "CAST(EXTRACT(year FROM d) AS INTEGER) AS Year, "
    "CAST(EXTRACT(quarter FROM d) AS INTEGER) AS Quarter, "
    "CAST(EXTRACT(month FROM d) AS INTEGER) AS Month, "
    "CAST(EXTRACT(day FROM d) AS INTEGER) AS Day, "
    "CAST(EXTRACT(dow FROM d) AS INTEGER) AS Weekday, "
    "CAST(EXTRACT(week FROM d) AS INTEGER) AS Week "
    "FROM generate_series(DATE '2023-01-01', DATE '2024-12-31', INTERVAL 1 DAY) "
    "AS t(d)",
)
def m3_dim_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: the 731-day calendar dimension (datespopulation.py:16-43)."""
    return generate_dim_dates(spark)


def _scd2_fixture(spark: SparkSession, sf_dir: str):
    """Shared M1 fixture: initial dim = customers with key%3!=0 loaded
    1995-01-01; second batch = customers with key%2==0, Name edited."""
    src = fx.ref_customers(spark, sf_dir)
    cols = list(fx.CUSTOMER_COLS)
    init = src.filter(F.col("CustomerID") % 3 != 0)
    dim0 = scd2_upsert(
        None, init, "CustomerID", cols, "CustomerKey",
        run_date=fx.INITIAL_LOAD_DATE,
    )
    batch = src.filter(F.col("CustomerID") % 2 == 0).withColumn(
        "Name", F.concat(F.col("Name"), F.lit(" v2"))
    )
    return dim0, batch, cols


_M1_SQL = """
WITH src0 AS ({src}),
init_src AS (SELECT * FROM src0 WHERE CustomerID % 3 <> 0),
dim0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY CustomerID) AS CustomerKey,
         CustomerID, Name, NationKey, AcctBal, MktSegment,
         DATE '1995-01-01' AS StartDate, DATE '9999-12-31' AS EndDate
  FROM init_src),
batch AS (
  SELECT CustomerID, Name || ' v2' AS Name, NationKey, AcctBal, MktSegment
  FROM src0 WHERE CustomerID % 2 = 0),
expired AS (
  SELECT CustomerKey, CustomerID, Name, NationKey, AcctBal, MktSegment, StartDate,
         CASE WHEN EndDate = DATE '9999-12-31'
                   AND CustomerID IN (SELECT CustomerID FROM batch)
              THEN DATE '1995-06-01' - 1 ELSE EndDate END AS EndDate
  FROM dim0),
mx AS (SELECT COUNT(*) AS mk FROM dim0),
new_rows AS (
  SELECT mk + ROW_NUMBER() OVER (ORDER BY CustomerID) AS CustomerKey,
         CustomerID, Name, NationKey, AcctBal, MktSegment,
         DATE '1995-06-01' AS StartDate, DATE '9999-12-31' AS EndDate
  FROM batch, mx)
SELECT * FROM expired UNION ALL SELECT * FROM new_rows
""".format(src=fx.SQL_CUSTOMERS)


@_q("m1_scd2_upsert", _M1_SQL)
def m1_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: the naive SCD-2 upsert pipeline (dynamic_upsert.py:110-152):
    stage DISTINCT -> expire current rows whose key re-appears -> insert
    every staged row as the new current version."""
    dim0, batch, cols = _scd2_fixture(spark, sf_dir)
    return scd2_upsert(
        dim0, batch, "CustomerID", cols, "CustomerKey",
        run_date=fx.SECOND_BATCH_DATE, mode="reference",
    )


_M1_DELTA_SQL = """
WITH src0 AS ({src}),
init_src AS (SELECT * FROM src0 WHERE CustomerID % 3 <> 0),
dim0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY CustomerID) AS CustomerKey,
         CustomerID, Name, NationKey, AcctBal, MktSegment,
         DATE '1995-01-01' AS StartDate, DATE '9999-12-31' AS EndDate
  FROM init_src),
batch AS (
  SELECT CustomerID,
         CASE WHEN CustomerID % 4 = 0 THEN Name || ' v2' ELSE Name END AS Name,
         NationKey, AcctBal, MktSegment
  FROM src0 WHERE CustomerID % 2 = 0),
current0 AS (
  SELECT CustomerID, Name, NationKey, AcctBal, MktSegment
  FROM dim0 WHERE EndDate = DATE '9999-12-31'),
staged AS (SELECT * FROM batch EXCEPT SELECT * FROM current0),
expired AS (
  SELECT CustomerKey, CustomerID, Name, NationKey, AcctBal, MktSegment, StartDate,
         CASE WHEN EndDate = DATE '9999-12-31'
                   AND CustomerID IN (SELECT CustomerID FROM staged)
              THEN DATE '1995-06-01' - 1 ELSE EndDate END AS EndDate
  FROM dim0),
mx AS (SELECT COUNT(*) AS mk FROM dim0),
new_rows AS (
  SELECT mk + ROW_NUMBER() OVER (ORDER BY CustomerID) AS CustomerKey,
         CustomerID, Name, NationKey, AcctBal, MktSegment,
         DATE '1995-06-01' AS StartDate, DATE '9999-12-31' AS EndDate
  FROM staged, mx)
SELECT * FROM expired UNION ALL SELECT * FROM new_rows
""".format(src=fx.SQL_CUSTOMERS)


@_q("m1b_scd2_delta_upsert", _M1_DELTA_SQL)
def m1b_scd2_delta_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 extension (SURVEY §7.4): change-detecting SCD-2 — only rows whose
    compared columns actually changed are expired/re-versioned (left-anti
    join of staged vs current), cutting dim growth from O(runs x source)
    to O(changes). Batch edits Name only for CustomerID % 4 == 0, so
    unchanged re-ingested keys are skipped (unlike naive m1)."""
    src = fx.ref_customers(spark, sf_dir)
    cols = list(fx.CUSTOMER_COLS)
    init = src.filter(F.col("CustomerID") % 3 != 0)
    dim0 = scd2_upsert(
        None, init, "CustomerID", cols, "CustomerKey",
        run_date=fx.INITIAL_LOAD_DATE,
    )
    batch = src.filter(F.col("CustomerID") % 2 == 0).withColumn(
        "Name",
        F.when(
            F.col("CustomerID") % 4 == 0, F.concat(F.col("Name"), F.lit(" v2"))
        ).otherwise(F.col("Name")),
    )
    return scd2_upsert(
        dim0, batch, "CustomerID", cols, "CustomerKey",
        run_date=fx.SECOND_BATCH_DATE, mode="delta",
    )


_M4_SQL = """
WITH src0 AS ({src}),
init_src AS (SELECT * FROM src0 WHERE CustomerID % 3 <> 0),
dim0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY CustomerID) AS CustomerKey,
         CustomerID, Name, NationKey, AcctBal, MktSegment,
         DATE '1995-01-01' AS StartDate, DATE '9999-12-31' AS EndDate
  FROM init_src)
SELECT CustomerKey, CustomerID, Name, NationKey, AcctBal, MktSegment, StartDate,
       CASE WHEN EndDate = DATE '9999-12-31'
                 AND CustomerID IN (SELECT CustomerID FROM src0
                                    WHERE CustomerID % 2 = 0)
            THEN DATE '1995-06-01' - 1 ELSE EndDate END AS EndDate
FROM dim0
""".format(src=fx.SQL_CUSTOMERS)


@_q("m4_update_where", _M4_SQL)
def m4_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: UPDATE ... WHERE in isolation (the expire step,
    dynamic_upsert.py:128-131) as when/otherwise + full-column rewrite."""
    from ..operators.scd2 import expire_current_rows

    dim0, batch, cols = _scd2_fixture(spark, sf_dir)
    return expire_current_rows(
        dim0, batch, "CustomerID", run_date=fx.SECOND_BATCH_DATE
    )


_M2_SQL = """
WITH det AS ({det}),
ord AS ({ord}),
staging AS (
  SELECT o.OrderID, o.CustomerID, d.StoreID, d.ProductID, d.Quantity, d.UnitPrice,
         CAST(d.UnitPrice * d.Quantity AS DECIMAL(18,2)) AS TotalPrice, o.OrderDate
  FROM det d JOIN ord o USING (OrderID)),
dim_c AS (SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS CustomerKey,
                 c_custkey AS CustomerID FROM customer),
dim_s AS (SELECT ROW_NUMBER() OVER (ORDER BY s_suppkey) AS StoreKey,
                 s_suppkey AS StoreID FROM supplier),
dim_p AS (SELECT ROW_NUMBER() OVER (ORDER BY p_partkey) AS ProductKey,
                 p_partkey AS ProductID FROM part),
dim_d AS (SELECT CAST(strftime(CAST(d AS DATE), '%Y%m%d') AS INTEGER) AS DateKey,
                 CAST(d AS DATE) AS "Date"
          FROM generate_series(DATE '1995-01-01', DATE '2001-08-01',
                               INTERVAL 1 DAY) AS t(d))
SELECT s.OrderID, c.CustomerKey, st.StoreKey, p.ProductKey,
       s.Quantity, CAST(s.UnitPrice AS DOUBLE) AS UnitPrice,
       CAST(s.TotalPrice AS DOUBLE) AS TotalPrice, dd.DateKey AS OrderDateKey
FROM staging s
JOIN dim_c c USING (CustomerID)
JOIN dim_s st USING (StoreID)
JOIN dim_p p USING (ProductID)
JOIN dim_d dd ON s.OrderDate = dd."Date"
""".format(det=fx.SQL_ORDERDETAILS, ord=fx.SQL_ORDERS)


def _build_dims(spark: SparkSession, sf_dir: str):
    """Initial SCD-2 load of the three dims (all rows current)."""
    dim_c = scd2_upsert(
        None, fx.ref_customers(spark, sf_dir), "CustomerID",
        list(fx.CUSTOMER_COLS), "CustomerKey", run_date=fx.INITIAL_LOAD_DATE,
    )
    dim_s = scd2_upsert(
        None, fx.ref_stores(spark, sf_dir), "StoreID",
        list(fx.STORE_COLS), "StoreKey", run_date=fx.INITIAL_LOAD_DATE,
    )
    dim_p = scd2_upsert(
        None, fx.ref_products(spark, sf_dir), "ProductID",
        list(fx.PRODUCT_COLS), "ProductKey", run_date=fx.INITIAL_LOAD_DATE,
    )
    return dim_c, dim_s, dim_p


@_q("m2_j2_fact_population", _M2_SQL)
def m2_j2_fact_population(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2+J2: fact population (populate_fact.py:89-136) — staging join with
    derived measures, then the 4-dim broadcast star join resolving
    business keys to surrogate keys on current rows only.

    Measures are computed in exact DECIMAL inside the operator (fact.py)
    and cast to double ONCE at this output boundary, mirrored in _M2_SQL,
    so both engines present bit-identical doubles to the driver hash
    (round-1 failed hash_match on decimal canonicalization alone)."""
    dim_c, dim_s, dim_p = _build_dims(spark, sf_dir)
    dim_dates = generate_dim_dates(spark, fx.DATES_START, fx.DATES_DAYS)
    staging = build_staging_fact(
        fx.ref_orders(spark, sf_dir), fx.ref_orderdetails(spark, sf_dir)
    )
    fact = populate_fact(staging, dim_c, dim_s, dim_p, dim_dates)
    return fact.withColumn(
        "UnitPrice", F.col("UnitPrice").cast("double")
    ).withColumn("TotalPrice", F.col("TotalPrice").cast("double"))


@_q("m5_transactional_pipeline", _M2_SQL)
def m5_transactional_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: the transaction bracket (BEGIN/COMMIT, dynamic_upsert.py:108,151;
    ROLLBACK dynamic_upsert.py:159-161).

    Spark equivalent: every transform is lazy; the full new table version
    lands in the catalog's staging area and one manifest commit (a single
    ``_HEAD`` swap, sources/txn.py) publishes it — a crash anywhere before
    the swap leaves the previously committed state untouched, and readers
    resolve ``_HEAD`` so they never see partial data. Same rows as m2 by
    construction; the committed table is scanned back.
    """
    fact = m2_j2_fact_population(spark, sf_dir)
    cat = Catalog(scratch_dir("spark_graft_m5_fact_"))
    with cat.transaction() as t:
        t.overwrite(fact, "fact_orders")
    return cat.read(spark, "fact_orders")
