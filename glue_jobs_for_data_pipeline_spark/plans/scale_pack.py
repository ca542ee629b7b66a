"""Scale-technique pack: queries that exist to PROVE, under the oracle,
engine mechanisms whose payoff only matters at cluster scale — the
salted replicated skew join (result-identical to the plain join, which
the oracle states), the ANSI-SQL front end (the reference's users write
SQL scripts — dynamic_upsert.py:110-152 is a SQL string pipeline — so
the engine exposes spark.sql over registered views and the SAME text
runs on both engines), the streaming top-k serving pattern (windowed
streaming aggregate + batch rank over the drained store), and Z-order
clustering (sources/zorder.py; the roundtrip is oracle-checked as a
permutation, the skipping payoff is measured from parquet footers in
tests/test_zorder.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.skew import replicated_skew_join
from ..sources.readers import load_table, read_parquet
from .catalog import _q

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so arbitrary ANSI SQL
    runs against the warehouse by name — the entry point a user of the
    reference's SQL scripts would reach for first. Temp views are
    lazy metadata (no scan happens here) and re-registration just
    repoints the name, so calling this per query is free.

    The events view goes through load_events, NOT the raw scan: the
    fixture's ts layout has changed across generations (NTZ vs long
    nanos — the r05 postmortem), and load_events is the single reader
    that normalizes both and guards against non-UTC sessions silently
    shifting NTZ instants. Raw-scanning it here would hand arbitrary
    user SQL exactly the corruption that guard exists to prevent."""
    from ..sources.readers import load_events as _load_events

    for name in TABLES:
        if name == "events":
            _load_events(spark, sf_dir).createOrReplaceTempView(name)
        else:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """The SQL front end: register the warehouse views, hand the text to
    Catalyst. Everything downstream (pushdown, join strategy, AQE) is
    identical to the DataFrame path — same optimizer, same physical
    planner."""
    register_views(spark, sf_dir)
    return spark.sql(sql)


# One engine-portable ANSI text, executed VERBATIM by both Spark and the
# DuckDB oracle — the oracle string and the executed query are the same
# object, so they cannot drift.
_X_SQL_FRONTEND_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS cnt
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@_q("x_sql_frontend", _X_SQL_FRONTEND_SQL)
def x_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-SQL front end: the oracle string itself goes through
    spark.sql over the registered views — zero translation layer. This
    is the parity surface for the reference's users, whose pipelines
    are SQL text (validate_data.py:36-87 runs literal SELECTs)."""
    return run_sql(spark, sf_dir, _X_SQL_FRONTEND_SQL)


_X_SKEW_JOIN_SQL = """
WITH dim AS (
    SELECT l_returnflag AS flag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS flag_qty
    FROM lineitem GROUP BY l_returnflag)
SELECT l_orderkey, l_linenumber, l_returnflag, flag_qty
FROM lineitem JOIN dim ON l_returnflag = flag
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1996-02-01'
"""


@_q("x_skew_salted_join", _X_SKEW_JOIN_SQL)
def x_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated salted join on a pathologically hot key (l_returnflag,
    3 values — every row is a hot key). The big side salts by an
    xxhash64 of its columns, the small side replicates n_salts times,
    and the join runs on (key, salt) — each hot key spreads over 16
    reducers instead of pinning one. The salt cancels, so the result
    is IDENTICAL to the plain join, which the oracle states. This is
    the fallback for skewed builds AQE can't split and broadcast
    can't swallow (operators/skew.py:replicated_skew_join)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = li.filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-02-01").cast("date"))
    ).select("l_orderkey", "l_linenumber", "l_returnflag")
    dim = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("flag_qty")
    )
    return replicated_skew_join(big, dim, "l_returnflag", n_salts=16).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "flag_qty"
    )


_X_STREAM_TOPK_SQL = """
WITH counts AS (
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2),
ranked AS (
    SELECT window_start, event_type, n_events,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, event_type) AS INTEGER) AS rnk
    FROM counts)
SELECT window_start, event_type, n_events, rnk
FROM ranked WHERE rnk <= 3
"""


@_q("x_stream_topk", _X_STREAM_TOPK_SQL)
def x_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k serving pattern: Structured Streaming maintains
    the hourly per-type counts (ranking is not a streaming-supported
    operator on an aggregate, BY DESIGN — it would re-sort unbounded
    state every trigger); the top-3 selection is a partitioned window
    over the drained complete-mode store, i.e. over one row per
    (window, type), not over events. Tie-broken on event_type so the
    cut is total-ordered and the batch oracle reproduces it exactly."""
    from ..streaming.events import run_stream_to_batch

    counts = run_stream_to_batch(
        spark, sf_dir, query_name="events_topk_counts"
    ).select("window_start", "event_type", "n_events")
    w = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n_events", "rnk")
    )


_X_ZORDER_SQL = """
SELECT l_returnflag,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM lineitem GROUP BY l_returnflag
"""


@_q("x_storage_zorder_roundtrip", _X_ZORDER_SQL)
def x_storage_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering roundtrip: lineitem rewritten Morton-clustered
    on (l_partkey, l_suppkey) (sources/zorder.py — the Spark-native
    analog of the Redshift sort keys the reference's tables lean on),
    then aggregated from the clustered copy. Clustering is a pure
    permutation, so the oracle states the aggregate over the ORIGINAL
    table; the actual skipping payoff is measured from parquet footer
    stats in tests/test_zorder.py (a 10% band on either clustered
    column touches a strict subset of files; the single-column-sorted
    layout touches ALL files on the second column)."""
    from ..sources.readers import load_table
    from ..sources.zorder import zorder_write
    from .catalog_ext import _scratch_dir

    out = _scratch_dir("zorder_rt_") + "/lineitem_z"
    li = load_table(spark, sf_dir, "lineitem")
    zorder_write(li, ["l_partkey", "l_suppkey"], out, n_files=8, bits=8)
    return (
        read_parquet(spark, out)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )
