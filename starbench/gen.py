"""Seeded input generation for the star-ETL benchmark (DuckDB only).

Every value is a pure function of (seed, row key) through DuckDB's
``hash``, so the same seed writes byte-identical inputs whatever the
thread count. The tables have the TPC-H-ish shape and column types the
package's fixture mapping (``plans/tpch_fixtures.py``) reads:
customers <- customer, products <- part, stores <- supplier,
orders <- orders, orderdetails <- lineitem.

Layout under ``root``::

    day1/{region,nation,customer,supplier,part,orders,lineitem}.parquet
    day<k>/{customer,supplier,part}.parquet      k = 2 .. 1 + batches

A day-k directory is the full nightly snapshot of the three dimension
sources: the day-(k-1) snapshot with about 5% of its keys changed and
1% new keys appended.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb

# Input size: the number of distinct order dates sets the number of
# fact partitions, which dominates write and partition-discovery cost.
N_CUSTOMERS = 3000
N_PARTS = 2000
N_SUPPLIERS = 200
N_ORDERS = 15000
MAX_LINES = 7
ORDER_START = dt.date(1995, 1, 1)
ORDER_DAYS = 91

CHANGED_PCT = 5
NEW_PCT = 1

# source table -> (key column, columns redrawn on a changed key)
DIM_SOURCES = {
    "customer": ("c_custkey", ("c_acctbal", "c_mktsegment")),
    "part": ("p_partkey", ("p_retailprice",)),
    "supplier": ("s_suppkey", ("s_acctbal",)),
}

_SEGMENTS = "['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
_COLORS = "['red','blue','green','small','large','steel','brass','ivory']"
_THINGS = "['widget','bolt','ring','gear','valve','frame','lamp','hinge']"
_TYPES = "['ECONOMY','STANDARD','SMALL','MEDIUM','LARGE','PROMO']"
_PRIO = "['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']"


def _u(seed: int, salt: str, *cols: str) -> str:
    """SQL for a deterministic uniform integer in [0, 2^63) of the row."""
    return f"CAST(hash({seed}, '{salt}', {', '.join(cols)}) >> 1 AS BIGINT)"


def _pick(arr: str, seed: int, salt: str, col: str) -> str:
    return f"{arr}[CAST(1 + {_u(seed, salt, col)} % len({arr}) AS BIGINT)]"


def _money(seed: int, salt: str, col: str, lo: float, span: int) -> str:
    """Two-decimal double in [lo, lo + span)."""
    return f"ROUND({lo} + ({_u(seed, salt, *col.split())} % {span * 100}) / 100.0, 2)"


def _customer_sql(seed: int, lo: int, hi: int, salt: str) -> str:
    return f"""
        SELECT CAST(i AS BIGINT) AS c_custkey,
               'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
               CAST({_u(seed, 'cn', 'i')} % 25 AS INTEGER) AS c_nationkey,
               {_money(seed, 'cb' + salt, 'i', -999.0, 10999)} AS c_acctbal,
               {_pick(_SEGMENTS, seed, 'cs' + salt, 'i')} AS c_mktsegment
        FROM range({lo}, {hi}) t(i)"""


def _part_sql(seed: int, lo: int, hi: int, salt: str) -> str:
    return f"""
        SELECT CAST(i AS BIGINT) AS p_partkey,
               {_pick(_COLORS, seed, 'pc', 'i')} || ' '
                 || {_pick(_THINGS, seed, 'pt', 'i')} AS p_name,
               'Brand#' || CAST(1 + {_u(seed, 'pb', 'i')} % 25 AS VARCHAR) AS p_brand,
               {_pick(_TYPES, seed, 'py', 'i')} AS p_type,
               CAST(1 + {_u(seed, 'ps', 'i')} % 50 AS INTEGER) AS p_size,
               {_money(seed, 'pr' + salt, 'i', 900.0, 1100)} AS p_retailprice
        FROM range({lo}, {hi}) t(i)"""


def _supplier_sql(seed: int, lo: int, hi: int, salt: str) -> str:
    return f"""
        SELECT CAST(i AS BIGINT) AS s_suppkey,
               'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
               CAST({_u(seed, 'sn', 'i')} % 25 AS INTEGER) AS s_nationkey,
               {_money(seed, 'sb' + salt, 'i', -999.0, 10999)} AS s_acctbal
        FROM range({lo}, {hi}) t(i)"""


_DIM_SQL = {"customer": _customer_sql, "part": _part_sql, "supplier": _supplier_sql}
_DIM_ROWS = {"customer": N_CUSTOMERS, "part": N_PARTS, "supplier": N_SUPPLIERS}


def _copy(con: duckdb.DuckDBPyConnection, sql: str, path: str) -> None:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def generate(root: str, seed: int, batches: int = 0) -> dict:
    """Write day-1 inputs and ``batches`` daily dimension snapshots.

    Returns ``{"rows": ..., "bytes": ...}`` over every parquet file
    written."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    day1 = os.path.join(root, "day1")
    os.makedirs(day1, exist_ok=True)
    _copy(con, "SELECT CAST(i AS INTEGER) AS r_regionkey, "
          "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name "
          "FROM range(5) t(i)", f"{day1}/region.parquet")
    _copy(con, "SELECT CAST(i AS INTEGER) AS n_nationkey, "
          "'NATION_' || CAST(i AS VARCHAR) AS n_name, "
          "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
          f"{day1}/nation.parquet")
    for table, make in _DIM_SQL.items():
        _copy(con, make(seed, 0, _DIM_ROWS[table], ""), f"{day1}/{table}.parquet")
    _copy(con, f"""
        SELECT CAST(i AS BIGINT) AS o_orderkey,
               CAST({_u(seed, 'oc', 'i')} % {N_CUSTOMERS} AS BIGINT) AS o_custkey,
               ['F','O','P'][1 + {_u(seed, 'os', 'i')} % 3] AS o_orderstatus,
               {_money(seed, 'ot', 'i', 1000.0, 400000)} AS o_totalprice,
               CAST(DATE '{ORDER_START}' + CAST({_u(seed, 'od', 'i')} % {ORDER_DAYS}
                    AS INTEGER) AS TIMESTAMP) AS o_orderdate,
               {_pick(_PRIO, seed, 'op', 'i')} AS o_orderpriority
        FROM range({N_ORDERS}) t(i)""", f"{day1}/orders.parquet")
    _copy(con, f"""
        WITH o AS (SELECT i AS k, 1 + {_u(seed, 'ol', 'i')} % {MAX_LINES} AS n
                   FROM range({N_ORDERS}) t(i)),
             l AS (SELECT k, CAST(unnest(range(1, n + 1)) AS INTEGER) AS ln
                   FROM o)
        SELECT CAST(k AS BIGINT) AS l_orderkey,
               CAST({_u(seed, 'lp', 'k', 'ln')} % {N_PARTS} AS BIGINT) AS l_partkey,
               CAST({_u(seed, 'ls', 'k', 'ln')} % {N_SUPPLIERS} AS BIGINT) AS l_suppkey,
               ln AS l_linenumber,
               CAST(1 + {_u(seed, 'lq', 'k', 'ln')} % 50 AS DOUBLE) AS l_quantity,
               {_money(seed, 'le', 'k ln', 900.0, 100000)} AS l_extendedprice,
               CAST({_u(seed, 'ld', 'k', 'ln')} % 11 AS DOUBLE) / 100 AS l_discount,
               CAST({_u(seed, 'lt', 'k', 'ln')} % 9 AS DOUBLE) / 100 AS l_tax,
               ['A','N','R'][1 + {_u(seed, 'lr', 'k', 'ln')} % 3] AS l_returnflag,
               ['F','O'][1 + {_u(seed, 'lx', 'k', 'ln')} % 2] AS l_linestatus,
               CAST(DATE '{ORDER_START}' + CAST({_u(seed, 'lh', 'k', 'ln')} % {ORDER_DAYS}
                    AS INTEGER) AS TIMESTAMP) AS l_shipdate
        FROM l""", f"{day1}/lineitem.parquet")

    prev = day1
    for day in range(2, 2 + batches):
        ddir = os.path.join(root, f"day{day}")
        os.makedirs(ddir, exist_ok=True)
        for table, (key, cols) in DIM_SOURCES.items():
            base = f"read_parquet('{prev}/{table}.parquet')"
            n_prev = con.execute(f"SELECT COUNT(*) FROM {base}").fetchone()[0]
            n_new = max(1, n_prev * NEW_PCT // 100)
            salt = f"d{day}"
            fresh = f"({_DIM_SQL[table](seed, 0, n_prev, salt)})"
            hit = f"{_u(seed, 'chg' + salt, 'b.' + key)} % 100 < {CHANGED_PCT}"
            sets = ", ".join(
                f"CASE WHEN {hit} THEN f.{c} ELSE b.{c} END AS {c}" for c in cols
            )
            _copy(con, f"""
                SELECT b.* REPLACE ({sets})
                FROM {base} b JOIN {fresh} f USING ({key})
                UNION ALL
                SELECT * FROM ({_DIM_SQL[table](seed, n_prev, n_prev + n_new, salt)})
                ORDER BY {key}""", f"{ddir}/{table}.parquet")
        prev = ddir

    rows = bytes_ = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                bytes_ += os.path.getsize(p)
                rows += con.execute(
                    f"SELECT num_rows FROM parquet_file_metadata('{p}')"
                ).fetchone()[0]
    con.close()
    return {"rows": rows, "bytes": bytes_}


def day_dir(root: str, day: int) -> str:
    return os.path.join(root, f"day{day}")


def run_date(day: int) -> dt.date:
    """Load date of day ``day`` (day 1 is the initial load)."""
    return ORDER_START + dt.timedelta(days=day - 1)
