"""Fixture-schema contract: the driver regenerates its testdata parquet
between rounds, and a silent dtype change can produce silently-WRONG
results rather than loud errors (r05: events.ts flipped TIMESTAMP(NANOS)
-> timestamp[us] and the streaming reader misread µs as ns, collapsing
two years into minutes). This pins the schema of every table AS SPARK
RESOLVES IT, so any regeneration drift fails here first with a message
naming the table — then decide per-column whether to normalize in a
reader (the events pattern: sources/readers.py normalize_event_ts) or
to update queries.

Timestamp-typed columns are asserted as "some timestamp flavor" rather
than an exact NTZ/LTZ/long pin — that axis is exactly what the readers
normalize — while every other column is pinned exactly.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from glue_jobs_for_data_pipeline_spark.sources import readers

# column -> simpleString type; "TS" = any timestamp flavor (see above)
_CONTRACT = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "TS",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "TS",
    },
    "events": {
        "event_id": "bigint",
        "ts": "TS",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}

_TS_TYPES = (T.TimestampType, T.TimestampNTZType, T.LongType)


@pytest.mark.parametrize("table", sorted(_CONTRACT))
def test_fixture_schema_contract(spark, sf_dir, table):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    got = {f.name: f for f in df.schema.fields}
    want = _CONTRACT[table]
    assert sorted(got) == sorted(want), (
        f"{table}: column set drifted — fixture regenerated? "
        f"got {sorted(got)}, expected {sorted(want)}"
    )
    for col, typ in want.items():
        actual = got[col].dataType
        if typ == "TS":
            assert isinstance(actual, _TS_TYPES), (
                f"{table}.{col}: expected a timestamp flavor, got "
                f"{actual.simpleString()} — extend the reader "
                f"normalization (see sources/readers.py normalize_event_ts)"
            )
        else:
            assert actual.simpleString() == typ, (
                f"{table}.{col}: dtype drifted to {actual.simpleString()} "
                f"(expected {typ}) — fixture regenerated; audit queries "
                f"reading this column"
            )


# -- read path: schemas from footers, no Spark job ----------------------

_SFS = ("sf0.001", "sf0.01", "sf0.1")


@pytest.fixture()
def nanos_as_long(spark):
    """Restore the session's nanosAsLong setting after a test flips it."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, "false")
    yield lambda v: spark.conf.set(key, v)
    spark.conf.set(key, prev)


@pytest.mark.parametrize(
    "sf,table,nanos",
    [(sf, t, "true") for sf in _SFS for t in sorted(_CONTRACT)]
    + [(sf, "events", "false") for sf in _SFS],
)
def test_footer_schema_equals_inferred(spark, nanos_as_long, sf, table, nanos):
    """The footer-derived schema is exactly what inference resolves,
    for every fixture table at every scale, and for events under both
    nanosAsLong settings (the setting changes how TIMESTAMP(NANOS)
    resolves, so the footer path must read it from the session)."""
    nanos_as_long(nanos)
    path = f"/root/testdata/{sf}/{table}.parquet"
    assert readers.parquet_schema(spark, path) == spark.read.parquet(path).schema
    assert readers.read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_footer_schema_of_partitioned_dir(spark, tmp_path):
    """A partitioned directory: the footer gives the data columns and
    Spark still appends the discovered partition column, as inference
    does; hidden files and directories are skipped."""
    d = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 3, f"s{i}") for i in range(9)], "k long, p int, s string"
    ).write.partitionBy("p").parquet(d)
    (tmp_path / "t" / "_SCHEMA.json").write_text("{}")
    got = readers.read_parquet(spark, d)
    assert got.schema == spark.read.parquet(d).schema
    assert sorted(r["k"] for r in got.collect()) == list(range(9))


def test_footer_schema_falls_back_to_inference(spark, tmp_path):
    """Where one footer is not the answer the reader lets Spark infer:
    globs, and no data file (Spark then raises its usual error)."""
    d = str(tmp_path / "t")
    spark.range(3).write.parquet(d)
    assert readers.parquet_schema(spark, f"{d}/*.parquet") is None
    assert readers.read_parquet(spark, f"{d}/*.parquet").count() == 3
    empty = tmp_path / "empty"
    empty.mkdir()
    assert readers.parquet_schema(spark, str(empty)) is None
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        readers.read_parquet(spark, str(empty))


def test_source_reads_submit_no_job(spark, sf_dir, count_jobs):
    assert count_jobs(lambda: readers.load_table(spark, sf_dir, "orders")) == 0
    assert count_jobs(lambda: readers.load_events(spark, sf_dir)) == 0


def test_catalog_read_of_many_partitions_submits_no_job(
    spark, tmp_path, count_jobs
):
    """Reading back a version with more partition directories than
    Spark's parallel-discovery threshold (32) lists them on the driver:
    no listing job, and no schema-inference job either."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(
            spark.range(120).selectExpr("id AS k", "CAST(id % 40 AS INT) AS p"),
            "t",
            partition_by=("p",),
        )
    assert count_jobs(lambda: cat.read(spark, "t").schema) == 0
    df = cat.read(spark, "t")
    assert df.schema.simpleString() == "struct<k:bigint,p:int>"
    assert df.filter("p = 7").count() == 3
