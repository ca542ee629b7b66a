"""V1-V4 unit tests on hand-built rows (FIXTURES.md §A3 edge cases)."""

from __future__ import annotations

import pytest

from glue_jobs_for_data_pipeline_spark.operators.validation import (
    ValidationError,
    null_counts,
    pk_duplicates,
    validate_or_raise,
    validation_report,
)


@pytest.fixture(scope="module")
def dirty(spark):
    rows = [
        (1, "a", None),
        (2, None, 10.0),
        (2, "c", 20.0),  # duplicate PK 2
        (3, "d", None),
    ]
    return spark.createDataFrame(rows, "id int, name string, score double")


def test_null_counts_single_pass(dirty):
    row = null_counts(dirty).collect()[0]
    assert row["id"] == 0
    assert row["name"] == 1
    assert row["score"] == 2


def test_pk_duplicates(dirty):
    dups = pk_duplicates(dirty, "id").collect()
    assert [(r["id"], r["dup_count"]) for r in dups] == [(2, 2)]


def test_pk_duplicates_composite(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 2)], "a int, b int"
    )
    dups = pk_duplicates(df, ["a", "b"]).collect()
    assert [(r["a"], r["b"], r["dup_count"]) for r in dups] == [(1, 2, 2)]


def test_validation_report_shape(dirty):
    rows = validation_report(dirty, "t", "id").collect()
    checks = {r["check_name"]: r["violation_count"] for r in rows}
    assert checks == {
        "not_null_id": 0,
        "not_null_name": 1,
        "not_null_score": 2,
        "pk_unique_id": 1,
    }
    assert all(r["table_name"] == "t" for r in rows)


def test_validate_or_raise(dirty, spark):
    with pytest.raises(ValidationError, match="not_null_name=1"):
        validate_or_raise(dirty, "t", "id")
    clean = spark.createDataFrame([(1, "x"), (2, "y")], "id int, name string")
    validate_or_raise(clean, "t", "id")  # no raise


def test_range_checksums_localize_a_single_row_change(spark):
    """The anti-entropy property: mutating ONE row changes exactly one
    bucket's (count, xor, mod-sum) triple; all other buckets stay
    byte-identical, so repair can target the damaged range only."""
    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        range_checksums,
    )

    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(i, i * 7, f"s{i % 5}") for i in range(200)], "k long, v long, s string"
    )
    mutated = base.withColumn(
        "v", F.when(F.col("k") == 57, F.lit(999999)).otherwise(F.col("v"))
    )
    a = {
        r["bucket"]: (r["n_rows"], r["cksum_xor"], r["cksum_sum_mod"])
        for r in range_checksums(base, "k", ["k", "v", "s"], 50).collect()
    }
    b = {
        r["bucket"]: (r["n_rows"], r["cksum_xor"], r["cksum_sum_mod"])
        for r in range_checksums(mutated, "k", ["k", "v", "s"], 50).collect()
    }
    assert set(a) == set(b) == {0, 1, 2, 3}
    diff = [bk for bk in a if a[bk] != b[bk]]
    assert diff == [1]  # k=57 -> bucket 57//50 = 1, and only that one
    # counts never change for an update-in-place
    assert all(a[bk][0] == b[bk][0] for bk in a)


def test_range_checksums_detect_even_duplicate_changes_via_mod_sum(spark):
    """xor's blind spot: TWO identical new rows xor to a no-op against
    each other; the Mersenne-mod sum (and the count) must still move."""
    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        range_checksums,
    )

    base = spark.createDataFrame([(i, "x") for i in range(10)], "k long, s string")
    twice = base.unionAll(
        spark.createDataFrame([(3, "x"), (3, "x")], "k long, s string")
    )
    a = range_checksums(base, "k", ["k", "s"], 100).collect()[0]
    b = range_checksums(twice, "k", ["k", "s"], 100).collect()[0]
    assert a["cksum_xor"] == b["cksum_xor"]  # the blind spot, by design
    assert a["n_rows"] != b["n_rows"] and a["cksum_sum_mod"] != b["cksum_sum_mod"]


def test_constraint_quarantine_null_follows_check_semantics(spark):
    """SQL CHECK: NULL (unknown) passes — only definite FALSE
    quarantines; reasons keep the constraint dict's order."""
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        constraint_quarantine,
    )

    df = spark.createDataFrame(
        [(1, 10, "a"), (2, None, "b"), (3, -5, None), (4, -1, "zz")],
        "k long, v long, s string",
    )
    valid, quarantined = constraint_quarantine(
        df,
        {
            "v_positive": F.col("v") > 0,
            "s_short": F.length("s") <= 1,
        },
    )
    q = {r["k"]: r["violations"] for r in quarantined.collect()}
    # row 2: v NULL -> unknown -> passes; row 3: s NULL passes s_short
    assert set(r["k"] for r in valid.collect()) == {1, 2}
    assert q == {3: ["v_positive"], 4: ["v_positive", "s_short"]}
    assert "violations" not in valid.columns


def test_constraint_quarantine_refuses_existing_violations_column(spark):
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        constraint_quarantine,
    )

    df = spark.createDataFrame([(1, ["old"])], "k long, violations array<string>")
    with pytest.raises(ValueError, match="violations"):
        constraint_quarantine(df, {"pos": F.col("k") > 0})


def test_dq_scorecard_detects_planted_defects(spark, tmp_path):
    """A planted FK orphan, a duplicate PK, and a NULL quantity each
    move exactly their own scorecard row."""
    import pandas as pd

    pd.DataFrame(
        {"c_custkey": [1, 1], "c_name": ["a", "b"], "c_nationkey": [0, 0],
         "c_acctbal": [1.0, 2.0], "c_mktsegment": ["X", "X"]}
    ).to_parquet(str(tmp_path / "customer.parquet"))
    pd.DataFrame(
        {"o_orderkey": [10, 11], "o_custkey": [1, 99],
         "o_orderdate": ["1995-01-01", "1995-01-02"]}
    ).to_parquet(str(tmp_path / "orders.parquet"))
    pd.DataFrame(
        {"l_orderkey": [10, 12], "l_partkey": [5, 6],
         "l_quantity": [None, 3.0]}
    ).to_parquet(str(tmp_path / "lineitem.parquet"))
    from glue_jobs_for_data_pipeline_spark.plans.metrics_pack import (
        x_validate_dq_scorecard,
    )

    got = {
        (r["table_name"], r["check_name"]): r["metric"]
        for r in x_validate_dq_scorecard(spark, str(tmp_path)).collect()
    }
    assert got[("orders", "fk_orphans_custkey")] == 1  # o_custkey 99
    assert got[("lineitem", "fk_orphans_orderkey")] == 1  # l_orderkey 12
    assert got[("lineitem", "null_quantity")] == 1
    assert got[("customer", "pk_dup_keys")] == 1
    assert got[("orders", "pk_dup_keys")] == 0
    assert got[("orders", "rows")] == 2


def test_observed_write_metrics_match_recompute(spark, sf_dir, tmp_path):
    """observed_write (r14): in-flight metrics equal a separate
    recompute, and the write itself is complete and readable."""
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        observed_write,
    )
    from glue_jobs_for_data_pipeline_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_comment_nullable",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ),
    )
    out = str(tmp_path / "orders_observed")
    got = observed_write(
        orders, out, pk="o_orderkey",
        null_check_cols=["o_comment_nullable", "o_custkey"],
    )
    n = orders.count()
    nulls = orders.filter(F.col("o_comment_nullable").isNull()).count()
    assert got["row_count"] == n
    assert got["null_o_comment_nullable"] == nulls > 0
    assert got["null_o_custkey"] == 0
    # HLL smoke signal: within rsd tolerance of the exact distinct
    assert abs(got["pk_distinct_approx"] - n) <= 0.1 * n
    assert spark.read.parquet(out).count() == n


def test_varchar_enforce_report_and_truncation(spark):
    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        varchar_enforce,
    )

    df = spark.createDataFrame(
        [
            (1, "short", "ok"),
            (2, "exactly10!", "fine"),
            (3, "eleven chars", "x" * 20),
            (4, None, "y"),
        ],
        "id int, a string, b string",
    )
    conformed, report = varchar_enforce(df, {"a": 10, "b": 5})
    rep = {r["col_name"]: r for r in report.collect()}
    assert rep["a"]["declared_len"] == 10
    assert rep["a"]["n_overlength"] == 1  # only "eleven chars" (12)
    assert rep["a"]["max_observed"] == 12
    assert rep["a"]["chars_truncated"] == 2
    assert rep["b"]["n_overlength"] == 1  # the 20-char row
    assert rep["b"]["chars_truncated"] == 15
    got = {r["id"]: (r["a"], r["b"]) for r in conformed.collect()}
    assert got[3] == ("eleven cha", "x" * 5)  # clipped to limits
    assert got[1] == ("short", "ok")  # under-limit rows untouched
    assert got[4][0] is None  # NULL passes through (no length)


def test_varchar_enforce_parity_registry_shapes(spark):
    """schemas.VARCHAR_LIMITS (dynamic_upsert.py:17-25) applies cleanly
    to reference-shaped frames: every declared column exists and the
    conformed output never exceeds the declared widths."""
    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        varchar_enforce,
    )
    from glue_jobs_for_data_pipeline_spark.schemas import VARCHAR_LIMITS

    cust = spark.createDataFrame(
        [(1, "F" * 60, "L", "e@x", "addr", "city", "ST", "9" * 12)],
        "CustomerID int, FirstName string, LastName string, Email string,"
        " Address string, City string, State string, ZipCode string",
    )
    conformed, report = varchar_enforce(cust, VARCHAR_LIMITS["customers"])
    row = conformed.collect()[0]
    for col, lim in VARCHAR_LIMITS["customers"].items():
        assert len(row[col]) <= lim
    rep = {r["col_name"]: r["n_overlength"] for r in report.collect()}
    assert rep["FirstName"] == 1 and rep["ZipCode"] == 1 and rep["City"] == 0


def test_varchar_enforce_rejects_bad_registry(spark):
    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        varchar_enforce,
    )

    df = spark.createDataFrame([(1, "a")], "id int, a string")
    with pytest.raises(ValueError):
        varchar_enforce(df, {})
    with pytest.raises(ValueError):
        varchar_enforce(df, {"nope": 5})


def test_varchar_enforce_empty_input_reports_zero_counts(spark):
    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        varchar_enforce,
    )

    df = spark.createDataFrame([], "id int, a string")
    _conformed, report = varchar_enforce(df, {"a": 5})
    row = report.collect()[0]
    assert row["n_overlength"] == 0 and row["chars_truncated"] == 0
    assert row["max_observed"] is None  # nothing observed is not zero


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.one_of(st.none(), st.text(min_size=0, max_size=20)),
        min_size=0,
        max_size=12,
    ),
    limit=st.integers(min_value=1, max_value=12),
)
def test_varchar_enforce_properties(spark, rows, limit):
    """For ANY string column and limit: conformed lengths never exceed
    the limit, under-limit values pass through byte-identical, NULLs
    survive, and the report's counters equal a pure-Python recount."""
    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        varchar_enforce,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)], "id int, a string"
    )
    conformed, report = varchar_enforce(df, {"a": limit})
    got = {r["id"]: r["a"] for r in conformed.collect()}
    for i, v in enumerate(rows):
        if v is None:
            assert got[i] is None
        elif len(v) <= limit:
            assert got[i] == v
        else:
            assert got[i] == v[:limit]
    rep = report.collect()[0]
    vals = [v for v in rows if v is not None]
    assert rep["n_overlength"] == sum(1 for v in vals if len(v) > limit)
    assert rep["chars_truncated"] == sum(
        max(len(v) - limit, 0) for v in vals
    )
    assert rep["max_observed"] == (max(map(len, vals)) if vals else None)


def test_varchar_enforce_hostile_column_names(spark):
    """ADVICE r15: names containing quotes/backticks must flow through
    the programmatic struct build — no SQL-parsed string anywhere."""
    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        varchar_enforce,
    )

    hostile = "we`ird 'name"
    df = spark.createDataFrame(
        [("abcdef",), ("xy",)], f"`{hostile.replace('`', '``')}` string"
    )
    assert df.columns == [hostile]
    conformed, report = varchar_enforce(df, {hostile: 3})
    r = report.collect()[0]
    assert r["col_name"] == hostile
    assert r["declared_len"] == 3
    assert r["n_overlength"] == 1
    assert r["max_observed"] == 6
    assert r["chars_truncated"] == 3
    vals = sorted(row[0] for row in conformed.collect())
    assert vals == ["abc", "xy"]


# --- column quoting ---------------------------------------------------------

# a dot is a struct-field separator and a quote ends a SQL string when a
# name is parsed; both are legal column names in a parquet source
HOSTILE = ["a.b", "it's", "x`y"]


@pytest.fixture(scope="module")
def hostile(spark):
    cols = ", ".join(f"`{c.replace('`', '``')}` int" for c in HOSTILE)
    df = spark.createDataFrame([(1, None, 5), (1, 2, None), (2, None, 7)], cols)
    assert df.columns == HOSTILE
    return df


def test_null_counts_quote_column_names(hostile):
    row = null_counts(hostile).collect()[0]
    assert [row[c] for c in HOSTILE] == [0, 2, 1]


def test_pk_duplicates_quote_key_names(hostile):
    dups = pk_duplicates(hostile, "a.b").collect()
    assert [(r["a.b"], r["dup_count"]) for r in dups] == [(1, 2)]


def test_validation_report_quotes_column_names(hostile):
    rows = validation_report(hostile, "t", ["a.b", "it's"]).collect()
    assert [(r["check_name"], r["violation_count"]) for r in rows] == [
        ("not_null_a.b", 0),
        ("not_null_it's", 2),
        ("not_null_x`y", 1),
        ("pk_unique_a.b_it's", 0),
    ]


def test_validate_or_raise_quotes_column_names(hostile):
    with pytest.raises(ValidationError) as err:
        validate_or_raise(hostile, "t", "a.b")
    assert str(err.value) == (
        "validation failed for t: not_null_it's=2, not_null_x`y=1, "
        "pk_unique_a.b=1"
    )


# --- the gate and the report agree -----------------------------------------

from glue_jobs_for_data_pipeline_spark.schemas import TESTDATA_TABLES  # noqa: E402


def _report_counts(df, pk) -> list[tuple[str, int]]:
    return [
        (r["check_name"], r["violation_count"])
        for r in validation_report(df, "t", pk).collect()
    ]


def _reference_counts(df, pk) -> list[tuple[str, int]]:
    """The counts from the separate V1 and V2 operators: the one
    null_counts row, then the number of pk_duplicates rows."""
    nulls = null_counts(df).first()
    keys = [pk] if isinstance(pk, str) else pk
    return [(f"not_null_{c}", nulls[i]) for i, c in enumerate(df.columns)] + [
        ("pk_unique_" + "_".join(keys), pk_duplicates(df, pk).count())
    ]


def _gate_counts(df, pk) -> list[tuple[str, int]]:
    # imported here so the tests above still run against a tree
    # without it
    from glue_jobs_for_data_pipeline_spark.operators.validation import (
        validation_counts,
    )

    return validation_counts(df, pk)


def _fixture_table(spark, sf_dir, name):
    from glue_jobs_for_data_pipeline_spark.sources.readers import (
        load_events,
        load_table,
    )

    if name == "events":
        return load_events(spark, sf_dir)
    return load_table(spark, sf_dir, name)


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_gate_counts_match_report_on_fixture_tables(spark, sf_dir, name):
    df = _fixture_table(spark, sf_dir, name)
    pk = df.columns[0]
    gate = _gate_counts(df, pk)
    assert gate == _reference_counts(df, pk)
    assert _report_counts(df, pk) == gate


EDGE_FRAMES = {
    # (rows, schema, pk)
    "all_null_column": (
        [(1, None), (2, None), (3, None)], "id int, v string", "id",
    ),
    "empty": ([], "id int, v string", "id"),
    "composite_key_null_part": (
        [(1, None, "a"), (1, None, "b"), (1, 2, "c"), (None, 2, "d")],
        "k1 int, k2 int, v string",
        ["k1", "k2"],
    ),
    "duplicate_rows": (
        [(1, "a"), (1, "a"), (2, "b"), (2, "b"), (2, "b"), (3, "c")],
        "id int, v string",
        "id",
    ),
}


@pytest.mark.parametrize("case", sorted(EDGE_FRAMES))
def test_gate_counts_match_report_on_edge_frames(spark, case):
    import threading

    rows, schema, pk = EDGE_FRAMES[case]
    df = spark.createDataFrame(rows, schema)
    got: list = []

    def gate():
        try:
            got.append(_gate_counts(df, pk))
        except Exception as e:  # noqa: BLE001 - shown by the assert below
            got.append(e)

    # Observation.get blocks until the observed action reports its
    # metrics; a plan that drops an observer must not leave it waiting
    t = threading.Thread(target=gate, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "validation_counts did not return"
    assert got[0] == _reference_counts(df, pk)
    assert _report_counts(df, pk) == got[0]
    if case == "empty":
        assert got[0] == [("not_null_id", 0), ("not_null_v", 0),
                          ("pk_unique_id", 0)]


def test_empty_parquet_source_reports_zeros(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.readers import read_parquet

    path = str(tmp_path / "empty")
    spark.createDataFrame([], "id int, v string").write.parquet(path)
    df = read_parquet(spark, path)
    assert _gate_counts(df, "id") == [
        ("not_null_id", 0), ("not_null_v", 0), ("pk_unique_id", 0),
    ]
    validate_or_raise(df, "t", "id")


# --- job shape --------------------------------------------------------------


@pytest.mark.parametrize(
    "table,pk,raises",
    [("supplier", "s_suppkey", False), ("lineitem", "l_orderkey", True)],
)
def test_validate_or_raise_job_shape(spark, sf_dir, count_jobs, table, pk, raises):
    """One scan and one shuffle: the map stage that observes the null
    counts and the result stage that observes the duplicate keys, two
    jobs whether the gate passes or raises."""
    from glue_jobs_for_data_pipeline_spark.sources.readers import load_table

    df = load_table(spark, sf_dir, table)
    outcome: list = []

    def gate():
        try:
            validate_or_raise(df, table, pk)
        except ValidationError as e:
            outcome.append(str(e))

    assert count_jobs(gate) <= 2
    assert bool(outcome) == raises


def test_validation_report_job_shape(spark, sf_dir, count_jobs):
    """The report spends the gate's two jobs when it is built; it is a
    local relation, so collecting it runs none."""
    from glue_jobs_for_data_pipeline_spark.sources.readers import load_table

    df = load_table(spark, sf_dir, "supplier")
    built: list = []
    assert count_jobs(
        lambda: built.append(validation_report(df, "supplier", "s_suppkey"))
    ) <= 2
    report = built[0]
    assert count_jobs(report.collect) == 0
    assert report.dtypes == [
        ("table_name", "string"),
        ("check_name", "string"),
        ("violation_count", "bigint"),
    ]
