"""Distributed exact-rank kernel (operators/rank.py): global
row_number / ntile computed with NO single-partition WindowExec must be
value-identical to the Window versions, and deterministic across
independent executions (pids are pure functions of the row values)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark import lifecycle
from glue_jobs_for_data_pipeline_spark.operators.rank import (
    _pick_boundaries,
    _py_sort,
    distributed_ntile,
    distributed_ntile_multi,
    distributed_row_number,
    ntile_from_rank,
)


def _demo(spark, n=977, dup_every=7):
    # deliberate ties on v (every dup_every-th value repeats) so the
    # total-order tiebreaker (k) is load-bearing
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % dup_every).alias("v")
    )


def test_row_number_matches_window(spark):
    df = _demo(spark)
    order = [("v", True), ("k", True)]
    got, total = distributed_row_number(df, order, out_col="i", num_partitions=8)
    assert total == 977
    w = Window.orderBy("v", "k")
    want = df.withColumn("i", F.row_number().over(w).cast("long"))
    assert got.select("k", "v", "i").exceptAll(want.select("k", "v", "i")).count() == 0
    assert want.select("k", "v", "i").exceptAll(got.select("k", "v", "i")).count() == 0
    # invariant guard: ranks are a dense 1..total permutation
    assert got.agg(F.max("i")).first()[0] == total
    assert got.select("i").distinct().count() == total


def test_row_number_descending_order(spark):
    df = _demo(spark, n=301)
    order = [("v", False), ("k", True)]
    got, total = distributed_row_number(df, order, out_col="i", num_partitions=5)
    assert total == 301
    w = Window.orderBy(F.col("v").desc(), F.col("k").asc())
    want = df.withColumn("i", F.row_number().over(w).cast("long"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.agg(F.max("i")).first()[0] == total


@pytest.mark.parametrize("n,buckets", [(977, 10), (100, 7), (5, 10), (9, 3)])
def test_ntile_matches_window(spark, n, buckets):
    # covers: uneven buckets, exact division, and N < buckets
    df = _demo(spark, n=n)
    order = [("v", True), ("k", True)]
    got = distributed_ntile(df, order, buckets, out_col="b", num_partitions=4)
    w = Window.orderBy("v", "k")
    want = df.withColumn("b", F.ntile(buckets).over(w).cast("long"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_ntile_from_rank_pure_arithmetic(spark):
    # stand-alone check of the integer NTILE formula over every rank
    n, b = 23, 4
    df = spark.range(1, n + 1).select((F.col("id")).cast("long").alias("i"))
    got = df.select("i", ntile_from_rank(F.col("i"), n, b).alias("t"))
    w = Window.orderBy("i")
    want = df.withColumn("t", F.ntile(b).over(w).cast("long"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_empty_input(spark):
    df = _demo(spark).where(F.lit(False))
    got, total = distributed_row_number(
        df, [("v", True), ("k", True)], out_col="i"
    )
    assert total == 0 and got.count() == 0 and "i" in got.columns
    nt = distributed_ntile(df, [("v", True)], 10, out_col="b")
    assert nt.count() == 0 and "b" in nt.columns


def test_kernels_collect_sample_and_counts_before_the_action(spark, count_jobs):
    """Building a ranked frame runs the boundary-sample collect and the
    per-pid count collect, and no other job: the caller's action is the
    only job left."""
    df = _demo(spark)
    with lifecycle.query_scope():
        assert count_jobs(
            lambda: distributed_row_number(
                df, [("v", True), ("k", True)], num_partitions=8
            )
        ) == 3
    with lifecycle.query_scope():
        assert count_jobs(
            lambda: distributed_ntile_multi(
                df.withColumn("w", F.col("k") % 5), ["v", "w"], "k", 3,
                ["nv", "nw"], num_partitions=8,
            )
        ) == 3


def test_ntile_multi_refuses_mismatched_outputs(spark):
    """Argument checks are ValueErrors, so they survive ``python -O``."""
    df = _demo(spark).select("k", F.col("v").alias("a"), F.col("v").alias("b"))
    with pytest.raises(ValueError, match="out_cols"):
        distributed_ntile_multi(df, ["a", "b"], "k", 3, ["na"])


def test_no_global_sort_in_plan(spark):
    """The executed plan must contain no single-partition funnel: any
    Window node present must be partitioned by the kernel's pid, never
    a global ORDER BY window; and there must be no rangepartitioning
    exchange (the r10 design) nor a SortMergeJoin on the big side."""
    df = _demo(spark)
    got, _ = distributed_row_number(
        df, [("v", True), ("k", True)], out_col="i", num_partitions=8
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    # per-pid window => hashpartitioning exchange, never rangepartitioning
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(__rk_pid" in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoop" not in plan


def test_rank_deterministic_across_runs_on_skewed_input(spark):
    """Partition ids are literal-folded searchsorted expressions over
    the row values, so two independent evaluations — and any internal
    recomputation — must agree bit-for-bit, including on skewed,
    duplicate-heavy keys."""
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        # heavy skew: 80% of rows share 3 values of v
        F.when(F.col("id") % 5 < 4, F.col("id") % 3)
        .otherwise(F.col("id"))
        .alias("v"),
    )
    order = [("v", True), ("k", True)]
    a, na = distributed_row_number(df, order, out_col="i", num_partitions=8)
    b, nb = distributed_row_number(df, order, out_col="i", num_partitions=8)
    assert na == nb == 2000
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # re-evaluating the SAME frame twice (the r10 failure mode: a later
    # action after cache loss) must also be stable
    assert a.exceptAll(a).count() == 0
    h1 = a.agg(F.sum(F.xxhash64("k", "v", "i").cast("decimal(38,0)"))).first()[0]
    h2 = a.agg(F.sum(F.xxhash64("k", "v", "i").cast("decimal(38,0)"))).first()[0]
    assert h1 == h2
    # and it is the true global rank
    w = Window.orderBy("v", "k")
    want = df.withColumn("i", F.row_number().over(w).cast("long"))
    assert a.exceptAll(want).count() == 0 and want.exceptAll(a).count() == 0


def test_boundary_helpers_pure_python():
    """Driver-side helpers: multi-key mixed-direction sort with NULL
    keys and strictly increasing evenly spaced boundary selection."""
    rows = [(1, "b"), (2, "a"), (1, "a"), (2, "b"), (1, "a")]
    got = _py_sort(rows, [("x", False), ("y", True)])
    assert got == [(2, "a"), (2, "b"), (1, "a"), (1, "a"), (1, "b")]
    # NULL first ascending, last descending (Spark's default order)
    rows = [(None, 2), (1, 1), (None, 1), (0, 3)]
    assert _py_sort(rows, [("v", True), ("k", True)]) == [
        (None, 1), (None, 2), (0, 3), (1, 1)
    ]
    assert _py_sort(rows, [("v", False), ("k", True)]) == [
        (1, 1), (0, 3), (None, 1), (None, 2)
    ]
    sample = [(i // 3,) for i in range(30)]  # 0..9 each thrice
    bounds = _pick_boundaries(sample, 5)
    assert bounds == sorted(set(bounds)) and len(bounds) <= 4
    assert _pick_boundaries([], 8) == []
    assert _pick_boundaries(sample, 1) == []
    # constant key: all candidates equal -> collapses to at most one
    assert len(_pick_boundaries([(7,)] * 40, 8)) <= 1


def test_rank_on_decimal_and_date_keys(spark):
    """Boundary literals must round-trip Decimal and date values (the
    production callers rank decimal revenue and date recency)."""
    df = spark.range(500).select(
        F.col("id").alias("k"),
        (F.col("id").cast("decimal(18,2)") * F.lit(1.37)).cast(
            "decimal(18,2)"
        ).alias("rev"),
        F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 97).cast("int")).alias("d"),
    )
    got, total = distributed_row_number(
        df, [("rev", False), ("d", True), ("k", True)], out_col="i", num_partitions=6
    )
    assert total == 500
    w = Window.orderBy(F.col("rev").desc(), F.col("d").asc(), F.col("k").asc())
    want = df.withColumn("i", F.row_number().over(w).cast("long"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


@pytest.mark.parametrize("asc", [True, False])
def test_row_number_on_null_keys_matches_window(spark, asc):
    """NULL order keys rank like ROW_NUMBER(): first ascending, last
    descending. A third of the rows are NULL and the kernel's sample
    (8 x 32 rows) takes every row, so the boundaries computed here are
    the kernel's, and some are NULL under either direction."""
    df = spark.range(240).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .otherwise(F.col("id") % 7)
        .alias("v"),
    )
    order = [("v", asc), ("k", True)]
    sample = _py_sort([tuple(r) for r in df.select("v", "k").collect()], order)
    assert any(b[0] is None for b in _pick_boundaries(sample, 8))
    got, total = distributed_row_number(df, order, out_col="i", num_partitions=8)
    assert total == 240
    v = F.col("v").asc() if asc else F.col("v").desc()
    want = df.withColumn(
        "i", F.row_number().over(Window.orderBy(v, F.col("k"))).cast("long")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_ntile_formula_matches_sql_semantics_exhaustively():
    """Exhaustive check of the integer NTILE formula over every
    (N, B, rank) in a dense grid, against first-principles SQL bucket
    sizes (first N mod B buckets take ceil(N/B) rows, the rest
    floor(N/B)). The formula's constants come from the PRODUCTION
    helper _ntile_params — the same values ntile_from_rank folds into
    its Column expression — so a regression in the q/r/head derivation
    fails here, not only in the (sampled) Spark-vs-Window tests."""
    from glue_jobs_for_data_pipeline_spark.operators.rank import (
        _ntile_params,
    )

    def formula(i, n, b):
        q, r, head = _ntile_params(n, b)
        if i <= head:
            return (i + q) // (q + 1)
        return r + (i - head + q - 1) // q

    def sql_ntile(i, n, b):
        q, r = divmod(n, b)
        total = 0
        for bucket in range(1, b + 1):
            size = q + 1 if bucket <= r else q
            total += size
            if i <= total:
                return bucket
        raise AssertionError("rank out of range")

    for n in range(1, 60):
        for b in range(1, 20):
            for i in range(1, n + 1):
                assert formula(i, n, b) == sql_ntile(i, n, b), (i, n, b)


@pytest.mark.parametrize("n,buckets", [(977, 5), (23, 4)])
def test_ntile_multi_matches_window(spark, n, buckets):
    from glue_jobs_for_data_pipeline_spark.operators.rank import (
        distributed_ntile_multi,
    )

    # three LONG dims with deliberate ties (moduli) so the tiebreaker
    # is load-bearing on every dim
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("a"),
        ((F.col("id") * 13) % 11).alias("b"),
        (F.lit(n) - F.col("id")).alias("c"),
    )
    got = distributed_ntile_multi(
        df, ["a", "b", "c"], "k", buckets, ["na", "nb", "nc"], num_partitions=8
    )
    want = df
    for dim, out in [("a", "na"), ("b", "nb"), ("c", "nc")]:
        want = want.withColumn(
            out, F.ntile(buckets).over(Window.orderBy(dim, "k")).cast("long")
        )
    cols = ["k", "a", "b", "c", "na", "nb", "nc"]
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0


def test_ntile_multi_empty_and_single_partition(spark):
    from glue_jobs_for_data_pipeline_spark.operators.rank import (
        distributed_ntile_multi,
    )

    empty = spark.range(0).select(F.col("id").alias("k"), F.col("id").alias("a"))
    out = distributed_ntile_multi(empty, ["a"], "k", 5, ["na"], num_partitions=8)
    assert out.count() == 0 and "na" in out.columns
    one = spark.range(3).select(F.col("id").alias("k"), F.col("id").alias("a"))
    out1 = distributed_ntile_multi(one, ["a"], "k", 2, ["na"], num_partitions=1)
    assert sorted(r["na"] for r in out1.collect()) == [1, 1, 2]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=120,
    ),
    buckets=st.integers(min_value=1, max_value=9),
    parts=st.integers(min_value=1, max_value=6),
)
def test_ntile_multi_property_matches_window(spark, vals, buckets, parts):
    """For ANY long-valued dims (heavy ties included), any bucket count
    and any partition count, the multi-dim kernel must equal NTILE over
    each (dim, key) ordering."""
    from glue_jobs_for_data_pipeline_spark.operators.rank import (
        distributed_ntile_multi,
    )

    rows = [(i, a, b) for i, (a, b) in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    got = distributed_ntile_multi(
        df, ["a", "b"], "k", buckets, ["na", "nb"], num_partitions=parts
    )
    want = df
    for dim, out in [("a", "na"), ("b", "nb")]:
        want = want.withColumn(
            out, F.ntile(buckets).over(Window.orderBy(dim, "k")).cast("long")
        )
    cols = ["k", "a", "b", "na", "nb"]
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0
