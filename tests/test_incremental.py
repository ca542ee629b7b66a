"""Incremental aggregate maintenance: merge == full recompute, batch
order irrelevance, bootstrap, and atomic versioning."""

from __future__ import annotations

from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark.operators import incremental
from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog
from glue_jobs_for_data_pipeline_spark.sources.readers import load_table


def _final(df):
    return sorted(
        (r["o_orderstatus"], r["n_rows"], str(r["sum_price"]))
        for r in df.collect()
    )


def test_incremental_equals_full_recompute_any_batch_order(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders")
    keys, sums = ["o_orderstatus"], {"o_totalprice": "sum_price"}
    batches = [o.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]

    full = incremental.partial_aggs(o, keys, sums)

    d1 = str(tmp_path / "r1")
    for b in batches:
        incremental.refresh_rollup(spark, d1, b, keys, sums)
    d2 = str(tmp_path / "r2")
    for b in reversed(batches):
        incremental.refresh_rollup(spark, d2, b, keys, sums)

    c1, c2 = Catalog(d1), Catalog(d2)
    assert (
        _final(c1.read(spark, "rollup"))
        == _final(c2.read(spark, "rollup"))
        == _final(full)
    )
    # one commit per refresh: every merge was an atomic commit
    assert [e["manifest"] for e in c1.log()] == [1, 2, 3]
    assert c1.manifest() == {"rollup": 3}


def test_merge_passes_through_one_sided_keys(spark):
    keys, measures = ["k"], ["s"]
    a = spark.createDataFrame(
        [("x", 2, 10.0), ("y", 1, 5.0)], "k string, n_rows long, s double"
    )
    b = spark.createDataFrame([("z", 4, 7.0)], "k string, n_rows long, s double")
    out = {
        r["k"]: (r["n_rows"], r["s"])
        for r in incremental.merge_aggs(a, b, keys, measures).collect()
    }
    assert out == {"x": (2, 10.0), "y": (1, 5.0), "z": (4, 7.0)}


def _feed(spark, rows):
    return spark.createDataFrame(
        rows, "k long, seq long, op string, val string"
    )


def test_cdc_apply_latest_wins_and_tombstones_drop(spark):
    rows = [
        (1, 1, "I", "a"), (1, 2, "U", "b"),            # update wins
        (2, 1, "I", "x"), (2, 2, "U", "y"), (2, 3, "D", ""),  # deleted
        (3, 1, "I", "z"),                               # untouched insert
    ]
    got = {
        r["k"]: (r["seq"], r["val"])
        for r in incremental.cdc_apply(
            _feed(spark, rows), ["k"], ["seq"]
        ).collect()
    }
    assert got == {1: (2, "b"), 3: (1, "z")}


def test_cdc_apply_delete_then_reinsert_resurrects(spark):
    # a key deleted at seq 2 and re-inserted at seq 3 is ALIVE —
    # tombstones only win when they are the latest record
    rows = [(7, 1, "I", "old"), (7, 2, "D", ""), (7, 3, "I", "new")]
    got = incremental.cdc_apply(_feed(spark, rows), ["k"], ["seq"]).collect()
    assert [(r["k"], r["val"]) for r in got] == [(7, "new")]


def test_cdc_apply_order_is_total_over_seq_cols(spark):
    # two seq columns: (commit, offset) — offset breaks commit ties
    rows = [(5, 1, "I", "a"), (5, 1, "U", "b")]
    df = spark.createDataFrame(rows, "k long, commit long, op string, val string")
    df = df.withColumn("offset", F.when(F.col("val") == "b", 2).otherwise(1))
    got = incremental.cdc_apply(df, ["k"], ["commit", "offset"]).collect()
    assert [r["val"] for r in got] == ["b"]


def test_cdc_apply_null_op_is_not_a_tombstone(spark):
    # a malformed feed row with op=NULL as a key's latest record must
    # KEEP the key — op != 'D' alone evaluates NULL and would silently
    # drop it, turning feed malformation into data loss
    rows = [(1, 1, "I", "a"), (1, 2, None, "b"), (2, 1, "I", "x")]
    got = {
        r["k"]: r["val"]
        for r in incremental.cdc_apply(
            _feed(spark, rows), ["k"], ["seq"]
        ).collect()
    }
    assert got == {1: "b", 2: "x"}


def test_dedup_ingest_first_arrival_wins_across_batches(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.functions.text import (
        content_fingerprint,
    )

    store = str(tmp_path / "fp_store")
    fp = content_fingerprint(F.col("text"))
    b1 = spark.createDataFrame(
        [(10, "alpha"), (11, "beta"), (12, "ALPHA  ")],  # 12 dups 10 (norm)
        "doc_id long, text string",
    )
    adm1 = incremental.dedup_ingest(spark, store, b1, "doc_id", fp)
    assert sorted(r["doc_id"] for r in adm1.collect()) == [10, 11]
    b2 = spark.createDataFrame(
        [(1, "beta"), (2, "gamma"), (3, "gamma")],  # 1 dups store; 3 dups 2
        "doc_id long, text string",
    )
    adm2 = incremental.dedup_ingest(spark, store, b2, "doc_id", fp)
    # beta already admitted (first arrival keeps id 11, NOT the smaller
    # late id 1); gamma is new, in-batch collapsed to min id 2
    assert sorted(r["doc_id"] for r in adm2.collect()) == [2]
    b3 = spark.createDataFrame([(99, "gamma")], "doc_id long, text string")
    adm3 = incremental.dedup_ingest(spark, store, b3, "doc_id", fp)
    assert adm3.collect() == []


def test_refresh_join_equals_full_recompute(spark, sf_dir, tmp_path):
    """Delta-join IVM: after N batched refreshes, the materialized join
    equals the one-shot join of all accumulated rows, regardless of
    which side each batch touched."""
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.operators.incremental import (
        refresh_join,
    )
    from glue_jobs_for_data_pipeline_spark.sources.readers import load_table

    store = str(tmp_path / "ivm")
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .withColumn("_k", F.col("o_custkey"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("_k", F.col("c_custkey"))
    )
    # batch 1: even orders + ALL customers; batch 2: odd orders + NO
    # new customers (empty delta on one side must be handled)
    refresh_join(spark, store, o.filter("o_orderkey % 2 = 0"), c, "_k")
    got = refresh_join(
        spark, store, o.filter("o_orderkey % 2 = 1"), c.limit(0), "_k"
    )
    want = o.join(c, "_k")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_refresh_join_crash_at_commit_point_keeps_previous_refresh(
    spark, tmp_path, monkeypatch
):
    """A crash at refresh_join's commit point leaves readers on A, B and
    J all from the previous refresh, never a mix; a retry converges."""
    import os

    import pytest

    from glue_jobs_for_data_pipeline_spark.sources import txn as txn_mod

    store = str(tmp_path / "ivm")

    def batch(rows, side):
        return spark.createDataFrame(rows, f"k long, {side} string")

    def committed():
        return {
            t: sorted(map(tuple, Catalog(store).read(spark, t).collect()))
            for t in "abj"
        }

    incremental.refresh_join(
        spark, store, batch([(1, "a1"), (2, "a2")], "av"),
        batch([(1, "b1")], "bv"), "k",
    )
    before = committed()
    a2, b2 = batch([(3, "a3")], "av"), batch([(2, "b2"), (3, "b3")], "bv")

    real_replace = os.replace

    def crash_at_commit_point(src, dst):
        if os.path.basename(dst) == txn_mod._HEAD:
            raise OSError("simulated crash at the commit point")
        return real_replace(src, dst)

    monkeypatch.setattr(txn_mod.os, "replace", crash_at_commit_point)
    with pytest.raises(OSError, match="simulated crash"):
        incremental.refresh_join(spark, store, a2, b2, "k")
    monkeypatch.undo()
    assert committed() == before

    incremental.refresh_join(spark, store, a2, b2, "k")
    assert committed()["j"] == [
        (1, "a1", "b1"), (2, "a2", "b2"), (3, "a3", "b3")
    ]
