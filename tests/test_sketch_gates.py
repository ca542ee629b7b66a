"""Direct regression tests for the sketch contract gates — the
three former rows-only keys (MinHash-LSH, SimHash, corpus-prep
near-dup) whose catalog output is now a one-row quantitative contract.

The dual-SF oracle sweeps prove the gates hash-match DuckDB; these
tests pin the CONTRACT SEMANTICS locally (every boolean genuinely
holds on the fixture, anchors equal an independent recomputation) so a
regression in an underlying operator fails fast in pytest instead of
only at sweep time.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark import lifecycle
from glue_jobs_for_data_pipeline_spark.operators import dedup
from glue_jobs_for_data_pipeline_spark.plans import catalog_ext as cx


@pytest.fixture(scope="module")
def trues(spark, sf_dir):
    """The exact >= 0.8-Jaccard pair set the gates measure against."""
    return (
        cx._staged_neardup_scored(spark, sf_dir)
        .filter(F.col("jaccard") >= F.lit(cx._TH_SKETCH_TRUE))
        .cache()
    )


def test_minhash_gate_contract_holds(spark, sf_dir, trues):
    with lifecycle.query_scope():
        row = cx.x_dedup_minhash_lsh(spark, sf_dir).collect()[0]
        assert row["n_true_pairs"] == trues.count() > 0
        assert row["recall_ok"] is True
        assert row["est_ok"] is True


def test_minhash_gate_recall_is_actually_high(spark, sf_dir, trues):
    """The 0.9 floor is not doing the work: measured recall at J>=0.8
    should be ~1.0 on the planted fixture (16-band S-curve)."""
    with lifecycle.query_scope():
        cand = dedup.minhash_lsh_pairs(
            cx.load_table(spark, sf_dir, "documents"), "doc_id", "text",
            bucket_cap=1000,
        )
        n_true = trues.count()
        caught = trues.join(cand, ["doc_a", "doc_b"]).count()
        assert caught == n_true  # every planted >=0.8 pair is caught


def test_simhash_gate_contract_holds(spark, sf_dir):
    with lifecycle.query_scope():
        row = cx.x_dedup_simhash(spark, sf_dir).collect()[0]
        assert row["n_true_pairs"] > 0
        assert row["complete_r3_ok"] is True
        assert row["hamming_consistent_ok"] is True
        assert row["recall_ok"] is True


def test_simhash_radius3_completeness_is_structural(spark, sf_dir):
    """The pigeonhole guarantee the gate states: EVERY pair within
    hamming 3 is caught by the 4x16-bit banding, independent of the
    fixture's planted structure."""
    docs = cx.load_table(spark, sf_dir, "documents")
    sigs = dedup.simhash_signatures(docs, "doc_id", "text")
    a = sigs.selectExpr("doc AS doc_a", "simhash AS sa")
    b = sigs.selectExpr("doc AS doc_b", "simhash AS sb")
    close = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "h", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
        )
        .filter(F.col("h") <= 3)
        .select("doc_a", "doc_b", "h")
    )
    cand = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=12)
    missed = close.join(cand, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0


def test_corpus_prep_gate_contract_holds(spark, sf_dir):
    from glue_jobs_for_data_pipeline_spark.operators.corpus import (
        prepare_corpus,
    )

    with lifecycle.query_scope():
        row = cx.x_corpus_prep_neardup(spark, sf_dir).collect()[0]
        assert row["no_dup_survivors_ok"] is True
        assert row["kept_subset_ok"] is True
        # the n_prepared anchor equals an independent operator run
        docs = cx.load_table(spark, sf_dir, "documents")
        assert row["n_prepared"] == prepare_corpus(docs).count()
