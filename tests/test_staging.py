"""Stage-then-consume contracts: staged tables equal their unstaged
derivations, stages are per-(process, sf_dir/params), and
lifecycle.reset_stages() actually deletes parquet-backed stages."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark import lifecycle
from glue_jobs_for_data_pipeline_spark.operators import dedup, similarity
from glue_jobs_for_data_pipeline_spark.plans import catalog_ext as cx
from glue_jobs_for_data_pipeline_spark.sources.readers import load_table


def test_staged_neardup_pairs_match_direct(spark, sf_dir):
    staged = sorted(
        (r["doc_a"], r["doc_b"])
        for r in cx._staged_neardup_pairs(spark, sf_dir).collect()
    )
    direct = sorted(
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3,
            threshold=cx._TH_CLUSTER, df_cap=100, posts_partitions=8,
        ).collect()
    )
    assert staged == direct and len(staged) > 0


def test_staged_centroids_match_direct_and_cache_keyed(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    direct = similarity.kmeans_fit_int_grid(
        emb, n_cells=8, n_iters=3, scale=1024
    )
    staged = cx._staged_grid_centroids(spark, sf_dir, 8)
    assert staged == direct
    # second call is the SAME object (cache hit, no retrain)
    assert cx._staged_grid_centroids(spark, sf_dir, 8) is staged
    # a different parameterization is a different entry
    staged32 = cx._staged_grid_centroids(spark, sf_dir, 32)
    assert len(staged32) == 32 and staged32 != staged


def test_centroid_stage_query_covers_both_models(spark, sf_dir):
    import math

    n = load_table(spark, sf_dir, "embeddings").count()
    kd = max(32, math.floor(math.sqrt(float(n))))  # the SemDeDup k
    rows = cx.x_emb_centroids_stage(spark, sf_dir).collect()
    by_model = {}
    for r in rows:
        by_model.setdefault(r["n_cells"], set()).add(r["cell"])
    assert set(by_model) == {8, kd}
    assert len(by_model[8]) == 8 and len(by_model[kd]) == kd
    assert len(rows) == (8 + kd) * 64


def test_reset_stages_deletes_parquet(spark, sf_dir):
    staged = cx._staged_neardup_pairs(spark, sf_dir)
    path = os.path.dirname(urlparse(staged.inputFiles()[0]).path)
    assert os.path.exists(path)
    cx._staged_grid_centroids(spark, sf_dir, 8)
    lifecycle.reset_stages()
    assert not os.path.exists(path), "staged parquet must be deleted"
    assert not os.path.exists(os.path.dirname(path)), "and its mkdtemp dir"
    assert not [k for k, (_, _, reset) in lifecycle._STAGES.items() if reset]


def test_ivf_kmeans_pretrained_centroids_match_internal(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.kmeans_fit_int_grid(
        emb, n_cells=8, n_iters=3, scale=1024
    )
    a = sorted(
        map(tuple, similarity.ivf_kmeans_topk_grid(
            emb, queries, k=10, n_cells=8, n_probe=4, n_iters=3
        ).collect())
    )
    b = sorted(
        map(tuple, similarity.ivf_kmeans_topk_grid(
            emb, queries, k=10, n_cells=8, n_probe=4, n_iters=3,
            centroids=cents,
        ).collect())
    )
    assert a == b and len(a) > 0
