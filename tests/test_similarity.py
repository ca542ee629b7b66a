"""Similarity search: exact top-k correctness + LSH recall floor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark.operators import similarity


def test_brute_force_topk_known_answer(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [0.7, 0.7]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=2
    ).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 3]  # cos(0,1) > cos(0,3) > cos(0,2)
    assert all(r["query_id"] == 0 for r in out)


def test_lsh_recall_floor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=10)
    approx = similarity.lsh_topk(emb, queries, k=10)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"LSH recall {recall} below floor"


def test_ivf_recall_floor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=10)
    approx = similarity.ivf_topk(emb, queries, k=10, n_cells=16, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4/16 probe fraction on weakly-clustered random data: modest floor
    assert recall >= 0.3, f"IVF recall {recall} below floor"


def test_lsh_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    q = emb.filter(F.col("vec_id") < 2)
    r1 = sorted(map(tuple, similarity.lsh_topk(emb, q, k=5).collect()))
    r2 = sorted(map(tuple, similarity.lsh_topk(emb, q, k=5).collect()))
    assert r1 == r2


def _grid_cells(emb, n_iters):
    cents = similarity.kmeans_fit_int_grid(emb, n_cells=3, n_iters=n_iters)
    qv = similarity._grid_quantize("embedding", 1024).alias("__qv")
    return similarity.assign_ivf_cells_int(
        emb.select("vec_id", qv), cents, "__qv", 1
    )


def _sample_cells(emb, n_iters):
    cents = similarity.kmeans_fit_sample(emb, n_cells=3, n_iters=n_iters)
    return similarity.assign_ivf_cells(emb, cents, "vec_id", "embedding", 1)


@pytest.mark.parametrize(
    "cells", [_grid_cells, _sample_cells], ids=["int_grid", "sample"]
)
def test_kmeans_recovers_blobs(spark, cells):
    """Three well-separated blobs: after Lloyd iterations every blob
    maps to exactly one cell and the cells are distinct, for the
    distributed int-grid trainer and the driver-side sample trainer."""

    def blob(center, n, spread_idx):
        rows = []
        for i in range(n):
            v = list(center)
            v[(spread_idx + i) % len(v)] += 0.01 * (i + 1)
            rows.append((spread_idx * 100 + i, [float(x) for x in v]))
        return rows

    rows = (
        blob([10.0, 0.0, 0.0, 0.0], 20, 0)
        + blob([0.0, 10.0, 0.0, 0.0], 20, 1)
        + blob([0.0, 0.0, 10.0, 0.0], 20, 2)
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cell_of = {r["vec_id"]: r["cell"] for r in cells(emb, 4).collect()}
    blobs = [
        {cell_of[i] for i in range(0, 20)},
        {cell_of[100 + i] for i in range(20)},
        {cell_of[200 + i] for i in range(20)},
    ]
    assert all(len(b) == 1 for b in blobs), blobs
    assert len(blobs[0] | blobs[1] | blobs[2]) == 3


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = similarity.pq_fit(emb, m=8, n_codes=16, n_iters=3, sample_n=256)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    enc = similarity.pq_encode(emb, books).select("vec_id", "pq_code")
    a = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    b = {r["vec_id"]: r["pq_code"] for r in
         similarity.pq_encode(emb.repartition(7), books)
         .select("vec_id", "pq_code").collect()}
    assert a == b  # encoding is a pure function of (vector, codebooks)
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())


def test_pq_adc_recall_floor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    books = similarity.pq_fit(emb, m=8, n_codes=16, n_iters=6, sample_n=512)
    exact = similarity.brute_force_topk(emb, queries, k=10)
    approx = similarity.pq_adc_topk(emb, queries, books, k=10, refine=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"PQ-ADC recall {recall} below floor"


def test_ivf_pq_recall_floor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    books = similarity.pq_fit(emb, m=8, n_codes=16, n_iters=6, sample_n=512)
    exact = similarity.brute_force_topk(emb, queries, k=10)
    approx = similarity.ivf_pq_topk(
        emb, queries, books, k=10, n_cells=8, n_probe=4, refine=4
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing half the cells already bounds recall; PQ candidates are
    # re-ranked exactly, so misses come only from cell/ADC truncation
    assert recall >= 0.4, f"IVF-PQ recall {recall} below floor"


def _recall(exact_pairs: set, approx_df) -> float:
    a = {(r["query_id"], r["neighbor_id"]) for r in approx_df.collect()}
    return len(exact_pairs & a) / len(exact_pairs)


def test_ivf_recall_monotone_in_probe_width(spark, sf_dir):
    """The knob a 100 TB deployment actually turns: n_probe. Probing
    n+1 cells considers a strict SUPERSET of the candidates probed at n
    (assign_ivf_cells ranks cells per query and keeps the top n_probe),
    and candidates re-rank by exact cosine — so recall must be
    non-decreasing in probe width, and probing every cell must recover
    the brute-force result exactly (recall 1.0: same self-exclusion,
    same id tie-break)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=10).collect()
    }
    recalls = [
        _recall(
            exact,
            similarity.ivf_topk(emb, queries, k=10, n_cells=8, n_probe=p),
        )
        for p in (1, 2, 4, 8)
    ]
    assert all(b >= a for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0, recalls


def test_pq_recall_non_degrading_in_codebook_size(spark, sf_dir):
    """The PQ quality knob: codebook size (nbits per subquantizer).
    Finer codebooks quantize with less distortion, so ADC candidate
    ranking gets closer to exact ranking. k-means fitting keeps this
    from being strictly monotone sample-to-sample, so the assertion is
    the operational one: the finest codebook must not do worse than the
    coarsest (small tolerance for fit noise), and every tier clears the
    existing recall floor."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=10).collect()
    }
    recalls = {}
    for n_codes in (4, 16, 64):
        books = similarity.pq_fit(
            emb, m=8, n_codes=n_codes, n_iters=4, sample_n=512
        )
        recalls[n_codes] = _recall(
            exact,
            similarity.pq_adc_topk(emb, queries, books, k=10, refine=4),
        )
    assert recalls[64] >= recalls[4] - 0.05, recalls
    assert min(recalls.values()) >= 0.3, recalls


def test_pq_fit_rejects_undersized_sample(spark):
    # corpus smaller than n_codes must raise, not silently yield a
    # short codebook (ADVICE r04: similarity.py pq_fit init guard)
    emb = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(5)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="n_codes"):
        similarity.pq_fit(emb, m=2, n_codes=16, n_iters=1, sample_n=64)


def test_pq_fit_dedupes_initial_centroids(spark):
    # first n_codes sample rows all identical + distinct rows later in
    # the sample: duplicate seeds must not collapse the codebook
    rows = [(i, [0.0] * 8) for i in range(16)] + [
        (100 + i, [float(i + 1)] * 8) for i in range(16)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_fit(emb, m=2, n_codes=4, n_iters=4, sample_n=64)
    for book in books:
        distinct = {tuple(row) for row in book}
        assert len(distinct) >= 3, f"codebook collapsed to {len(distinct)} centroids"


def test_pq_sql_lambdas_do_not_capture_vector_column(spark):
    """SQL lambda variables shadow outer columns; the PQ expression
    text must keep working when the vector column is named like a
    natural lambda variable ('c'), and must refuse the reserved
    internal names outright."""
    import pytest

    emb = (
        spark.read.parquet(f"{spark.conf.get('spark.graft.sfdir')}/embeddings.parquet")
        if spark.conf.get("spark.graft.sfdir", None)
        else None
    )
    if emb is None:
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_c = emb.withColumnRenamed("embedding", "c")
    books = similarity.pq_fit(emb, m=8, n_codes=16, n_iters=2, sample_n=128)
    enc_ref = {
        r["vec_id"]: r["pq_code"]
        for r in similarity.pq_encode(emb, books)
        .select("vec_id", "pq_code").collect()
    }
    enc_c = {
        r["vec_id"]: r["pq_code"]
        for r in similarity.pq_encode(emb_c, books, vec_col="c")
        .select("vec_id", "pq_code").collect()
    }
    assert enc_ref == enc_c  # renaming the column must not change codes
    with pytest.raises(ValueError, match="collides with an internal"):
        similarity.pq_encode(
            emb.withColumnRenamed("embedding", "__pq_c"), books,
            vec_col="__pq_c",
        )


def test_book_sql_rejects_non_finite_codebooks():
    import pytest

    bad = [[1.0, float("nan")], [0.0, 1.0]]
    with pytest.raises(ValueError, match="non-finite"):
        similarity._book_sql(bad)


def test_pq_init_first_n_layout(spark, sf_dir):
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_init_first_n(emb, m=8, n_codes=4)
    assert len(books) == 8 and all(len(b) == 4 for b in books)
    first = (
        emb.orderBy("vec_id").limit(4).select("embedding").collect()
    )
    # codeword j of subspace i == slice i of the j-th vector by id
    for i in range(8):
        for j in range(4):
            want = [float(x) for x in first[j][0][i * 8 : (i + 1) * 8]]
            assert books[i][j] == want
    with pytest.raises(ValueError, match="needs >="):
        similarity.pq_init_first_n(emb.limit(2), m=8, n_codes=4)


def test_ivf_kmeans_grid_recall_and_determinism(spark, sf_dir):
    """The SQL-statable integer-grid Lloyd tier (r14 graduation): recall
    parity with the float tier's floor, and bit-identical output under
    a different input partitioning (the determinism the oracle hash
    relies on)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=10)
    approx = similarity.ivf_kmeans_topk_grid(
        emb, queries, k=10, n_cells=8, n_probe=4, n_iters=3
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.4
    b = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos"])
        for r in similarity.ivf_kmeans_topk_grid(
            emb.repartition(7), queries, k=10, n_cells=8, n_probe=4,
            n_iters=3,
        ).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos"])
        for r in approx.collect()
    }
    assert b == full


def test_kmeans_int_grid_recenters_exactly(spark):
    """floor-mean re-centering on the grid: a cell with members whose
    quantized components sum to s over n rows must land at floor(s/n)
    in every dimension (hand-checked tiny case)."""
    rows = [
        (1, [0.0, 1.0]),
        (2, [0.001953125, 1.0]),   # 2/1024 -> grid 2
        (3, [10.0, -1.0]),
        (4, [10.0107421875, -1.0]),  # grid 10251
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit_int_grid(
        emb, n_cells=2, n_iters=2, scale=1024
    )
    got = dict(cents)
    # cluster {1,2}: dims (0+2)//2=1, (1024+1024)//2=1024
    # cluster {3,4}: dims (10240+10251)//2=10245, (-1024-1024)//2=-1024
    assert got[1] == [1, 1024]
    assert got[2] == [10245, -1024]


def test_kmeans_int_grid_job_count_and_no_leaked_cache(spark, sf_dir, count_jobs):
    """Training outside any query scope runs a fixed number of jobs and
    leaves no persistent RDD behind: its input cache is released when
    the training loop ends."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    persistent = spark.sparkContext._jsc.getPersistentRDDs().size
    before = persistent()
    assert count_jobs(
        lambda: similarity.kmeans_fit_int_grid(emb, n_cells=8, n_iters=3)
    ) == 7
    assert persistent() == before


def test_cluster_balance_quota_and_determinism(spark, sf_dir):
    """x_corpus_cluster_balance: per-cell quota respected, every
    populated cell represented, bit-identical under repartition."""
    from glue_jobs_for_data_pipeline_spark.plans import catalog_ext  # noqa: F401
    from glue_jobs_for_data_pipeline_spark.plans.catalog import QUERIES

    q = QUERIES["x_corpus_cluster_balance"]
    rows = q(spark, sf_dir).collect()
    per_cell = {}
    for r in rows:
        per_cell.setdefault(r["cell"], []).append(r["pick"])
    assert per_cell, "no clusters selected"
    for cell, picks in per_cell.items():
        assert len(picks) <= 20
        assert sorted(picks) == list(range(1, len(picks) + 1))
    again = {(r["cell"], r["vec_id"], r["pick"]) for r in q(spark, sf_dir).collect()}
    assert again == {(r["cell"], r["vec_id"], r["pick"]) for r in rows}


def test_int_assign_numpy_tier_matches_hof_tier(spark):
    """The Arrow int-matmul assign (k >= _INT_ASSIGN_NUMPY_MIN_CELLS)
    must be row-identical to assign_ivf_cells_int's centroid-literal
    HOF tier (called directly, since k is above the gate) on random
    integer grids — including ties, which both break to the lowest
    cell id. Exercised for n_probe 1 and 3."""
    import random

    rng = random.Random(1511)
    dim, k, n = 6, 20, 120
    # small value range on purpose: forces distance ties
    cents = [
        (c + 1, [rng.randint(-3, 3) for _ in range(dim)]) for c in range(k)
    ]
    rows = [
        (i, [rng.randint(-3, 3) for _ in range(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, __qv array<long>")
    assert k >= similarity._INT_ASSIGN_NUMPY_MIN_CELLS
    for n_probe in (1, 3):
        got = sorted(
            map(
                tuple,
                similarity._assign_ivf_cells_int_np(
                    df, cents, "__qv", n_probe
                ).select("vec_id", "cell", "cell_rank").collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                similarity._assign_by_literal(
                    df, cents, "__qv", n_probe, int, similarity._sq_l2_long
                ).select("vec_id", "cell", "cell_rank").collect(),
            )
        )
        assert got == want, f"n_probe={n_probe}"


def test_cluster_quality_invariants(spark, sf_dir):
    """x_emb_cluster_quality: memberships cover the corpus exactly
    once, inertia/radius are consistent (wcss <= n * max_d2), and
    every separation entry matches a brute-force recompute over the
    staged model."""
    from glue_jobs_for_data_pipeline_spark.plans.catalog_ext import (
        _staged_grid_centroids,
        x_emb_cluster_quality,
    )
    from glue_jobs_for_data_pipeline_spark.sources.readers import load_table

    rows = x_emb_cluster_quality(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == n_vecs
    for r in rows:
        assert 0 <= r["wcss"] <= r["n_members"] * r["max_d2"]
        assert r["min_inter_d2"] > 0

    cents = dict(_staged_grid_centroids(spark, sf_dir, 8))
    for r in rows:
        v1 = cents[r["cell"]]
        brute = min(
            sum((a - b) * (a - b) for a, b in zip(v1, v2))
            for c2, v2 in cents.items()
            if c2 != r["cell"]
        )
        assert r["min_inter_d2"] == brute


def test_scatter_matrix_matches_numpy_and_pca_is_sane(spark, sf_dir):
    """scatter_matrix_int == numpy X.T@X on the collected fixture
    (exact ints), and pca_fit's components are orthonormal with
    descending explained variance that beats random directions."""
    import numpy as np

    from glue_jobs_for_data_pipeline_spark.operators.similarity import (
        _grid_quantize,
        pca_fit,
        pca_project,
        scatter_matrix_int,
    )
    from glue_jobs_for_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(_grid_quantize("embedding", 1024).alias("qv"))
    X = np.asarray([np.asarray(r["qv"]) for r in q.collect()], dtype=np.int64)
    got = {(r["i"], r["j"]): r["s"] for r in scatter_matrix_int(q).collect()}
    S = X.T @ X
    assert got[(0, 0)] == len(X)
    assert got[(1, 0)] == int(X[:, 0].sum())
    for i, j in [(1, 1), (1, 2), (5, 64), (64, 64)]:
        assert got[(i, j)] == int(S[i - 1, j - 1]), (i, j)
    assert len(got) == 64 * 65 // 2 + 64 + 1

    comps, vals, _mean = pca_fit(emb, k=4)
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-9)
    assert all(vals[i] >= vals[i + 1] for i in range(3))
    # projected variance along PC1 >= variance along every raw axis
    proj = pca_project(emb, comps[:1])
    p = np.asarray([r["pca"][0] for r in proj.select("pca").collect()])
    Xf = np.asarray(
        [np.asarray(r["embedding"]) for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    assert p.var() >= Xf.var(axis=0).max() - 1e-9


def test_pca_fit_empty_corpus_raises_value_error(spark):
    import pytest

    from glue_jobs_for_data_pipeline_spark.operators.similarity import pca_fit

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        pca_fit(empty)


def test_scatter_matrix_empty_input_yields_zero_rows(spark):
    from glue_jobs_for_data_pipeline_spark.operators.similarity import (
        scatter_matrix_int,
    )

    empty = spark.createDataFrame([], "qv array<long>")
    assert scatter_matrix_int(empty, "qv").count() == 0


def test_scatter_matrix_property_random_vectors_match_numpy(spark):
    """Property check on adversarial values (negatives, tiny, large):
    the Arrow partial-merge pipeline equals numpy X.T@X exactly for
    any int64 grid input — partition count must not matter."""
    import numpy as np

    from glue_jobs_for_data_pipeline_spark.operators.similarity import (
        scatter_matrix_int,
    )

    rng = np.random.RandomState(7)
    dim = 8
    X = np.concatenate(
        [
            rng.randint(-2048, 2048, size=(40, dim)),
            np.full((3, dim), -2048),
            np.zeros((2, dim), dtype=int),
        ]
    ).astype(np.int64)
    df = spark.createDataFrame(
        [(r.tolist(),) for r in X], "qv array<long>"
    ).repartition(7)  # force multiple partials
    got = {
        (r["i"], r["j"]): r["s"]
        for r in scatter_matrix_int(df, "qv", dim=dim).collect()
    }
    S = X.T @ X
    for i in range(dim):
        assert got[(i + 1, 0)] == int(X[:, i].sum())
        for j in range(i, dim):
            assert got[(i + 1, j + 1)] == int(S[i, j]), (i, j)
    assert got[(0, 0)] == len(X)
