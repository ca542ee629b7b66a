"""Approximate-nearest-neighbor search over an embedding column.

Every search is candidate generation followed by one exact re-rank
(_exact_rerank: cosine, then the top k per query). The generators
(BASELINE north-star: similarity search at 100 TB):

- brute_force_topk: every corpus vector, via broadcast cross join — the
  correctness baseline and the right tool when |queries| is small
  (queries broadcast; the corpus streams map-side, no shuffle until the
  tiny per-query top-k).
- lsh_topk: deterministic random-hyperplane signatures bucket the
  corpus; candidates = signature collisions (multi-table). Sublinear
  probe cost; recall tunable by (n_tables, n_bits).
- IVF (ivf_topk, ivf_kmeans_topk_grid): the vectors in the query's
  n_probe nearest cells (_cell_probe_topk).
- PQ (pq_adc_topk, ivf_pq_topk): the k*refine best by asymmetric
  distance over product-quantized codes (_adc_shortlist).

One kernel per algorithm, the metric or numeric domain a parameter:
_assign_by_literal is the centroid-literal assigner (cosine over
doubles, exact squared L2 over longs), _lloyd the numpy Lloyd loop on
a driver-side sample (max cosine for kmeans_fit_sample, min squared L2
for pq_fit's subspaces), and kmeans_fit_int_grid the distributed
trainer.

Determinism: hyperplane weights come from xxhash64(table, plane, dim)
mapped to +-[0,1), so every run and every engine derives the same
buckets (no RNG state).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, dot
from ..lifecycle import cached, query_scope


def _exact_rerank(cand: DataFrame, k: int) -> DataFrame:
    """The exact re-rank every search here ends in: cosine of each
    (query_id, qvec, neighbor_id, cvec) candidate, then the top ``k``
    per query by cos DESC, ties to the lower neighbor id.
    Output: (query_id, neighbor_id, rank, cos)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("cos", cosine(F.col("qvec"), F.col("cvec")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast the (small) query set against the corpus: map-side cosine,
    then a per-query window top-k. Ties break on neighbor id so ranks
    are total and reproducible. Self-matches are excluded.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    return _exact_rerank(
        q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id")), k
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_tables: int = 16,
    n_bits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: hyperplane-LSH candidate generation + exact re-rank.

    Each vector gets n_tables bucket signatures; query/corpus collide on
    (table, signature); candidates are exact-cosine re-ranked per query.
    Probe cost ~ corpus/2^n_bits per table instead of the full corpus.

    Defaults (16 tables x 4 bits) target weakly-similar corpora (random
    embeddings, top-10 cosine ~0.4 -> measured recall ~0.9); corpora with
    true near-dups (cosine >0.8) can raise n_bits for sharper buckets.
    """
    corpus_sig = _with_signatures(
        corpus, id_col, vec_col, n_tables, n_bits, dim
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        "table",
        "sig",
    )
    query_sig = _with_signatures(queries, id_col, vec_col, n_tables, n_bits, dim).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), "table", "sig"
    )
    cand = (
        F.broadcast(query_sig)
        .join(corpus_sig, ["table", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "cvec")
        .distinct()
    )
    return _exact_rerank(cand, k)


def _with_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int,
    n_bits: int,
    dim: int | None = None,
) -> DataFrame:
    """Explode each vector into n_tables (table, signature) rows.

    Signature bit j = sign of the projection onto deterministic plane
    (table, j) via a zip_with fold — all JVM-side, no shuffle.

    Plan-size note (the 'x_sim_lsh_topk is 10x its IVF sibling'
    finding): the plane family is shipped as ONE nested array literal
    (tables x bits x dim) and the signatures are computed by
    higher-order functions over it — the earlier form built
    n_tables*n_bits*dim individual literal Columns (4096 Py4J calls at
    the defaults, twice per query), and ~14 of the query's ~15 seconds
    were CLIENT-SIDE plan construction, constant at every data scale.
    The fold order inside each projection is unchanged, so signatures
    are bit-identical to the expanded form.

    ``dim`` (the embedding width) should be passed by the caller — it is
    schema knowledge, and the fallback ``.first()`` probe launches a
    Spark job during PLAN CONSTRUCTION, which serializes with every
    other job on the driver. The probe exists only for ad-hoc use.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = [
        [[_hp_weight_val(t, j, d) for d in range(dim)] for j in range(n_bits)]
        for t in range(n_tables)
    ]
    vec = F.col(vec_col)
    proj = lambda plane: F.aggregate(  # noqa: E731 — same fold as before
        F.zip_with(vec, plane, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # One expr() call for the whole plane family: F.lit(nested_list)
    # still expands to one client-side Column per element (4096 Py4J
    # round-trips at the defaults); a SQL literal parses JVM-side in
    # one shot. The D suffix pins DOUBLE (bare decimals parse as
    # DECIMAL), and repr() round-trips each float exactly.
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(f"{w!r}D" for w in plane) + ")"
                for plane in tplanes
            )
            + ")"
            for tplanes in planes
        )
        + ")"
    )
    sig_arr = F.transform(
        planes_lit,
        lambda tplanes: F.aggregate(
            F.transform(
                tplanes,
                lambda plane, j: F.when(
                    proj(plane) > 0,
                    F.pow(F.lit(2.0), j.cast("double")).cast("int"),
                ).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ),
    )
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(sig_arr).alias("table", "sig"),
    )


def _collect_centroids(centroids, vec_col: str) -> list[tuple[int, list[float]]]:
    """Normalize a centroid source (tiny DataFrame or already-collected
    list) to [(cell, [floats])]."""
    if isinstance(centroids, list):
        return centroids
    return [
        (int(r["cell"]), [float(x) for x in r[vec_col]])
        for r in centroids.collect()
    ]


def _centroid_literal(cents: list[tuple[int, list]], kind: type):
    """The centroid set as ONE SQL array-of-struct ``(cell, v)`` literal,
    each component rendered as ``kind`` (int -> BIGINT ``L``, float ->
    DOUBLE ``D``; repr() round-trips a float exactly). A nested
    F.lit-per-element form would cost k*dim Py4J calls; a SQL literal
    parses JVM-side in one shot (the _with_signatures plan-size trick)."""
    suffix = {int: "L", float: "D"}[kind]
    if any(not math.isfinite(x) for _, vec in cents for x in vec):
        # repr(nan/inf) + 'D' is unparseable SQL; fail with the cause
        # (a degenerate centroid, e.g. NaN from a zero-norm embedding
        # propagating through k-means means) instead of a
        # ParseException far from it — same guard as _book_sql.
        raise ValueError(
            "centroid set contains non-finite values (NaN/inf) — "
            "normalize or drop zero-norm embeddings before IVF "
            "training"
        )
    items = ",".join(
        "named_struct('cell',{},'v',array({}))".format(
            cell, ",".join(repr(kind(x)) + suffix for x in vec)
        )
        for cell, vec in cents
    )
    return F.expr(f"array({items})")


def _int_centroid_literal(cents: list[tuple[int, list[int]]]):
    """Integer centroid set as ONE SQL array literal (long elements)."""
    return _centroid_literal(cents, int)


def _sq_l2_long(v, c):
    """Exact squared L2 of two long arrays as a BIGINT."""
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assign_by_literal(
    vectors: DataFrame,
    cents: list[tuple[int, list]],
    vec_col: str,
    n_probe: int,
    kind: type,
    score,
) -> DataFrame:
    """The one centroid-literal assigner: each vector scores all k
    centroids of the ``kind`` literal (_centroid_literal) with
    ``score(vec, centroid)`` (lower = nearer) in a single transform(),
    sorts the (score, cell) structs lexicographically — ties break to
    the lowest cell id — and explodes the first n_probe. Map-only: no
    join, no window, vectors never shuffle. Keeps every input column
    and adds (cell, cell_rank).

    Boundary: the literal is k x dim values of SQL text (~20 bytes
    each) — fine through k ~ 4096 at dim 64 (~5 MB plan). An IVF
    coarse quantizer past that (e.g. 2^16 cells for 10^10 vectors)
    should switch to a broadcast-join + min_by aggregation instead of
    this literal; the probe stays map-side either way because the
    centroid table broadcasts."""
    vec = F.col(vec_col)
    scored = F.transform(
        _centroid_literal(cents, kind),
        lambda s: F.struct(score(vec, s["v"]).alias("d"), s["cell"].alias("cell")),
    )
    keep = vectors.columns
    return (
        vectors.withColumn("_top", F.slice(F.array_sort(scored), 1, n_probe))
        .select(*keep, F.posexplode("_top").alias("_pos", "_s"))
        .select(
            *keep,
            F.col("_s")["cell"].alias("cell"),
            (F.col("_pos") + 1).cast("int").alias("cell_rank"),
        )
    )


def assign_ivf_cells(
    vectors: DataFrame,
    centroids,
    id_col: str,
    vec_col: str,
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its n_probe nearest centroids by cosine
    (_assign_by_literal over doubles, negated cosine as the score).
    Output: (id, vec, cell, cell_rank).

    ``centroids`` is a tiny (cell, <vec_col>) DataFrame, collected here
    (one job), or a pre-collected ``[(cell, [floats])]`` list — callers
    that assign twice against the same centroid set (ivf_topk,
    ivf_pq_topk) collect once and reuse, so the centroid-building job
    runs once per query, not per assignment.
    """
    return _assign_by_literal(
        vectors.select(id_col, vec_col),
        _collect_centroids(centroids, vec_col),
        vec_col,
        n_probe,
        float,
        lambda v, c: -cosine(v, c),
    )


def _cell_probe_topk(
    query_cells: DataFrame, corpus_cells: DataFrame, k: int
) -> DataFrame:
    """The IVF probe: broadcast the (query_id, qvec, cell) probes, join
    the (neighbor_id, cvec, cell) corpus on cell, then _exact_rerank.
    No distinct is needed (unlike the LSH multi-table path): each
    corpus vector lives in exactly ONE cell, so a (query, neighbor)
    pair can only arise once."""
    cand = (
        F.broadcast(query_cells)
        .join(corpus_cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "cvec")
    )
    return _exact_rerank(cand, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) cells: the scale path the LSH
    variant trades against. Corpus vectors live in their 1 nearest cell
    by cosine, queries probe their n_probe nearest cells
    (_cell_probe_topk).

    Centroids: the first n_cells corpus vectors by id — deterministic and
    free (ivf_kmeans_topk_grid is the Lloyd-refined tier; the
    partition/probe plumbing is shared). Probe cost ~= n_probe/n_cells
    of the corpus.
    """
    # no broadcast hint: the centroids collect once (one job, two uses)
    # and inline as a literal; the k-row Window here is k-bounded
    cents = _collect_centroids(
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("cell"),
            F.col(vec_col),
        ),
        vec_col,
    )
    corpus_cells = assign_ivf_cells(corpus, cents, id_col, vec_col, 1).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"), "cell"
    )
    query_cells = assign_ivf_cells(queries, cents, id_col, vec_col, n_probe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), "cell"
    )
    return _cell_probe_topk(query_cells, corpus_cells, k)


def _hp_weight_val(table: int, plane: int, dim: int) -> float:
    """Python-side deterministic hyperplane weight in [-1,1) — a splitmix64
    style integer mix (no RNG object, reproducible everywhere)."""
    z = (table * 0x9E3779B97F4A7C15 + plane * 0xBF58476D1CE4E5B9 + dim * 0x94D049BB133111EB + 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    z = z ^ (z >> 31)
    return (z % 2_000_003) / 1_000_001.5 - 1.0


def _hash_sample(corpus: DataFrame, id_col: str, vec_col: str, n: int):
    """The n lowest-xxhash64(id) vectors as a float64 matrix: one
    TakeOrdered collect, a deterministic seedless uniform sample; at
    100 TB no vector shuffles and the driver receives n * dim doubles."""
    rows = (
        corpus.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n)
        .select(vec_col)
        .collect()
    )
    return np.asarray([r[0] for r in rows], dtype=np.float64)


def _max_cosine(x, cb):
    """Nearest-centroid rule by max cosine, ties to the LOWEST cell id:
    argmax returns the first maximal index, matching the (negated
    cosine, cell) struct sort of assign_ivf_cells."""
    xn = np.linalg.norm(x, axis=1)
    xn[xn == 0.0] = 1.0
    cn = np.linalg.norm(cb, axis=1)
    cn[cn == 0.0] = 1.0
    return ((x @ cb.T) / xn[:, None] / cn[None, :]).argmax(axis=1)


def _min_sq_l2(x, cb):
    """Nearest-centroid rule by min squared L2, ties to the lowest id."""
    return ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _lloyd(x, cb, n_iters: int, nearest):
    """The one numpy Lloyd loop, on a driver-side sample: assign every
    row of ``x`` by ``nearest(x, cb)``, then move each centroid to the
    mean of its members; an empty cell keeps its previous centroid.
    Refines ``cb`` in place and returns it."""
    for _ in range(n_iters):
        assign = nearest(x, cb)
        for c in range(cb.shape[0]):
            mask = assign == c
            if mask.any():
                cb[c] = x[mask].mean(axis=0)
    return cb


def kmeans_fit_sample(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_iters: int = 10,
    sample_n: int = 4096,
) -> list[tuple[int, list[float]]]:
    """Coarse-quantizer training on a driver-side hash-sample — the
    FAISS production recipe (train IVF on ~39*n_cells..256*n_cells
    sampled points, never the full corpus; faiss clustering.cpp warns
    and subsamples above that). One Spark job collects the sample
    (_hash_sample, the same sample pq_fit uses); Lloyd then runs in
    numpy on k x dim doubles (_lloyd by max cosine), microseconds
    against the ~2-3 s/round constant of a distributed round (per-round
    codegen of a fresh centroid literal + 2 shuffles + collect).
    Init = the n_cells lowest-hash vectors.

    Use this for IVF-PQ and any pipeline where the quantizer feeds an
    approximate probe anyway; kmeans_fit_int_grid is the distributed,
    SQL-statable trainer (x_sim_ivf_kmeans_topk).

    Returns a pre-collected [(cell, [floats])] list — exactly the form
    assign_ivf_cells takes without running another centroid-collect
    job.
    """
    x = _hash_sample(corpus, id_col, vec_col, max(sample_n, n_cells))
    if x.shape[0] < n_cells:
        raise ValueError(
            f"kmeans_fit_sample needs >= n_cells={n_cells} training "
            f"vectors, got {x.shape[0]}"
        )
    cb = _lloyd(x, x[:n_cells].copy(), n_iters, _max_cosine)
    return [(i + 1, row) for i, row in enumerate(cb.tolist())]


# Above this cell count the interpreted higher-order-function assign
# (transform over a k-struct literal — Spark evaluates lambda functions
# WITHOUT whole-stage codegen) loses to the Arrow/numpy kernel; below
# it the literal form wins on Arrow overhead and keeps the plan
# Python-free. 16 keeps the k=8 ANN/sampling queries on the JVM path
# while every SemDeDup-sized training (k >= 32) takes the kernel — and
# because the oracle-checked SFs train k=32 models, the kernel itself
# is value-hash-verified against DuckDB every sweep.
_INT_ASSIGN_NUMPY_MIN_CELLS = 16


def _assign_ivf_cells_int_np(
    vectors: DataFrame,
    cents: list[tuple[int, list[int]]],
    qvec_col: str,
    n_probe: int,
) -> DataFrame:
    """Arrow/numpy tier of assign_ivf_cells_int — IDENTICAL results by
    construction: squared L2 over int64 grids is exact in any evaluation
    order (d2 = q.q + c.c - 2 q.c, all int64, no rounding anywhere), and
    ties break to the lowest cell id via a stable argsort over the
    cell-id-ordered centroid matrix — the same (d2, cell) total order as
    the struct-sort path. Equivalence is property-tested against the
    HOF path (tests/test_similarity.py) AND sweep-verified against the
    DuckDB oracle at the k=32 training SFs. Measured reason to exist:
    interpreted HOF evaluation put the sf1 SemDeDup training at
    minutes for k=141 x 20k vectors; the int-matmul kernel is the shape
    every production ANN trainer (faiss) uses. Overflow headroom: the
    expanded form needs |component| <= ~2^28 (vs the diff form's 2^31)
    — grid scale 2^10 x |value| <= 2^18, far past real embeddings."""
    import pandas as pd
    from pyspark.sql import types as T

    order0 = sorted(range(len(cents)), key=lambda i: cents[i][0])
    cell_ids = [int(cents[i][0]) for i in order0]
    cmat = [list(map(int, cents[i][1])) for i in order0]
    out_schema = T.StructType(
        list(vectors.schema.fields)
        + [
            T.StructField("cell", T.IntegerType(), True),
            T.StructField("cell_rank", T.IntegerType(), True),
        ]
    )

    def assign(batches):
        C = np.asarray(cmat, dtype=np.int64)  # (k, dim), cell-id order
        ids = np.asarray(cell_ids, dtype=np.int64)
        c2 = (C * C).sum(axis=1)  # (k,) exact int64
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.asarray(
                [np.asarray(q, dtype=np.int64) for q in pdf[qvec_col]]
            )  # (b, dim)
            d2 = (Q * Q).sum(axis=1)[:, None] + c2[None, :] - 2 * (Q @ C.T)
            if n_probe == 1:
                # argmin first-occurrence = lowest index = lowest cell id
                pick = np.argmin(d2, axis=1)[:, None]
            else:
                pick = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            out = pdf.loc[pdf.index.repeat(pick.shape[1])].reset_index(
                drop=True
            )
            out["cell"] = pd.Series(
                ids[pick].ravel(), dtype="int32"
            )
            out["cell_rank"] = pd.Series(
                np.tile(
                    np.arange(1, pick.shape[1] + 1), len(pdf)
                ),
                dtype="int32",
            )
            yield out

    return vectors.mapInPandas(assign, schema=out_schema)


def assign_ivf_cells_int(
    vectors: DataFrame,
    cents: list[tuple[int, list[int]]],
    qvec_col: str,
    n_probe: int = 1,
) -> DataFrame:
    """Map-only nearest-cell assignment under EXACT integer squared L2
    (grid-quantized vectors vs grid-snapped centroids): every distance
    is a BIGINT, so comparisons — and therefore cell boundaries — are
    bit-identical on any engine, which is what lets the whole k-means
    chain restate in SQL (see kmeans_fit_int_grid). Ties break to the
    lowest cell id, same convention as the cosine assigner. Keeps every
    input column; adds (cell, cell_rank). Overflow headroom:
    |component| <= scale * |value|; at scale 2^10 and |value| <= 2^20
    the per-dim square is < 2^62/dim — far past any real embedding
    range.

    Two physical tiers, one semantics: k >= _INT_ASSIGN_NUMPY_MIN_CELLS
    routes to the Arrow int-matmul kernel (_assign_ivf_cells_int_np —
    interpreted HOF cost grows with k and is the measured sf1
    bottleneck); small k keeps the codegen-free but Python-free
    centroid-literal transform (_assign_by_literal over longs, exact
    squared L2 as the score)."""
    if len(cents) >= _INT_ASSIGN_NUMPY_MIN_CELLS:
        return _assign_ivf_cells_int_np(vectors, cents, qvec_col, n_probe)
    return _assign_by_literal(vectors, cents, qvec_col, n_probe, int, _sq_l2_long)


def _grid_quantize(vec_col: str, scale: int):
    """floor(double(v) * scale) per component — EXACT for any float
    input when scale is a power of two (float->double widening is
    exact; multiplying a double by 2^n only shifts the exponent; floor
    is exact), so Spark and an oracle engine compute the identical
    integer grid from the same parquet floats."""
    return F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") * scale).cast("long"),
    )


def kmeans_fit_int_grid(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1024,
) -> list[tuple[int, list[int]]]:
    """Distributed Lloyd k-means whose EVERY intermediate is exact
    integer arithmetic — the determinization that graduates the
    IVF-kmeans ANN chain from rows-only to a value-hash oracle check
    (the same move that graduated PQ: snap the float iteration onto a
    grid where both engines provably agree). The package's one
    distributed k-means trainer.

    Recipe: quantize vectors onto an integer grid (floor(v * 2^10) —
    exact, see _grid_quantize); init = the first n_cells vectors by id
    (ORDER BY id LIMIT n, statable); each Lloyd step assigns by integer
    squared L2 (ties to the lowest cell) and re-centers with
    floor(SUM/COUNT) per dimension — integer sums are order-insensitive
    and the single double division of two exact integers is correctly
    rounded identically everywhere, so the grid-snapped centroid is
    deterministic. Empty cells keep their previous centroid. A fixed
    n_iters unrolls as chained SQL CTEs (catalog_ext._ivf_kmeans_grid
    _sql builds them).

    vs textbook float Lloyd: grid snapping perturbs each centroid by
    < 1/scale per step — immaterial for a COARSE quantizer feeding an
    n_probe search whose final ranking re-scores with exact cosine
    anyway (recall floor asserted in tests/test_similarity.py); a
    verifiable ANN index build is worth a sub-ulp centroid nudge.

    Scale shape: map-only assign against a centroid literal (vectors
    never shuffle), per-(cell,dim) exact integer partial aggregation,
    k x dim LONGS to the driver per round. The projected corpus is
    cached for the n_iters passes (Lloyd re-reads it every round) and
    released when training ends. Returns a pre-collected
    [(cell, [ints])] list.
    """
    # The nested scope releases the projected corpus's cache when the
    # training loop ends, inside or outside a caller's scope.
    with query_scope():
        proj = cached(
            corpus.select(
                F.col(id_col), _grid_quantize(vec_col, scale).alias("__qv")
            )
        )
        init = proj.orderBy(id_col).limit(n_cells).collect()
        if len(init) < n_cells:
            raise ValueError(
                f"kmeans_fit_int_grid needs >= n_cells={n_cells} vectors, "
                f"got {len(init)}"
            )
        cents = [
            (i + 1, [int(x) for x in r["__qv"]]) for i, r in enumerate(init)
        ]
        for _ in range(n_iters):
            assigned = assign_ivf_cells_int(proj, cents, "__qv", 1)
            upd_rows = (
                assigned.select(
                    "cell", F.posexplode("__qv").alias("idx", "val")
                )
                .groupBy("cell", "idx")
                .agg(
                    F.floor(
                        F.sum("val").cast("double") / F.count(F.lit(1))
                    )
                    .cast("long")
                    .alias("m")
                )
                .collect()
            )
            upd: dict[int, dict[int, int]] = {}
            for r in upd_rows:
                upd.setdefault(int(r["cell"]), {})[int(r["idx"])] = int(r["m"])
            cents = [
                (cell, [upd[cell][i] for i in range(len(vec))])
                if cell in upd
                else (cell, vec)
                for cell, vec in cents
            ]
    return cents


def ivf_kmeans_topk_grid(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 4,
    n_iters: int = 3,
    scale: int = 1024,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """IVF ANN over kmeans_fit_int_grid cells: integer-exact cell
    boundaries + probe membership, then the shared probe join and exact
    double cosine re-rank on the ORIGINAL float vectors
    (_cell_probe_topk). The fully SQL-statable refined-cells ANN tier.

    ``centroids``: a pre-trained kmeans_fit_int_grid result — index
    builds share one training per corpus (the catalog stages it once
    per process; see catalog_ext._staged_grid_centroids) instead of
    re-running Lloyd per consumer."""
    cents = centroids if centroids is not None else kmeans_fit_int_grid(
        corpus, id_col, vec_col, n_cells, n_iters, scale
    )
    qz = _grid_quantize(vec_col, scale)
    corpus_cells = assign_ivf_cells_int(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            qz.alias("__qv"),
        ),
        cents,
        "__qv",
        1,
    ).select("neighbor_id", "cvec", "cell")
    query_cells = assign_ivf_cells_int(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            qz.alias("__qv"),
        ),
        cents,
        "__qv",
        n_probe,
    ).select("query_id", "qvec", "cell")
    return _cell_probe_topk(query_cells, corpus_cells, k)


# =========================================================================
# Product quantization (PQ): compressed-domain ANN
# =========================================================================


def pq_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    n_iters: int = 8,
    sample_n: int = 4096,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into m subspaces, k-means
    each subspace to n_codes centroids (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    Codebooks are trained on a deterministic hash-sample collected to
    the driver (_hash_sample, capped at ``sample_n``) and refined with
    the numpy Lloyd loop by min squared L2 (_lloyd) — the standard
    production recipe: PQ training wants ~10^4-10^5 vectors regardless
    of corpus size, so the 100 TB corpus never shuffles; only the
    sample moves. Returns plain Python lists (m x n_codes x dim/m) —
    tiny, shipped to executors as expression literals, no broadcast
    variable needed.
    """
    x = _hash_sample(corpus, id_col, vec_col, sample_n)
    if x.shape[0] < n_codes:
        raise ValueError(
            f"pq_fit needs >= n_codes={n_codes} training vectors, "
            f"got {x.shape[0]} (corpus or sample_n too small)"
        )
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: list[list[list[float]]] = []
    for i in range(m):
        xs = x[:, i * sub : (i + 1) * sub]
        # deterministic init: first-occurrence DISTINCT rows (duplicate
        # seeds collapse to one cluster that Lloyd never re-splits);
        # pad with duplicates only if the subspace has fewer distinct
        # values than n_codes — then duplicate centroids are inherent.
        _, first_idx = np.unique(xs, axis=0, return_index=True)
        uniq = xs[np.sort(first_idx)]
        cb = np.concatenate([uniq, xs[: max(0, n_codes - len(uniq))]])
        books.append(_lloyd(xs, cb[:n_codes], n_iters, _min_sq_l2).tolist())
    return books


def pq_init_first_n(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks WITHOUT Lloyd refinement: the
    sub-vectors of the first ``n_codes`` corpus vectors by id — the
    same init-only tier ivf_topk uses for its coarse centroids.

    This exists so the registered catalog queries' full
    encode -> LUT -> ADC -> re-rank chain is SQL-STATABLE (a DuckDB
    twin can rebuild identical codebooks from the same parquet: first
    n by id, slice, cast float->double — both exact), which is what
    graduated x_sim_pq_topk / x_sim_ivfpq_topk from rows-only to
    hash-checked. pq_fit (numpy Lloyd on a hash sample) remains the
    production training path — its float iteration is inherently
    non-statable and stays covered by the recall tests instead.
    Codebook quality is init-grade, so pair it with a generous
    ``refine`` in pq_adc_topk; the exact re-rank bounds the damage.
    """
    rows = (
        corpus.orderBy(id_col)
        .limit(n_codes)
        .select(vec_col)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"pq_init_first_n needs >= n_codes={n_codes} vectors, got {len(rows)}"
        )
    dim = len(rows[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[float(v) for v in r[0][i * sub : (i + 1) * sub]] for r in rows]
        for i in range(m)
    ]


def _book_sql(book: list[list[float]]) -> str:
    """The codebook as SQL array-literal TEXT (_centroid_literal's
    plan-size trick). Building these trees with Column ops costs hundreds of
    Py4J round trips per codebook — with m=8 books each used twice
    (encode + LUT) that profiled as ~3 s of pure plan-construction
    constant per query; one expr string per subspace is ~16 Py4J calls
    total and milliseconds of JVM parse."""
    if any(not math.isfinite(float(v)) for row in book for v in row):
        # repr(nan/inf) + 'D' is unparseable SQL; fail with the cause
        # (degenerate training data) instead of a ParseException later
        raise ValueError(
            "codebook contains non-finite values (NaN/inf) — the PQ "
            "training data is degenerate; clean the embedding column "
            "before pq_fit"
        )
    return "array({})".format(
        ",".join(
            "array({})".format(",".join(repr(float(v)) + "D" for v in row))
            for row in book
        )
    )


def _sq_l2_sql(vec_sql: str, other: str) -> str:
    """Squared L2 between two array exprs, as SQL text. Lambda
    parameters use collision-improbable names: SQL lambda variables
    SHADOW outer columns, so a plain ``(x, y) -> ...`` would silently
    capture a data column named x/y referenced inside ``vec_sql``
    (the Column-closure form this replaced was immune — guard kept)."""
    return (
        f"aggregate(zip_with({vec_sql}, {other}, "
        "(__sq_x, __sq_y) -> CAST(__sq_x AS DOUBLE) - __sq_y), 0D, "
        "(__sq_a, __sq_v) -> __sq_a + __sq_v * __sq_v)"
    )


_SQL_LAMBDA_NAMES = ("__sq_x", "__sq_y", "__sq_a", "__sq_v", "__pq_c", "__pq_j")


def _sub_slice_sql(vec_col: str, i: int, sub: int) -> str:
    if vec_col in _SQL_LAMBDA_NAMES:
        raise ValueError(
            f"vector column name {vec_col!r} collides with an internal "
            "SQL lambda variable; rename the column"
        )
    return f"slice(`{vec_col}`, {i * sub + 1}, {sub})"


def _argmin_code_sql(vec_col: str, i: int, book: list[list[float]]) -> str:
    """Nearest-codeword id for subspace i: transform the codebook into
    (dist, idx) structs, array_sort lexicographically (ties break to
    the lowest code id), take [0].j."""
    sub = len(book[0])
    sq = _sq_l2_sql(_sub_slice_sql(vec_col, i, sub), "__pq_c")
    return (
        f"array_sort(transform({_book_sql(book)}, "
        f"(__pq_c, __pq_j) -> named_struct('d', {sq}, 'j', __pq_j)))[0].j"
    )


def _lut_sql(vec_col: str, i: int, book: list[list[float]]) -> str:
    """Per-subspace ADC lookup table: distance from the query's
    sub-vector to every codeword, as array<double> SQL text."""
    sub = len(book[0])
    sq = _sq_l2_sql(_sub_slice_sql(vec_col, i, sub), "__pq_c")
    return f"transform({_book_sql(book)}, __pq_c -> {sq})"


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Append an array<int> of m code ids per vector.

    The per-subspace argmin is ONE higher-order expression regardless of
    codebook size — transform the codebook literal into (dist, idx)
    structs and take array_sort(...)[0] (struct sort is lexicographic,
    so ties break to the lowest code id). Everything stays in the JVM:
    encoding 10^9 vectors is a map-only scan, no UDF, no shuffle,
    and the codes are 4-16 bytes vs KBs for the raw vector — THE point
    of PQ at 100 TB: downstream candidate scans read codes only.
    """
    return df.withColumn(
        code_col,
        F.expr(
            "array({})".format(
                ",".join(
                    _argmin_code_sql(vec_col, i, b)
                    for i, b in enumerate(codebooks)
                )
            )
        ),
    )


def _lut_cols(vec_col: str, codebooks: list[list[list[float]]]) -> list:
    """One ADC lookup-table column ``_lut{i}`` per codebook."""
    return [
        F.expr(_lut_sql(vec_col, i, b)).alias(f"_lut{i}")
        for i, b in enumerate(codebooks)
    ]


def _adc_shortlist(cand: DataFrame, n_books: int, keep: int) -> DataFrame:
    """The ``keep`` best candidates per query by ADC distance (the sum
    of each code's lookup-table entry), ties to the lower neighbor id.
    ``cand`` carries query_id, neighbor_id, pq_code and the
    ``_lut{i}`` columns."""
    adc = sum(
        F.element_at(F.col(f"_lut{i}"), F.col("pq_code")[i] + 1)
        for i in range(n_books)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    return (
        cand.withColumn("adc", adc)
        .withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= keep)
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    refine: int = 4,
) -> DataFrame:
    """ANN top-k by asymmetric distance computation (ADC) + exact re-rank.

    Corpus side is ENCODED ONCE (m small ints per vector); each query
    broadcasts its per-subspace lookup table (distance from the query
    sub-vector to every codebook centroid), so scoring a candidate is m
    array lookups instead of a dim-wide dot product. The top k*refine
    ADC candidates per query are re-ranked with exact cosine on the raw
    vectors — PQ's approximation error never reaches the final ranking,
    it only chooses WHICH raw vectors get touched.

    At 10^9+ vectors compose with IVF (assign_ivf_cells) so ADC scans a
    cell, not the corpus; the plumbing here is the per-cell inner loop.
    """
    enc = pq_encode(corpus, codebooks, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("pq_code"),
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            *_lut_cols(vec_col, codebooks),
        )
    )
    cand = q.crossJoin(enc).filter(F.col("query_id") != F.col("neighbor_id"))
    return _exact_rerank(_adc_shortlist(cand, len(codebooks), k * refine), k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    refine: int = 4,
    train_iters: int = 10,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ: the composition both halves document as their scale path.

    k-means cells bound WHICH corpus fraction each query touches
    (~n_probe/n_cells); PQ codes bound WHAT is read per candidate
    (m bytes, not the raw vector). This is the FAISS IVFADC layout
    (Jegou et al. 2011 §IV) expressed as DataFrame ops: cell assignment
    and PQ encoding are both map-only scans, the probe is a broadcast
    equi-join on cell id, ADC scoring is m array lookups per candidate,
    and only the k*refine ADC survivors per query have their raw
    vectors touched for the exact-cosine re-rank.

    The coarse quantizer trains on a driver-side hash-sample
    (kmeans_fit_sample, ``train_iters`` numpy Lloyd rounds — the FAISS
    recipe, one Spark job instead of rounds of distributed Lloyd, which
    profiled as ~8 s of pure constant at ANY scale factor) unless
    ``centroids`` supplies a pre-collected ``[(cell, [floats])]`` list
    (e.g. the deterministic first-n init the SQL oracle twin can
    restate), which skips training entirely.
    """
    if centroids is None:
        centroids = kmeans_fit_sample(
            corpus, id_col, vec_col, n_cells, n_iters=train_iters
        )
    corpus_cells = assign_ivf_cells(corpus, centroids, id_col, vec_col, 1)
    enc = pq_encode(corpus_cells, codebooks, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        "cell",
        "pq_code",
    )
    query_cells = assign_ivf_cells(
        queries, centroids, id_col, vec_col, n_probe
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        "cell",
        *_lut_cols(vec_col, codebooks),
    )
    cand = (
        F.broadcast(query_cells)
        .join(enc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _exact_rerank(_adc_shortlist(cand, len(codebooks), k * refine), k)


def scatter_matrix_int(
    vectors: DataFrame, qvec_col: str = "qv", dim: int = 64
) -> DataFrame:
    """Exact-integer moment (scatter) matrix over grid-quantized
    embeddings — the sufficient statistics of covariance/PCA, computed
    the way a 1000-executor job must: each partition folds its rows
    into ONE int64 (dim x dim) X^T X partial plus component sums via
    an Arrow matmul kernel, and the partials merge by plain integer
    addition (map-side-combinable groupBy) — order-insensitive, so the
    result is bit-identical on any engine/cluster and value-hash
    checkable (the kmeans_fit_int_grid rationale applied to second
    moments). The exchange moves O(parts * dim^2) scalar rows, never
    vectors.

    Long-format output, 1-based dims: (i, j, s) with 1 <= i <= j <=
    dim is the upper scatter triangle sum(q_i * q_j); (i, 0) holds the
    component sums sum(q_i); (0, 0) holds the row count. An EMPTY
    input returns zero rows — no (0,0,0) marker — and the oracle twin
    states the same (HAVING COUNT(*) > 0 on its count CTE). cov =
    (S - m m^T / n) / n follows driver-side in float (pca_fit).
    Overflow headroom: |q| <= 2^11 grids give per-row products <=
    2^22; int64 holds ~2^41 such rows per cell.
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), False),
            T.StructField("j", T.IntegerType(), False),
            T.StructField("s", T.LongType(), False),
        ]
    )
    iu, ju = np.triu_indices(dim)

    def partials(batches):
        acc = np.zeros((dim, dim), dtype=np.int64)
        msum = np.zeros(dim, dtype=np.int64)
        total = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(q, dtype=np.int64) for q in pdf[qvec_col]]
            )
            acc += X.T @ X
            msum += X.sum(axis=0)
            total += len(X)
        if total == 0:
            return
        yield pd.DataFrame(
            {
                "i": np.concatenate(
                    [iu + 1, np.arange(1, dim + 1), [0]]
                ).astype("int32"),
                "j": np.concatenate(
                    [ju + 1, np.zeros(dim, dtype=int), [0]]
                ).astype("int32"),
                "s": np.concatenate(
                    [acc[iu, ju], msum, [total]]
                ).astype("int64"),
            }
        )

    part = vectors.select(qvec_col).mapInPandas(partials, schema=out_schema)
    return part.groupBy("i", "j").agg(F.sum("s").cast("long").alias("s"))


def pca_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    scale: int = 1024,
):
    """PCA over the embedding column: moments via the exact-integer
    scatter kernel (scatter_matrix_int — one distributed pass), then
    the dim x dim eigendecomposition driver-side in numpy (64x64 —
    constant work, the same bounded-collect class as k-means
    centroids). Returns (components, eigvals, mean): components is a
    (k, dim) float64 array of unit eigenvectors sorted by descending
    eigenvalue — the production float tier (eigh is library numerics,
    so only the integer MOMENTS sit behind the hash gate, the
    ln()/PMI split applied to linear algebra). Sign convention: each
    component's largest-|coordinate| entry is made positive, so the
    basis is deterministic across BLAS builds up to eigenvalue ties.
    """
    head = corpus.select(vec_col).first()
    if head is None:
        raise ValueError("pca_fit: empty corpus")
    dim = len(head[0])
    q = corpus.select(_grid_quantize(vec_col, scale).alias("qv"))
    rows = scatter_matrix_int(q, "qv", dim=dim).collect()
    S = np.zeros((dim, dim), dtype=np.float64)
    m = np.zeros(dim, dtype=np.float64)
    n = 0
    for r in rows:
        if r["i"] == 0:
            n = r["s"]
        elif r["j"] == 0:
            m[r["i"] - 1] = r["s"]
        else:
            S[r["i"] - 1, r["j"] - 1] = r["s"]
            S[r["j"] - 1, r["i"] - 1] = r["s"]
    if n == 0:
        raise ValueError("pca_fit: empty corpus")
    cov = (S - np.outer(m, m) / n) / n / (scale * scale)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1
    return comps, vals[order], m / n / scale


def pca_project(
    df: DataFrame,
    components,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project the embedding column onto fitted components (mean-free
    inner products — centering shifts all points equally and is
    omitted, the standard whitening-free projection): a (k x dim)
    literal folded into one JVM expression per output dim, map-only,
    codegen-friendly — no Python in the hot path."""
    exprs = []
    for ci, comp in enumerate(components):
        terms = " + ".join(
            f"CAST({vec_col}[{d}] AS DOUBLE) * {float(w)!r}D"
            for d, w in enumerate(comp)
        )
        exprs.append(f"({terms})")
    return df.withColumn(
        out_col, F.expr("array(" + ", ".join(exprs) + ")")
    )


def _idot(a, b):
    """Exact integer dot product of two long-array columns (zip_with
    multiply, aggregate sum) — order-fixed left fold, but integer adds
    commute so ANY partitioning yields the same value."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def mmr_rerank(
    emb: DataFrame,
    queries: DataFrame,
    k_candidates: int = 16,
    m: int = 5,
    grid_bits: int = 10,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998)
    — the diversity-aware top-k a retrieval/curation pipeline runs on
    ANN candidates so the m results are not m copies of the same
    near-duplicate: greedily pick argmax of
    ``lambda * rel(q, c) - (1 - lambda) * max_{s in selected} sim(c, s)``
    with lambda = 1/2, scaled by 2 to ``rel - max_div`` (first pick =
    pure relevance, max over the empty set = 0).

    DETERMINISTIC BY CONSTRUCTION (the integer-grid discipline every
    selection operator here follows): vectors quantize to
    floor(v * 2^grid_bits) longs, relevance and diversity are exact
    integer dot products, and every argmax breaks ties by ascending
    candidate id — so the selected SET (not just its scores) is
    bit-reproducible across partitionings and engines, and the DuckDB
    oracle states the full greedy unrolled as CTEs.

    Scale shape: the only corpus-sized stage is candidate generation
    (broadcast the handful of queries, score map-side, per-query
    window top-k_candidates — same plan as brute_force_topk; swap in
    the IVF/LSH tier to cut it). The greedy itself is ONE Arrow
    applyInPandas stage grouped by query_id — k_candidates x dim int64
    matmul for the pairwise diversity dots plus m integer selection
    rounds per group, embarrassingly parallel across queries. (A
    chained-DataFrame-join formulation was measured first: 8+ s warm
    at sf0.1 for 40 output rows, all scheduling/planning overhead on
    <=128-row frames — exactly the SemDeDup precedent for moving a
    tiny numeric selection loop into one Arrow kernel.)

    Returns (query_id, position, selected_id, mmr_score) with
    position 1..m.
    """
    import pandas as pd

    scale = 1 << grid_bits
    q = queries.select(
        F.col(key_col).alias("query_id"),
        _grid_quantize(vec_col, scale).alias("qv"),
    )
    c = emb.select(
        F.col(key_col).alias("cid"),
        _grid_quantize(vec_col, scale).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("query_id"))
        .select("query_id", "cid", "cv", _idot("qv", "cv").alias("rel"))
    )
    w_rel = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("cid")
    )
    cand = (
        scored.withColumn("crank", F.row_number().over(w_rel))
        .filter(F.col("crank") <= k_candidates)
        .select("query_id", "cid", "cv", "rel")
    )

    out_schema = (
        "query_id long, position int, selected_id long, mmr_score long"
    )

    def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
            # deterministic candidate order regardless of arrival order
        pdf = pdf.sort_values("cid").reset_index(drop=True)
        ids = pdf["cid"].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.int64)
        V = np.array(list(pdf["cv"]), dtype=np.int64)
        D = V @ V.T  # exact: |entries| < 2^13 -> dots < 2^32 << int64
        n = len(ids)
        selected: list[int] = []
        rows = []
        for pos in range(1, min(m, n) + 1):
            best = None
            for i in range(n):
                if i in selected:
                    continue
                div = max(int(D[i, j]) for j in selected) if selected else 0
                score = int(rel[i]) - (div if selected else 0)
                # argmax with (score DESC, cid ASC) tiebreak
                if best is None or score > best[0] or (
                    score == best[0] and ids[i] < ids[best[1]]
                ):
                    best = (score, i)
            selected.append(best[1])
            rows.append(
                (int(pdf["query_id"].iloc[0]), pos,
                 int(ids[best[1]]), best[0])
            )
        return pd.DataFrame(
            rows, columns=["query_id", "position", "selected_id", "mmr_score"]
        )

    return cand.groupBy("query_id").applyInPandas(greedy, out_schema)
