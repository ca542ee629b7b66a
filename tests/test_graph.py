"""Connected components + cluster dedup (operators/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark.operators.graph import (
    connected_components,
    dedup_by_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def _cc(spark, pairs):
    out = connected_components(_edges(spark, pairs))
    return {r["node"]: r["component"] for r in out.collect()}


def test_cc_two_pairs(spark):
    assert _cc(spark, [(1, 2), (3, 4)]) == {1: 1, 2: 1, 3: 3, 4: 3}


def test_cc_chain_transitivity(spark):
    # a~b, b~c, c~d: one component even though a!~d directly
    assert _cc(spark, [(2, 3), (3, 4), (4, 5)]) == {2: 2, 3: 2, 4: 2, 5: 2}


def test_cc_star_and_clique(spark):
    pairs = [(10, 11), (10, 12), (10, 13)] + [(20, 21), (20, 22), (21, 22)]
    got = _cc(spark, pairs)
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20, 22: 20}


def test_cc_long_chain_converges_fast(spark):
    # 64-node path: worst case for naive propagation (63 rounds);
    # path halving must land it well inside the iteration budget
    pairs = [(i, i + 1) for i in range(64)]
    got = connected_components(_edges(spark, pairs), max_iterations=12)
    labels = {r["component"] for r in got.collect()}
    assert labels == {0}


def test_cc_direction_and_duplicates_irrelevant(spark):
    assert (
        _cc(spark, [(5, 2), (2, 5), (5, 2), (9, 5)])
        == {2: 2, 5: 2, 9: 2}
    )


def test_cc_empty_edges(spark):
    out = connected_components(_edges(spark, []))
    assert out.collect() == []


def test_dedup_by_clusters_keeps_min_and_untouched(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    # clusters {1,2,3} (chain) and {5,6}; docs 4 and 7 untouched
    pairs = _edges(spark, [(1, 2), (2, 3), (5, 6)])
    got = {
        r["doc_id"]: r["n_members"]
        for r in dedup_by_clusters(docs, pairs).collect()
    }
    assert got == {1: 3, 4: 1, 5: 2, 7: 1}


def test_cc_matches_driver_corpus_shape(spark, sf_dir):
    """On the real fixture pairs (jaccard >= 0.5) every cluster id is a
    member of its own cluster and the minimum of it."""
    from glue_jobs_for_data_pipeline_spark import lifecycle
    from glue_jobs_for_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from glue_jobs_for_data_pipeline_spark.sources.readers import load_table

    with lifecycle.query_scope():
        pairs = ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"), "doc_id", "text",
            k=3, threshold=0.5, df_cap=100, posts_partitions=8,
        ).select("doc_a", "doc_b")
        cc = connected_components(pairs).collect()
    by_comp = {}
    for r in cc:
        by_comp.setdefault(r["component"], []).append(r["node"])
    assert by_comp, "fixture should contain planted near-dup pairs"
    for comp, nodes in by_comp.items():
        assert comp == min(nodes)
        assert len(nodes) >= 2


# --- property: agree with a reference union-find on random graphs -------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_edge = st.tuples(
    st.integers(min_value=0, max_value=14),
    st.integers(min_value=0, max_value=14),
).filter(lambda e: e[0] != e[1])


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize to min-of-component
    return {n: find(n) for n in parent}


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(_edge, min_size=1, max_size=20))
def test_cc_agrees_with_union_find(spark, edges):
    got = _cc(spark, [(int(a), int(b)) for a, b in edges])
    want = _union_find(edges)
    # union-find with min-root union keeps the min as root, so both
    # sides canonicalize to the component minimum
    assert got == want


def test_dedup_by_clusters_best_keeps_highest_score(spark):
    """Quality-keep: the survivor of each cluster is the argmax-score
    member (ties -> smallest id), untouched docs pass through with
    n_members=1 and their own score."""
    from glue_jobs_for_data_pipeline_spark.operators.graph import (
        dedup_by_clusters_best,
    )

    docs = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.5), (4, 0.7), (5, 0.7), (9, 0.2)],
        "doc_id long, score double",
    )
    # chain {1,2,3} -> survivor 2 (max score); pair {4,5} tied -> 4
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: (r["n_members"], r["score"])
        for r in dedup_by_clusters_best(docs, pairs, "doc_id", "score").collect()
    }
    assert out == {2: (3, 0.9), 4: (2, 0.7), 9: (1, 0.2)}


# --- k-core: agree with a sequential pure-Python peel -------------------


def _py_kcore(edges, k):
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    while True:
        drop = [n for n, nb in adj.items() if len(nb) < k]
        if not drop:
            break
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(nb) for n, nb in adj.items()}


def _spark_kcore(spark, pairs, k):
    from glue_jobs_for_data_pipeline_spark.operators.graph import kcore

    df = spark.createDataFrame(pairs, ["src", "dst"])
    return {
        r["node"]: r["core_degree"] for r in kcore(df, k=k).collect()
    }


def test_kcore_triangle_plus_tail(spark):
    # triangle {1,2,3} is the 2-core; the 3-4-5 tail peels away
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    assert _spark_kcore(spark, pairs, 2) == {1: 2, 2: 2, 3: 2}


def test_kcore_empties_when_k_exceeds_degeneracy(spark):
    pairs = [(1, 2), (2, 3), (1, 3)]
    assert _spark_kcore(spark, pairs, 3) == {}


def test_kcore_duplicates_and_direction_irrelevant(spark):
    pairs = [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3)]
    assert _spark_kcore(spark, pairs, 2) == {1: 2, 2: 2, 3: 2}


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(_edge, min_size=1, max_size=25), k=st.integers(2, 4))
def test_kcore_agrees_with_sequential_peel(spark, edges, k):
    pairs = [(int(a), int(b)) for a, b in edges]
    assert _spark_kcore(spark, pairs, k) == _py_kcore(pairs, k)


def test_kcore_fixture_query_matches_sequential_peel(spark, sf_dir):
    """x_graph_kcore (support-2 co-purchase graph, k=3) vs a pure-Python
    sequential peel of the same graph built independently via DuckDB —
    end-to-end ground truth for the registered rows-only query."""
    import collections

    import duckdb

    from glue_jobs_for_data_pipeline_spark.plans.mining_pack import (
        x_graph_kcore,
    )

    q = f"""
    WITH p AS (
      SELECT x.l_partkey AS s, y.l_partkey AS t,
             COUNT(DISTINCT x.l_orderkey) AS w
      FROM '{sf_dir}/lineitem.parquet' x
      JOIN '{sf_dir}/lineitem.parquet' y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
      GROUP BY 1, 2)
    SELECT s, t FROM p WHERE w >= 2"""
    adj = collections.defaultdict(set)
    for s, t in duckdb.sql(q).fetchall():
        adj[s].add(t)
        adj[t].add(s)
    while True:
        drop = [n for n, nb in adj.items() if len(nb) < 3]
        if not drop:
            break
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    want = {n: len(nb) for n, nb in adj.items()}

    got = {
        r["node"]: r["core_degree"]
        for r in x_graph_kcore(spark, sf_dir).collect()
    }
    assert got == want


# --- coreness: agree with the textbook sequential decomposition ---------


def _py_coreness(edges):
    """Reference core decomposition: repeatedly strip all nodes of
    degree <= k for k = 0, 1, 2, ... — each node's coreness is the k
    at which it leaves."""
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    core = {}
    k = 0
    while adj:
        drop = [n for n, nb in adj.items() if len(nb) <= k]
        if not drop:
            k += 1
            continue
        for n in drop:
            core[n] = k
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return core


def _spark_coreness(spark, pairs):
    from glue_jobs_for_data_pipeline_spark.operators.graph import coreness

    df = spark.createDataFrame(pairs, ["src", "dst"])
    return {r["node"]: r["coreness"] for r in coreness(df).collect()}


def test_coreness_triangle_plus_tail(spark):
    # triangle nodes have coreness 2; the tail path has coreness 1
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    assert _spark_coreness(spark, pairs) == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1}


def test_coreness_clique(spark):
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert _spark_coreness(spark, pairs) == {0: 3, 1: 3, 2: 3, 3: 3}


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(_edge, min_size=1, max_size=25))
def test_coreness_agrees_with_sequential_decomposition(spark, edges):
    pairs = [(int(a), int(b)) for a, b in edges]
    got = _spark_coreness(spark, pairs)
    want = _py_coreness(pairs)
    # the reference assigns coreness to every node incl. isolated-by-
    # self-loop ones it never saw an edge for; restrict to shared keys
    assert got == {n: c for n, c in want.items()}


def test_coreness_slice_matches_kcore_query(spark, sf_dir):
    """{coreness >= 3} must equal the 3-core's node set on the fixture
    graph — ties the rows-only coreness query to the ORACLE-CHECKED
    x_graph_kcore."""
    from glue_jobs_for_data_pipeline_spark.plans.metrics_pack import (
        x_graph_coreness,
    )
    from glue_jobs_for_data_pipeline_spark.plans.mining_pack import (
        x_graph_kcore,
    )

    cg = {
        r["node"]: r["coreness"]
        for r in x_graph_coreness(spark, sf_dir).collect()
    }
    core3 = {r["node"] for r in x_graph_kcore(spark, sf_dir).collect()}
    assert {n for n, c in cg.items() if c >= 3} == core3


def test_canonical_flag_equivalent_on_canonical_input(spark):
    """canonical=True only skips the symmetrize dedup shuffle — on an
    input that IS canonical (src < dst, unique) results must be
    identical to the default path for both kcore and coreness."""
    from glue_jobs_for_data_pipeline_spark.operators.graph import (
        coreness,
        kcore,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)],
        "src long, dst long",
    )
    a = {(r["node"], r["core_degree"]) for r in kcore(edges, 2).collect()}
    b = {
        (r["node"], r["core_degree"])
        for r in kcore(edges, 2, canonical=True).collect()
    }
    assert a == b and a
    ca = {(r["node"], r["coreness"]) for r in coreness(edges).collect()}
    cb = {
        (r["node"], r["coreness"])
        for r in coreness(edges, canonical=True).collect()
    }
    assert ca == cb and ca


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=st.lists(_edge, min_size=1, max_size=20))
def test_pagerank_int_grid_tracks_float_on_random_graphs(spark, edges):
    """The r14 SQL-statable integer-grid PageRank tier: on arbitrary
    small digraphs (self-loops filtered, dangling nodes common), the
    2^40-scaled ranks must track the float tier within the documented
    flooring bound — the cross-tier differential that pins the grid
    arithmetic beyond the single hand-built case."""
    from glue_jobs_for_data_pipeline_spark.operators.graph import (
        pagerank,
        pagerank_int_grid,
    )

    es = [(int(a), int(b)) for a, b in edges if a != b]
    if not es:
        return
    e = spark.createDataFrame(es, "src long, dst long")
    flt = {r["node"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
    grid = {
        r["node"]: r["rank_scaled"] / float(1 << 40)
        for r in pagerank_int_grid(e, iterations=4).collect()
    }
    assert set(grid) == set(flt)
    # 4 rounds x <= (|E|+n+2) floors of < 2^-40 each, generously bounded
    tol = 4 * (len(es) + len(flt) + 2) * 2**-40 + 1e-9
    for u in flt:
        assert abs(grid[u] - flt[u]) <= tol, (u, grid[u], flt[u], tol)


def test_pagerank_single_iteration_survives_two_actions(spark):
    """The FINAL iteration's localCheckpoint is LAZY (the caller's
    first action materializes it). iterations=1 makes it the ONLY
    checkpoint — the boundary where prev_ranks/nodes/ed lifecycle all
    route through the lazy path — and a second action must read the
    now-materialized blocks, not a freed lineage."""
    from glue_jobs_for_data_pipeline_spark.operators.graph import (
        pagerank,
        pagerank_int_grid,
    )

    e = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "src long, dst long")
    df = pagerank(e, iterations=1)
    df.write.format("noop").mode("overwrite").save()  # materializes
    got = {r["node"]: r["rank"] for r in df.collect()}  # reads blocks
    # hand-computed: n=3, no dangling, unit out-degrees; contribs
    # 2<-1/3, 1<-2/3: r = 0.05 + 0.85 * contrib
    assert got[1] == pytest.approx(0.05 + 0.85 * (2 / 3), abs=1e-12)
    assert got[2] == pytest.approx(0.05 + 0.85 * (1 / 3), abs=1e-12)
    assert got[3] == pytest.approx(0.05, abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    g = pagerank_int_grid(e, iterations=1)
    g.write.format("noop").mode("overwrite").save()
    grid = {r["node"]: r["rank_scaled"] / float(1 << 40) for r in g.collect()}
    for u in got:
        assert abs(grid[u] - got[u]) <= 8 * 2**-40 + 1e-9


# Spark jobs for building a ranking and running one action on it, by
# iteration count: the eager node and edge checkpoints, the node count,
# one eager checkpoint per round but the last, and the caller's action,
# which also materializes the lazy final round. Adaptive execution runs
# each shuffle and broadcast stage as a job of its own, so a round costs
# nine jobs on this graph.
PAGERANK_JOBS = {1: 19, 3: 37}


@pytest.mark.parametrize("fn", ["pagerank", "pagerank_int_grid"])
@pytest.mark.parametrize("iterations", sorted(PAGERANK_JOBS))
def test_pagerank_job_count(spark, count_jobs, fn, iterations):
    from glue_jobs_for_data_pipeline_spark import lifecycle
    from glue_jobs_for_data_pipeline_spark.operators import graph

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1), (2, 4)], "src long, dst long"
    )
    with lifecycle.query_scope():
        jobs = count_jobs(
            lambda: getattr(graph, fn)(e, iterations=iterations)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    assert jobs == PAGERANK_JOBS[iterations]
