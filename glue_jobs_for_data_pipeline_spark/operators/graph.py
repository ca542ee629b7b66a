"""Connected components over a pair/edge list — the transitive-closure
step that turns near-duplicate PAIRS (ngram_jaccard_pairs,
minhash_lsh_pairs, embedding_dup_pairs_*) into duplicate CLUSTERS, so a
corpus build can keep exactly one canonical document per cluster.
Dropping doc_b of every pair — the naive alternative — over-deletes on
chains (a~b, b~c deletes both b and c even though a!~c was never
established) and under-deletes nothing only when the pair set is already
transitively closed; clusters are the principled contract.

No counterpart in the reference (its dedup is key-equality SCD-2,
dynamic_upsert.py:110-152); this is LLM-pipeline scope.

Algorithm: iterative min-label propagation with path halving — the
standard shared-nothing CC recipe (the same convergence idea as
Kiveris et al.'s alternating-star MapReduce algorithm, stated on
DataFrames):

  label(u) <- min(label(u), min_{(u,v) in E} label(v))   # propagate
  label(u) <- label(label(u))                            # halve

Labels are node ids, start at self, only decrease, and are bounded below
by the component minimum — so the loop terminates. When an iteration
changes nothing, every edge has label(u) == label(v) (symmetric edges +
"no decrease possible" give <= both ways), i.e. labels are constant per
component, and the component minimum still carries its own id — the
fixpoint IS the answer, so the convergence check doubles as a
correctness certificate. Path halving (pointer jumping) contracts label
chains geometrically: without it a length-d path needs d rounds; with it
O(log d).

Scale shape per iteration: two shuffles (edge join + min-groupBy on
node; halving self-join on label) and one O(1) driver action (the
converged? check — an exact label-sum aggregate compared across
iterations, valid because labels only decrease; no diff join). A LAZY
``localCheckpoint`` after every iteration truncates the lineage —
iterative plans otherwise grow the DAG linearly and re-execute the
whole history each action — and the convergence sum is the action
that materializes it, so each round is ONE Spark job, not a
checkpoint job followed by a sum job (r20; the kcore/coreness
pattern, guide §1.2 — fixed per-job cost dominates the small rounds). The
halving join's key is the label, which a giant component concentrates
onto one value — AQE's skew-join split handles that at scale (the
right-hand side is the full label table, so a broadcast is not an
option); the propagate join's key is the edge endpoint, which is as
skewed as the graph's max degree (cap upstream via df_cap/bucket_cap,
exactly like the pair generators already do).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    smallest node id reachable from the node. Nodes with no edges are
    absent (they are their own singleton cluster by definition — callers
    union them back if they need total coverage; see dedup_by_clusters).

    Raises RuntimeError if not converged within ``max_iterations`` —
    loud beats silently-partial clusters; with path halving the bound is
    O(log(longest chain)), so 50 covers any graph whose chains fit in
    2^50 hops.

    The result reads a local checkpoint registered with
    ``ckpt.release_checkpoints()``: act on it (collect, write, or
    checkpoint what is kept) before releasing, or the plan reads blocks
    that are gone.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # Materialize the edge list ONCE: every iteration touches sym three
    # times (propagate join, and transitively via both label tables), so
    # an unmaterialized sym re-executes its entire upstream pipeline —
    # e.g. the full Jaccard pair generation — several times per round
    # (measured 13.7s -> 2.5s on the sf0.01 cluster query from this one
    # line). localCheckpoint also cuts the upstream lineage out of every
    # subsequent plan.
    from . import ckpt

    # LAZY checkpoints throughout (r20): the convergence sum below is
    # the action that materializes lab (and transitively sym — its
    # blocks persist during that same job), so the init pays one job,
    # not three.
    sym = sym.localCheckpoint(eager=False)
    lab = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    lab = lab.localCheckpoint(eager=False)
    # Convergence watch: labels start at self and can only DECREASE
    # (min-propagation), so the label-sum is strictly monotone across a
    # changing iteration and constant exactly at the fixpoint. Comparing
    # sums replaces the old per-iteration old⋈new diff join (a full
    # extra shuffle each round) with one partition-local aggregate over
    # the already-checkpointed result. decimal(38,0) keeps the sum exact
    # for any realistic corpus (bigint ids × billions of nodes overflows
    # int128 only past ~1e19 total, far beyond 100 TB row counts).
    _sum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    prev_sum = _sum(lab)
    for _ in range(max_iterations):
        prop = sym.join(
            lab.select(F.col("node").alias("v"), "label"), "v"
        ).select(F.col("u").alias("node"), "label")
        new = (
            lab.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # path halving: a label is always itself a node (it is some
        # node's id that reached us), so the inner self-join is total
        halved = new.join(
            new.select(
                F.col("node").alias("label"), F.col("label").alias("_ll")
            ),
            "label",
        ).select("node", F.col("_ll").alias("label"))
        # lazy: the convergence sum is the materializing action — one
        # job per round instead of checkpoint + sum
        halved = halved.localCheckpoint(eager=False)
        cur_sum = _sum(halved)
        # round N's labels are superseded the moment round N+1 is
        # materialized (by the sum above) — free the blocks NOW
        # instead of letting dead copies pile up across iterations and
        # queries (operators/ckpt.py module doc: the r10 bench
        # regression). The FINAL table is registered for release at
        # release_caches() time, after the caller materializes.
        ckpt.free(lab)
        lab = halved
        if cur_sum == prev_sum:
            ckpt.free(sym)
            ckpt.register(lab)
            return lab.select("node", F.col("label").alias("component"))
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def dedup_by_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """One canonical row per near-duplicate cluster: cluster the pair
    graph, keep the minimum doc id of each cluster, and pass through
    every document that appears in no pair (singleton clusters).
    Output: (id_col, n_members) — n_members = 1 for untouched docs.

    The docs side never shuffles its payload: in-graph survivors come
    straight from the component-min aggregation (the component label IS
    the minimum member id, so no join back to docs is needed), and the
    untouched docs are one left-anti id join against the (small relative
    to the corpus) clustered-node table.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    members = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    clustered_ids = cc.select(F.col("node").alias(id_col))
    survivors_in_graph = members.select(
        F.col("component").alias(id_col), "n_members"
    )
    untouched = (
        docs.select(id_col)
        .join(clustered_ids, id_col, "left_anti")
        .withColumn("n_members", F.lit(1).cast("long"))
    )
    return survivors_in_graph.unionByName(untouched)


def dedup_by_clusters_best(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Quality-aware cluster dedup: keep the HIGHEST-``score_col`` member
    of each near-duplicate cluster (ties -> smallest id) instead of
    dedup_by_clusters' smallest-id convention — the retention policy a
    training-corpus build actually wants (of N near-identical docs, keep
    the cleanest rendition, not the one that happened to get the lowest
    id). Output: (id_col, n_members, score_col); n_members = 1 for
    pair-free docs.

    Cost above dedup_by_clusters: one extra id-keyed join of (id, score)
    pairs onto the clustered-node table (graph-sized, small relative to
    the corpus) and a per-component window whose partitions are cluster-
    sized — bounded by the pair generators' caps, never corpus-sized.
    Doc payloads never shuffle; only (id, score) moves.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    scored = docs.select(F.col(id_col), F.col(score_col))
    mem = cc.join(
        scored.withColumnRenamed(id_col, "node"), "node"
    )
    w_rank = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.asc("node")
    )
    w_comp = Window.partitionBy("component")
    ranked = mem.withColumn("_rk", F.row_number().over(w_rank)).withColumn(
        "n_members", F.count(F.lit(1)).over(w_comp).cast("long")
    )
    survivors = ranked.filter(F.col("_rk") == 1).select(
        F.col("node").alias(id_col), "n_members", score_col
    )
    untouched = (
        scored.join(cc.select(F.col("node").alias(id_col)), id_col, "left_anti")
        .withColumn("n_members", F.lit(1).cast("long"))
        .select(id_col, "n_members", score_col)
    )
    return survivors.unionByName(untouched)


class _RankDomain(NamedTuple):
    """The four things a PageRank numeric domain decides; everything
    else is the shared loop in _power_iterate."""

    init: Callable[[int], Column]  # n -> every node's starting rank
    contrib: Column  # one edge's share, from ``rank`` and ``deg``
    dangling: Column  # aggregate of ``rank`` over the dangling nodes
    update: Callable[[int], Column]  # n -> new rank, from _dm and contrib


def _power_iterate(
    edges: DataFrame, src: str, dst: str, iterations: int, dom: _RankDomain
) -> DataFrame:
    """(node, rank) after ``iterations`` damped power-iteration rounds in
    the numeric domain ``dom``.

    The node table carries a dangling flag (no out-edges) from the
    start, so each round's dangling mass is a filter-aggregate over the
    ranks, broadcast into the update as a one-row cross join. A round
    is one contribution shuffle grouped by dst, joined against the
    degree-annotated edges checkpointed once. Every round's ranks are
    checkpointed eagerly except the last, which is lazy: the caller's
    first action materializes it. The blocks that lazy plan reads (the
    nodes, the edges, the previous round's ranks) are registered for
    release_checkpoints() rather than freed, so callers must act on the
    result before releasing."""
    from . import ckpt

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            deg.select(F.col("src").alias("node"), "deg"),
            "node",
            "left_outer",
        )
        .select("node", F.col("deg").isNull().alias("_dang"))
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        # init(0) would divide by zero; with no rows, any rank of the
        # domain's type will do
        ckpt.register(nodes)
        return nodes.select("node", dom.init(1).alias("rank"))
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    ranks = nodes.select("node", dom.init(n).alias("rank"), "_dang")
    prev_ranks = None
    for it in range(iterations):
        last = it == iterations - 1
        contribs = (
            ed.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .select("dst", dom.contrib.alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = ranks.filter(F.col("_dang")).agg(dom.dangling.alias("_dm"))
        ranks = (
            nodes.join(
                contribs.withColumnRenamed("dst", "node"), "node", "left_outer"
            )
            .crossJoin(F.broadcast(dangling))
            .select("node", dom.update(n).alias("rank"), "_dang")
            .localCheckpoint(eager=not last)
        )
        if prev_ranks is not None:
            # an eager checkpoint no longer reads the previous round;
            # the lazy final one does until the caller's action
            (ckpt.register if last else ckpt.free)(prev_ranks)
        prev_ranks = ranks
    ckpt.register(nodes)
    if prev_ranks is None:  # no rounds: the initial ranks read only nodes
        ckpt.free(ed)
    else:
        ckpt.register(ed)
        ckpt.register(ranks)
    return ranks.select("node", "rank")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after ``iterations`` of damped power iteration over
    a DIRECTED edge list, in doubles:

    r_{t+1}(v) = (1-d)/n + d * dangling_mass / n
                 + d * sum_{(u,v) in E} r_t(u)/deg(u)

    Dangling nodes (no out-edges) redistribute their mass uniformly —
    the standard stochastic-matrix completion, so sum(rank) stays 1 at
    every iteration. The update keeps that term order so the
    pure-Python differential in tests/test_analytics_pack.py holds to
    1e-9.
    No convergence check — a fixed iteration count. Per-node double
    sums depend on partial-aggregation order, so the float ranks are
    checked against Python, not hashed; pagerank_int_grid is the
    hash-checkable domain. Job shape: _power_iterate.

    The result is a lazy checkpoint over blocks registered with
    ``ckpt.release_checkpoints()``: act on it (collect, write, or
    checkpoint what is kept) before releasing, or the plan reads blocks
    that are gone.
    """
    return _power_iterate(
        edges,
        src,
        dst,
        iterations,
        _RankDomain(
            init=lambda n: F.lit(1.0 / n),
            contrib=F.col("rank") / F.col("deg"),
            dangling=F.coalesce(F.sum("rank"), F.lit(0.0)),
            update=lambda n: (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.col("_dm") / F.lit(float(n))
                + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ),
        ),
    )


def pagerank_int_grid(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    scale: int = 1 << 40,
) -> DataFrame:
    """PageRank whose every intermediate is exact 64-bit integer
    arithmetic, so the fixed-iteration chain is SQL-statable and its
    output hash-checkable (the grid idea of
    similarity.kmeans_fit_int_grid).

    Ranks are scaled integers R = rank * ``scale``; the damped update
    (d = 0.85 = 17/20) uses only nonnegative integer division (floor ==
    trunc, so Spark's ``div`` and DuckDB's ``//`` agree bit-for-bit):

        tele    = (3 * S) div (20 * n)              -- 0.15/n
        R'(v)   = tele + (17 * (dm div n + contrib(v))) div 20
        contrib = sum over in-edges (u,v) of R(u) div outdeg(u)
        dm      = sum of R over dangling nodes

    Each floor drops < 1 unit of 1/scale mass per term, so total mass
    decays by < (|E| + n) / scale per round — immaterial for ranking,
    and reproduced exactly by any engine because integer sums do not
    depend on aggregation order. Job shape: _power_iterate.

    The result is a lazy checkpoint over blocks registered with
    ``ckpt.release_checkpoints()``: act on it (collect, write, or
    checkpoint what is kept) before releasing, or the plan reads blocks
    that are gone.

    Returns (node, rank_scaled BIGINT); divide by ``scale`` for the
    float rank. Agreement with pagerank is asserted in
    tests/test_graph.py.
    """
    return _power_iterate(
        edges,
        src,
        dst,
        iterations,
        _RankDomain(
            init=lambda n: F.lit(scale // n).cast("long"),
            contrib=F.expr("`rank` div `deg`"),
            dangling=F.coalesce(F.sum("rank"), F.lit(0)).cast("long"),
            update=lambda n: (
                F.lit((3 * scale) // (20 * n)).cast("long")
                + F.expr(
                    f"(17 * ((_dm div {n}) + coalesce(contrib, 0L))) div 20"
                )
            ),
        ),
    ).withColumnRenamed("rank", "rank_scaled")


def triangle_counts(edges: DataFrame, canonical: bool = False) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    list (columns ``src``, ``dst``; self-loops ignored, duplicates and
    reversed duplicates collapsed here). With ``canonical=True`` the
    caller asserts src < dst with one row per undirected edge (the
    _symmetrize contract), and the dedup pass — a full-edge-set
    exchange — is provably redundant and skipped.

    Scale shape — degree-ordered orientation + adjacency intersection
    (the edge-iterator formulation): orient every undirected edge from
    its lower-(degree, id) endpoint to its higher one, so every node's
    OUT-degree is O(sqrt(m)) regardless of its raw degree — a hub with
    10^6 neighbors keeps only its (few) higher-ranked ones. Each
    triangle {a,b,c} with rank(a)<rank(b)<rank(c) is then found exactly
    once at its base edge (a,b) as c in N+(a) ∩ N+(b). The
    intersection runs JVM-local via array_intersect over SORTED
    out-neighbor arrays (each bounded O(sqrt m) by the orientation), so
    the only shuffles are the adjacency groupBy and two equi-joins on
    node keys — the wedge set (sum of outdeg^2, the m^1.5 term) is
    never materialized through an exchange, which is what made the
    naive wedge-join plan 5x slower at sf0.1. The oriented edge set is
    localCheckpoint-ed: three consumers (edge list + both adjacency
    probes) read one materialization instead of re-running the
    upstream edge derivation per consumer.

    No counterpart in the reference (no graph queries in the 4 Redshift
    scripts); LLM-pipeline scope — same family as the near-dup cluster
    graph ops above.
    """
    if canonical:
        und = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    else:
        und = (
            edges.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .distinct()
        )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # rank = (deg, id); orient low -> high. Broadcast-size only for toy
    # graphs, so join degrees in (shuffle on node, AQE picks strategy).
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ranked = und.join(da, "a").join(db, "b")
    lo_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    from . import ckpt

    # checkpoint() (not bare localCheckpoint): the returned lazy plan
    # reads `oriented` three ways, so the blocks must live until the
    # caller materializes — registered for release_caches().
    oriented = ckpt.checkpoint(
        ranked.select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # out-adjacency, sorted so array_intersect merges linearly
    adj = oriented.groupBy("u").agg(
        F.array_sort(F.collect_list("v")).alias("nbrs")
    )
    e = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    ja = adj.select(F.col("u").alias("a"), F.col("nbrs").alias("na"))
    jb = adj.select(F.col("u").alias("b"), F.col("nbrs").alias("nb"))
    tri = (
        e.join(ja, "a")
        .join(jb, "b")
        .select(
            "a",
            "b",
            F.explode(F.array_intersect("na", "nb")).alias("c"),
        )
    )  # (a, b, c) = one triangle, rank(a) < rank(b) < rank(c)
    return (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _symmetrize(edges: DataFrame, canonical: bool) -> DataFrame:
    """Undirected pair list -> symmetric edge set. With
    ``canonical=True`` the caller asserts the input is already in
    canonical form (src < dst, one row per undirected edge) — then the
    two union legs are disjoint BY CONSTRUCTION (src < dst vs
    src > dst) and self-loop-free, so the dedup shuffle is provably
    redundant and skipped: at scale that removes a full-edge-set
    exchange from the one stage every iterative graph operator pays
    before its first round."""
    base = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    sym = base.unionAll(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym if canonical else sym.distinct()


def kcore(
    edges: DataFrame,
    k: int,
    max_iterations: int = 100,
    canonical: bool = False,
) -> DataFrame:
    """(node, core_degree) for the k-core: the maximal subgraph in
    which every node has degree >= k, with each survivor's degree
    INSIDE that subgraph. The k-core is the standard "dense kernel"
    extractor — spam/boilerplate rings in near-dup graphs, power-user
    cores in interaction graphs — and the peeling loop is the
    building block of full coreness decomposition (run with k = 1, 2,
    3, ... and diff).

    Input: undirected edge list (columns ``src``, ``dst``); self-loops
    ignored, duplicate and reversed-duplicate edges collapsed here, so
    callers can pass any raw pair table.

    Algorithm — parallel peeling: repeatedly compute degrees and drop
    every node with degree < k (all at once, not one at a time; the
    k-core is the greatest fixpoint, so batch deletion converges to the
    same subgraph as sequential peeling). Terminates because the
    surviving-edge count strictly decreases on every non-final round.

    Scale shape per iteration: one map-side-combined degree count and
    two semi-joins of the edge list against the survivor set (node-key
    shuffles — AQE re-plans them as broadcasts once the survivor set
    shrinks below the threshold); ``localCheckpoint`` truncates lineage
    each round, and the convergence check reuses the edge COUNT the
    checkpoint already computed — one scalar per round to the driver,
    never data. Rounds are bounded by the peeling depth (degeneracy
    ordering height), which is far below node count on real graphs.

    No counterpart in the reference (no graph queries in the 4 Redshift
    scripts); LLM-pipeline scope.
    """
    from . import ckpt

    sym = _symmetrize(edges, canonical).localCheckpoint(eager=False)
    prev_edges = sym.count()  # materializes the lazy checkpoint
    for _ in range(max_iterations):
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        pruned = sym.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )
        # lazy checkpoint: the convergence COUNT is the action that
        # materializes it — one job per round, not checkpoint + count
        pruned = pruned.localCheckpoint(eager=False)
        cur_edges = pruned.count()
        ckpt.free(sym)  # superseded: pruned is materialized by the count
        sym = pruned
        if cur_edges == prev_edges:
            break
        prev_edges = cur_edges
    else:
        raise RuntimeError(
            f"kcore did not converge in {max_iterations} iterations"
        )
    ckpt.register(sym)  # the returned roll-up reads the final edge set
    return (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def coreness(
    edges: DataFrame,
    max_iterations: int = 200,
    canonical: bool = False,
) -> DataFrame:
    """(node, coreness) for every node: the largest k such that the
    node survives the k-core peel — the full core decomposition in ONE
    fixpoint instead of one peel per k. Coreness is the standard dense-
    region coordinate (spam-ring tiers in near-dup graphs, engagement
    tiers in interaction graphs); ``kcore(edges, k)`` answers one slice
    of it, this answers all slices at once.

    Algorithm — distributed h-index iteration (Lü et al. 2016, "The
    H-index of a network node and its relation to degree and
    coreness"): initialize c(u) = deg(u); repeat
    c(u) <- H({c(v) : v adjacent u}), the largest h with >= h neighbors
    whose estimate is >= h. Estimates only DECREASE and are bounded
    below by the true coreness, and the fixpoint of the H-operator is
    exactly the coreness vector (that paper's theorem) — so the sum of
    estimates is a strictly decreasing integer until convergence, and
    comparing it across rounds is both the termination check and the
    certificate (one scalar to the driver per round, never data).

    Scale shape per round: one edge-keyed join shipping a single int
    per edge (the neighbor's current estimate), one per-node window
    rank over neighbor multisets (key-partitioned; fan-in bounded by
    max degree, the same skew the pair generators cap upstream), one
    map-side-combined max. localCheckpoint truncates lineage per round;
    rounds needed track the network's coreness "depth", observed
    single-digits on real graphs.

    Input contract as ``kcore``: undirected pair list (src, dst),
    self-loops ignored, duplicates collapsed here.
    """
    from . import ckpt

    sym = _symmetrize(edges, canonical).localCheckpoint(eager=True)
    c = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("est"))
        .localCheckpoint(eager=False)  # materialized by the sum below
    )
    prev_sum = c.agg(F.sum("est")).first()[0]
    w = Window.partitionBy("src").orderBy(F.col("nb_est").desc())

    def _h_step(cur: DataFrame) -> DataFrame:
        """One application of the H operator as a lazy plan segment."""
        nb = sym.join(
            cur.select(F.col("src").alias("dst"), F.col("est").alias("nb_est")),
            "dst",
        ).select("src", "nb_est")
        return (
            nb.withColumn("rn", F.row_number().over(w))
            .groupBy("src")
            .agg(
                F.max(
                    F.when(F.col("nb_est") >= F.col("rn"), F.col("rn"))
                ).alias("est")
            )
        )

    for _ in range(max_iterations):
        # THREE H applications per materialized round: the per-round
        # cost here is fixed job/checkpoint overhead, not data (the
        # inner join+window chains compose in one plan), so cutting the
        # number of materializations cuts wall-clock while the fixpoint
        # — and the sum-based certificate — are unchanged: H is
        # monotone non-increasing, so sum(H^3(c)) == sum(c) forces
        # every sub-step to be a no-op, i.e. the fixpoint. The
        # checkpoint is LAZY and the certificate sum is the action that
        # materializes it — one job per round instead of an eager-
        # checkpoint job followed by a sum job.
        c_new = _h_step(_h_step(_h_step(c))).localCheckpoint(eager=False)
        cur_sum = c_new.agg(F.sum("est")).first()[0]
        ckpt.free(c)  # superseded: c_new materialized by the sum action
        c = c_new
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"coreness did not converge in {max_iterations} iterations"
        )
    ckpt.free(sym)
    ckpt.register(c)
    return c.select(
        F.col("src").alias("node"), F.col("est").cast("long").alias("coreness")
    )
