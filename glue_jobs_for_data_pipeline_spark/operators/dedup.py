"""Deduplication operators for training-data pipelines.

Five dedup families, each picked for a different scale/recall point:

- exact_dedup            hash-groupBy on content fingerprint; the 100 TB
                         path shuffles 16-byte md5 keys, never documents.
- ngram_jaccard_pairs    exact Jaccard over word shingles via a
                         shingle-inverted-index self-join (no LSH error,
                         O(sum of posting-list^2) — for moderate corpora
                         or as the verify stage after LSH).
- minhash_lsh_pairs      MinHash signatures + banded LSH bucketing: the
                         standard sublinear near-dup candidate generator;
                         minhash_md5_pairs is its oracle-checkable md5
                         twin, both over one banded kernel
                         (_banded_pairs) with the signature family as
                         the parameter.
- simhash_pairs          64-bit SimHash + 16-bit band bucketing for
                         hamming-distance near-dups.
- embedding_dup_pairs    cosine near-duplicates over an embedding column.

All deterministic: hash families are fixed-seed xxhash64 / affine
permutations, so candidate sets reproduce run-to-run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import content_fingerprint, tokens
from ..functions.vectors import cosine
from ..lifecycle import cached
from ..sources.readers import spread


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per distinct text.

    groupBy(text) would shuffle whole documents; grouping by the md5
    content fingerprint shuffles 16 bytes per row and scales to 100 TB.
    min(id) makes the survivor deterministic. spread() parallelizes the
    fingerprint stage when the source arrives coarser than the cluster.
    """
    return (
        spread(df).withColumn("_fp", content_fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


# --------------------------------------------------------------------------
# Word-shingle helpers
# --------------------------------------------------------------------------


def shingles(text_col: str, k: int = 3) -> F.Column:
    """Distinct word k-grams as strings (the Jaccard universe).

    Docs shorter than k words have an EMPTY shingle universe (they drop
    out of the pair space entirely) — the one convention both engines can
    state exactly; emitting a single short gram instead diverged from the
    SQL oracle, whose out-of-range w[i+k] indexing yields NULL.
    """
    w = tokens(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
    )
    return F.when(F.size(w) >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Exploded (id, shingle) posting list."""
    return df.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, k)).alias("shingle")
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted-index self-join
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
    posts_partitions: int | None = None,
) -> DataFrame:
    """Pairs (doc_a < doc_b) with shingle-Jaccard >= threshold.

    Inverted index self-join: explode shingles, join on shingle (only
    co-occurring pairs materialize), count intersections, then
    |A u B| = |A| + |B| - |A n B|. The shuffle key is the shingle — a hot
    shingle (stopword gram appearing in d docs) contributes d^2 joined
    rows, the quadratic worst case at corpus scale. ``df_cap`` bounds it:
    shingles with document frequency > df_cap are dropped from the
    UNIVERSE (both intersection and sizes), so jaccard stays an exact
    Jaccard over the rare-shingle universe and the join fan-out per
    shingle is <= df_cap^2. The hot set is found with a map-side-combined
    groupBy (only per-shingle partial counts shuffle) and is SMALL by the
    heavy-tail argument — at most total_postings/df_cap distinct shingles
    can exceed the cap — so it broadcasts, and the posting list itself is
    filtered by a broadcast LEFT ANTI join with no extra shuffle of the
    posts. Always set df_cap in production (e.g. 1000); None = uncapped.
    The uncapped path remains inherently skew-prone in the self-join's
    d^2 fan-out (AQE skew-split shares the rows across tasks but cannot
    shrink d^2 itself), so the ``_df`` count switches from a window to
    a groupBy+join there — a window partition is indivisible, a join
    AQE can split. None is for small/test corpora only; that is WHY the
    cap exists.

    ``posts_partitions`` sizes the cached posting list's partitioning
    explicitly (None inherits spark.sql.shuffle.partitions). The cache
    pins its layout, so AQE never re-coalesces it: size it to
    postings-bytes / ~64 MB. Undersized partitioning costs parallelism;
    oversized costs a fixed per-task overhead on every one of the four
    cache consumers — at sf0.1 (260k postings) dropping 32 -> 8
    partitions cut the query ~30%.

    (A grouped-posting-ARRAY formulation — sort each shingle's doc list
    and emit C(d,2) pairs via array HOFs, moving the doc_a<doc_b filter
    before pair materialization — was measured ~40% SLOWER here: the
    interpreted HOF lost more than the codegen'd self-join's 2x row
    overcount cost.)
    """
    posts = doc_shingles(spread(df), id_col, text_col, k)
    # Shuffle 8-byte hashes, not gram strings: the shingle never reaches
    # the output (only pair counts do), so every downstream exchange /
    # cache / join compares longs instead of ~20-byte strings. xxhash64
    # collisions would merge two distinct grams — across docs (spurious
    # co-occurrence) AND within one doc (shingles() dedups gram STRINGS
    # per doc, so an intra-doc collision leaves duplicate (doc, hash)
    # posting rows that inflate that doc's intersection counts and _df)
    # — upper-bounds: ~n^2/2^64 colliding pairs, ~1e-9 at 1e5 distinct
    # grams per corpus-partition scope, either way. The same accepted
    # trade as shared_window_spans' md5 (below), and the oracle check
    # over the real corpus pins it empirically.
    posts = posts.select("doc", F.xxhash64("shingle").alias("shingle"))
    if df_cap is not None:
        hot = (
            posts.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > df_cap)
            .select("shingle")
        )
        # broadcast anti-join, NOT a window count over shingle: a window
        # would pile each hot shingle's postings onto one partition — the
        # exact skew the cap exists to remove.
        posts = posts.join(F.broadcast(hot), "shingle", "left_anti")
    # The posting list feeds FOUR consumers (both self-join branches and
    # both size lookups). Without materialization AQE may broadcast one
    # join side, so no exchange boundary lines up for reuse and the
    # explode (+ anti-join) recomputes per consumer (observed: 0
    # ReusedExchange). Cache it partitioned by the join key — cached
    # partitioning is visible to the planner, so the self-join reads the
    # cache with no further shuffle.
    #
    # ``_df`` (per-shingle document frequency) rides in the cache: the
    # window reuses the repartition's hashpartitioning(shingle), so it
    # costs one partition-local sort at cache build — after the hot
    # anti-join, every group is <= df_cap, so no skew. Singleton
    # shingles (_df = 1) cannot co-occur, so both self-join branches
    # drop them — in natural text most distinct shingles are singletons,
    # so this halves-or-better the join input. They still count in
    # ``sizes``: |A u B| is over the full (capped) universe, and pruning
    # them there would silently inflate every jaccard.
    if posts_partitions is not None:
        posts = posts.repartition(posts_partitions, "shingle")
    else:
        posts = posts.repartition("shingle")
    if df_cap is not None:
        # capped: every shingle group is <= df_cap after the anti-join,
        # so a window count is skew-free and reuses the repartition's
        # hashpartitioning (one partition-local sort, no join).
        w_shingle = W.partitionBy("shingle")
        posts = posts.withColumn("_df", F.count(F.lit(1)).over(w_shingle))
    else:
        # uncapped: a window would pin each hot shingle's entire posting
        # list onto a single task with no mitigation possible (a window
        # partition is indivisible). Count via map-side-combined groupBy
        # + equi-join instead — a join AQE's skew handling CAN split.
        # The d^2 self-join fan-out below still exists; None remains a
        # small/test-corpus path (see docstring).
        dfs = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        posts = posts.join(dfs, "shingle")
    posts = cached(posts)
    sizes = posts.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    pair_posts = posts.filter(F.col("_df") >= 2)
    a = pair_posts.select(F.col("doc").alias("doc_a"), "shingle")
    b = pair_posts.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sz_a), "doc_a")
        .join(F.broadcast(sz_b), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    df_cap: int | None = None,
    posts_partitions: int | None = None,
) -> DataFrame:
    """ngram_jaccard_pairs with PREFIX FILTERING (the PPJoin family —
    Xiao, Wang, Lin & Yu, WWW'08) at exact rational threshold
    t = t_num/t_den: identical output, a fraction of the join work.

    The inverted-index self-join's cost is sum over shingles of
    C(df,2); at a HIGH threshold almost all of those candidate pairs
    verify to false. Prefix filtering prunes them before they
    materialize: order each doc's shingles by a global canonical order
    (ascending document frequency, then hash — rarest first), and index
    only each doc's first

        prefix_len = sz - ceil(t * sz) + 1

    shingles. LOSSLESS by the pigeonhole bound: J(A,B) >= t forces
    |A n B| >= ceil(t * max(|A|,|B|)) shared shingles, and two sets
    sharing NO prefix element can intersect in at most
    min(sz_a, sz_b) - prefix_len < ceil(t * sz) elements — so every
    surviving pair still co-occurs in the prefix index under ANY total
    order. ceil is exact in integers ((t_num*sz + t_den - 1) div
    t_den), candidate pairs additionally pass the length filter
    t_num*sz_a <= t_den*sz_b (pairs with |B| < t|A| cannot reach t),
    and verification is exact: per-doc sorted distinct-shingle arrays
    join to the (tiny) candidate list and intersect via
    array_intersect, with the SAME one-double-division jaccard and
    threshold filter as ngram_jaccard_pairs — so the pair set, inter
    counts, and jaccard values hash-identically to the unfiltered
    operator, which is what the DuckDB oracle states.

    Scale shape: prefix_len at t=1/2 is ~sz/2 (half the index) but the
    real win is candidate pairs — sum C(prefix_df,2) over RARE-end
    shingles instead of sum C(df,2) over all; measured on the sf0.1
    fixture the candidate pair count drops ~20x (see
    tests/test_dedup.py::test_jaccard_prefix_*). df_cap composes
    exactly as in ngram_jaccard_pairs (cap first, then order/prefix —
    the capped universe IS the Jaccard universe)."""
    posts = doc_shingles(spread(df), id_col, text_col, k)
    posts = posts.select("doc", F.xxhash64("shingle").alias("shingle"))
    if df_cap is not None:
        hot = (
            posts.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > df_cap)
            .select("shingle")
        )
        posts = posts.join(F.broadcast(hot), "shingle", "left_anti")
    if posts_partitions is not None:
        posts = posts.repartition(posts_partitions, "shingle")
    else:
        posts = posts.repartition("shingle")
    # canonical order needs per-shingle df; after the cap every group
    # is <= df_cap so the window is skew-free (same argument as the
    # capped branch of ngram_jaccard_pairs)
    posts = posts.withColumn(
        "_df", F.count(F.lit(1)).over(W.partitionBy("shingle"))
    )
    posts = cached(posts)
    # rarest-first rank within each doc; prefix_len = sz - ceil(t*sz) + 1.
    # sz rides the SAME hashpartitioning(doc) as the rank window (one
    # shuffle, no join): a broadcast of per-doc sizes would not survive
    # a billion-doc corpus.
    w_doc = W.partitionBy("doc").orderBy(F.asc("_df"), F.asc("shingle"))
    ranked = (
        posts.withColumn("rn", F.row_number().over(w_doc))
        .withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc")))
        .filter(
            F.col("rn")
            <= F.col("sz")
            - F.expr(f"({t_num} * sz + {t_den} - 1) div {t_den}")
            + 1
        )
        .select("doc", "shingle", "sz")
    )
    # BOTH sides of the prefix self-join consume `ranked`; uncached,
    # each side re-runs the two doc-partitioned windows over the full
    # posting list (measured 1.7x the whole query on a boilerplate
    # corpus) — same multi-consumer rule as the posts cache above
    ranked = cached(ranked)
    a = ranked.select(
        F.col("doc").alias("doc_a"), "shingle", F.col("sz").alias("psz_a")
    )
    b = ranked.select(
        F.col("doc").alias("doc_b"), "shingle", F.col("sz").alias("psz_b")
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter, exact rational: t*max <= min is necessary
        .filter(
            (F.lit(t_num) * F.greatest("psz_a", "psz_b"))
            <= (F.lit(t_den) * F.least("psz_a", "psz_b"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # the tiny candidate list has TWO consumers below (the doc filter
    # and the pair join) and an expensive lineage — cache it so the
    # prefix self-join runs once
    cand = cached(cand)
    # exact verification scaled to the CANDIDATE count, not the corpus
    docs_involved = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    # postings restricted to candidate docs (map-side broadcast filter
    # over the cache) — consumed exactly once (the arrays build), so
    # not cached; a hot shared shingle fans out over candidate docs
    # only, never the corpus
    posts_cand = posts.join(F.broadcast(docs_involved), "doc")
    # per-CANDIDATE-doc sorted shingle arrays, then one array_intersect
    # per pair: the old posting×posting join on
    # shingle re-exploded every shared shingle through a shuffle and a
    # groupBy — verify was ~50% of the query's bill (measured 4.1 s ->
    # 2.1-3.4 s at sf0.1, output-identical). The full-corpus arrays
    # build that ngram_jaccard_pairs measured 40% SLOWER does not apply:
    # this one groups only candidate docs, a broadcast-filtered sliver
    # of the corpus. Counts agree with the join formulation because
    # per-doc postings are DISTINCT (shingles() dedups gram strings;
    # an intra-doc xxhash64 collision — the accepted ~2^-64 risk noted
    # at the hashing step — would perturb either formulation).
    arrs = cached(
        posts_cand.groupBy("doc").agg(
            F.array_sort(F.collect_list("shingle")).alias("_sh")
        )
    )
    # per-doc SIZES ride the same arrays (size(_sh) == the posting
    # count per doc exactly — collect_list keeps multiplicity just as
    # count(*) did), so the old separate size aggregation and its two
    # broadcast joins are gone; |A u B| = |A| + |B| - |A n B| computes
    # in the same select as the intersection.
    return (
        cand.join(
            arrs.select(F.col("doc").alias("doc_a"), F.col("_sh").alias("_sha")),
            "doc_a",
        )
        .join(
            arrs.select(F.col("doc").alias("doc_b"), F.col("_sh").alias("_shb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sha", "_shb")).cast("long").alias("inter"),
            (F.size("_sha") + F.size("_shb")).alias("_szsum"),
        )
        # the old join formulation only emitted pairs sharing >= 1 shingle
        .filter(F.col("inter") > 0)
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("_szsum") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= float(t_num) / float(t_den))
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


# Measured (SCALE.md "Prefix-Jaccard crossover hunt"): the full
# codegen'd inverted-index join wins wall clock up to ~72M candidate
# rows per node and the extrapolated crossover sits in the several-
# hundred-million range, where the quadratic candidate term finally
# dominates the prefix path's two fixed corpus shuffles. Below this,
# prefix filtering is pure overhead; above it, the full join is first
# slower and then simply impossible (web-crawl df distributions put
# sum C(df,2) in the trillions).
PREFIX_CROSSOVER_CANDIDATES = 300_000_000


def candidate_pair_mass(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    df_cap: int | None = None,
) -> int:
    """The inverted-index self-join's joined-row count, sum over
    shingles of C(df,2), WITHOUT materializing a single pair: one
    map-side-combined groupBy over the postings (the same cardinality
    sketch a warehouse optimizer would consult). This is the decision
    statistic for full-join vs prefix-filtered Jaccard — linear to
    compute, quadratic to ignore."""
    posts = doc_shingles(spread(df), id_col, text_col, k).select(
        "doc", F.xxhash64("shingle").alias("shingle")
    )
    dfs = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("d"))
    if df_cap is not None:
        dfs = dfs.filter(F.col("d") <= df_cap)
    row = dfs.agg(F.sum(F.expr("d * (d - 1) DIV 2")).alias("m")).first()
    return int(row["m"] or 0)


def jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    df_cap: int | None = None,
    posts_partitions: int | None = None,
    crossover: int = PREFIX_CROSSOVER_CANDIDATES,
) -> DataFrame:
    """PRODUCTION SWITCH between the two output-identical Jaccard pair
    operators: measure candidate mass with candidate_pair_mass, run the
    full inverted-index join below the measured crossover (codegen wins
    at fixture scales) and the PPJoin prefix-filtered path above it (the only
    feasible plan at web-crawl df distributions). Both emit the same
    (doc_a, doc_b, inter, jaccard) rows — losslessness is pinned by
    tests/test_dedup.py — so the choice is pure physics, never
    semantics, and the DuckDB oracle for any consumer is unchanged.

    Statistics are TIERED like an optimizer's: a df-capped corpus has
    the PROVABLE bound mass <= postings * (df_cap-1)/2 and a doc's
    distinct word-shingles cannot exceed ceil(len_i/2) (every token
    costs >= 2 characters incl. its separator), so ONE vectorized
    column sum — sum(ceil(length(text)/2)), summed PER DOC so the
    bound never undercounts, far cheaper than building
    the postings — decides all small corpora: if even the bound cannot
    reach the crossover, run the full join with zero further
    statistics cost. Only corpora within reach of the crossover pay
    for the exact candidate-mass aggregation."""
    use_prefix = False
    bounded_below = False
    if df_cap is not None:
        from pyspark.sql import functions as _F

        # per-doc shingle bound is ceil(L_i/2); summing THAT (not
        # ceil(sum(L)/2), which undercounts by up to n_docs/2 postings)
        # keeps the bound a true upper bound
        shingle_bound = (
            df.agg(
                _F.sum(_F.floor((_F.length(text_col) + _F.lit(1)) / 2))
            ).first()[0]
            or 0
        )
        bounded_below = int(shingle_bound) * (df_cap - 1) // 2 <= crossover
    if not bounded_below:
        mass = candidate_pair_mass(df, id_col, text_col, k, df_cap)
        use_prefix = mass > crossover
    if use_prefix:
        return jaccard_prefix_pairs(
            df, id_col, text_col, k, t_num, t_den, df_cap, posts_partitions
        )
    return ngram_jaccard_pairs(
        df, id_col, text_col, k,
        threshold=float(t_num) / float(t_den),
        df_cap=df_cap, posts_partitions=posts_partitions,
    )


# --------------------------------------------------------------------------
# MinHash + banded LSH
# --------------------------------------------------------------------------

MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def _affine(i: int) -> tuple[int, int]:
    """Fixed-seed affine permutation constants for hash i (reproducible
    across runs; a,x < 2^31 keeps a*x+b < 2^62 — no long overflow)."""
    a = (2654435761 * (i + 1) + 1) % MINHASH_P  # Knuth multiplicative mix
    b = (40503 * (i + 7) * 65537) % MINHASH_P
    return (a or 1, b)


def _banded_pairs(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    bucket_cap: int | None = None,
    verify: bool = False,
) -> DataFrame:
    """Banded LSH over a ``(doc, sig array<long>)`` MinHash frame, the
    one kernel behind both MinHash tiers: docs sharing the r-tuple of
    any band (r = num_hashes / bands) pair up through a co-located
    equi-join on (band, key), kept as ``doc_a < doc_b`` and distinct.
    The band key is the r-element array slice itself, so two keys are
    equal exactly when the tuples are (no hash collision can add a
    pair). P(candidate) = 1-(1-j^r)^b, the classic S-curve.

    ``bucket_cap`` drops (band, key) buckets holding more than that many
    docs before the self-join (see minhash_lsh_pairs). ``verify`` adds
    ``est_jaccard``, the fraction of equal minhashes of the pair, and
    caches ``sigs``, which the band explode and both verify joins read.
    """
    r = num_hashes // bands
    if bands * r != num_hashes:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    if verify:
        sigs = cached(sigs)
    keys = F.array(*[F.slice("sig", j * r + 1, r) for j in range(bands)])
    buckets = sigs.select("doc", F.posexplode(keys).alias("band", "key"))
    if bucket_cap is not None:
        hot = (
            buckets.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > bucket_cap)
            .select("band", "key")
        )
        # Broadcast anti-join on each self-join branch. NOT cached: the
        # bucket list derives from the signature stage by a projection
        # + explode, so each branch re-derives it for less than a
        # second materialization would cost (measured at sf0.1: caching
        # the capped list added ~1s of pinned-32-partition overhead; the
        # hot-set groupBy itself is map-side combined and shuffles only
        # per-bucket partial counts).
        buckets = buckets.join(F.broadcast(hot), ["band", "key"], "left_anti")
    a = buckets.select(F.col("doc").alias("doc_a"), "band", "key")
    b = buckets.select(F.col("doc").alias("doc_b"), "band", "key")
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    if not verify:
        return pairs
    sig_a = sigs.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    same = F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.size(same).cast("double") / F.lit(float(num_hashes))).alias(
                "est_jaccard"
            ),
        )
    )


def minhash_md5_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash+LSH built ENTIRELY from
    cross-engine-stateable primitives (md5 base hash + affine
    permutations + banded equi-join) — the hash-verifiable twin of
    minhash_lsh_pairs, whose crc32/numpy kernel no SQL engine can
    replay. Same banded-LSH kernel (_banded_pairs): one (doc, hash)
    shuffle with num_hashes map-side-combined MIN aggregates (no row
    multiplication per permutation), band keys formed row-locally,
    candidates from a co-located (band, key) self-join.

    Base hash = first 15 md5 hex digits as int (60 bits), reduced
    mod MINHASH_P BEFORE the affine step so a*x+b stays < 2^62 (no
    int64 overflow in either engine); every op is exact integer
    arithmetic, so the DuckDB oracle reproduces signatures bit-for-bit.
    Defaults (16 hashes, 8 bands, r=2) put the S-curve knee near
    j ~ (1/8)^(1/2) ~ 0.35. No hot-bucket cap and no verify here (the
    capped, verified crc32 tier is the production path for adversarial
    boilerplate).
    """
    posts = doc_shingles(spread(df), id_col, text_col, k)
    hx = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
        .cast("bigint")
        % F.lit(MINHASH_P)
    )
    sigs = (
        posts.select("doc", hx.alias("hx"))
        .groupBy("doc")
        .agg(
            F.array(
                *[
                    F.min((F.lit(a) * F.col("hx") + F.lit(b)) % F.lit(MINHASH_P))
                    for a, b in map(_affine, range(num_hashes))
                ]
            ).alias("sig")
        )
    )
    return _banded_pairs(sigs, num_hashes, bands)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 64, k: int = 3
) -> DataFrame:
    """One row per doc: (doc, sig array<long>) MinHash signature.

    Single shuffle-free Arrow Pandas UDF stage: tokenize -> distinct
    word k-shingles -> crc32 shingle hash -> numpy broadcast
    ``(A*x + B) % p -> min`` per batch. Chosen over built-in
    expressions deliberately: Spark higher-order functions are
    interpreted (no codegen), so both the shingle construction and the
    64 permutation minima are faster as one vectorized Python batch —
    the documented "vectorized-UDF-when-built-ins-can't" path. The
    stage pipelines with the scan (no explode, no shuffle) at any
    scale; crc32 is deterministic across runs and processes.
    """
    import zlib

    from pyspark.sql.types import ArrayType, LongType

    ab = [_affine(i) for i in range(num_hashes)]
    A = np.array([a for a, _ in ab], dtype=np.int64)[:, None]
    B = np.array([b for _, b in ab], dtype=np.int64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        empty = [int(MINHASH_P)] * num_hashes
        out = []
        for text in texts:
            if text is None:  # null-safe like the built-in kernels
                out.append(empty)
                continue
            toks = text.split()
            if len(toks) >= k:
                grams = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
            else:
                grams = {" ".join(toks)}
            if not grams:
                out.append(empty)
                continue
            x = np.fromiter(
                (zlib.crc32(g.encode()) % MINHASH_P for g in grams),
                dtype=np.int64,
                count=len(grams),
            )
            # a, x < 2^31 -> a*x+b < 2^62: no int64 overflow
            out.append(((A * x[None, :] + B) % MINHASH_P).min(axis=1).tolist())
        return pd.Series(out)

    return spread(df).select(
        F.col(id_col).alias("doc"), sig_udf(F.col(text_col)).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >=1 LSH band bucket, with the
    estimated Jaccard (fraction of matching minhashes).

    rows_per_band = num_hashes/bands (``bands`` must divide
    ``num_hashes``); P(candidate) = 1-(1-j^r)^b — the classic S-curve.
    The banded self-join and the verify are _banded_pairs'.

    ``bucket_cap`` is the hot-bucket mitigation for corpus scale: a
    boilerplate band shared by d docs makes one bucket contribute d^2
    candidate pairs (10^6 docs -> 10^12 pairs from ONE bucket). Buckets
    with > bucket_cap docs are dropped before the self-join, bounding
    per-bucket fan-out at bucket_cap^2. The hot set is found by a
    map-side-combined groupBy and is small by the heavy-tail argument
    (at most total_bucket_entries/bucket_cap buckets can exceed the
    cap), so it broadcasts; the bucket list is then filtered by a
    broadcast LEFT ANTI join — the same idiom as ngram_jaccard_pairs'
    df_cap. Docs in a dropped bucket can still pair through their other
    bands-1 buckets, so recall on true near-dups (which agree on many
    bands) survives; what's suppressed is exactly the degenerate
    everyone-matches-everyone boilerplate cluster. Always set it in
    production (e.g. 1000); None = uncapped.
    """
    return _banded_pairs(
        minhash_signatures(df, id_col, text_col, num_hashes, k),
        num_hashes,
        bands,
        bucket_cap,
        verify=True,
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _vote_array(th: F.Column) -> F.Column:
    """±1 vote per bit of a token hash."""
    return F.array(
        *[
            F.when(
                F.shiftright(th, i).bitwiseAND(F.lit(1)) == 1, F.lit(1).cast("long")
            ).otherwise(F.lit(-1).cast("long"))
            for i in range(64)
        ]
    )


# bit weights for reassembling the signature; bit 63 is long-min in two's
# complement (disjoint bits, so plain addition reconstructs the word)
_BIT_WEIGHTS = [1 << i for i in range(63)] + [-(1 << 63)]


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc: sign of the per-bit sum of +-1 votes from
    each distinct token's xxhash64.

    Fully per-row (no explode, no shuffle): an aggregate() fold over the
    token-hash array accumulates the 64 vote counters as an array column,
    then the sign bits fold back into one long. Pipelines with the scan —
    the whole signature stage is a single projection at 100 TB.
    """
    tok_hashes = F.transform(
        F.array_distinct(tokens(F.col(text_col))), lambda t: F.xxhash64(t)
    )
    votes = F.aggregate(
        tok_hashes,
        F.array(*[F.lit(0).cast("long")] * 64),
        lambda acc, th: F.zip_with(acc, _vote_array(th), lambda a, b: a + b),
    )
    weights = F.array(*[F.lit(w).cast("long") for w in _BIT_WEIGHTS])
    sim = F.aggregate(
        F.zip_with(
            votes, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return spread(df).select(F.col(id_col).alias("doc"), sim.alias("simhash"))


def hamming_band_pairs(
    sigs: DataFrame,
    id_col: str = "doc",
    sig_col: str = "sig",
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 64,
) -> DataFrame:
    """All pairs of ``bits``-wide signatures within ``max_hamming`` —
    the one banding engine behind SimHash text near-dup (xxhash64 and
    md5 signatures) and perceptual-hash image near-dup.

    Pigeonhole banding: split the bits into ``n_bands`` equal chunks; a
    pair within hamming ``max_hamming`` < n_bands differs in at most
    max_hamming chunks, so it must AGREE on >= 1 chunk -> equi-join per
    chunk (co-located, no all-pairs), exact hamming verify via
    bit_count(xor). Complete by construction (no false negatives)
    WHEN max_hamming < n_bands — asserted against a brute-force scan
    in tests; wider radii warn (see below) and degrade to a
    recall-best-effort candidate generator.

    Output: (doc_a, doc_b, hamming), doc_a < doc_b.
    """
    if bits % n_bands:
        raise ValueError(
            f"n_bands={n_bands} must evenly split the {bits}-bit signature"
        )
    if max_hamming >= n_bands:
        # the pigeonhole guarantee needs max_hamming < n_bands: a pair
        # can then differ in EVERY chunk and never collide on a band —
        # silent false negatives. Allowed (diagnostic relative-distance
        # probes use wide radii deliberately) but never silently.
        import warnings

        warnings.warn(
            f"hamming_band_pairs: max_hamming={max_hamming} >= "
            f"n_bands={n_bands} loses the pigeonhole completeness "
            "guarantee — the candidate set may have false negatives; "
            "raise n_bands for an exact result",
            stacklevel=2,
        )
    width = bits // n_bands
    mask = (1 << width) - 1
    chunks = sigs.select(
        F.col(id_col).alias("doc"),
        F.col(sig_col).alias("sig"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), j * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("chunk", "ch"),
    )
    left = chunks.select(
        F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"), "chunk", "ch"
    )
    right = chunks.select(
        F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"), "chunk", "ch"
    )
    return (
        left.join(right, ["chunk", "ch"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole banding via hamming_band_pairs (4 x 16-bit chunks; any
    pair within hamming 3 must agree on >= 1 chunk).

    No cache: the signature stage is pure codegen'd built-ins (a
    projection over the scan), so recomputing it on the join's second
    branch is cheaper than holding cached blocks for the session."""
    sigs = simhash_signatures(df, id_col, text_col)
    return hamming_band_pairs(
        sigs, id_col="doc", sig_col="simhash", max_hamming=max_hamming, n_bands=4
    )


# --------------------------------------------------------------------------
# Embedding cosine near-dup
# --------------------------------------------------------------------------


def embedding_dup_pairs(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Pairs with cosine >= threshold. Brute-force O(n^2) — the exact
    VERIFICATION tier, fine to ~10^4 vectors; the scale path is
    embedding_dup_pairs_lsh below (hyperplane buckets first, exact cosine
    only within buckets).

    Physical form: broadcast-one-side Arrow kernel instead of the
    self-join + per-pair interpreted higher-order fold (measured 55 s at
    2k vectors — Spark evaluates lambdas without codegen). The corpus
    collects once into the kernel closure (verification-tier sizes by
    this tier's own contract) and each Arrow batch scores its rows
    against the full matrix with DIM-SEQUENTIAL float64 accumulation —
    every scalar sees exactly the left-to-right rounding sequence of
    functions.vectors.cosine and DuckDB's list_sum fold, so the cos
    VALUES (not just the pair set) stay hash-identical to the oracle
    (sweep-verified). Linear scale-out: each task scores batch x n."""
    import numpy as np
    import pandas as pd

    rows = (
        emb.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .collect()
    )
    ids_all = np.asarray([r["i"] for r in rows], dtype=np.int64)
    Vd = np.asarray(
        [np.asarray(r["v"], dtype=np.float32) for r in rows]
    ).astype(np.float64)  # exact widening
    dim = Vd.shape[1]
    nrm_all = np.zeros(len(ids_all))
    for i in range(dim):  # dim-sequential: the exact fold order
        nrm_all = nrm_all + Vd[:, i] * Vd[:, i]
    nrm_all = np.sqrt(nrm_all)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bids = pdf[id_col].to_numpy(dtype=np.int64)
            B = np.asarray(
                [np.asarray(v, dtype=np.float32) for v in pdf[vec_col]]
            ).astype(np.float64)
            dot = np.zeros((len(bids), len(ids_all)))
            for i in range(dim):
                dot = dot + B[:, i][:, None] * Vd[:, i][None, :]
            bn = np.zeros(len(bids))
            for i in range(dim):
                bn = bn + B[:, i] * B[:, i]
            cos = dot / (np.sqrt(bn)[:, None] * nrm_all[None, :])
            r, c = np.nonzero(cos >= threshold)
            keep = bids[r] < ids_all[c]  # strict: id_a < id_b, no self
            yield pd.DataFrame(
                {
                    "id_a": bids[r[keep]],
                    "id_b": ids_all[c[keep]],
                    "cos": cos[r[keep], c[keep]],
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        score, schema="id_a long, id_b long, cos double"
    )


def within_group_cosine_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """All (id_a < id_b) pairs WITHIN each group whose cosine >=
    threshold — the SemDeDup within-cell pair stage as ONE Arrow
    applyInPandas kernel instead of a self-join + interpreted
    higher-order cosine per pair.

    BIT-IDENTICAL to the functions.vectors.cosine fold by construction:
    the kernel accumulates dot and both norms DIM-SEQUENTIALLY in
    float64 (one vectorized add per dimension — each scalar result sees
    exactly the left-to-right ((0+x0y0)+x1y1)+... rounding sequence the
    JVM fold and the DuckDB list_sum state), float32->float64 widening
    is exact, and sqrt/divide are correctly rounded once — so the
    >= threshold decision matches per pair, which the k=32-cell oracle
    sweeps verify end-to-end. Equivalence vs the join+filter form is
    also property-tested (tests/test_dedup.py).

    Measured reason to exist (sf1 audit): at n^1.5 pair volume the
    interpreted per-pair fold dominated SemDeDup (~minutes at 20k
    vectors); production SemDeDup runs this stage as a batched matmul —
    this is that shape with a determinism-preserving fold order. Scale
    contract: one shuffle on the group key; per-group memory is
    O(cell^2) pair scores in row-chunks of 1024 — cells are bounded by
    the caller's k ~ sqrt(n) contract."""
    import numpy as np
    import pandas as pd

    def pairs_of(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"doc_a": [], "doc_b": []}, dtype="int64")
        V = np.asarray(
            [np.asarray(v, dtype=np.float32) for v in pdf[vec_col].iloc[order]]
        )
        dim = V.shape[1]
        Vd = V.astype(np.float64)  # exact widening
        nrm = np.zeros(n)
        for i in range(dim):  # dim-sequential: the exact fold order
            nrm = nrm + Vd[:, i] * Vd[:, i]
        nrm = np.sqrt(nrm)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        for lo in range(0, n, 1024):  # row-chunked pair matrix
            hi = min(lo + 1024, n)
            dot = np.zeros((hi - lo, n))
            for i in range(dim):
                dot = dot + Vd[lo:hi, i][:, None] * Vd[:, i][None, :]
            cos = dot / (nrm[lo:hi][:, None] * nrm[None, :])
            r, c = np.nonzero(cos >= threshold)
            keep = (r + lo) < c  # strict upper triangle: id_a < id_b
            out_a.append(ids[(r + lo)[keep]])
            out_b.append(ids[c[keep]])
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a) if out_a else [],
                "doc_b": np.concatenate(out_b) if out_b else [],
            },
            dtype="int64",
        )

    return df.select(group_col, id_col, vec_col).groupBy(group_col).applyInPandas(
        pairs_of, schema="doc_a long, doc_b long"
    )


def embedding_dup_pairs_lsh(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int | None = None,
    n_tables: int = 16,
    n_bits: int = 8,
) -> DataFrame:
    """Scale path for embedding near-dup: hyperplane-LSH bucket the corpus,
    generate candidate pairs ONLY within (table, signature) buckets, then
    verify candidates with exact cosine.

    Per table the corpus splits into ~2^n_bits buckets, so the self-join
    fan-out is sum-of-bucket-size^2 per table instead of n^2 overall —
    sublinear candidate generation with recall governed by the
    (n_tables, n_bits) S-curve, exactly like MinHash-LSH for text. Two
    vectors at cosine c collide in one table with probability
    (1 - arccos(c)/pi)^n_bits; 16 tables x 8 bits keeps recall ~1.0 for
    true near-dups (c >= 0.9) while pruning unrelated pairs aggressively.
    Verification cosine is the same exact kernel as the brute tier, so
    precision is exact; only recall is approximate.
    """
    from .similarity import _with_signatures

    sig = _with_signatures(emb, id_col, vec_col, n_tables, n_bits, dim)
    left = sig.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "table", "sig"
    )
    right = sig.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "table", "sig"
    )
    cand = (
        left.join(right, ["table", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "vec_a", "id_b", "vec_b")
        .dropDuplicates(["id_a", "id_b"])  # a pair may collide in many tables
    )
    return (
        cand.withColumn("cos", cosine(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# --------------------------------------------------------------------------
# Exact shared-substring spans (training-data contamination signal)
# --------------------------------------------------------------------------


def shared_window_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_df: int = 2,
    posts_partitions: int | None = None,
) -> DataFrame:
    """Per-doc exact-substring duplication signal: for each document,
    how many of its distinct k-token windows appear in >= ``min_df``
    documents (itself included), plus the duplicated fraction.

    This is the grouped-window approximation of exact substring dedup
    (the "duplicated 50-token span" family): a long verbatim overlap
    between two docs shows up as a run of shared windows, so
    ``dup_ratio`` ranks verbatim-contaminated docs without suffix
    arrays. Docs shorter than k tokens have no windows and drop out —
    same convention as the Jaccard universe.

    Scale shape: one explode (distinct windows per doc), a map-side-
    combined groupBy for window document-frequency, and a shuffled
    semi-join of postings against the duplicated-window set. Unlike
    pair generation there is NO quadratic term: a boilerplate window in
    d docs contributes d posting rows, not d^2 pairs, so no cap is
    needed for correctness of cost — the output stays one row per doc.
    Windows are md5-hashed before any shuffle (engine-portable, so the
    oracle states the same hash): the groupBys and the semi-join move
    16-byte keys instead of ~k-word strings, the same
    never-shuffle-documents rule exact_dedup follows.
    """
    posts = doc_shingles(spread(df), id_col, text_col, k).select(
        "doc", F.md5(F.col("shingle")).alias("win")
    )
    # posts feeds three consumers (sizes, df count, semi-join) on two
    # different keys: cache it once partitioned on the win key so the
    # scan + shingle explode + md5 run once, the df groupBy and the
    # semi-join read co-partitioned cache blocks, and only the sizes
    # groupBy reshuffles (by doc). posts_partitions sizes the pinned
    # cache layout like ngram_jaccard_pairs' knob (None inherits
    # spark.sql.shuffle.partitions — the cluster-sized default); the
    # registered small-SF query passes 8.
    if posts_partitions is not None:
        posts = cached(posts.repartition(posts_partitions, "win"))
    else:
        posts = cached(posts.repartition("win"))
    sizes = posts.groupBy("doc").agg(F.count(F.lit(1)).alias("n_windows"))
    dup = (
        posts.groupBy("win")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("win")
    )
    shared = (
        posts.join(dup, "win")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        sizes.join(shared, "doc", "left")
        .select(
            F.col("doc"),
            "n_windows",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
            (
                F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
                / F.col("n_windows").cast("double")
            ).alias("dup_ratio"),
        )
    )


def simhash_md5_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs via SimHash built ENTIRELY from
    cross-engine-stateable primitives — the hash-verifiable counterpart
    of simhash_pairs (whose xxhash64 kernel no SQL engine can replay).

    Per doc: a 16-bit signature where bit b is the sign of
    sum(+1/-1 over distinct shingles by their md5 bit b) — computed as
    16 map-side-combined conditional SUMs in ONE aggregation over the
    posting list (no row multiplication per bit). The 4-hex-digit md5
    prefix fixes the width at 16 bits, and the DuckDB oracle states the
    same 4 bands. hamming_band_pairs then joins the signatures on their
    4 bands (pigeonhole: every pair at hamming <= 3 shares a band) and
    keeps the pairs whose exact hamming distance is within
    ``max_hamming``. Returns (doc_a, doc_b, hamming).

    Ties (bit-sum exactly 0) map to bit 0 in both engines.
    """
    bits, bands = 16, 4
    # pigeonhole completeness only holds up to bands-1 differing bits;
    # a larger budget would SILENTLY miss pairs whose differing bits
    # spread across all bands — refuse loudly instead
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs >= {max_hamming + 1} bands "
            f"for pigeonhole-complete banding (got {bands})"
        )
    posts = doc_shingles(spread(df), id_col, text_col, 3)
    hx = F.conv(F.substring(F.md5(F.col("shingle")), 1, 4), 16, 10).cast("int")
    hashed = posts.select("doc", hx.alias("hx"))
    sums = hashed.groupBy("doc").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("hx"), b).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    sigs = sums.select("doc", sig.cast("int").alias("sig"))
    return hamming_band_pairs(
        sigs, max_hamming=max_hamming, n_bands=bands, bits=bits
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    block_expr: F.Column,
    max_dist: int = 3,
) -> DataFrame:
    """Entity-resolution fuzzy matching: near-identical name pairs via
    blocking + edit distance, computed on the NAME DICTIONARY.

    The naive shape — self-join the rows, levenshtein every pair — is
    O(n²) in the corpus. Two standard reductions make it scale:

    1. **Blocking**: only pairs sharing a cheap deterministic block key
       (caller-supplied expression, e.g. the first token) are compared;
       cross-block pairs are assumed non-matches. This is the classic
       ER blocking step — recall is bounded by the blocking choice, and
       callers wanting multi-pass blocking union several calls.
    2. **Dictionary folding**: rows collapse to DISTINCT names first
       (with per-name row counts), the quadratic join runs on the
       dictionary — vocabulary-sized, typically orders of magnitude
       smaller than the corpus — and matches map back by count. At
       100 TB the dictionary still fits comfortably in a shuffle.

    Output: one row per unordered distinct-name pair in the same block
    with 1 <= levenshtein <= max_dist (0 excluded: exact duplicates are
    exact_dedup's job), carrying each name's row count so downstream
    merge decisions can weigh cluster sizes.
    """
    names = (
        df.groupBy(F.col(name_col).alias("_name"), block_expr.alias("_blk"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    a = names.select(
        F.col("_name").alias("name_a"), "_blk", F.col("_n").alias("n_rows_a")
    )
    b = names.select(
        F.col("_name").alias("name_b"), "_blk", F.col("_n").alias("n_rows_b")
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
        .select("name_a", "name_b", "dist", "n_rows_a", "n_rows_b")
    )
