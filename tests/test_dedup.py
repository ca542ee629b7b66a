"""Dedup operator tests: exact semantics on hand-built docs, estimator
accuracy for the hash families the SQL oracle can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark import lifecycle
from glue_jobs_for_data_pipeline_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    other = "completely different words with nothing shared at all here now ok"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0 (whitespace-normalized)
        (2, "  " + base + " "),  # exact dup modulo normalization
        (3, near),  # near dup of 0
        (4, other),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(docs, "doc_id", "text").collect()}
    assert out == {0: 3, 3: 1, 4: 1}  # min-id survivor, 3 copies collapse


def test_ngram_jaccard_exact_values(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    # identical docs: jaccard exactly 1.0
    assert got[(0, 1)] == 1.0 and got[(0, 2)] == 1.0 and got[(1, 2)] == 1.0
    # near dup: differs in last word -> 2 of 11 trigrams differ
    assert (0, 3) in got and 0.6 < got[(0, 3)] < 1.0
    # unrelated doc shares nothing above threshold
    assert not any(4 in p for p in got)


def test_minhash_tracks_exact_jaccard(docs):
    mh = dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=16)
    est = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in mh.collect()}
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.0).collect()
    }
    # exact dups must be candidates with estimate 1.0
    assert est[(0, 1)] == 1.0 and est[(0, 2)] == 1.0
    # near dup found, estimate within 0.25 of exact (64 hashes -> se ~0.06)
    assert (0, 3) in est
    assert abs(est[(0, 3)] - exact[(0, 3)]) < 0.25


def test_simhash_identical_zero_distance(docs):
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 1)] == 0 and got[(0, 2)] == 0
    assert (0, 4) not in got  # unrelated doc not within radius


def test_simhash_near_dup_closer_than_unrelated(docs):
    # For 13-token docs a 1-token change flips many low-margin bits, so
    # compare distances at a wide radius instead of expecting <=3.
    # max_hamming=40 >= n_bands=4 deliberately forfeits pigeonhole
    # completeness — the operator must SAY so (r10 guard), and this
    # test pins that the warning fires for exactly this usage.
    with pytest.warns(UserWarning, match="pigeonhole completeness"):
        pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=40)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    assert (0, 3) in got
    if (0, 4) in got:
        assert got[(0, 3)] < got[(0, 4)]


def test_ngram_df_cap_bounds_hot_shingle(spark):
    """A stopword-gram shared by every doc must leave the universe under
    df_cap, killing the quadratic join fan-out it would cause."""
    hot = "the and of"
    rows = [(i, f"{hot} unique{i} filler{i} words{i} here{i}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.01
    ).collect()
    capped = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.01, df_cap=4
    ).collect()
    # the hot shingle makes every pair co-occur uncapped: C(8,2)=28 pairs
    assert len(uncapped) == 28
    # capped: the only shared shingle has df=8 > 4 -> no pair materializes
    assert capped == []


def test_ngram_short_docs_have_empty_universe(spark):
    """Docs shorter than k words drop out of the pair space (both engines
    state this convention — the oracle's w[i+k] indexing would NULL)."""
    rows = [(0, "two words"), (1, "two words"), (2, "a b c d e"), (3, "a b c d e")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5
        ).collect()
    }
    assert got == {(2, 3)}  # the short-doc pair (0,1) is not in the universe


def test_minhash_null_text_is_nullsafe(spark):
    rows = [(0, "the quick brown fox jumps"), (1, None), (2, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text").collect()
    assert len(sigs) == 3  # no AttributeError on None; empty sentinel sigs
    by_doc = {r["doc"]: r["sig"] for r in sigs}
    assert by_doc[1] == [dedup.MINHASH_P] * 64


def test_embedding_lsh_recall_and_exact_precision(spark, sf_dir):
    """The bucketed scale path must (a) emit only true pairs — verification
    is exact cosine, so precision is 1.0 by construction — and (b) recover
    most of the brute-force tier's pairs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_dup_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.4, dim=64, n_bits=4
        ).collect()
    }
    assert lsh <= brute  # exact-verify => no false positives
    assert brute, "fixture should have pairs at threshold 0.4"
    recall = len(lsh & brute) / len(brute)
    assert recall >= 0.8, f"LSH recall {recall} below floor"


def test_embedding_cosine_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0]),  # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_dup_pairs(emb, "vec_id", "embedding", threshold=0.95)
    got = [(r["id_a"], r["id_b"]) for r in out.collect()]
    assert got == [(0, 1)]


def test_minhash_bucket_cap_bounds_boilerplate(spark):
    """A boilerplate cluster (many identical docs) must not explode the
    candidate set when bucket_cap is on, and true near-dups that live
    outside the hot buckets must still be found."""
    boiler = "click here to subscribe to our newsletter terms apply see site"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    rows = [(i, boiler) for i in range(60)] + [(100, base), (101, near)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    with lifecycle.query_scope():
        uncapped = dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    with lifecycle.query_scope():
        capped = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", bucket_cap=20
        ).collect()

    # uncapped: the 60-doc cluster alone yields 60*59/2 = 1770 pairs
    assert len(uncapped) == 1771
    # capped: every boilerplate bucket exceeds the cap and is dropped;
    # only the true near-dup pair (bucket size 2) remains
    got = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in capped}
    assert (100, 101) in got and got[(100, 101)] > 0.5
    assert len(capped) == 1


def test_shared_window_spans_flags_verbatim_overlap(spark):
    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "intro words here " + span + " closing remarks now"),
        (2, span + " totally different tail content follows here"),
        (3, "unique document with completely original content throughout all of it"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc"]: r
        for r in dedup.shared_window_spans(docs, "doc_id", "text", k=8).collect()
    }
    # the 10-token shared span yields 3 shared 8-token windows
    assert out[1]["n_shared"] == 3 and out[2]["n_shared"] == 3
    assert out[3]["n_shared"] == 0 and out[3]["dup_ratio"] == 0.0
    assert 0 < out[1]["dup_ratio"] < 1
    # every doc with >= 8 tokens appears exactly once
    assert set(out) == {1, 2, 3}


def test_minhash_md5_finds_exact_and_near_dups(docs):
    """The md5-permutation MinHash tier (the oracle-checkable variant)
    must bucket exact dups together with certainty and catch the
    planted near-dup through at least one of its 8 bands; the unrelated
    doc must not pair."""
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_md5_pairs(docs, "doc_id", "text").collect()
    }
    # identical signatures -> identical bands -> guaranteed candidates
    assert {(0, 1), (0, 2), (1, 2)} <= got
    # high-jaccard near dup (j ~ 0.8) caught by the r=2 S-curve
    assert (0, 3) in got
    # unrelated doc never shares a band signature
    assert not any(4 in p for p in got)


def test_simhash_md5_pairs_complete_within_hamming(spark, sf_dir):
    """Every returned pair is within the hamming budget, ordered, and
    unique; and banding is COMPLETE: brute-forcing the signatures finds
    no missed pair at hamming <= 3 (pigeonhole over 4 bands)."""
    from glue_jobs_for_data_pipeline_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    pairs = dd.simhash_md5_pairs(docs, "doc_id", "text").collect()
    seen = set()
    for r in pairs:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["hamming"] <= 3
        key = (r["doc_a"], r["doc_b"])
        assert key not in seen
        seen.add(key)
    # brute-force ground truth over the same signatures
    import itertools

    posts = dd.doc_shingles(docs, "doc_id", "text", 3)
    from pyspark.sql import functions as F

    hx = F.conv(F.substring(F.md5(F.col("shingle")), 1, 4), 16, 10).cast("int")
    sums = (
        posts.select("doc", hx.alias("hx"))
        .groupBy("doc")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col("hx"), b).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                ).alias(f"s{b}")
                for b in range(16)
            ]
        )
        .collect()
    )
    sigs = {
        r["doc"]: sum((1 << b) for b in range(16) if r[f"s{b}"] > 0)
        for r in sums
    }
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert seen == want


def test_simhash_md5_pairs_job_count(spark, sf_dir, count_jobs):
    """Building the pair set runs no job; collecting it runs a fixed
    number (one per shuffle stage under adaptive execution)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    out = []
    assert count_jobs(
        lambda: out.append(dedup.simhash_md5_pairs(docs, "doc_id", "text"))
    ) == 0
    assert count_jobs(lambda: out[0].collect()) == 5
    assert out[0].dtypes == [
        ("doc_a", "bigint"), ("doc_b", "bigint"), ("hamming", "int")
    ]


def test_band_arguments_refused_with_value_error(docs):
    """Argument checks are ValueErrors, so they survive ``python -O``."""
    sigs = docs.select(F.col("doc_id").alias("doc"), F.lit(0).alias("sig"))
    with pytest.raises(ValueError, match="evenly split the 64-bit"):
        dedup.hamming_band_pairs(sigs, n_bands=5)
    with pytest.raises(ValueError, match="evenly split the 16-bit"):
        dedup.hamming_band_pairs(sigs, n_bands=3, bits=16)
    with pytest.raises(ValueError, match="max_hamming=4 needs >= 5 bands"):
        dedup.simhash_md5_pairs(docs, "doc_id", "text", max_hamming=4)
    with pytest.raises(ValueError, match="must divide num_hashes"):
        dedup.minhash_md5_pairs(docs, "doc_id", "text", num_hashes=16, bands=5)


def test_minhash_lsh_refuses_bands_that_do_not_divide_hashes(docs):
    """Trailing hashes are never silently dropped from the banding."""
    with pytest.raises(ValueError, match="must divide num_hashes"):
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=5)


@pytest.mark.parametrize(
    "tier,jobs",
    [
        (lambda d: dedup.minhash_md5_pairs(d, "doc_id", "text"), 3),
        (lambda d: dedup.minhash_lsh_pairs(d, "doc_id", "text"), 5),
        (lambda d: dedup.minhash_lsh_pairs(d, "doc_id", "text", bucket_cap=3), 9),
    ],
    ids=["md5", "lsh", "lsh_capped"],
)
def test_minhash_collect_job_count(docs, count_jobs, tier, jobs):
    """Building either MinHash tier runs no job; collecting it runs a
    fixed number (one per shuffle or broadcast stage). The shifted ids
    give a plan no other test has cached. A first collect builds the
    LSH tier's signature cache: adaptive execution submits one build job
    per cached-relation stage it plans before the first build lands, a
    number that depends on timing."""
    shifted = docs.withColumn("doc_id", F.col("doc_id") + 1000)
    with lifecycle.query_scope():
        tier(shifted).collect()
        out = []
        assert count_jobs(lambda: out.append(tier(shifted))) == 0
        assert count_jobs(lambda: out[0].collect()) == jobs


def test_blocked_fuzzy_pairs_known_distances(spark):
    """Hand fixture with known edit distances: same-block pairs within
    max_dist surface exactly once with correct distance and per-name
    row counts; dist-0 (exact dup) and cross-block pairs are excluded."""
    from glue_jobs_for_data_pipeline_spark.operators.dedup import (
        blocked_fuzzy_pairs,
    )

    rows = [
        (1, "red ring"),
        (2, "red ring"),   # exact dup of 1 -> folded, no pair
        (3, "red king"),   # dist 1 from "red ring", same block
        (4, "red widget"), # dist >3 from both -> no pair
        (5, "blue ring"),  # different block: never compared to red*
    ]
    df = spark.createDataFrame(rows, "k int, name string")
    out = blocked_fuzzy_pairs(
        df,
        key_col="k",
        name_col="name",
        block_expr=F.split(F.col("name"), " ").getItem(0),
        max_dist=3,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["name_a"], r["name_b"], r["dist"]) == ("red king", "red ring", 1)
    # dictionary folding: "red ring" appears twice in the corpus
    assert (r["n_rows_a"], r["n_rows_b"]) == (1, 2)


def test_blocked_fuzzy_pairs_runs_on_dictionary_not_rows(spark):
    """Scale contract: the quadratic join touches DISTINCT names, so
    inflating row multiplicity must not change the pair set (only the
    counts)."""
    from glue_jobs_for_data_pipeline_spark.operators.dedup import (
        blocked_fuzzy_pairs,
    )

    base = [(i, n) for i, n in enumerate(["hot gear", "hot bear", "hot pump"])]
    fat = [(100 * j + i, n) for j in range(50) for i, n in base]
    kw = dict(
        key_col="k",
        name_col="name",
        block_expr=F.split(F.col("name"), " ").getItem(0),
        max_dist=2,
    )
    p1 = blocked_fuzzy_pairs(
        spark.createDataFrame(base, "k int, name string"), **kw
    ).collect()
    p50 = blocked_fuzzy_pairs(
        spark.createDataFrame(fat, "k int, name string"), **kw
    ).collect()
    pairs1 = {(r["name_a"], r["name_b"], r["dist"]) for r in p1}
    pairs50 = {(r["name_a"], r["name_b"], r["dist"]) for r in p50}
    assert pairs1 == pairs50 == {("hot bear", "hot gear", 1)}
    assert all(r["n_rows_a"] == 50 and r["n_rows_b"] == 50 for r in p50)


def test_semdedup_survivors_partition_the_corpus(spark, sf_dir):
    """x_dedup_semantic_semdedup (r14): survivors' member counts sum to
    the corpus size, every survivor is its group's min id (so no group
    is double-represented), and the output is repartition-invariant."""
    from glue_jobs_for_data_pipeline_spark.plans import catalog_ext  # noqa: F401
    from glue_jobs_for_data_pipeline_spark.plans.catalog import QUERIES

    q = QUERIES["x_dedup_semantic_semdedup"]
    rows = q(spark, sf_dir).collect()
    emb_n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r["n_members"] for r in rows) == emb_n
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids))  # one row per surviving group
    again = {(r["vec_id"], r["n_members"]) for r in q(spark, sf_dir).collect()}
    assert again == {(r["vec_id"], r["n_members"]) for r in rows}


def test_within_group_cosine_pairs_matches_join_filter(spark):
    """The Arrow batched-fold pair kernel must reproduce the join +
    cosine-filter formulation EXACTLY (same fold order -> same bits ->
    same >= threshold decisions), across groups and a threshold chosen
    to split the fixture."""
    import random

    from glue_jobs_for_data_pipeline_spark.functions.vectors import cosine
    from glue_jobs_for_data_pipeline_spark.operators.dedup import (
        within_group_cosine_pairs,
    )

    rng = random.Random(42)
    rows = []
    for i in range(300):
        rows.append(
            (i, i % 5, [rng.uniform(-1, 1) for _ in range(16)])
        )
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<float>"
    )
    got = sorted(
        map(
            tuple,
            within_group_cosine_pairs(
                df, "cell", "vec_id", "embedding", threshold=0.5
            ).collect(),
        )
    )
    a = df.select(
        F.col("vec_id").alias("pu"), F.col("embedding").alias("ea"), "cell"
    )
    b = df.select(
        F.col("vec_id").alias("pv"), F.col("embedding").alias("eb"), "cell"
    )
    want = sorted(
        map(
            tuple,
            a.join(b, "cell")
            .filter(F.col("pu") < F.col("pv"))
            .filter(cosine(F.col("ea"), F.col("eb")) >= 0.5)
            .select("pu", "pv")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_ngram_df_cap_production_value_lossless_at_fixture_sf(spark, sf_dir):
    """VERDICT r15 task 3 (the LSH bucket_cap assertion pattern): the
    production df_cap=100 used by x_dedup_ngram_jaccard and the staged
    pair table must NOT change the pair set at the checked SFs — the
    cap is a worst-case work bound (sum over shingles of C(df,2), each
    term <= C(cap,2)), not an accuracy trade at fixture scale. If the
    fixtures ever grow a shingle past df=100, this fails loudly and the
    oracle CTE's identical cap keeps the hash gate green."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(k=3, threshold=0.5, posts_partitions=8)
    capped = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", df_cap=100, **kw
    )
    uncapped = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", **kw)
    got_c = sorted((r["doc_a"], r["doc_b"]) for r in capped.collect())
    got_u = sorted((r["doc_a"], r["doc_b"]) for r in uncapped.collect())
    assert got_c == got_u and len(got_c) > 0


def test_jaccard_prefix_equals_unfiltered_and_prunes_candidates(spark, sf_dir):
    """Prefix filtering is LOSSLESS (identical pairs/inter/jaccard to
    the full inverted-index self-join at the same threshold/cap) while
    generating a fraction of the candidate pairs."""
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.operators.dedup import (
        doc_shingles,
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )
    from glue_jobs_for_data_pipeline_spark.sources.readers import spread

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(
                docs, "doc_id", "text", k=3, threshold=0.5, df_cap=100
            ).collect(),
        )
    )
    pref = sorted(
        map(
            tuple,
            jaccard_prefix_pairs(
                docs, "doc_id", "text", k=3, t_num=1, t_den=2, df_cap=100
            ).collect(),
        )
    )
    assert pref == full and len(full) > 0

    # candidate accounting: full join work = sum C(df,2) over shingles;
    # prefix join work = the same sum over the rare-end prefix index
    posts = doc_shingles(spread(docs), "doc_id", "text", 3).select(
        "doc", F.xxhash64("shingle").alias("shingle")
    )
    hot = (
        posts.groupBy("shingle").count().filter(F.col("count") > 100)
        .select("shingle")
    )
    posts = posts.join(F.broadcast(hot), "shingle", "left_anti")
    from pyspark.sql import Window as W

    posts = posts.withColumn(
        "_df", F.count(F.lit(1)).over(W.partitionBy("shingle"))
    )

    def join_work(p):
        per = p.groupBy("shingle").count()
        return per.select(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("w")
        ).collect()[0]["w"]

    full_work = join_work(posts)
    pref_posts = (
        posts.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc").orderBy(F.asc("_df"), F.asc("shingle"))
            ),
        )
        .withColumn("sz", F.count(F.lit(1)).over(W.partitionBy("doc")))
        .filter(F.col("rn") <= F.col("sz") - F.expr("(sz + 1) div 2") + 1)
    )
    pref_work = join_work(pref_posts)
    assert pref_work * 5 < full_work, (pref_work, full_work)


def test_jaccard_prefix_lossless_on_boilerplate_corpus(spark):
    """Equality on the adversarial shape the prefix filter exists for:
    heavy within-group boilerplate (df-tied shingles, where the
    canonical order falls through to the hash tiebreak) plus planted
    exact clones. Catches prefix-selection bugs the natural-text
    fixture cannot (its df spectrum has no mass ties)."""
    from glue_jobs_for_data_pipeline_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    rows, did = [], 0
    for g in range(20):
        boiler = " ".join(f"b{g}_{i}" for i in range(30))
        first = None
        for j in range(10):
            text = boiler + " " + " ".join(
                f"u{did}_{i}" for i in range(12)
            )
            if first is None:
                first = text
            rows.append((did, text))
            did += 1
        rows.append((did, first))  # planted clone of the group head
        did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(k=3, df_cap=100)
    full = sorted(map(tuple, ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, **kw).collect()))
    pref = sorted(map(tuple, jaccard_prefix_pairs(
        docs, "doc_id", "text", t_num=4, t_den=5, **kw).collect()))
    assert pref == full
    assert len(full) == 20  # exactly the planted clone pairs


def test_candidate_pair_mass_exact(spark, docs):
    """candidate_pair_mass equals the brute-force sum over shingles of
    C(df,2) — the exact joined-row count of the inverted-index
    self-join."""
    from collections import Counter

    posts = dedup.doc_shingles(docs, "doc_id", "text", k=3).collect()
    df_counts = Counter(r["shingle"] for r in posts)
    want = sum(d * (d - 1) // 2 for d in df_counts.values())
    got = dedup.candidate_pair_mass(docs, "doc_id", "text", k=3)
    assert got == want > 0
    # the cap removes hot shingles from the mass, same universe rule
    capped_want = sum(
        d * (d - 1) // 2 for d in df_counts.values() if d <= 2
    )
    assert dedup.candidate_pair_mass(docs, "doc_id", "text", 3, 2) == capped_want


def test_jaccard_pairs_auto_switches_on_crossover(spark, docs):
    """The production switch (r17): below the crossover the full join
    runs, above it the prefix path — and BOTH emit identical rows, so
    the dispatch can never change results, only plans."""
    full = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.5
        ).collect())
    )
    lo = sorted(  # huge crossover -> full-join branch
        map(tuple, dedup.jaccard_pairs_auto(
            docs, "doc_id", "text", k=3, t_num=1, t_den=2,
            crossover=10**12,
        ).collect())
    )
    hi = sorted(  # zero crossover -> prefix branch
        map(tuple, dedup.jaccard_pairs_auto(
            docs, "doc_id", "text", k=3, t_num=1, t_den=2, crossover=0,
        ).collect())
    )
    assert lo == hi == full and len(full) > 0


def test_jaccard_pairs_auto_cheap_tier_skips_exact_mass(
    spark, docs, monkeypatch
):
    """Statistics tiering: a df-capped corpus whose char-count BOUND
    cannot reach the crossover must dispatch on one column sum alone —
    the exact candidate-mass aggregation never runs."""

    def boom(*a, **k):
        raise AssertionError("exact mass computed below the cheap bound")

    monkeypatch.setattr(dedup, "candidate_pair_mass", boom)
    out = dedup.jaccard_pairs_auto(
        docs, "doc_id", "text", k=3, t_num=1, t_den=2, df_cap=100
    )
    assert out.count() > 0  # full-join branch ran, no exact stat
    # forcing the boundary (crossover=0) must fall through to the
    # exact statistic even with a cap
    with pytest.raises(AssertionError, match="exact mass"):
        dedup.jaccard_pairs_auto(
            docs, "doc_id", "text", k=3, t_num=1, t_den=2, df_cap=100,
            crossover=0,
        )
