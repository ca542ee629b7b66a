"""Composed training-corpus preparation: the end-to-end LLM data-pipeline
flow (BASELINE north-star) built entirely from this package's kernels:

    score (lang-ID, quality, token count, fingerprint)
      -> filter (language + quality gates)
      -> exact dedup (min-id survivor per content fingerprint)
      -> optional near-dup removal (MinHash-LSH pairs)

Everything before near-dup removal is built-in-expression only (one scan,
one 16-byte-key shuffle) and therefore oracle-checkable; the near-dup
stage adds the LSH candidate join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    content_fingerprint,
    lang_id,
    quality_score,
    token_count,
    tokens,
)
from ..lifecycle import cached
from ..sources.readers import spread
from .dedup import minhash_lsh_pairs


def score_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scoring is the CPU-heavy stage (regex + stopword folds per doc);
    spread() keeps it parallel even off a single-row-group source."""
    t = F.col(text_col)
    return spread(docs).select(
        id_col,
        text_col,
        lang_id(t).alias("lang_pred"),
        quality_score(t).alias("quality"),
        token_count(t).alias("n_tokens"),
        content_fingerprint(t).alias("fp"),
    )


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.3,
) -> DataFrame:
    """Language gate + quality gate + exact dedup; returns
    (doc_id, n_tokens, quality) for the surviving documents."""
    scored = score_documents(docs, id_col, text_col)
    filtered = scored.filter(
        (F.col("lang_pred") == lang) & (F.col("quality") >= min_quality)
    )
    survivors = filtered.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return survivors.join(filtered, id_col).select(id_col, "n_tokens", "quality")


def prepare_corpus_neardup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.3,
    min_est_jaccard: float = 0.8,
) -> DataFrame:
    """prepare_corpus + MinHash-LSH near-dup removal: of each candidate
    pair with estimated Jaccard >= threshold, only the lower doc id
    survives (deterministic)."""
    base = prepare_corpus(docs, id_col, text_col, lang, min_quality)
    pairs = minhash_lsh_pairs(docs, id_col, text_col).filter(
        F.col("est_jaccard") >= min_est_jaccard
    )
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return base.join(losers, id_col, "left_anti")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping ~chunk_tokens-token windows —
    the context-length prep step of a training pipeline (long docs
    become multiple training rows; the overlap preserves cross-boundary
    context).

    Pure built-ins: token array once per doc, chunk start offsets via
    sequence(0, n-overlap-1, stride), posexplode to (chunk_idx, start),
    slice + concat_ws per chunk. No UDF, no shuffle — the fan-out
    pipelines with the scan and Catalyst prunes untouched columns.
    Trailing chunks shorter than chunk_tokens are kept (they carry the
    document tail); a doc shorter than one chunk yields exactly one
    chunk. The start bound is n-overlap-1, NOT n-1: a start must
    contribute at least one token beyond the previous chunk's overlap,
    otherwise docs with n mod stride in 1..overlap (and docs exactly
    chunk_tokens long) emit a trailing chunk wholly contained in its
    predecessor — a pure-duplicate training row.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    w = tokens(F.col(text_col))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(w) - overlap - 1, F.lit(0)), F.lit(stride)
    )
    return (
        df.select(
            F.col(id_col),
            w.alias("_w"),
            F.posexplode(starts).alias("chunk_idx", "_start"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.concat_ws(
                " ", F.slice("_w", F.col("_start") + 1, chunk_tokens)
            ).alias("chunk_text"),
            F.size(F.slice("_w", F.col("_start") + 1, chunk_tokens)).alias(
                "n_tokens"
            ),
        )
    )


PACKED_SCHEMA = (
    "bin_id long, doc_id long, chunk_idx int, n_tokens int"
)


def pack_chunks(
    chunks: DataFrame,
    context_tokens: int = 512,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    n_tokens_col: str = "n_tokens",
    n_partitions: int | None = None,
) -> DataFrame:
    """Greedy sequence packing: assign chunks to ~context_tokens bins
    (the training-batch prep step after chunking — short sequences
    share a context window instead of wasting it on padding).

    Packing is inherently sequential, so it runs greedy-first-fit PER
    PACK-GROUP inside one Arrow mapInPandas pass. The pack-group id is
    an md5-derived bucket of the document key (r11) — a PURE FUNCTION
    of the data, so the assignment is engine- and execution-independent
    (the previous spark_partition_id tagging was deterministic only for
    a fixed hash-partitioner; the md5 bucket makes the whole operator
    SQL-statable and lets the catalog query graduate from rows-only to
    an oracle hash check). Rows are hash-partitioned on the group id
    and sorted (group, doc, chunk); the packer resets its running bin
    whenever the group changes, and bin ids are globally unique via a
    group-id prefix. The cost of group-local (vs global) packing is at
    most one partially-filled trailing bin per group — negligible
    against any real group's row count, and the price that makes
    packing embarrassingly parallel. Chunks longer than the context get
    a bin of their own (never split here; chunking upstream owns
    lengths).
    """
    import pandas as pd

    # NOTE: n_partitions is part of the RESULT's identity (each group
    # packs independently and prefixes its bin ids), so pipelines that
    # need machine-independent bins must pin it — the registered
    # catalog query does. The defaultParallelism fallback is for ad-hoc
    # use only.
    n = n_partitions or chunks.sparkSession.sparkContext.defaultParallelism
    # 15 hex digits of md5 parse into a positive BIGINT on both engines
    # (conv() here, '0x' cast in DuckDB — the table-checksum pattern)
    pid = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % F.lit(n)
    )
    prepared = (
        chunks.select(id_col, idx_col, n_tokens_col)
        .withColumn("_pid", pid)
        .repartition(n, "_pid")
        .sortWithinPartitions("_pid", id_col, idx_col)
    )

    def pack(batches):
        state = {"pid": None, "bin": 0, "used": 0}
        for pdf in batches:
            out = {"bin_id": [], "doc_id": [], "chunk_idx": [], "n_tokens": []}
            for doc, idx, nt, g in zip(
                pdf[id_col], pdf[idx_col], pdf[n_tokens_col], pdf["_pid"]
            ):
                g = int(g)
                if state["pid"] != g:  # group boundary: fresh bin state
                    state["pid"], state["bin"], state["used"] = g, 0, 0
                if state["used"] + int(nt) > context_tokens and state["used"] > 0:
                    state["bin"] += 1
                    state["used"] = 0
                state["used"] += int(nt)
                # 2^40 bins per group before collision (bin_id is a
                # long; a 1e6 prefix would alias adjacent groups once a
                # group packs >1M bins)
                out["bin_id"].append((state["pid"] << 40) + state["bin"])
                out["doc_id"].append(int(doc))
                out["chunk_idx"].append(int(idx))
                out["n_tokens"].append(int(nt))
            yield pd.DataFrame(out)

    return prepared.mapInPandas(pack, PACKED_SCHEMA)


def build_corpus(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.3,
    mix_rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    n_shards: int = 8,
    seed: str = "0",
) -> DataFrame:
    """The full training-corpus build, end to end:

        decontaminate -> lang gate -> quality gate -> exact dedup
        -> domain mixture -> sharded training order

    One declarative plan: the decontamination anti-join and every gate
    are map-side over a single corpus scan; the only corpus-wide
    shuffles are the 16-byte fingerprint dedup and the final per-shard
    window (each shard ~N/n_shards rows). Returns
    (id, lang_pred, source, shard, pos) — the manifest a training
    loader consumes.
    """
    from .decontam import decontaminate
    from .sampling import resample_mix, shard_positions

    clean = decontaminate(docs, eval_docs, n=8, id_col=id_col, text_col=text_col)
    scored = score_documents(clean, id_col, text_col)
    gated = scored.filter(
        (F.col("lang_pred") == lang) & (F.col("quality") >= min_quality)
    )
    survivors = gated.groupBy("fp").agg(F.min(id_col).alias(id_col))
    kept = (
        survivors.join(gated, id_col)
        .join(docs.select(id_col, "source"), id_col)
        .select(id_col, "lang_pred", "source")
    )
    mixed = resample_mix(
        kept, "source", id_col, mix_rates or {}, default_rate
    )
    return shard_positions(mixed, id_col, n_shards, seed)


def greedy_pack_by_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    size_col: str,
    capacity: int,
    out_schema: str,
) -> DataFrame:
    """Sequential greedy packing per GROUP — the generalized core of
    pack_chunks, reused by the small-file compaction planner
    (plans/curation_pack.py): within each group, items in order_cols
    order accumulate into bins of <= capacity; an item that would
    overflow a non-empty bin closes it; oversized items get a bin of
    their own. Bin numbering restarts per group (output carries the
    group column, so (group, bin) is the unique key).

    Scale shape: hash exchange on the group key, sort within
    partitions, ONE Arrow mapInPandas pass with state carried across
    batches and reset at group boundaries — identical to pack_chunks.
    The assignment is a pure function of (group, order, size), so it is
    engine-portable and SQL-statable (the recursive-CTE oracle
    pattern). ``out_schema`` must list: group_col, 'bin', *order_cols,
    size_col — in that order.
    """
    import pandas as pd

    prepared = (
        df.select(group_col, *order_cols, size_col)
        .repartition(group_col)
        .sortWithinPartitions(group_col, *order_cols)
    )
    out_cols = [group_col, "bin", *order_cols, size_col]

    def pack(batches):
        state = {"g": None, "bin": 0, "used": 0}
        for pdf in batches:
            out = {c: [] for c in out_cols}
            for vals in zip(
                pdf[group_col], *(pdf[c] for c in order_cols), pdf[size_col]
            ):
                g, middle, size = vals[0], vals[1:-1], int(vals[-1])
                if state["g"] is None or state["g"] != g:
                    state["g"], state["bin"], state["used"] = g, 0, 0
                if state["used"] + size > capacity and state["used"] > 0:
                    state["bin"] += 1
                    state["used"] = 0
                state["used"] += size
                out[group_col].append(g)
                out["bin"].append(state["bin"])
                for c, v in zip(order_cols, middle):
                    out[c].append(v)
                out[size_col].append(size)
            yield pd.DataFrame(out)

    return prepared.mapInPandas(pack, out_schema)


def _hashed_grams(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """Bag-of-hashed-ngrams featurization (unigrams + word bigrams of
    the lowercased whitespace tokens, md5-hashed onto ``n_buckets``
    buckets) — the DSIR feature space. md5 (not xxhash64) so an oracle
    engine states the identical buckets. Returns one row per gram
    occurrence: (id_col, every other input column, bucket)."""
    out_cols = [c for c in df.columns if c != text_col]
    toks = df.select(
        *out_cols,
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__w"),
    )
    w = F.col("__w")
    # bigrams as zip_with over the two shifted slices: slice length 0
    # on 1-token docs -> empty array, no index-0 edge case
    bigrams = F.zip_with(
        F.slice(w, 1, F.size(w) - 1),
        F.slice(w, 2, F.size(w) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        toks.select(*out_cols, F.explode(F.concat(w, bigrams)).alias("__gram"))
        .withColumn(
            "bucket",
            F.conv(F.substring(F.md5(F.col("__gram")), 1, 8), 16, 10)
            .cast("long")
            % n_buckets,
        )
        .drop("__gram")
    )


def dsir_log_weights(
    docs: DataFrame,
    target_pred: "F.Column",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit Laplace-smoothed
    multinomial bag-of-hashed-ngrams models on the target slice
    (rows where ``target_pred`` holds) and on the full raw corpus,
    then score every document with its log-likelihood ratio

        logw(d) = sum_b n_b(d) * [ln p_target(b) - ln p_raw(b)].

    Resampling docs with probability proportional to exp(logw) tilts
    the raw corpus toward the target distribution; in practice the
    weights feed x_sample_weighted's deterministic weighted reservoir.

    This is the paper-faithful PRODUCTION tier: ln() is
    library-dependent at the ulp (the PMI linear-lift rationale,
    mining_pack.py), so the hash-gated catalog query
    (curation_pack.py::x_text_dsir_weights) states exact-integer
    sufficient statistics with a single-division ratio surrogate, and
    this tier is property-tested against it (tests/test_curation.py:
    both tiers rank the target language's docs above the rest).

    Scale shape: ONE explode->groupBy over (doc, bucket) — map-side
    combinable; the bucket model (st) is derived FROM that per-doc
    table rather than from a second scan of the gram explode, so the
    expensive stage (tokenize + bigram + md5 + explode) runs exactly
    once and ReuseExchange shares its shuffle between the two join
    sides; the model is <= n_buckets rows, broadcast into the scoring
    join; the per-doc reduce is a map-side-combinable sum. No driver
    materialization anywhere (totals ride a 1-row scalar broadcast,
    the temperature-mix pattern).

    Documents whose text is NULL produce no grams (split(NULL) is
    NULL); they are returned with n_grams = 0 and logw = 0.0 — the
    neutral weight — rather than silently dropped, so a resampling
    consumer joining weights back to the corpus keeps every doc.

    Returns (id_col, n_grams, logw) — one row per input document.
    """
    dc, st, tot = _dsir_sufficient_stats(
        docs, target_pred, id_col, text_col, n_buckets
    )
    scored = (
        dc.join(F.broadcast(st), "bucket")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "__c",
            F.col("n")
            * (
                F.log((F.col("t") + alpha) / (F.col("tt") + alpha * n_buckets))
                - F.log((F.col("r") + alpha) / (F.col("rt") + alpha * n_buckets))
            ),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_grams"),
        F.sum("__c").alias("logw"),
    )
    # NULL-text docs vanish at the explode; reattach them with the
    # neutral weight so the output covers every input document
    return (
        docs.select(id_col)
        .join(agg, id_col, "left_outer")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw"),
        )
    )


def _dsir_sufficient_stats(
    docs: DataFrame,
    target_pred: "F.Column",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The DSIR sufficient statistics both tiers share — one source of
    truth so the log tier and the hash-gated ratio tier
    (curation_pack.py::x_text_dsir_weights) cannot drift:

    - dc:  (id_col, bucket, n) per-doc bucket counts, plus the doc's
           constant target flag carried through as ``is_t``;
    - st:  (bucket, t, r) target/raw gram-occurrence counts, derived
           FROM dc (sum of n where is_t / sum of n) — bucket-count
           identical to recounting the gram explode, but the explode
           executes once;
    - tot: 1-row (tt, rt) totals over st.
    """
    g = _hashed_grams(
        docs.select(id_col, text_col, target_pred.alias("__is_t")),
        id_col,
        text_col,
        n_buckets,
    )
    # dc is read by THREE subplans (the scoring join's probe side, st,
    # and tot through st); Catalyst does not reuse the exchange across
    # them, so without the cache the gram explode — the expensive
    # stage — executes three times. The cache is a performance hint
    # only (recompute reproduces identical values).
    dc = cached(
        g.groupBy(id_col, "bucket").agg(
            F.count(F.lit(1)).alias("n"),
            # target_pred is constant per doc; first() under that
            # invariant is deterministic
            F.first("__is_t").alias("is_t"),
        )
    )
    st = cached(
        dc.groupBy("bucket").agg(
            F.sum(F.when(F.col("is_t"), F.col("n")).otherwise(0)).alias("t"),
            F.sum("n").alias("r"),
        )
    )
    tot = st.agg(
        F.sum("t").cast("long").alias("tt"),
        F.sum("r").cast("long").alias("rt"),
    )  # 1 row
    return dc, st, tot
