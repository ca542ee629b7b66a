"""Round-11 curation pack: winnowing fingerprints (MOSS), normalized
dedup, temperature-based domain mixing, matryoshka embedding truncation,
small-file compaction planning, curriculum ordering, quality-classifier
inference, candidate-pair features, BPE merge counting, record-linkage
agreement patterns, and greedy subword segmentation — the data-curation
operations a large-scale training pipeline runs between raw ingestion
and corpus assembly.

Design rules carried from the other packs: every oracle-able query
accumulates in exact integer/decimal space and assembles at most ONE
double expression at the output boundary with identical expression text
on both engines (no library transcendentals inside hash-checked
results); hash literals ride the 15/10-hex-digit md5 window that parses
into positive BIGINT on both engines (conv() in Spark, '0x' cast in
DuckDB).

No counterpart in the reference (the 4 Redshift scripts stop at
validate/upsert/fact-populate); SURVEY §6/§7 extension scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lifecycle import cached
from ..sources.readers import load_table, spread
from .catalog import _q

_MERSENNE61 = 2305843009213693951

# --------------------------------------------------------------------------
# Winnowing fingerprint stats (the raw operator, hash-checked per doc)
# --------------------------------------------------------------------------

# Shared CTE: k=5 token grams, w=4 windows, fingerprint = min combined
# (hash*2^20 + pos) per window, deduplicated — the exact arithmetic of
# operators/decontam.py::winnow_fingerprints.
_WINNOW_CTE = r"""
tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
       FROM documents),
wg AS (SELECT doc_id, toks, len(toks) - 4 AS m FROM tk),
cb AS (SELECT doc_id, m,
         list_transform(range(1, m + 1), i ->
           CAST(('0x' || substr(md5(array_to_string(
                  list_slice(toks, i, i + 4), ' ')), 1, 10)) AS BIGINT)
             * 1048576 + i) AS comb
       FROM wg WHERE m >= 1),
fp AS (SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(m - 3, 1) + 1),
           j -> list_aggregate(list_slice(comb, j, j + 3), 'min'))) AS fps
       FROM cb)
"""

_X_WINNOW_STATS_SQL = (
    "WITH " + _WINNOW_CTE + """,
e AS (SELECT doc_id, unnest(fps) AS f FROM fp)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST(MIN(f // 1048576) AS BIGINT) AS min_hash,
       CAST(MAX(f // 1048576) AS BIGINT) AS max_hash,
       CAST(CAST(SUM(f // 1048576) AS HUGEINT)
            % 2305843009213693951 AS BIGINT) AS hash_sum_mod
FROM e GROUP BY doc_id
"""
)


@_q("x_text_winnow_stats", _X_WINNOW_STATS_SQL)
def x_text_winnow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint digest (MOSS — Schleimer/
    Wilkerson/Aiken SIGMOD 2003): count, hash range, and a Mersenne-mod
    hash sum of the selected fingerprints. The winnowing guarantee —
    any shared run of >= w+k-1 = 8 tokens shares a fingerprint — with
    only ~2/(w+1) of grams kept, is what makes fingerprint-based
    contamination/clone detection tractable at corpus scale.

    Scale shape: fingerprint selection is ENTIRELY map-side (token
    array -> gram-hash array -> per-window array_min -> distinct, all
    inside whole-stage codegen — operators/decontam.py::
    winnow_fingerprints); the only shuffle is the per-doc digest
    aggregation, map-side-combined. Integer-exact throughout."""
    from ..operators.decontam import winnow_fingerprints, winnow_hash

    d = spread(load_table(spark, sf_dir, "documents"))
    e = d.select(
        "doc_id",
        F.explode(winnow_fingerprints(F.col("text"), k=5, w=4)).alias("f"),
    ).select("doc_id", winnow_hash(F.col("f")).alias("h"))
    return e.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.min("h").alias("min_hash"),
        F.max("h").alias("max_hash"),
        (F.sum(F.col("h").cast("decimal(32,0)")) % F.lit(_MERSENNE61))
        .cast("long")
        .alias("hash_sum_mod"),
    )


# --------------------------------------------------------------------------
# Winnowing-based decontamination report
# --------------------------------------------------------------------------

_X_WINNOW_DECONTAM_SQL = (
    "WITH " + _WINNOW_CTE + """,
hs AS (SELECT doc_id, list_distinct(list_transform(fps, f -> f // 1048576))
                AS hset
       FROM fp),
ev AS (SELECT DISTINCT unnest(hset) AS h FROM hs WHERE doc_id % 29 = 0),
co AS (SELECT doc_id, unnest(hset) AS h FROM hs WHERE doc_id % 29 <> 0)
SELECT co.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM co JOIN ev USING (h)
GROUP BY co.doc_id
"""
)


@_q("x_decontam_winnow", _X_WINNOW_DECONTAM_SQL)
def x_decontam_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-level contamination audit: corpus docs sharing any
    winnowing fingerprint hash with the pseudo-eval set (doc_id % 29 ==
    0 — the x_decontam_report convention), with the shared-fingerprint
    count per doc. Complements the exact 8-gram report: winnowing keeps
    ~2/(w+1) of grams yet still GUARANTEES detection of any shared run
    >= 8 tokens, so the index is ~2.5x smaller at equal recall — the
    practical choice when the eval suite is large.

    Scale shape: per-doc hash sets are map-side arrays (no corpus
    shuffle to dedup); the benchmark-sized eval hash set broadcasts;
    zero-hit docs die in the join; the per-doc count is
    map-side-combined. The hash-set frame is cached once so the corpus
    branch and the eval-broadcast branch read one fingerprint
    computation instead of re-hashing the corpus per branch."""
    from ..operators.decontam import winnow_fingerprints, winnow_hash

    d = spread(load_table(spark, sf_dir, "documents"))
    hs = cached(
        d.select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    winnow_fingerprints(F.col("text"), k=5, w=4),
                    lambda f: winnow_hash(f),
                )
            ).alias("hset"),
        )
    )
    ev = (
        hs.filter(F.col("doc_id") % 29 == 0)
        .select(F.explode("hset").alias("h"))
        .distinct()
    )
    co = hs.filter(F.col("doc_id") % 29 != 0).select(
        "doc_id", F.explode("hset").alias("h")
    )
    return (
        co.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --------------------------------------------------------------------------
# Normalized-text exact dedup (case/punctuation/whitespace-insensitive)
# --------------------------------------------------------------------------

_X_NORMDUP_SQL = r"""
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_key
  FROM documents)
SELECT norm_key,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id
FROM n GROUP BY norm_key HAVING COUNT(*) >= 2
"""


@_q("x_dedup_normalized_text", _X_NORMDUP_SQL)
def x_dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-insensitive exact dedup: documents identical after
    lowercasing, punctuation strip, and whitespace collapse form one
    group (kept representative = min doc_id) — the curation tier
    between byte-exact dedup (x_dedup_exact) and near-dup MinHash:
    catches trivially re-encoded mirrors (case changes, smart quotes,
    reflow) at exact-dedup cost.

    Scale shape identical to exact_dedup: the normalization chain and
    md5 run map-side inside codegen; the groupBy ships 32-char digests,
    never document bodies; map-side combine collapses per-partition
    duplicates before the exchange."""
    d = spread(load_table(spark, sf_dir, "documents"))
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
                r"\s+",
                " ",
            )
        )
    )
    return (
        d.select(norm.alias("norm_key"), "doc_id")
        .groupBy("norm_key")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_members") >= 2)
    )


# --------------------------------------------------------------------------
# Temperature-based domain mixing plan (integer-exact, t = 0.5)
# --------------------------------------------------------------------------

_X_TEMPMIX_SQL = """
WITH d AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs,
         CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight
  FROM d),
t AS (SELECT CAST(SUM(weight) AS BIGINT) AS sum_w FROM w),
r AS (
  SELECT w.source, w.n_docs, w.weight,
         CAST((100 * w.weight * 65536) / (t.sum_w * w.n_docs) AS BIGINT)
           AS thresh16
  FROM w, t)
SELECT r.source, r.n_docs, r.weight, r.thresh16,
       CAST((SELECT COUNT(*) FROM documents dd
              WHERE dd.source = r.source
                AND CAST(('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)
                                         || '#mix'), 1, 4)) AS BIGINT)
                    < r.thresh16) AS BIGINT) AS n_sampled
FROM r
"""


@_q("x_corpus_temperature_mix", _X_TEMPMIX_SQL)
def x_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixture (t = 0.5, the multilingual-
    sampling rule of mBERT/XLM-R/PaLM): target domain weights
    proportional to sqrt(n_docs) flatten the natural distribution so
    small domains are not drowned, then each domain gets a
    deterministic md5-threshold sampling rate sized for a 100-doc
    budget. EVERYTHING is integer-exact: weight = floor(sqrt(n)) is
    exact for BIGINT n < 2^50 (doubles represent n exactly and sqrt is
    correctly rounded), and the per-domain threshold is pure BIGINT
    arithmetic over a 16-bit hash space — no float sum whose order
    could differ between engines. Output: the mixture plan plus the
    realized per-domain sample counts.

    Scale shape: one map-side-combined count to domain grain (domains
    are catalog-sized), a broadcast of the tiny plan back onto the
    corpus scan for the realized counts, map-side md5 thresholding —
    one corpus scan, zero corpus shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = counts.withColumn(
        "weight",
        F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long"),
    )
    sum_w = w.agg(F.sum("weight").cast("long").alias("sum_w"))
    plan = (
        w.crossJoin(F.broadcast(sum_w))
        .withColumn(
            "thresh16",
            (
                (F.lit(100) * F.col("weight") * F.lit(65536))
                / (F.col("sum_w") * F.col("n_docs"))
            ).cast("long"),
        )
        .select("source", "n_docs", "weight", "thresh16")
    )
    h16 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#mix"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    sampled = (
        d.withColumn("_h", h16)
        .join(F.broadcast(plan), "source")
        .filter(F.col("_h") < F.col("thresh16"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return plan.join(sampled, "source", "left").select(
        "source",
        "n_docs",
        "weight",
        "thresh16",
        F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias("n_sampled"),
    )


# --------------------------------------------------------------------------
# Matryoshka embedding truncation (MRL prefix + renormalize, digest)
# --------------------------------------------------------------------------

_X_MATRYOSHKA_SQL = """
WITH s AS (
  SELECT vec_id,
         list_transform(list_slice(embedding, 1, 16),
                        x -> CAST(x AS DOUBLE)) AS p
  FROM embeddings),
n AS (
  SELECT vec_id, p,
         sqrt(list_sum(list_transform(p, x -> x * x))) AS norm16
  FROM s)
SELECT vec_id, norm16,
       list_sum(list_transform(p, x -> x / norm16)) AS renorm_sum,
       list_aggregate(list_transform(p, x -> x / norm16), 'min')
         AS renorm_min,
       list_aggregate(list_transform(p, x -> x / norm16), 'max')
         AS renorm_max
FROM n
"""


@_q("x_emb_matryoshka", _X_MATRYOSHKA_SQL)
def x_emb_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) embedding truncation: keep the first 16 of 64
    dims and renormalize to unit length — the standard
    dimension-adaptive retrieval trick (Kusupati et al. 2022): MRL-
    trained prefixes are themselves valid embeddings, and a 4x narrower
    vector cuts ANN memory/compute 4x for a small recall loss. Output
    is a per-vector digest (prefix norm + renormalized sum/min/max)
    that pins every element of the renormalized vector arithmetic
    without shipping 16 rows per vector through the gate.

    Scale shape: map-only — slice/transform/aggregate inside codegen,
    one sequential double fold per vector (deterministic order, the
    functions/vectors.py contract), no shuffle at all."""
    from ..functions.vectors import _d

    p = F.transform(F.slice(F.col("embedding"), 1, 16), lambda x: _d(x))
    norm16 = F.sqrt(
        F.aggregate(p, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", p.alias("p"), norm16.alias("norm16")
    )
    r = F.transform(F.col("p"), lambda x: x / F.col("norm16"))
    return e.select(
        "vec_id",
        "norm16",
        F.aggregate(r, F.lit(0.0), lambda acc, x: acc + x).alias("renorm_sum"),
        F.array_min(r).alias("renorm_min"),
        F.array_max(r).alias("renorm_max"),
    )


# --------------------------------------------------------------------------
# Small-file compaction planner (greedy bin-pack per partition)
# --------------------------------------------------------------------------

_X_COMPACTION_SQL = """
WITH RECURSIVE
f AS (
  SELECT source, CAST((doc_id // 160) % 8 AS BIGINT) AS file_id,
         CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1, 2),
t AS (
  SELECT source, file_id, bytes,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY file_id) AS rn,
         SUM(bytes) OVER (PARTITION BY source ORDER BY file_id) AS s
  FROM f),
bins AS (
  SELECT source, CAST(-1 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS end_rn,
         CAST(0 AS BIGINT) AS s_end
  FROM (SELECT DISTINCT source FROM t)
  UNION ALL
  SELECT b.source, b.bin + 1,
         (SELECT COALESCE(MAX(t.rn), b.end_rn + 1) FROM t
           WHERE t.source = b.source AND t.rn > b.end_rn
             AND t.s - b.s_end <= 1500) AS end_rn,
         (SELECT t.s FROM t
           WHERE t.source = b.source
             AND t.rn = (SELECT COALESCE(MAX(t2.rn), b.end_rn + 1)
                          FROM t t2
                          WHERE t2.source = b.source AND t2.rn > b.end_rn
                            AND t2.s - b.s_end <= 1500)) AS s_end
  FROM bins b
  WHERE EXISTS (SELECT 1 FROM t
                 WHERE t.source = b.source AND t.rn > b.end_rn)),
assigned AS (
  SELECT t.source, t.bytes,
         (SELECT MIN(b.bin) FROM bins b
           WHERE b.source = t.source AND b.bin >= 0
             AND b.end_rn >= t.rn) AS bin
  FROM t)
SELECT source, CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS bytes
FROM assigned GROUP BY source, bin
"""


@_q("x_storage_compaction_plan", _X_COMPACTION_SQL)
def x_storage_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning: per partition (source), greedily
    pack files in file-id order into output groups of <= 1500 bytes
    (stand-in for the 128 MB output-file target) — the maintenance op
    every lakehouse table needs once streaming/CDC writers fragment it.
    Oversized files get a group of their own; each group's file count
    and byte total is the rewrite work list.

    The file manifest here is SIMULATED from the documents table
    ((doc_id div 160) mod 8 as the file id within its source partition,
    byte size = sum of member doc sizes) so the planner is exercised
    end-to-end against real data. Scale shape: the manifest build is a
    map-side-combined agg (manifest rows = #files, metadata-sized); the
    greedy pack is the same engine-portable per-group sequential pass
    as pack_chunks (operators/corpus.py::greedy_pack_by_group), hash-
    partitioned on the partition key — never a driver-side loop over
    the manifest."""
    from ..operators.corpus import greedy_pack_by_group

    files = (
        load_table(spark, sf_dir, "documents")
        .groupBy(
            "source",
            ((F.col("doc_id") / 160).cast("long") % 8).alias("file_id"),
        )
        .agg(F.sum("n_chars").cast("long").alias("bytes"))
    )
    packed = greedy_pack_by_group(
        files,
        group_col="source",
        order_cols=["file_id"],
        size_col="bytes",
        capacity=1500,
        out_schema="source string, bin long, file_id long, bytes long",
    )
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("long").alias("bytes"),
    )


# --------------------------------------------------------------------------
# Winnowing doc-pair clone detection (inverted fingerprint index)
# --------------------------------------------------------------------------

_X_WINNOW_PAIRS_SQL = (
    "WITH " + _WINNOW_CTE + """,
hs AS (SELECT doc_id,
              list_distinct(list_transform(fps, f -> f // 1048576)) AS hset
       FROM fp),
post AS (SELECT doc_id, unnest(hset) AS h FROM hs),
rare AS (SELECT h FROM post GROUP BY h HAVING COUNT(*) <= 50),
p2 AS (SELECT post.doc_id, post.h FROM post JOIN rare USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM p2 a JOIN p2 b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
"""
)


@_q("x_dedup_winnow_pairs", _X_WINNOW_PAIRS_SQL)
def x_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clone-pair detection over the winnowing fingerprint index: doc
    pairs sharing >= 2 selected fingerprints (each shared fingerprint
    certifies a shared token run, so 2+ is a strong clone signal with
    no verification scan needed — the MOSS ranking). Completes the
    winnowing family: per-doc digest (x_text_winnow_stats) ->
    train/eval audit (x_decontam_winnow) -> intra-corpus clone pairs.

    Scale shape — the inverted-index discipline every pair generator in
    this repo follows: per-doc fingerprint sets are map-side arrays;
    the posting list keys on the fingerprint hash; HOT fingerprints
    (shared by > 50 docs — boilerplate) are dropped BEFORE the
    self-join, so posting-list fan-out is bounded at 50^2 per
    fingerprint and the pair space never approaches all-pairs. One
    aggregation per stage, all map-side-combined."""
    from ..operators.decontam import winnow_fingerprints, winnow_hash

    d = spread(load_table(spark, sf_dir, "documents"))
    post = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    winnow_fingerprints(F.col("text"), k=5, w=4),
                    lambda f: winnow_hash(f),
                )
            )
        ).alias("h"),
    )
    rare = (
        post.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= 50)
        .select("h")
    )
    p2 = post.join(rare, "h")
    a = p2.select(F.col("h"), F.col("doc_id").alias("doc_a"))
    b = p2.select(F.col("h"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# --------------------------------------------------------------------------
# Curriculum ordering (quality-descending global positions, rank kernel)
# --------------------------------------------------------------------------


def _curriculum_sql() -> str:
    """Generated from catalog_ext's shared quality restatement so the
    oracle cannot drift from functions/text.py::quality_score."""
    from .catalog_ext import _QUALITY_EXPR

    return f"""
WITH q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM documents)
SELECT doc_id, quality,
       CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
         AS position
FROM q
"""


@_q("x_corpus_curriculum_order", _curriculum_sql())
def x_corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: every document's exact global training
    position, best-quality-first (deterministic tie order on doc_id) —
    the quality-curriculum counterpart of x_corpus_epoch_shuffle's
    random order. Writers then range-partition on `position` to emit
    shards in curriculum order.

    Scale shape: quality is a map-side codegen expression; the global
    position comes from the distributed exact-rank kernel
    (operators/rank.py: literal boundary searchsorted + per-pid
    row_number — no single-partition WindowExec), so the corpus can be
    billions of docs and the ordering stays fully parallel. DOUBLE
    boundary literals round-trip exactly (repr + D suffix)."""
    from ..functions.text import quality_score
    from ..operators.rank import distributed_row_number

    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )
    ranked, _n = distributed_row_number(
        d, [("quality", False), ("doc_id", True)], out_col="position"
    )
    return ranked.select("doc_id", "quality", "position")


# --------------------------------------------------------------------------
# Quality-classifier inference (linear logit, SQL-pushable scoring)
# --------------------------------------------------------------------------


def _quality_logit_sql() -> str:
    from .catalog_ext import _QUALITY_EXPR

    return f"""
WITH f AS (
  SELECT doc_id,
         {_QUALITY_EXPR} AS quality,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents)
SELECT doc_id, quality, n_tokens, n_chars,
       (-1.5 + 2.25 * quality
             + 0.004 * CAST(n_tokens AS DOUBLE)
             - 0.0008 * CAST(n_chars AS DOUBLE)) AS logit,
       (-1.5 + 2.25 * quality
             + 0.004 * CAST(n_tokens AS DOUBLE)
             - 0.0008 * CAST(n_chars AS DOUBLE)) >= 0.0 AS keep
FROM f
"""


@_q("x_text_quality_logit", _quality_logit_sql())
def x_text_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier INFERENCE pushed into the engine: a linear
    model (fixed trained weights) over cheap per-doc features scores
    every document in the scan itself — the fastText/logreg
    quality-filter pattern (CCNet, RefinedWeb) with the model small
    enough to inline as an expression. The LINEAR logit is emitted
    instead of sigmoid(logit): sigma is monotone, so thresholding
    (`keep`) and ranking are identical, and the score stays one IEEE
    multiply/add chain with identical expression text on both engines —
    no library exp() inside a hash-checked result (the PMI/TF-IDF
    linearization rationale).

    Scale shape: map-only, zero shuffle, whole-stage codegen; at 100 TB
    this is scan-speed inference with no model-serving hop."""
    from ..functions.text import quality_score, token_count

    d = spread(load_table(spark, sf_dir, "documents"))
    logit = (
        F.lit(-1.5)
        + F.lit(2.25) * quality_score(F.col("text"))
        + F.lit(0.004) * token_count(F.col("text")).cast("double")
        - F.lit(0.0008) * F.col("n_chars").cast("double")
    )
    return d.select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        logit.alias("logit"),
        (logit >= F.lit(0.0)).alias("keep"),
    )


# --------------------------------------------------------------------------
# Candidate-pair verification features (prefix blocking)
# --------------------------------------------------------------------------

_X_PAIRFEAT_SQL = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS toks
  FROM documents),
b AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS block_key,
         list_distinct(toks) AS ts,
         len(toks) AS n_toks
  FROM t),
pairs AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         len(list_filter(a.ts, x -> list_contains(b2.ts, x))) AS n_inter,
         len(a.ts) AS sa, len(b2.ts) AS sb,
         a.n_toks AS na, b2.n_toks AS nb
  FROM b a JOIN b b2
    ON a.block_key = b2.block_key AND a.doc_id < b2.doc_id)
SELECT doc_a, doc_b,
       CAST(n_inter AS BIGINT) AS n_shared_tokens,
       CAST(n_inter AS DOUBLE) / (sa + sb - n_inter) AS jaccard,
       CAST(n_inter AS DOUBLE) / least(sa, sb) AS containment,
       CAST(least(na, nb) AS DOUBLE) / greatest(na, nb) AS len_ratio
FROM pairs
"""


@_q("x_dedup_pair_features", _X_PAIRFEAT_SQL)
def x_dedup_pair_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair verification features: documents blocked on the
    md5 of their first 8 tokens (prefix blocking — near-dups that share
    an opening share a block), then per-pair exact token-set Jaccard,
    containment, shared-token count, and length ratio — the feature
    vector a downstream pair classifier (or threshold rule) consumes.
    This is the VERIFY stage of the dedup funnel: the banded generators
    (MinHash/SimHash/winnowing) propose, these features decide.

    Scale shape: block keys and token sets are map-side arrays; the
    self-join keys on the block hash, so fan-out is bounded by block
    size (an opening shared by B docs costs B^2 pairs — prefix blocks
    are near-unique by construction; a hot-block cap like the winnow
    tier's is one filter away if a corpus has boilerplate openings);
    set intersection runs JVM-local per pair via array_intersect over
    deduplicated token arrays."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    b = d.select(
        "doc_id",
        F.md5(F.array_join(F.slice(toks, 1, 8), " ")).alias("block_key"),
        F.array_distinct(toks).alias("ts"),
        F.size(toks).alias("n_toks"),
    )
    a2 = b.select(
        F.col("block_key"),
        F.col("doc_id").alias("doc_a"),
        F.col("ts").alias("ts_a"),
        F.col("n_toks").alias("na"),
    )
    b2 = b.select(
        F.col("block_key"),
        F.col("doc_id").alias("doc_b"),
        F.col("ts").alias("ts_b"),
        F.col("n_toks").alias("nb"),
    )
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    sa, sb = F.size("ts_a"), F.size("ts_b")
    return (
        a2.join(b2, "block_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("n_shared_tokens"),
            (inter.cast("double") / (sa + sb - inter)).alias("jaccard"),
            (inter.cast("double") / F.least(sa, sb)).alias("containment"),
            (
                F.least("na", "nb").cast("double")
                / F.greatest("na", "nb")
            ).alias("len_ratio"),
        )
    )


# --------------------------------------------------------------------------
# BPE merge-candidate counting (the tokenizer-training inner step)
# --------------------------------------------------------------------------

_X_BPE_SQL = r"""
WITH wr AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
wf AS (
  SELECT w, COUNT(*) AS cnt FROM wr
  WHERE regexp_full_match(w, '[a-z]+') GROUP BY w),
pr AS (
  SELECT substr(w || '$', CAST(i AS INTEGER), 2) AS pair, cnt
  FROM wf, UNNEST(range(1, length(w) + 1)) t(i))
SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
FROM pr GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 40
"""


@_q("x_text_bpe_merges", _X_BPE_SQL)
def x_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE tokenizer-training inner step: count adjacent symbol
    pairs across the word-frequency table and return the top merge
    candidates (Sennrich et al. 2016 — each training iteration merges
    the most frequent pair; this query IS that argmax, with the '$'
    end-of-word marker so final characters pair like BPE's </w>).
    Restricting to pure-alpha lowercase words mirrors the standard
    pre-tokenization split. Top-40 under a TOTAL order (count desc,
    pair asc) so the limit is deterministic.

    Scale shape: the expensive text pass collapses to a word-frequency
    table FIRST (groupBy with map-side combine — the corpus-sized
    stage), then pairs explode from the DISTINCT-WORD table, which
    grows sub-linearly (vocabulary saturates); pair extraction is a
    map-side higher-order transform (substring windows over w||'$'),
    and the final agg is over <= 27^2 keys."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = wf.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w)),"
                " i -> substring(w || '$', i, 2))"
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(40)
    )


# --------------------------------------------------------------------------
# Record-linkage agreement patterns (the Fellegi-Sunter estimation input)
# --------------------------------------------------------------------------

_X_LINKAGE_SQL = """
WITH f AS (
  SELECT c_custkey AS k, c_nationkey AS blk_n,
         CAST(floor(c_acctbal / 100) AS INTEGER) AS blk_b,
         c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) % 10 AS cent_d,
         substr(c_name, length(c_name), 1) AS name_d
  FROM customer),
kept AS (
  SELECT f.* FROM f
  JOIN (SELECT blk_n, blk_b FROM f GROUP BY blk_n, blk_b
        HAVING COUNT(*) <= 40) g USING (blk_n, blk_b)),
pairs AS (
  SELECT CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS agree_segment,
         CASE WHEN a.cent_d = b.cent_d THEN 1 ELSE 0 END AS agree_balcent,
         CASE WHEN a.name_d = b.name_d THEN 1 ELSE 0 END AS agree_namedigit
  FROM kept a JOIN kept b
    ON a.blk_n = b.blk_n AND a.blk_b = b.blk_b AND a.k < b.k)
SELECT agree_segment, agree_balcent, agree_namedigit,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY agree_segment, agree_balcent, agree_namedigit
"""


@_q("x_dedup_linkage_patterns", _X_LINKAGE_SQL)
def x_dedup_linkage_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage agreement-pattern profile: block customers on
    (nation, acctbal-hundreds), enumerate within-block candidate pairs,
    and count pairs per field-agreement pattern (segment / balance-cent
    / name-digit) — the frequency table from which Fellegi-Sunter m/u
    weights are estimated (the EM input of every probabilistic ER
    system; Winkler's surveys call exactly this the "agreement pattern
    tally"). Output is the 8-row pattern histogram.

    Scale shape: candidate generation is the classic blocked self-join
    with the house hot-block cap — blocks over 40 rows are EXCLUDED by
    a deterministic HAVING filter (stated in the oracle too), so pair
    fan-out is bounded at C(40,2) per block regardless of SF; real
    deployments block on higher-cardinality natural keys (zip, name
    phonetics) and rely on the same cap for skew. The block census is
    one map-side-combined agg over <= ~2.8k keys; the pattern agg
    reduces to 8 groups. floor/round on doubles are bit-identical
    across engines (same IEEE ops on the same parquet bits)."""
    c = spread(load_table(spark, sf_dir, "customer")).select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("blk_n"),
        F.floor(F.col("c_acctbal") / 100).cast("int").alias("blk_b"),
        F.col("c_mktsegment").alias("seg"),
        (F.round(F.col("c_acctbal") * 100).cast("long") % 10).alias("cent_d"),
        F.substring(F.col("c_name"), -1, 1).alias("name_d"),
    )
    census = (
        c.groupBy("blk_n", "blk_b")
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") <= 40)
        .drop("_bsz")
    )
    kept = c.join(F.broadcast(census), ["blk_n", "blk_b"])
    a = kept.select(
        "blk_n", "blk_b", F.col("k").alias("ka"),
        F.col("seg").alias("seg_a"), F.col("cent_d").alias("cent_a"),
        F.col("name_d").alias("name_a"),
    )
    b = kept.select(
        "blk_n", "blk_b", F.col("k").alias("kb"),
        F.col("seg").alias("seg_b"), F.col("cent_d").alias("cent_b"),
        F.col("name_d").alias("name_b"),
    )
    pairs = a.join(b, ["blk_n", "blk_b"]).filter(F.col("ka") < F.col("kb"))
    return (
        pairs.select(
            F.when(F.col("seg_a") == F.col("seg_b"), 1).otherwise(0)
            .alias("agree_segment"),
            F.when(F.col("cent_a") == F.col("cent_b"), 1).otherwise(0)
            .alias("agree_balcent"),
            F.when(F.col("name_a") == F.col("name_b"), 1).otherwise(0)
            .alias("agree_namedigit"),
        )
        .groupBy("agree_segment", "agree_balcent", "agree_namedigit")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# Greedy longest-match subword segmentation (WordPiece-style inference)
# --------------------------------------------------------------------------

_X_SUBWORD_SQL = r"""
WITH wr AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
  FROM documents),
dw AS (SELECT doc_id, w FROM wr WHERE regexp_full_match(w, '[a-z]+')),
wf AS (SELECT w, COUNT(*) AS cnt FROM dw GROUP BY w),
gr AS (
  SELECT substr(w, CAST(p AS INTEGER), CAST(k AS INTEGER)) AS g, cnt
  FROM wf, UNNEST(range(2, 5)) tk(k), UNNEST(range(1, length(w) - k + 2)) tp(p)
  WHERE length(w) >= k),
vt AS (
  SELECT g FROM gr GROUP BY g
  ORDER BY SUM(cnt) DESC, g LIMIT 200),
va AS (
  SELECT list(g ORDER BY g) FILTER (WHERE length(g) = 2) AS v2,
         list(g ORDER BY g) FILTER (WHERE length(g) = 3) AS v3,
         list(g ORDER BY g) FILTER (WHERE length(g) = 4) AS v4
  FROM vt),
lmt AS (
  SELECT w, length(w) AS n,
         list_transform(range(1, length(w) + 1), p ->
           CASE WHEN p + 3 <= length(w)
                     AND list_contains(va.v4, substr(w, CAST(p AS INTEGER), 4))
                  THEN 4
                WHEN p + 2 <= length(w)
                     AND list_contains(va.v3, substr(w, CAST(p AS INTEGER), 3))
                  THEN 3
                WHEN p + 1 <= length(w)
                     AND list_contains(va.v2, substr(w, CAST(p AS INTEGER), 2))
                  THEN 2
                ELSE 1 END) AS lm
  FROM wf CROSS JOIN va),
walk AS (
  WITH RECURSIVE rc AS (
    SELECT w, n, lm, 1 AS pos, 0 AS ntok FROM lmt
    UNION ALL
    SELECT w, n, lm, pos + lm[pos] AS pos, ntok + 1 AS ntok
    FROM rc WHERE pos <= n)
  SELECT w, ntok FROM rc WHERE pos > n)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wt.ntok) AS BIGINT) AS n_subword_tokens,
       CAST(SUM(length(dw.w)) AS BIGINT) AS n_chars,
       CAST(SUM(length(dw.w)) AS DOUBLE) / SUM(wt.ntok) AS chars_per_token
FROM dw JOIN walk wt USING (w)
GROUP BY doc_id
"""


@_q("x_text_subword_encode", _X_SUBWORD_SQL)
def x_text_subword_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword tokenization at corpus scale: build a 200-entry subword
    vocabulary (top character 2/3/4-grams by corpus frequency, total
    tie order) and segment every word by greedy LONGEST-MATCH-FIRST
    with single-character fallback — WordPiece-style inference (the
    MaxMatch semantics of Song et al. 2021's fast tokenizer paper),
    the byte-fallback discipline of byte-level BPE. Output is the
    per-document token accounting every batch-size/cost estimator
    downstream consumes (n_subword_tokens, chars-per-token).

    Spark-first and ENTIRELY UDF-free: the vocabulary is three
    broadcast scalar arrays; per-word match lengths are a higher-order
    transform probing array_contains at each position; and the greedy
    left-to-right WALK — inherently sequential per word — is ONE
    aggregate() fold carrying (next_pos, n_tokens) struct state, so
    even the iteration stays inside whole-stage codegen. The DuckDB
    twin states the same walk as a recursive CTE over the precomputed
    match-length arrays.

    Scale shape: everything expensive runs on the DISTINCT-WORD table
    (sub-linear — vocabulary saturates; the corpus-sized stages are
    one word explode + one count and the final doc rollup); the
    per-word fold is O(len); the corpus joins back on the word key
    with AQE free to broadcast the word-stats side."""
    d = spread(load_table(spark, sf_dir, "documents"))
    dw = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$"))
    wf = dw.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    gr = wf.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(2, 4), k ->"
                " IF(length(w) >= k,"
                "    transform(sequence(1, length(w) - k + 1),"
                "              p -> substring(w, p, k)),"
                "    cast(array() as array<string>))))"
            )
        ).alias("g"),
        "cnt",
    )
    vt = (
        gr.groupBy("g")
        .agg(F.sum("cnt").alias("_w"))
        .orderBy(F.desc("_w"), F.asc("g"))
        .limit(200)
    )
    va = vt.agg(
        F.array_sort(
            F.collect_list(F.when(F.length("g") == 2, F.col("g")))
        ).alias("v2"),
        F.array_sort(
            F.collect_list(F.when(F.length("g") == 3, F.col("g")))
        ).alias("v3"),
        F.array_sort(
            F.collect_list(F.when(F.length("g") == 4, F.col("g")))
        ).alias("v4"),
    )
    lmt = wf.crossJoin(F.broadcast(va)).withColumn(
        "lm",
        F.expr(
            "transform(sequence(1, length(w)), p ->"
            " CASE WHEN p + 3 <= length(w)"
            "           AND array_contains(v4, substring(w, p, 4)) THEN 4"
            "      WHEN p + 2 <= length(w)"
            "           AND array_contains(v3, substring(w, p, 3)) THEN 3"
            "      WHEN p + 1 <= length(w)"
            "           AND array_contains(v2, substring(w, p, 2)) THEN 2"
            "      ELSE 1 END)"
        ),
    )
    wt = lmt.select(
        "w",
        F.expr(
            "aggregate(sequence(1, length(w)),"
            " named_struct('nxt', 1, 'ntok', 0),"
            " (acc, p) -> IF(p = acc.nxt,"
            "     named_struct('nxt', p + element_at(lm, p),"
            "                  'ntok', acc.ntok + 1),"
            "     acc),"
            " acc -> acc.ntok)"
        ).alias("ntok"),
    )
    return (
        dw.join(wt, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("ntok").alias("n_subword_tokens"),
            F.sum(F.length("w")).alias("n_chars"),
            (
                F.sum(F.length("w")).cast("double") / F.sum("ntok")
            ).alias("chars_per_token"),
        )
    )


# --------------------------------------------------------------------------
# DSIR-style importance weights (hashed-ngram target/raw ratio)
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 1024

_X_DSIR_SQL = rf"""
WITH tk AS (
  SELECT doc_id, lang,
         string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id, lang, gram
  FROM tk, UNNEST(list_concat(w,
    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])))
    AS t(gram)),
b AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT)
           % {_DSIR_BUCKETS} AS bucket
  FROM g),
dc AS (
  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY doc_id, bucket),
st AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS r
  FROM b GROUP BY bucket),
tot AS (
  SELECT CAST(SUM(t) AS BIGINT) AS tt, CAST(SUM(r) AS BIGINT) AS rt
  FROM st),
agg AS (
  SELECT dc.doc_id,
         CAST(SUM(dc.n) AS BIGINT) AS n_grams,
         CAST(SUM(dc.n * st.t) AS BIGINT) AS tsum,
         CAST(SUM(dc.n * st.r) AS BIGINT) AS rsum
  FROM dc JOIN st USING (bucket) GROUP BY dc.doc_id)
SELECT doc_id, n_grams, tsum, rsum,
       (CAST(tsum AS DOUBLE) * rt) / (CAST(rsum AS DOUBLE) * tt) AS score,
       CAST(CASE WHEN (CAST(tsum AS DOUBLE) * rt)
                    > (CAST(rsum AS DOUBLE) * tt)
                 THEN 1 ELSE 0 END AS INTEGER) AS selected
FROM agg, tot
"""


@_q("x_text_dsir_weights", _X_DSIR_SQL)
def x_text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights for target-distribution data selection, after
    DSIR (Xie et al. 2023): featurize every document as a bag of
    md5-hashed unigrams+bigrams over 1024 buckets, fit target (lang =
    'en') and raw (all docs) bucket models from EXACT integer counts,
    and score each doc by how target-like its grams are. The
    paper-faithful log-likelihood-ratio tier is
    operators/corpus.py::dsir_log_weights (production scorer — ln() is
    library-dependent at the ulp, the PMI linear-lift rationale, so it
    can't sit behind the hash gate); the registered tier states the
    integer sufficient statistics (tsum = sum_b n_b * t_b, rsum =
    sum_b n_b * r_b) plus the single-division frequency-ratio
    surrogate score = (tsum/tt)/(rsum/rt) — > 1 means the doc's grams
    are more target-typical than corpus-average, the same decision
    axis the log tier ranks by (their agreement is property-tested in
    tests/test_curation.py). The weights feed x_sample_weighted's
    deterministic weighted reservoir to complete the resampling step.

    Scale shape: explode -> (doc, bucket) map-side-combinable agg;
    the bucket model is <= 1024 rows broadcast into the scoring join;
    totals ride a 1-row scalar broadcast (temperature-mix pattern); no
    driver materialization. The integer products stay under 2^63 up to
    ~sf10 corpus sizes (documented headroom; past that the statistics
    widen to DOUBLE with the same expression text on both engines)."""
    from ..operators.corpus import _dsir_sufficient_stats

    docs = spread(load_table(spark, sf_dir, "documents"))
    # the SAME sufficient-statistics pipeline the log tier runs (one
    # source of truth; one gram explode shared by both join sides)
    dc, st, tot = _dsir_sufficient_stats(
        docs, (F.col("lang") == "en"), "doc_id", "text", _DSIR_BUCKETS
    )
    agg = (
        dc.join(F.broadcast(st), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_grams"),
            F.sum(F.col("n") * F.col("t")).cast("long").alias("tsum"),
            F.sum(F.col("n") * F.col("r")).cast("long").alias("rsum"),
        )
    )
    num = F.col("tsum").cast("double") * F.col("rt")
    den = F.col("rsum").cast("double") * F.col("tt")
    return agg.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_grams",
        "tsum",
        "rsum",
        (num / den).alias("score"),
        F.when(num > den, 1).otherwise(0).cast("int").alias("selected"),
    )
