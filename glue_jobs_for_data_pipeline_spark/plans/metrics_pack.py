"""Round-9 metrics pack: inequality/diversity indices, whole-schema
referential-integrity sweep, exact discrete latency percentiles, and
the image-dedup clustering closure.

Design rule carried from mining_pack/analytics_pack: every oracle-able
query accumulates in exact integer/decimal space and assembles at most
ONE double expression at the output boundary, with identical expression
text on both engines — no library-dependent transcendentals (log/exp)
inside hash-checked results (the PMI linear-lift rationale,
mining_pack.py::x_text_pmi_collocations).

No counterpart in the reference (the 4 Redshift scripts stop at
validate/upsert/fact-populate); SURVEY §7 extension scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rank import distributed_ntile, distributed_row_number
from ..sources.readers import load_events, load_table, read_parquet
from .catalog import _q
from .catalog_ext import _X_PHASH_SIG_BODY

# --------------------------------------------------------------------------
# Gini coefficient of customer revenue
# --------------------------------------------------------------------------

_X_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(18,2)) AS r
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT r, CAST(ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS BIGINT) AS i
  FROM rev),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r) AS DECIMAL(38,2)) AS s0,
         CAST(SUM(CAST(i AS DECIMAL(18,0)) * r) AS DECIMAL(38,2)) AS s1
  FROM ranked)
SELECT n AS n_customers,
       CAST(s0 AS DOUBLE) AS total_revenue,
       CAST(2 * s1 - (n + 1) * s0 AS DOUBLE) / CAST(n * s0 AS DOUBLE)
         AS gini
FROM s
"""


@_q("x_olap_gini", _X_GINI_SQL)
def x_olap_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the standard
    inequality index (0 = equal, ->1 = concentrated), the summary
    statistic behind x_olap_revenue_concentration's decile curve.
    Computed from the rank formula G = (2*sum(i*x_i) - (n+1)*sum(x)) /
    (n*sum(x)) over revenue ranked ascending with a total (r, custkey)
    tie order.

    Scale shape: one map-side-combined aggregation to customer grain,
    then the distributed exact-rank kernel (operators/rank.py): range-
    partitioned sort + monotonically_increasing_id + broadcast
    partition-count offsets — exact global rank with NO single-
    partition WindowExec, so the customer grain can be billions of rows
    and the sort stays fully parallel (the only driver traffic is one
    long per partition). Then a scalar fold. Decimal-exact until the
    single output division."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("r")
        )
    )
    ranked, _n = distributed_row_number(
        rev, [("r", True), ("o_custkey", True)], out_col="i"
    )
    ranked = ranked.select("r", "i")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").cast("decimal(38,2)").alias("s0"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("r"))
        .cast("decimal(38,2)")
        .alias("s1"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("s0").cast("double").alias("total_revenue"),
        (
            (F.lit(2) * F.col("s1") - (F.col("n") + 1) * F.col("s0")).cast(
                "double"
            )
            / (F.col("n") * F.col("s0")).cast("double")
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Global revenue ranking (the exact-rank kernel's raw output)
# --------------------------------------------------------------------------

_X_GRANK_SQL = """
WITH rev AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(18,2)) AS revenue
  FROM orders GROUP BY o_custkey)
SELECT o_custkey, CAST(revenue AS DOUBLE) AS revenue,
       CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey) AS BIGINT)
         AS rnk
FROM rev
"""


@_q("x_olap_global_rank", _X_GRANK_SQL)
def x_olap_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global revenue ranking of every customer — the
    distributed exact-rank kernel's RAW output hash-checked against
    ROW_NUMBER() OVER (ORDER BY ...), row by row (x_olap_gini and
    x_olap_revenue_concentration verify it only through aggregates).
    Scale shape: operators/rank.py — range exchange + local sort +
    id-derived local rank + broadcast partition-offset join; no Window
    node, no single-partition sort, one long per partition to the
    driver."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("revenue")
        )
    )
    ranked, _n = distributed_row_number(
        rev,
        [("revenue", False), ("o_custkey", True)],
        out_col="rnk",
    )
    # Output boundary: DOUBLE, never DECIMAL — the driver's oracle path
    # materializes DuckDB results through pandas (DECIMAL -> float64),
    # so a Spark Decimal's trailing zeros ("2025621.30" vs "2025621.3")
    # split the value hash even when numerically identical. Ranking
    # still happens in exact decimal space above.
    return ranked.select(
        "o_custkey", F.col("revenue").cast("double").alias("revenue"), "rnk"
    )


# --------------------------------------------------------------------------
# Range-bucketed checksums (anti-entropy: LOCALIZE a replica mismatch)
# --------------------------------------------------------------------------

def _ckranges_sql() -> str:
    """Generated from the shared row-hash restatement so the oracle
    cannot drift from operators/validation.py::row_hash_expr."""
    from ..operators.validation import row_hash_sql

    h = row_hash_sql(["o_orderkey", "o_custkey", "o_orderstatus"])
    return f"""
WITH h AS (
  SELECT CAST(o_orderkey // 1000 AS BIGINT) AS bucket,
         {h} AS h
  FROM orders)""" + """
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h) AS BIGINT) AS cksum_xor,
       CAST(SUM(CAST(h AS DECIMAL(32,0))) % 2305843009213693951 AS BIGINT)
         AS cksum_sum_mod
FROM h GROUP BY bucket
"""


_X_CKRANGES_SQL = _ckranges_sql()


@_q("x_storage_checksum_ranges", _X_CKRANGES_SQL)
def x_storage_checksum_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy range checksums: x_validate_table_checksum's
    order-independent row fold, bucketed by key range (width 1000) —
    the Merkle-ish tier that LOCALIZES a replica mismatch instead of
    just detecting it. Two replicas compare this per-bucket table;
    only buckets whose (count, xor, mod-sum) triple differs need a
    row-level diff (snapshot_diff over that key range) — repair
    traffic proportional to the damage, never the table. Same hash
    discipline as the whole-table gate (md5 of the canonical string,
    15-hex window inside positive BIGINT, xor + Mersenne-mod sum to
    cover each other's blind spots); one map-side-combined
    aggregation, shuffle carries one row per bucket. The localization
    property — a single-row mutation moves exactly one bucket's
    triple — is pinned in tests/test_validation.py."""
    from ..operators.validation import range_checksums

    return range_checksums(
        load_table(spark, sf_dir, "orders"),
        "o_orderkey",
        ["o_orderkey", "o_custkey", "o_orderstatus"],
        bucket_width=1000,
    )


# --------------------------------------------------------------------------
# Late-arriving dimension members (Kimball inferred-member pattern)
# --------------------------------------------------------------------------

_X_LATEDIM_SQL = """
WITH dim AS (
  SELECT c_custkey, c_name, c_mktsegment FROM customer
  WHERE c_custkey % 41 <> 0),
missing AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE o_custkey NOT IN (SELECT c_custkey FROM dim))
SELECT c_custkey, c_name, c_mktsegment, FALSE AS is_inferred FROM dim
UNION ALL
SELECT c_custkey, 'UNKNOWN' AS c_name, 'UNKNOWN' AS c_mktsegment,
       TRUE AS is_inferred
FROM missing
"""


@_q("x_scd2_late_arriving", _X_LATEDIM_SQL)
def x_scd2_late_arriving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling (operators/scd2.py::
    infer_late_members): the customer dim is lagged deterministically
    (every 41st key withheld, simulating a dim feed behind the fact
    feed), and orders keys the lagged dim lacks get inferred 'UNKNOWN'
    placeholder members flagged is_inferred — so fact population never
    orphans a row (the reference's inner star join silently DROPS such
    facts; this is the standard Kimball fix). The real row's later
    arrival flows through the normal SCD-2 upsert. Scale shape: fact
    reduced to a distinct key set map-side, one left_anti against the
    dim keys, one union — fact payloads never move."""
    from ..operators.scd2 import infer_late_members

    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
        .filter(F.col("c_custkey") % 41 != 0)
    )
    facts = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return infer_late_members(
        dim,
        facts,
        "c_custkey",
        {"c_name": "UNKNOWN", "c_mktsegment": "UNKNOWN"},
    )


# --------------------------------------------------------------------------
# Constraint quarantine (batch dead-letter split with reasons)
# --------------------------------------------------------------------------

_X_QUAR_SQL = """
WITH t AS (
  SELECT o_orderkey,
         list_filter([
           CASE WHEN NOT COALESCE(o_totalprice <= 300000, TRUE)
                THEN 'price_cap' END,
           CASE WHEN NOT COALESCE(o_orderpriority <> '1-URGENT', TRUE)
                THEN 'no_urgent' END,
           CASE WHEN NOT COALESCE(o_orderstatus <> 'P', TRUE)
                THEN 'no_pending' END],
           x -> x IS NOT NULL) AS v
  FROM orders)
SELECT o_orderkey, array_to_string(v, ',') AS violations
FROM t WHERE len(v) > 0
"""


@_q("x_validate_quarantine", _X_QUAR_SQL)
def x_validate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch dead-letter split (operators/validation.py::
    constraint_quarantine): rows violating a named constraint set are
    quarantined WITH machine-readable reasons instead of failing the
    batch or being silently dropped — the third validation posture next
    to report (V4) and gate (validate_or_raise). Demo constraints pick
    real violators in the fixture (price cap, no-urgent, no-pending);
    NULL follows SQL CHECK semantics (unknown passes), pinned in
    tests/test_validation.py. Map-only reasons projection, no shuffle;
    the oracle states the same CASE/coalesce/list_filter chain."""
    from ..operators.validation import constraint_quarantine

    o = load_table(spark, sf_dir, "orders")
    _valid, quarantined = constraint_quarantine(
        o,
        {
            "price_cap": F.col("o_totalprice") <= 300000,
            "no_urgent": F.col("o_orderpriority") != "1-URGENT",
            "no_pending": F.col("o_orderstatus") != "P",
        },
    )
    # the driver value-hashes scalar columns only — emit the reasons
    # array in its canonical comma-joined form (order is the constraint
    # dict's insertion order on both engines)
    return quarantined.select(
        "o_orderkey", F.array_join("violations", ",").alias("violations")
    )


# --------------------------------------------------------------------------
# Deterministic epoch shuffle (seeded global shuffle positions)
# --------------------------------------------------------------------------

_X_ESHUF_SQL = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || '#epoch-1'), doc_id
       ) AS BIGINT) AS position
FROM documents
"""


@_q("x_corpus_epoch_shuffle", _X_ESHUF_SQL)
def x_corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded GLOBAL shuffle of the corpus — the epoch
    reshuffle a training pipeline needs: every epoch visits all docs in
    a different but REPRODUCIBLE order (restartable jobs, bit-identical
    re-runs, no RNG state to checkpoint). Order key = md5(doc_id #
    seed) — the md5-twin trick, so DuckDB states the identical
    permutation and the driver hash-checks every (doc_id, position)
    pair; a production variant would swap in xxhash64 for cheaper
    keys, same plan.

    Scale shape: the distributed exact-rank kernel (operators/rank.py)
    over the hash key — range exchange + local sort + broadcast
    partition offsets. A 100 TB corpus gets exact shuffle positions
    with no single-partition sort; writers then range-partition on
    `position` to emit epoch shards in order."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = d.withColumn(
        "_k",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#epoch-1"))),
    )
    ranked, _n = distributed_row_number(
        keyed,
        [("_k", True), ("doc_id", True)],
        out_col="position",
    )
    return ranked.select("doc_id", "position")


# --------------------------------------------------------------------------
# Length-bucketed batching (distributed NTILE over token counts)
# --------------------------------------------------------------------------

_X_LENBUCKET_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents),
b AS (
  SELECT doc_id, n_tokens,
         CAST(NTILE(16) OVER (ORDER BY n_tokens, doc_id) AS BIGINT)
           AS bucket
  FROM t)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM b GROUP BY bucket
"""


@_q("x_pack_length_buckets", _X_LENBUCKET_SQL)
def x_pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching prep: docs ranked by token count into
    16 equal-size buckets (exact NTILE semantics, total tie order) so a
    trainer batches similar-length sequences together — the standard
    padding-waste reducer; each bucket's doc count and token range
    reported. Bucket assignment via the distributed exact-rank kernel
    (operators/rank.py::distributed_ntile): no single-partition
    WindowExec, so the bucketing holds at corpus scale; the roll-up is
    one map-side-combined aggregation."""
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    b = distributed_ntile(
        d,
        [("n_tokens", True), ("doc_id", True)],
        buckets=16,
        out_col="bucket",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# Transition diversity (Simpson index of the next-event distribution)
# --------------------------------------------------------------------------

_X_TDIV_SQL = """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events),
c AS (
  SELECT event_type, nxt, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY event_type, nxt),
g AS (
  SELECT event_type,
         CAST(SUM(n) AS BIGINT) AS t,
         CAST(SUM(n * n) AS BIGINT) AS sq,
         CAST(COUNT(*) AS BIGINT) AS n_next_types
  FROM c GROUP BY event_type)
SELECT event_type, t AS n_transitions, n_next_types,
       CAST(t * t - sq AS DOUBLE) / CAST(t * t AS DOUBLE)
         AS simpson_diversity
FROM g
"""


@_q("x_events_transition_diversity", _X_TDIV_SQL)
def x_events_transition_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How predictable is the next action after each event type: the
    Simpson diversity 1 - sum(p^2) of the next-event distribution
    (0 = always the same next step, ->1 = uniform over many). The
    log-free counterpart of transition entropy — chosen exactly so the
    statistic stays in integer space until one output division
    ((t^2 - sum(c^2)) / t^2), hash-stable across engines.

    Scale shape: one user-keyed window pass (the same exchange every
    sessionization query reuses), two map-side-combined counts."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("event_type", "nxt").agg(F.count(F.lit(1)).alias("n"))
    g = c.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("t"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sq"),
        F.count(F.lit(1)).alias("n_next_types"),
    )
    return g.select(
        "event_type",
        F.col("t").alias("n_transitions"),
        "n_next_types",
        (
            (F.col("t") * F.col("t") - F.col("sq")).cast("double")
            / (F.col("t") * F.col("t")).cast("double")
        ).alias("simpson_diversity"),
    )


# --------------------------------------------------------------------------
# Whole-schema referential-integrity cascade
# --------------------------------------------------------------------------

_FK_EDGES = [
    # (child table, fk col, parent table, pk col)
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]

_X_FKCASCADE_SQL = "\nUNION ALL\n".join(
    f"SELECT '{child}.{fk}' AS edge, CAST(COUNT(*) AS BIGINT) AS n_child, "
    f"CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    f"AS n_orphans "
    f"FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p "
    f"ON c.{fk} = p.{pk}"
    for child, fk, parent, pk in _FK_EDGES
)


@_q("x_validate_fk_cascade", _X_FKCASCADE_SQL)
def x_validate_fk_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity across EVERY foreign-key edge of the star
    schema in one report: per edge, child row count and orphan count
    (child rows whose parent key is absent). The schema-wide roll-up of
    x_validate_fk_orphans' single-edge check — what a nightly data-
    quality gate actually runs before publishing a warehouse snapshot.

    Scale shape: one left join + count per edge. Only the
    CONSTANT-SIZE parents (region 5, nation 25) get a broadcast HINT —
    F.broadcast bypasses autoBroadcastJoinThreshold, and forcing it on
    SF-proportional parents (customer/part/supplier key sets grow with
    the data: ~SF x 150k customer keys) would mandate a driver-side
    collect of multi-hundred-MB key sets at large SF (ADVICE r09).
    Those edges are left to AQE: below the threshold they still
    broadcast; past it they degrade gracefully to a key-only shuffle —
    like the lineitem->orders edge, which shuffles two key columns,
    never payloads. Each edge's count is map-side-combined to a single
    row."""
    out = None
    for child, fk, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("_fk"))
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("_pk")
        ).distinct()
        if parent in ("region", "nation"):
            p = F.broadcast(p)
        edge = (
            c.join(p, c["_fk"] == p["_pk"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.sum(
                    F.when(F.col("_pk").isNull(), 1).otherwise(0)
                ).cast("long").alias("n_orphans"),
            )
            .select(
                F.lit(f"{child}.{fk}").alias("edge"), "n_child", "n_orphans"
            )
        )
        out = edge if out is None else out.unionAll(edge)
    return out


# --------------------------------------------------------------------------
# Exact discrete inter-arrival percentiles
# --------------------------------------------------------------------------

_X_IAT_SQL = """
WITH gaps AS (
  SELECT event_type, event_id,
         CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id))
           AS BIGINT) AS gap_us
  FROM events),
g AS (SELECT event_type, event_id, gap_us FROM gaps WHERE gap_us IS NOT NULL),
ranked AS (
  SELECT event_type, gap_us,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY gap_us, event_id) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM g)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                     THEN gap_us END) AS BIGINT) AS p50_us,
       CAST(MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                     THEN gap_us END) AS BIGINT) AS p90_us,
       CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                     THEN gap_us END) AS BIGINT) AS p99_us
FROM ranked GROUP BY event_type
"""


@_q("x_events_interarrival_disc", _X_IAT_SQL)
def x_events_interarrival_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISCRETE percentiles (p50/p90/p99) of per-user
    inter-arrival gaps by event type, in microseconds — the latency-
    distribution readout where approx_percentile's error bars are not
    acceptable (SLA attestation). Discrete = value at rank ceil(q*n)
    under a total (gap, event_id) tie order: integer-exact, engine-
    independent, no interpolation arithmetic to diverge on.

    Scale shape: one user-keyed window for the lag, one event_type-
    keyed window for rank+count over the gap rows, one final rollup.
    The percentile selection is rank equality — no sort at the driver,
    no approx sketch."""
    ev = load_events(spark, sf_dir)
    w_lag = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = ev.select(
        "event_type",
        "event_id",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w_lag))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    w_rank = Window.partitionBy("event_type").orderBy("gap_us", "event_id")
    w_n = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(w_rank).cast("long").alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )

    def _at(q: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
                F.col("gap_us"),
            )
        ).cast("long")

    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        _at(0.5).alias("p50_us"),
        _at(0.9).alias("p90_us"),
        _at(0.99).alias("p99_us"),
    )


# --------------------------------------------------------------------------
# Snapshot diff (derive a delta manifest from two full table versions)
# --------------------------------------------------------------------------

# Insert keys shift by 10^10, not 10^7: TPC-H o_orderkey tops out at
# 6,000,000 x SF, so a 10^7 shift collides with genuine keys past
# SF ~1.7 — duplicate keys would fan the full-outer diff out and split
# the Spark left_semi from the oracle's inner join. 10^10 keeps the
# synthetic inserts disjoint through SF ~1666.
_X_SNAP_BODY = """
WITH v0 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
v1 AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_custkey % 31 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_custkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000000, o_custkey, o_totalprice
  FROM orders WHERE o_custkey % 113 = 0),
j AS (
  SELECT COALESCE(v0.o_orderkey, v1.o_orderkey) AS o_orderkey,
         v0.o_orderkey IS NULL AS ins,
         v1.o_orderkey IS NULL AS del,
         v0.o_totalprice IS DISTINCT FROM v1.o_totalprice AS chg
  FROM v0 FULL OUTER JOIN v1 ON v0.o_orderkey = v1.o_orderkey),
manifest AS (
  SELECT o_orderkey,
         CASE WHEN ins THEN 'insert' WHEN del THEN 'delete'
              WHEN chg THEN 'update' END AS change_type
  FROM j WHERE ins OR del OR chg)
"""

_X_SNAPDIFF_SQL = _X_SNAP_BODY + "SELECT o_orderkey, change_type FROM manifest"


def _snapshot_versions(spark: SparkSession, sf_dir: str):
    """The deterministic v0/v1 snapshot pair both snapshot queries
    mutate from — ONE Spark statement of the recipe _X_SNAP_BODY states
    in SQL (deletes %97, price bumps %31, key-shifted inserts %113);
    keeping it single-sourced means the modulus constants and the 10^10
    key shift cannot desynchronize between the diff and payloads
    queries."""
    v0 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    kept = v0.filter(F.col("o_custkey") % 97 != 0)
    v1 = kept.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_custkey") % 31 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    ).unionAll(
        v0.filter(F.col("o_custkey") % 113 == 0).select(
            (F.col("o_orderkey") + 10_000_000_000).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
        )
    )
    return v0, v1


@_q("x_storage_snapshot_diff", _X_SNAPDIFF_SQL)
def x_storage_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta manifest between two full snapshots of a keyed table
    (operators/snapshot.py::snapshot_diff): v1 is a deterministic
    mutation of orders — deletes (custkey % 97), price updates
    (% 31), inserts (% 113, key-shifted) — and the diff recovers
    exactly those inserts/deletes/updates via ONE key-partitioned full
    outer join. Exact column comparison here so the oracle states the
    same predicate; the 64-bit-fingerprint fast path is pinned to this
    result in tests/test_snapshot.py."""
    from ..operators.snapshot import snapshot_diff

    v0, v1 = _snapshot_versions(spark, sf_dir)
    return snapshot_diff(
        v0, v1, keys=["o_orderkey"], compare_cols=["o_totalprice"], exact=True
    )


_X_SNAPPAY_SQL = _X_SNAP_BODY + """
SELECT v1.o_orderkey, v1.o_custkey, v1.o_totalprice
FROM v1 JOIN manifest m ON v1.o_orderkey = m.o_orderkey
WHERE m.change_type IN ('insert', 'update')
"""


@_q("x_storage_snapshot_payloads", _X_SNAPPAY_SQL)
def x_storage_snapshot_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide-row companion to x_storage_snapshot_diff
    (operators/snapshot.py::changed_payloads): the full new-snapshot
    rows for exactly the keys the manifest marks insert/update — the
    operator an incremental publisher actually ships. Plan shape is
    the module's scale claim made checkable: manifest filtered to the
    requested change types BEFORE the join, then a LEFT SEMI join on
    the key probes the wide snapshot — wide rows proportional to the
    delta, never the table (asserted in tests/test_plans.py: the wide
    projection sits above a LeftSemi join, no full-width full-outer)."""
    from ..operators.snapshot import changed_payloads, snapshot_diff

    v0, v1 = _snapshot_versions(spark, sf_dir)
    manifest = snapshot_diff(
        v0, v1, keys=["o_orderkey"], compare_cols=["o_totalprice"], exact=True
    )
    return changed_payloads(v1, manifest, keys=["o_orderkey"])


# --------------------------------------------------------------------------
# Full core decomposition (coreness per node)
# --------------------------------------------------------------------------


# Coreness as a recursive CTE: the same h-index fixpoint the Spark
# operator runs (c(u) <- H of neighbor estimates, monotone decreasing,
# fixpoint = coreness — Lü et al. 2016), expressed over a static edge
# CTE. Each recursive step joins the previous round's estimates to the
# symmetric edge list (wv.u = s.v ships each neighbor's estimate),
# ranks neighbor estimates descending per node (ROW_NUMBER — tie order
# irrelevant, H depends only on the sorted multiset), takes
# h = MAX(rk where est >= rk), and recurses only while some estimate
# changed (any_drop-style gate, as _X_KCORE_SQL). Both engines stop at
# the same greatest fixpoint, so values agree exactly.
_X_CORENESS_SQL = """
WITH RECURSIVE
li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
cop AS (
  SELECT a.p AS s, b.p AS t
  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING COUNT(*) >= 2),
sym AS (SELECT s AS u, t AS v FROM cop UNION ALL SELECT t AS u, s AS v FROM cop),
walk(r, u, est) AS (
  SELECT 0 AS r, u, COUNT(*) AS est FROM sym GROUP BY u
  UNION ALL
  SELECT z.r + 1, z.u, z.newest FROM (
    SELECT h.r, h.u, h.newest, w.est,
           MAX(CASE WHEN h.newest <> w.est THEN 1 ELSE 0 END) OVER () AS any_change
    FROM (
      SELECT t.r, t.u,
             MAX(CASE WHEN t.nb_est >= t.rk THEN t.rk ELSE 0 END) AS newest
      FROM (
        SELECT wv.r, s.u, wv.est AS nb_est,
               ROW_NUMBER() OVER (PARTITION BY s.u ORDER BY wv.est DESC) AS rk
        FROM sym s JOIN walk wv ON wv.u = s.v
      ) t GROUP BY t.r, t.u
    ) h JOIN walk w ON w.u = h.u AND w.r = h.r
  ) z WHERE z.any_change = 1
)
SELECT u AS node, CAST(est AS BIGINT) AS coreness
FROM walk WHERE r = (SELECT MAX(r) FROM walk)
"""


@_q("x_graph_coreness", _X_CORENESS_SQL)
def x_graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition of the support-2 co-purchase graph
    (operators/graph.py::coreness): every node's largest surviving
    peel depth in ONE h-index fixpoint instead of one peel per k —
    x_graph_kcore answers the k=3 slice, this answers all slices.
    ORACLE-CHECKED since r10: the h-index fixpoint restates as a
    DuckDB recursive CTE (_X_CORENESS_SQL above — the same route
    x_graph_kcore graduated by in r09); additionally pinned by the
    slice-consistency law {coreness >= 3} == 3-core membership and a
    sequential-peel cross-validation on random graphs
    (tests/test_graph.py)."""
    from ..operators.graph import coreness
    from .mining_pack import _support2_edges

    return coreness(_support2_edges(spark, sf_dir), canonical=True)


# --------------------------------------------------------------------------
# Image near-dup clusters (phash pairs closed under transitivity)
# --------------------------------------------------------------------------


# phash pairs (catalog_ext._X_PHASH_SIG_BODY, all pairs within
# hamming 6 — banding-completeness ground truth) as the edge set of
# the min-reachable-label CC walk (same recursion as catalog_ext's
# _CC_SQL_T; tractable because near-dup components are small).
_X_PHASH_CC_SQL = (
    "WITH RECURSIVE "
    + _X_PHASH_SIG_BODY
    + """,
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 6),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
walk(u, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.u)
SELECT u AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY u
"""
)


@_q("x_mm_phash_clusters", _X_PHASH_CC_SQL)
def x_mm_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-dedup end-to-end: perceptual-hash near-dup pairs
    (x_mm_phash_dedup's tier) closed under transitivity via distributed
    connected components — (doc_id, cluster_id) with cluster_id the
    smallest reachable doc id, the same convention as
    x_dedup_cc_clusters. This is the operator a multimodal corpus
    actually deduplicates with: re-encode chains (A~B, B~C) collapse to
    one canonical image even when A and C drift past the pair radius.
    ORACLE-CHECKED since r10 (with x_mm_phash_dedup): the BIGINT
    signature CTE supplies the edge set and the min-reachable-label
    recursive walk states the closure — decode, pairs, AND clustering
    all hash-verified."""
    from ..operators import multimodal
    from ..operators.graph import connected_components
    from .catalog_ext import _scratch_dir

    d = _scratch_dir("spark_graft_phash_") + "/thumbs_cc"
    multimodal.attach_thumbnail_payload(
        load_table(spark, sf_dir, "documents")
    ).write.mode("overwrite").parquet(d)
    pairs = multimodal.phash_dup_pairs(read_parquet(spark, d)).select(
        "doc_a", "doc_b"
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# --------------------------------------------------------------------------
# Kimball fact-type trio completion: accumulating + periodic snapshots
# (m2 is the TRANSACTION fact; these are the other two canonical fact
# grains a star warehouse carries — reference scope populate_fact.py
# builds only the transaction grain.)
# --------------------------------------------------------------------------

_X_ACCUM_SQL = """
WITH l AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         MIN(CASE WHEN CAST(l_shipdate AS DATE) <= DATE '1998-06-30'
                  THEN CAST(l_shipdate AS DATE) END) AS first_ship_date,
         MAX(CASE WHEN CAST(l_shipdate AS DATE) <= DATE '1998-06-30'
                  THEN CAST(l_shipdate AS DATE) END) AS last_ship_date,
         CASE WHEN COUNT(*) = SUM(CASE WHEN CAST(l_shipdate AS DATE)
                                            <= DATE '1998-06-30'
                                       THEN 1 ELSE 0 END)
              THEN MAX(CAST(l_shipdate AS DATE)) END AS completed_date
  FROM lineitem GROUP BY l_orderkey)
SELECT o.o_orderkey AS order_key,
       CAST(o.o_orderdate AS DATE) AS order_date,
       o.o_orderstatus AS order_status,
       l.n_lines, l.first_ship_date, l.last_ship_date, l.completed_date,
       CASE WHEN l.completed_date IS NOT NULL THEN 'complete'
            WHEN l.first_ship_date IS NOT NULL THEN 'partial'
            ELSE 'open' END AS stage,
       CASE WHEN l.completed_date IS NOT NULL
            THEN CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                l.completed_date) AS INTEGER)
       END AS days_to_complete
FROM orders o JOIN l ON o.o_orderkey = l.l_orderkey
"""


@_q("x_fact_accumulating_snapshot", _X_ACCUM_SQL)
def x_fact_accumulating_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Accumulating-snapshot fact (Kimball fact type 3): one row per
    order carrying its lifecycle MILESTONES as of a fixed snapshot
    date — milestones that have not happened yet are NULL, and each
    reload overwrites the row as the pipeline progresses (the classic
    'one wide row per process instance, updated until done' grain the
    reference's transaction-grain populate_fact.py never models).
    Milestones here: ordered -> first ship -> fully shipped
    (completed = every line shipped by the as-of date), plus the
    stage tag and the ordered->completed day lag.

    Scale shape: lineitem aggregates to ORDER grain first (map-side-
    combined conditional min/max/count — milestone gating is plain
    conditional aggregation, no window), and only then joins orders
    1:1 on the order key; at warehouse scale both sides arrive
    order-keyed so the join co-partitions (bucketed tables make it
    shuffle-free). No data-proportional window, no skew pivot."""
    asof = F.lit("1998-06-30").cast("date")
    ship = F.col("l_shipdate").cast("date")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min(F.when(ship <= asof, ship)).alias("first_ship_date"),
            F.max(F.when(ship <= asof, ship)).alias("last_ship_date"),
            F.when(
                F.count(F.lit(1))
                == F.sum(F.when(ship <= asof, 1).otherwise(0)),
                F.max(ship),
            ).alias("completed_date"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_orderstatus").alias("order_status"),
    )
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_orderkey").alias("order_key"),
        "order_date",
        "order_status",
        "n_lines",
        "first_ship_date",
        "last_ship_date",
        "completed_date",
        F.when(F.col("completed_date").isNotNull(), F.lit("complete"))
        .when(F.col("first_ship_date").isNotNull(), F.lit("partial"))
        .otherwise(F.lit("open"))
        .alias("stage"),
        F.when(
            F.col("completed_date").isNotNull(),
            F.datediff(F.col("completed_date"), F.col("order_date")),
        )
        .cast("int")
        .alias("days_to_complete"),
    )


_X_PERIODIC_SQL = """
WITH m AS (
  SELECT l_partkey AS part_key,
         CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
           AS month_start,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS qty_shipped,
         CAST(COUNT(*) AS BIGINT) AS n_shipments
  FROM lineitem GROUP BY 1, 2)
SELECT part_key, month_start,
       CAST(qty_shipped AS DOUBLE) AS qty_shipped, n_shipments,
       CAST(CAST(SUM(qty_shipped) OVER (PARTITION BY part_key
                                        ORDER BY month_start)
                 AS DECIMAL(18,2)) AS DOUBLE) AS cum_qty_shipped
FROM m
"""


@_q("x_fact_periodic_snapshot", _X_PERIODIC_SQL)
def x_fact_periodic_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodic-snapshot fact (Kimball fact type 2): part x month grain
    with the month's shipped quantity and the cumulative-to-date
    position — the 'regular heartbeat photo' grain (month-end
    inventory/balance tables) that completes the fact-type trio next
    to m2 (transaction) and x_fact_accumulating_snapshot.

    Scale shape: one map-side-combined aggregation to (part, month),
    then a window partitioned BY PART ordered by month for the running
    position — per-partition fan-in is bounded by the calendar (tens
    of months), never by data volume, so the window is skew-safe at
    any corpus size. Accumulation is decimal-exact; the output boundary
    is DOUBLE (driver pandas-render rule, see x_olap_global_rank).

    Scaling-audit note (r11's worst time ratio, 3.04x on 10x data):
    NOT super-linear — the part x month grain is ~1 group per lineitem
    at small SFs (output rows 50,409 at sf0.01 -> 503,024 at sf0.1, a
    9.98x rows ratio), so runtime is honestly data-proportional where
    most catalog queries' outputs saturate and ride fixed overhead.
    The grain only stops tracking data volume once lines per
    (part, month) exceeds 1 at much larger SFs."""
    li = load_table(spark, sf_dir, "lineitem")
    m = (
        li.groupBy(
            F.col("l_partkey").alias("part_key"),
            F.trunc(F.col("l_shipdate").cast("date"), "month").alias(
                "month_start"
            ),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("qty_shipped"),
            F.count(F.lit(1)).alias("n_shipments"),
        )
    )
    w = (
        Window.partitionBy("part_key")
        .orderBy("month_start")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Output boundary: DOUBLE (see x_olap_global_rank note); the
    # running sum itself accumulates decimal-exact inside the window.
    return m.select(
        "part_key",
        "month_start",
        F.col("qty_shipped").cast("double").alias("qty_shipped"),
        "n_shipments",
        F.sum("qty_shipped")
        .over(w)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("cum_qty_shipped"),
    )


# --------------------------------------------------------------------------
# SCD taxonomy completion: Type-1 overwrite and Type-3 previous-value
# (with m1/m1b type-2 naive+delta, x_scd2_late_arriving, and
# x_scd2_point_in_time this closes the full slowly-changing-dimension
# family; the reference implements only naive type-2.)
# --------------------------------------------------------------------------

def _scd_fixture_sql() -> tuple[str, str]:
    from . import tpch_fixtures as fx

    scd1 = """
WITH src0 AS ({src}),
init AS (SELECT * FROM src0 WHERE CustomerID % 3 <> 0),
dim0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY CustomerID) AS BIGINT)
           AS CustomerKey,
         CustomerID, Name, NationKey, AcctBal, MktSegment
  FROM init),
batch AS (
  SELECT DISTINCT CustomerID, Name || ' v2' AS Name, NationKey, AcctBal,
         MktSegment
  FROM src0 WHERE CustomerID % 2 = 0),
updated AS (
  SELECT d.CustomerKey, d.CustomerID,
         CASE WHEN b.CustomerID IS NOT NULL THEN b.Name
              ELSE d.Name END AS Name,
         CASE WHEN b.CustomerID IS NOT NULL THEN b.NationKey
              ELSE d.NationKey END AS NationKey,
         CASE WHEN b.CustomerID IS NOT NULL THEN b.AcctBal
              ELSE d.AcctBal END AS AcctBal,
         CASE WHEN b.CustomerID IS NOT NULL THEN b.MktSegment
              ELSE d.MktSegment END AS MktSegment
  FROM dim0 d LEFT JOIN batch b ON d.CustomerID = b.CustomerID),
mx AS (SELECT COUNT(*) AS mk FROM dim0),
ins AS (
  SELECT CAST(mk + ROW_NUMBER() OVER (ORDER BY CustomerID) AS BIGINT)
           AS CustomerKey,
         CustomerID, Name, NationKey, AcctBal, MktSegment
  FROM batch, mx
  WHERE CustomerID NOT IN (SELECT CustomerID FROM dim0))
SELECT * FROM updated UNION ALL SELECT * FROM ins
""".format(src=fx.SQL_CUSTOMERS)

    scd3 = """
WITH src0 AS ({src}),
init AS (SELECT * FROM src0 WHERE CustomerID % 3 <> 0),
dim0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY CustomerID) AS BIGINT)
           AS CustomerKey,
         CustomerID, Name, NationKey, AcctBal, MktSegment
  FROM init),
batch AS (
  SELECT DISTINCT CustomerID, Name || ' v2' AS Name, NationKey, AcctBal,
         CASE WHEN CustomerID % 4 = 0 THEN 'RELOCATED'
              ELSE MktSegment END AS MktSegment
  FROM src0 WHERE CustomerID % 2 = 0),
updated AS (
  SELECT d.CustomerKey, d.CustomerID,
         CASE WHEN b.CustomerID IS NOT NULL THEN b.Name
              ELSE d.Name END AS Name,
         CASE WHEN b.CustomerID IS NOT NULL THEN b.NationKey
              ELSE d.NationKey END AS NationKey,
         CASE WHEN b.CustomerID IS NOT NULL THEN b.AcctBal
              ELSE d.AcctBal END AS AcctBal,
         CASE WHEN b.CustomerID IS NOT NULL THEN b.MktSegment
              ELSE d.MktSegment END AS MktSegment,
         CASE WHEN b.CustomerID IS NOT NULL
                   AND b.MktSegment IS DISTINCT FROM d.MktSegment
              THEN d.MktSegment END AS PrevMktSegment,
         CASE WHEN b.CustomerID IS NOT NULL
                   AND b.MktSegment IS DISTINCT FROM d.MktSegment
              THEN DATE '1995-06-01' END AS MktSegmentChangeDate
  FROM dim0 d LEFT JOIN batch b ON d.CustomerID = b.CustomerID),
mx AS (SELECT COUNT(*) AS mk FROM dim0),
ins AS (
  SELECT CAST(mk + ROW_NUMBER() OVER (ORDER BY CustomerID) AS BIGINT)
           AS CustomerKey,
         CustomerID, Name, NationKey, AcctBal, MktSegment,
         CAST(NULL AS VARCHAR) AS PrevMktSegment,
         CAST(NULL AS DATE) AS MktSegmentChangeDate
  FROM batch, mx
  WHERE CustomerID NOT IN (SELECT CustomerID FROM dim0))
SELECT * FROM updated UNION ALL SELECT * FROM ins
""".format(src=fx.SQL_CUSTOMERS)
    return scd1, scd3


_X_SCD1_SQL, _X_SCD3_SQL = _scd_fixture_sql()


@_q("x_scd1_overwrite", _X_SCD1_SQL)
def x_scd1_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-1 overwrite (operators/scd2.py::scd1_overwrite) on the
    shared m1 customer fixture: matched keys take the batch's values
    but keep their surrogate (facts keep joining), new keys insert —
    no history rows, one row per business key. The taxonomy slot the
    reference's always-version type-2 pipeline cannot express
    (corrections where history is noise)."""
    from . import tpch_fixtures as fx
    from ..operators.scd2 import scd1_overwrite

    src = fx.ref_customers(spark, sf_dir)
    cols = list(fx.CUSTOMER_COLS)
    init = src.filter(F.col("CustomerID") % 3 != 0)
    dim0 = scd1_overwrite(None, init, "CustomerID", cols, "CustomerKey")
    batch = src.filter(F.col("CustomerID") % 2 == 0).withColumn(
        "Name", F.concat(F.col("Name"), F.lit(" v2"))
    )
    return scd1_overwrite(dim0, batch, "CustomerID", cols, "CustomerKey")


@_q("x_scd3_prev_value", _X_SCD3_SQL)
def x_scd3_prev_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-3 previous-value tracking (operators/scd2.py::
    scd3_update) on the shared m1 customer fixture, tracking
    MktSegment: every 4th batch key relocates segment -> old value
    lands in PrevMktSegment with MktSegmentChangeDate stamped;
    untracked attributes overwrite type-1 style; unchanged tracked
    values carry their Prev/ChangeDate forward (NULL here — fresh
    dim). Completes the SCD family: 1, 2 naive, 2 delta, 3,
    late-arriving members, point-in-time read."""
    from . import tpch_fixtures as fx
    from ..operators.scd2 import scd1_overwrite, scd3_update

    src = fx.ref_customers(spark, sf_dir)
    cols = list(fx.CUSTOMER_COLS)
    init = src.filter(F.col("CustomerID") % 3 != 0)
    dim0 = scd1_overwrite(None, init, "CustomerID", cols, "CustomerKey")
    batch = (
        src.filter(F.col("CustomerID") % 2 == 0)
        .withColumn("Name", F.concat(F.col("Name"), F.lit(" v2")))
        .withColumn(
            "MktSegment",
            F.when(F.col("CustomerID") % 4 == 0, F.lit("RELOCATED"))
            .otherwise(F.col("MktSegment")),
        )
    )
    return scd3_update(
        dim0,
        batch,
        "CustomerID",
        cols,
        ["MktSegment"],
        "CustomerKey",
        run_date=fx.SECOND_BATCH_DATE,
    )


# --------------------------------------------------------------------------
# Survivorship / golden-record merge (MDM column-level fusion)
# --------------------------------------------------------------------------

def _golden_sql() -> str:
    from . import tpch_fixtures as fx

    return """
WITH src0 AS ({src}),
a AS (
  SELECT CustomerID, Name, NationKey, AcctBal, MktSegment,
         CustomerID * 10 AS rid, DATE '1995-01-01' AS LoadDate
  FROM src0),
b AS (
  SELECT CustomerID, Name || ' v2' AS Name, NationKey,
         CAST(NULL AS DOUBLE) AS AcctBal,
         CASE WHEN CustomerID % 4 = 0 THEN 'RELOCATED'
              ELSE MktSegment END AS MktSegment,
         CustomerID * 10 + 1 AS rid, DATE '1995-06-01' AS LoadDate
  FROM src0 WHERE CustomerID % 2 = 0),
stack AS (SELECT * FROM a UNION ALL SELECT * FROM b)
SELECT CustomerID,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       (max({{'f': CASE WHEN Name IS NULL THEN 0 ELSE 1 END,
             'l': COALESCE(LENGTH(Name), 0),
             'k': COALESCE(Name, ''), 'i': rid, 'v': Name}})).v AS Name,
       (max({{'f': CASE WHEN AcctBal IS NULL THEN 0 ELSE 1 END,
             'k': LoadDate, 'i': rid, 'v': AcctBal}})).v AS AcctBal,
       (max({{'k': LoadDate, 'i': rid, 'v': MktSegment}})).v AS MktSegment,
       (max({{'f': CASE WHEN NationKey IS NULL THEN 0 ELSE 1 END,
             'k': COALESCE(NationKey, 0), 'i': rid,
             'v': NationKey}})).v AS NationKey
FROM stack GROUP BY CustomerID
""".format(src=fx.SQL_CUSTOMERS)


_X_GOLDEN_SQL = _golden_sql()


@_q("x_dedup_golden_record", _X_GOLDEN_SQL)
def x_dedup_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge (operators/survivorship.py::golden_record):
    two customer 'source feeds' (the original load and a newer partial
    feed with longer names, missing balances, and some relocated
    segments) stack into ER clusters keyed by CustomerID, and the
    golden record fuses each column by its own rule — Name: longest;
    AcctBal: most recent NON-NULL (the newer feed's null must NOT
    win); MktSegment: latest; NationKey: max. The survivor can be
    better than every input row — the MDM step the row-pick dedup
    tiers (dedup_by_clusters_best) cannot express. One map-side-
    combined groupBy, every rule a null-guarded struct-ordered
    aggregate; no window, no self-join."""
    from . import tpch_fixtures as fx
    from ..operators.survivorship import golden_record

    src = fx.ref_customers(spark, sf_dir)
    a = src.select(
        "CustomerID", "Name", "NationKey", "AcctBal", "MktSegment",
        (F.col("CustomerID") * 10).alias("rid"),
        F.lit("1995-01-01").cast("date").alias("LoadDate"),
    )
    b = src.filter(F.col("CustomerID") % 2 == 0).select(
        "CustomerID",
        F.concat(F.col("Name"), F.lit(" v2")).alias("Name"),
        "NationKey",
        F.lit(None).cast("double").alias("AcctBal"),
        F.when(F.col("CustomerID") % 4 == 0, F.lit("RELOCATED"))
        .otherwise(F.col("MktSegment"))
        .alias("MktSegment"),
        (F.col("CustomerID") * 10 + 1).alias("rid"),
        F.lit("1995-06-01").cast("date").alias("LoadDate"),
    )
    return golden_record(
        a.unionByName(b),
        "CustomerID",
        "rid",
        {
            "Name": "longest",
            "AcctBal": "non_null_latest",
            "MktSegment": "latest",
            "NationKey": "max",
        },
        recency_col="LoadDate",
    )


# --------------------------------------------------------------------------
# Z-order clustering layout (multi-column data skipping, oracle tier)
# --------------------------------------------------------------------------

_Z_LEVELS_SQL = (
    "CAST(FLOOR((l_partkey - plo) * 256 / (phi - plo + 1)) AS BIGINT)",
    "CAST(FLOOR((l_suppkey - slo) * 256 / (shi - slo + 1)) AS BIGINT)",
)


def _zorder_sql() -> str:
    from ..sources.zorder import zvalue_sql

    z = zvalue_sql({"pl": "pl", "sl": "sl"}, 8)
    return f"""
WITH b AS (
  SELECT MIN(l_partkey) AS plo, MAX(l_partkey) AS phi,
         MIN(l_suppkey) AS slo, MAX(l_suppkey) AS shi
  FROM lineitem),
lv AS (
  SELECT l_partkey, l_suppkey,
         {_Z_LEVELS_SQL[0]} AS pl,
         {_Z_LEVELS_SQL[1]} AS sl
  FROM lineitem, b),
z AS (SELECT l_partkey, l_suppkey, {z} AS zkey FROM lv)
SELECT zkey >> 8 AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(l_partkey) AS part_min, MAX(l_partkey) AS part_max,
       MIN(l_suppkey) AS supp_min, MAX(l_suppkey) AS supp_max
FROM z GROUP BY 1
"""


_X_ZORDER_LAYOUT_SQL = _zorder_sql()


@_q("x_storage_zorder_layout", _X_ZORDER_LAYOUT_SQL)
def x_storage_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable Z-order tier (sources/zorder.py::zvalue_sql —
    the SQL-text twin of the write path's _interleave): Morton-
    interleave (l_partkey, l_suppkey) at 8 bits each over equal-width
    integer levels, group rows into 'files' by the z-key's high bits,
    and emit each file's min/max BOX on BOTH columns — the statistics
    a min/max skipping reader prunes with, tight in EVERY interleaved
    dimension (a single-column sort is tight in one). Spark executes
    the IDENTICAL expression text the DuckDB oracle runs (level
    scaling and every interleave term), so the clustering decision is
    verified bit for bit; x_storage_zorder_roundtrip separately checks
    the physical parquet write path (permutation + footer stats).
    Scale shape: one 2-values-per-column bounds agg (broadcast), one
    map-only z-key scan, one map-side-combined groupBy."""
    from ..sources.zorder import zvalue_sql

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey").alias("plo"),
        F.max("l_partkey").alias("phi"),
        F.min("l_suppkey").alias("slo"),
        F.max("l_suppkey").alias("shi"),
    )
    z = (
        li.crossJoin(F.broadcast(bounds))
        .selectExpr(
            "l_partkey",
            "l_suppkey",
            f"{_Z_LEVELS_SQL[0]} AS pl",
            f"{_Z_LEVELS_SQL[1]} AS sl",
        )
        .selectExpr(
            "l_partkey",
            "l_suppkey",
            f"{zvalue_sql({'pl': 'pl', 'sl': 'sl'}, 8)} AS zkey",
        )
    )
    return z.groupBy(
        F.shiftright(F.col("zkey"), 8).alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("part_min"),
        F.max("l_partkey").alias("part_max"),
        F.min("l_suppkey").alias("supp_min"),
        F.max("l_suppkey").alias("supp_max"),
    )


# --------------------------------------------------------------------------
# Schema conformance (ingestion drift repair) + RFM segmentation
# --------------------------------------------------------------------------

_X_CONFORM_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       o_custkey,
       o_orderstatus,
       CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS o_totalprice,
       CAST(NULL AS VARCHAR) AS o_clerk,
       o_orderpriority
FROM orders
"""


@_q("x_ingest_conform_schema", _X_CONFORM_SQL)
def x_ingest_conform_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema conformance (sources/conform.py): a drifted orders feed
    — order key narrowed to INT upstream, status arriving under a
    legacy name, price as FLOAT, a target column (o_clerk) the feed
    no longer ships — aligns onto the canonical schema via rename ->
    typed-NULL fill -> safe widening (int->bigint, float->double),
    with anything unsafe rejected loudly (tests). The aligned output
    is a single map-only SELECT of casts; the decision logic runs on
    schemas, not data."""
    from pyspark.sql import types as T

    from ..sources.conform import conform_schema

    drifted = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_custkey",
        F.col("o_orderstatus").alias("status_legacy"),
        F.col("o_totalprice").cast("float").alias("o_totalprice"),
        "o_orderpriority",
    )
    target = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_clerk", T.StringType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    return conform_schema(
        drifted, target, renames={"status_legacy": "o_orderstatus"}
    )


_X_RFM_SQL = """
WITH cust AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS revenue
  FROM orders GROUP BY o_custkey)
SELECT o_custkey, last_order, n_orders, CAST(revenue AS DOUBLE) AS revenue,
       CAST(NTILE(5) OVER (ORDER BY last_order, o_custkey) AS BIGINT)
         AS r_score,
       CAST(NTILE(5) OVER (ORDER BY n_orders, o_custkey) AS BIGINT)
         AS f_score,
       CAST(NTILE(5) OVER (ORDER BY revenue, o_custkey) AS BIGINT)
         AS m_score
FROM cust
"""


@_q("x_olap_rfm_scores", _X_RFM_SQL)
def x_olap_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles per
    customer — the standard CRM scoring grid), built on the multi-dim
    exact-rank kernel (operators/rank.py distributed_ntile_multi): ONE
    window pass over (dim, key) exploded rows replaces the previous
    three chained NTILE passes (3 cache materializations + ~9 driver
    jobs + 3 stacked grain exchanges — the most expensive non-graph
    bench query for three rounds). No single-partition WindowExec
    anywhere, so the customer grain can be billions of rows.

    Each dimension is encoded as a strictly monotonic LONG — epoch
    days for recency, the count itself for frequency, exact cents
    (decimal(18,2) * 100, integral by construction) for monetary — so
    quintile assignment is identical to NTILE over the raw columns.
    Ties carry the customer key, so both engines assign identical
    quintiles. 5 = most recent / most frequent / highest revenue."""
    from ..operators.rank import distributed_ntile_multi

    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("revenue"),
        )
        .withColumn(
            "__r_key", F.datediff(F.col("last_order"), F.lit("1970-01-01").cast("date")).cast("long")
        )
        .withColumn("__f_key", F.col("n_orders").cast("long"))
        # decimal(18,2) cents fit a LONG up to ~9.2e16 dollars; per-
        # customer revenue is scale-invariant in TPC-H shape (orders
        # per customer is constant), so the encoding is always exact.
        .withColumn("__m_key", (F.col("revenue") * 100).cast("long"))
    )
    out = distributed_ntile_multi(
        cust,
        ["__r_key", "__f_key", "__m_key"],
        "o_custkey",
        5,
        ["r_score", "f_score", "m_score"],
    )
    # Output boundary: revenue DOUBLE (see x_olap_global_rank note) —
    # quintile ranking above still runs in exact integer space.
    return out.select(
        "o_custkey", "last_order", "n_orders",
        F.col("revenue").cast("double").alias("revenue"),
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
    )


# --------------------------------------------------------------------------
# Kimball dimensional patterns: junk dimension, bridge table,
# role-playing dates (completes the pattern set next to the fact trio,
# the SCD family, and the conformed-dim fixture mapping)
# --------------------------------------------------------------------------

_X_JUNK_SQL = """
WITH junk AS (
  SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders),
keyed AS (
  SELECT CAST(DENSE_RANK() OVER (ORDER BY o_orderstatus, o_orderpriority)
              AS BIGINT) AS junk_key,
         o_orderstatus, o_orderpriority
  FROM junk)
SELECT k.junk_key, k.o_orderstatus, k.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
JOIN keyed k ON o.o_orderstatus = k.o_orderstatus
            AND o.o_orderpriority = k.o_orderpriority
GROUP BY 1, 2, 3
"""


@_q("x_dim_junk", _X_JUNK_SQL)
def x_dim_junk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Junk dimension (Kimball): the low-cardinality flag columns
    (status x priority) collapse into one keyed dimension so the fact
    carries a single surrogate instead of N flag columns. The keying
    window runs over the DISTINCT flag combinations — bounded by the
    flag domain product (15 here), never by fact volume — and the
    fact joins the junk dim by broadcast. Output: the dim plus each
    combo's usage count (proving the join back)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    )
    junk = o.distinct()
    w = Window.orderBy("o_orderstatus", "o_orderpriority")
    keyed = junk.withColumn(
        "junk_key", F.dense_rank().over(w).cast("long")
    )
    return (
        o.join(
            F.broadcast(keyed), ["o_orderstatus", "o_orderpriority"]
        )
        .groupBy("junk_key", "o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_X_BRIDGE_SQL = """
WITH lp AS (
  SELECT l_orderkey, l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS qty
  FROM lineitem GROUP BY 1, 2),
tot AS (
  SELECT l_orderkey, CAST(SUM(qty) AS DECIMAL(18,2)) AS total_qty
  FROM lp GROUP BY 1)
SELECT lp.l_orderkey AS order_key, lp.l_partkey AS part_key,
       CAST(lp.qty AS DOUBLE) AS qty,
       CAST(lp.qty AS DOUBLE) / CAST(t.total_qty AS DOUBLE) AS allocation
FROM lp JOIN tot t ON lp.l_orderkey = t.l_orderkey
"""


@_q("x_fact_order_part_bridge", _X_BRIDGE_SQL)
def x_fact_order_part_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge table with allocation factor (Kimball many-to-many):
    the order<->part relationship carries each part's quantity share
    of its order, so downstream rollups can allocate order-level
    amounts over parts without double counting (the weights sum to 1
    per order by construction). Scale shape: two aggregations and a
    join ALL keyed on the order key — one co-partitioned exchange
    end to end (bucketed warehouse tables make it shuffle-free);
    decimal-exact until the single output division."""
    lp = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_partkey").alias("part_key"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("qty")
        )
    )
    tot = lp.groupBy("order_key").agg(
        F.sum("qty").cast("decimal(18,2)").alias("total_qty")
    )
    # Output boundary: qty DOUBLE (see x_olap_global_rank note) — the
    # per-order totals and shares still accumulate decimal-exact.
    return lp.join(tot, "order_key").select(
        "order_key",
        "part_key",
        F.col("qty").cast("double").alias("qty"),
        (F.col("qty").cast("double") / F.col("total_qty").cast("double"))
        .alias("allocation"),
    )


_X_ROLEPLAY_SQL = """
WITH dd AS (
  SELECT CAST(d AS DATE) AS d, CAST(EXTRACT(year FROM d) AS INTEGER) AS yr
  FROM generate_series(DATE '1995-01-01', DATE '1995-01-01' + INTERVAL 2599 DAY,
                       INTERVAL 1 DAY) AS t(d)),
f AS (
  SELECT CAST(o.o_orderdate AS DATE) AS od, CAST(l.l_shipdate AS DATE) AS sd
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT d_ord.yr AS order_year, d_ship.yr AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM f
JOIN dd d_ord  ON f.od = d_ord.d
JOIN dd d_ship ON f.sd = d_ship.d
GROUP BY 1, 2
"""


@_q("x_olap_role_playing_dates", _X_ROLEPLAY_SQL)
def x_olap_role_playing_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-playing dimension (Kimball): ONE physical calendar
    dimension joined twice under different roles — order date and
    ship date — via aliases, never a second copy of the dim (the m3
    generator builds it once; both roles broadcast). Output: the
    order-year x ship-year shipping-lag matrix. At warehouse scale
    the pattern matters because the calendar dim stays a single
    broadcast artifact no matter how many date roles the fact has."""
    import datetime as dt

    from ..operators.dates_dim import generate_dim_dates

    dd = generate_dim_dates(
        spark, start=dt.date(1995, 1, 1), n_days=2600
    ).select("Date", "Year")
    f = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.col("l_shipdate").cast("date").alias("sd"))
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey",
                F.col("o_orderdate").cast("date").alias("od"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    d_ord = F.broadcast(
        dd.select(F.col("Date").alias("od"), F.col("Year").alias("order_year"))
    )
    d_ship = F.broadcast(
        dd.select(F.col("Date").alias("sd"), F.col("Year").alias("ship_year"))
    )
    return (
        f.join(d_ord, "od")
        .join(d_ship, "sd")
        .groupBy("order_year", "ship_year")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


# --------------------------------------------------------------------------
# Drill-across report (multi-fact merge on conformed dims)
# --------------------------------------------------------------------------

_X_DRILL_SQL = """
WITH f1 AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
           AS month_start,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS booked
  FROM orders GROUP BY 1),
f2 AS (
  SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
           AS month_start,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS shipped_qty,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1)
SELECT COALESCE(f1.month_start, f2.month_start) AS month_start,
       f1.n_orders, CAST(f1.booked AS DOUBLE) AS booked,
       CAST(f2.shipped_qty AS DOUBLE) AS shipped_qty, f2.n_lines
FROM f1 FULL OUTER JOIN f2 ON f1.month_start = f2.month_start
"""


@_q("x_olap_drill_across", _X_DRILL_SQL)
def x_olap_drill_across(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-across (Kimball multi-fact report): bookings (orders
    fact) vs shipments (lineitem fact) per month. Each fact
    aggregates to the CONFORMED grain separately and the results
    merge with a full outer join on the dim key — the raw facts are
    NEVER joined to each other, which is the pattern's whole point:
    a direct orders x lineitem join fans out order-grain measures
    across line rows and double-counts them. Scale shape: two
    map-side-combined aggregations to calendar grain; the merge
    touches calendar-sized inputs only."""
    f1 = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias(
                "month_start"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("booked"),
        )
    )
    f2 = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.trunc(F.col("l_shipdate").cast("date"), "month").alias(
                "month_start"
            )
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("shipped_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    # Output boundary: DOUBLE measures (see x_olap_global_rank note);
    # each fact still aggregates decimal-exact before the merge.
    return (
        f1.join(f2, "month_start", "full_outer")
        .select(
            "month_start",
            "n_orders",
            F.col("booked").cast("double").alias("booked"),
            F.col("shipped_qty").cast("double").alias("shipped_qty"),
            "n_lines",
        )
    )


# --------------------------------------------------------------------------
# Data-quality scorecard: one query, every core check, one tall result
# --------------------------------------------------------------------------

_X_DQ_SCORECARD_SQL = """
SELECT 'orders' AS table_name, 'rows' AS check_name,
       CAST(COUNT(*) AS BIGINT) AS metric FROM orders
UNION ALL
SELECT 'orders', 'pk_dup_keys',
       CAST(COUNT(*) AS BIGINT) FROM (
  SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
UNION ALL
SELECT 'orders', 'fk_orphans_custkey',
       CAST(COUNT(*) AS BIGINT) FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'orders', 'null_custkey',
       CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL
UNION ALL
SELECT 'lineitem', 'rows', CAST(COUNT(*) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'lineitem', 'fk_orphans_orderkey',
       CAST(COUNT(*) AS BIGINT) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem', 'null_quantity',
       CAST(COUNT(*) AS BIGINT) FROM lineitem WHERE l_quantity IS NULL
UNION ALL
SELECT 'customer', 'rows', CAST(COUNT(*) AS BIGINT) FROM customer
UNION ALL
SELECT 'customer', 'pk_dup_keys',
       CAST(COUNT(*) AS BIGINT) FROM (
  SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1)
"""


@_q("x_validate_dq_scorecard", _X_DQ_SCORECARD_SQL)
def x_validate_dq_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality dashboard query: row counts, duplicate-PK key
    counts, FK orphan counts, and required-column null counts for the
    order-to-customer core, emitted as ONE tall (table, check, metric)
    result — the shape every DQ scorecard/alerting system ingests
    (extends the reference's validate_data.py checks V1/V2/V3 into a
    single cross-table report).

    Scale shape: each check is an independent aggregate or anti-join
    over one table pair, so Catalyst schedules them as parallel
    branches of one union; the orphan checks are LEFT ANTI joins
    (never a row explosion — output is bounded by the probe side);
    every branch reduces to ONE row before the union, so the result
    is check-count sized. At 100 TB each branch is the canonical
    scan+combine or broadcast/shuffle anti-join."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    def one(table: str, check: str, df_count: DataFrame) -> DataFrame:
        return df_count.select(
            F.lit(table).alias("table_name"),
            F.lit(check).alias("check_name"),
            F.col("_m").cast("long").alias("metric"),
        )

    def cnt(df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("_m"))

    dup_orders = cnt(
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
    )
    dup_cust = cnt(
        customer.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
    )
    orph_orders = cnt(
        orders.join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
    )
    orph_line = cnt(
        lineitem.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        )
    )
    parts = [
        one("orders", "rows", cnt(orders)),
        one("orders", "pk_dup_keys", dup_orders),
        one("orders", "fk_orphans_custkey", orph_orders),
        one("orders", "null_custkey", cnt(orders.filter(F.col("o_custkey").isNull()))),
        one("lineitem", "rows", cnt(lineitem)),
        one("lineitem", "fk_orphans_orderkey", orph_line),
        one(
            "lineitem",
            "null_quantity",
            cnt(lineitem.filter(F.col("l_quantity").isNull())),
        ),
        one("customer", "rows", cnt(customer)),
        one("customer", "pk_dup_keys", dup_cust),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------------------------------------------
# Round-14: in-flight observed load metrics (zero extra scans)
# --------------------------------------------------------------------------

_X_OBSERVED_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_o_custkey,
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_o_orderdate
FROM orders
"""


@_q("x_validate_observed_load", _X_OBSERVED_SQL)
def x_validate_observed_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation metrics collected IN FLIGHT during the load itself
    (operators/validation.py::observed_write — DataFrame.observe): the
    orders table is written to scratch while an attached observer
    accumulates row count and per-column null counts on the executors;
    NO second scan ever runs. The oracle recomputes the same counts
    with a real scan of the source — hash-equality proves the
    in-flight accumulators see every row exactly once (the property
    that makes observe a safe replacement for the reference's
    validate-then-load double read at 100 TB, where the second read IS
    the cost of validation). The HLL uniqueness smoke signal
    (pk_distinct_approx) is engine-specific and intentionally excluded
    from the hashed output; the exact V2 gate remains pk_duplicates."""
    from ..operators.validation import observed_write
    from ..sources.readers import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    out = scratch_dir("spark_graft_observed_") + "/orders"
    m = observed_write(
        orders, out, pk="o_orderkey",
        null_check_cols=["o_custkey", "o_orderdate"],
    )
    return spark.createDataFrame(
        [(m["row_count"], m["null_o_custkey"], m["null_o_orderdate"])],
        "row_count long, null_o_custkey long, null_o_orderdate long",
    )


# --------------------------------------------------------------------------
# VARCHAR length enforcement (SURVEY §1.2's optional residue, closed)
# --------------------------------------------------------------------------

_VARCHAR_DEMO_LIMITS = {"lang": 10, "source": 50, "text": 500}

_X_VARCHAR_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, CAST({n} AS INTEGER) AS declared_len,
       CAST(COALESCE(SUM(CASE WHEN length({c}) > {n} THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_overlength,
       CAST(MAX(length({c})) AS INTEGER) AS max_observed,
       CAST(COALESCE(SUM(CASE WHEN length({c}) > {n}
                              THEN length({c}) - {n} ELSE 0 END), 0)
            AS BIGINT) AS chars_truncated
FROM documents"""
    for c, n in _VARCHAR_DEMO_LIMITS.items()
)


@_q("x_validate_varchar_len", _X_VARCHAR_SQL)
def x_validate_varchar_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARCHAR(n) length enforcement (operators/validation.py::
    varchar_enforce): the reference's DDL bounds every string column
    (VARCHAR(50)/VARCHAR(10), dynamic_upsert.py:17-25) and Redshift
    rejects over-length rows at COPY time; Spark's StringType is
    unbounded, so the engine enforces the registry explicitly — a
    TRUNCATECOLUMNS-posture conformed output plus a per-column reject
    report. This query registers the REPORT side over a demo registry
    on documents (text VARCHAR(500) has real violators in the fixture;
    lang/source are clean columns proving the zero path): one
    conditional-aggregation scan pruned to the three declared columns,
    stack-pivoted to per-column rows — never the reference's
    scan-per-column shape. The conformed side's truncation invariants
    (post-clip max length <= n, clean columns byte-identical) are
    pinned in tests/test_validation.py; the parity registry itself
    (schemas.VARCHAR_LIMITS) is exercised there on reference-shaped
    frames."""
    from ..operators.validation import varchar_enforce

    docs = load_table(spark, sf_dir, "documents")
    _conformed, report = varchar_enforce(docs, _VARCHAR_DEMO_LIMITS)
    return report


# --------------------------------------------------------------------------
# Count-min sketch (deterministic, mergeable; md5 row hashes)
# --------------------------------------------------------------------------

_CMS_D, _CMS_W, _CMS_TOPN = 4, 256, 20

_X_CMS_SQL = f"""
WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders),
cells AS (
  SELECT j,
         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|'
                || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % {_CMS_W} AS col
  FROM o, UNNEST([0, 1, 2, 3]) AS t(j)),
cms AS (
  SELECT j, col, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY j, col),
exact AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM o GROUP BY k),
top AS (
  SELECT k, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, k LIMIT {_CMS_TOPN}),
probes AS (
  SELECT k, exact_cnt, j,
         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|'
                || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % {_CMS_W} AS col
  FROM top, UNNEST([0, 1, 2, 3]) AS t(j))
SELECT p.k AS o_custkey, p.exact_cnt,
       CAST(MIN(c.cnt) AS BIGINT) AS cms_est,
       CAST(MIN(c.cnt) - p.exact_cnt AS BIGINT) AS overcount
FROM probes p JOIN cms c ON c.j = p.j AND c.col = p.col
GROUP BY p.k, p.exact_cnt
"""


def _cms_col(j: int, key_str) -> "F.Column":
    """Row-j CMS column index: md5('j|key') first 8 hex digits as a
    positive 32-bit int, mod the sketch width — engine-portable (the
    md5-twin trick), deterministic, pairwise-independent enough for
    the CM guarantee in practice."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}|"), key_str)), 1, 8),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )


@_q("x_olap_countmin_sketch", _X_CMS_SQL)
def x_olap_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over order
    custkeys: d=4 rows x w=256 counters, row hashes from the md5-twin
    trick so the sketch is DETERMINISTIC and engine-portable — DuckDB
    rebuilds the identical counter matrix and the driver hash-checks
    point estimates for the top-{n} keys against their exact counts.

    Why it earns a catalog line next to HLL/grid-quantile: the CM
    sketch is the MERGEABLE heavy-hitter/point-frequency summary — the
    counter matrix is a pure sum, so partial per-partition sketches
    combine by elementwise addition. Here that merge IS Spark's
    map-side partial aggregation of the (j, col) groupBy: every
    executor builds its local sketch, the exchange moves d*w = 1024 counters
    per partition (never rows), and the reduce-side sum is the sketch
    union — the same two-level shape a 1000-executor deployment or a
    cross-day rollup uses (tests/test_metrics_pack.py pins
    sketch(half A) + sketch(half B) == sketch(all)).

    Estimates: est(k) = min_j cms[j][h_j(k)] >= exact(k) always
    (one-sided error, pinned in tests); with w=256 the expected
    overcount is ~ N/w per row, min over d=4 rows. The output stakes
    both sides: exact_cnt from a real groupBy, cms_est from the
    sketch, overcount = the (non-negative) gap. Top-20 selection is
    orderBy+limit — per-partition TakeOrdered + driver merge of 20
    rows, never a global sort."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("k")
    )
    ks = F.col("k").cast("string")
    probe_structs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("j"), _cms_col(j, ks).alias("col")
            )
            for j in range(_CMS_D)
        ]
    )
    cells = o.select(F.explode(probe_structs).alias("c")).select(
        "c.j", "c.col"
    )
    cms = cells.groupBy("j", "col").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    exact = o.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    top = exact.orderBy(F.col("exact_cnt").desc(), F.col("k")).limit(
        _CMS_TOPN
    )
    probes = top.select(
        "k", "exact_cnt", F.explode(probe_structs).alias("c")
    ).select("k", "exact_cnt", "c.j", "c.col")
    return (
        probes.join(F.broadcast(cms), ["j", "col"])
        .groupBy("k", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            F.col("k").alias("o_custkey"),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )
