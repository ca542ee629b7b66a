"""Data-mining / relationship-analytics pack: graph metrics (triangles,
degrees), grouped OLS regression, Markov transition matrices, Pareto
skyline, statistical mode, period-over-period growth, referential-
integrity and functional-dependency validation, weighted sampling,
forward as-of join, market-basket lift, boilerplate removal, DAU/WAU,
median/MAD outliers, windowed funnels, journey paths, revenue
concentration, Benford digits, LM-coverage quality scoring, and the
scalar-kernel surfaces (string / conditional / array / date / window
frame) — the read-side query shapes a warehouse serves beyond plain
star-join aggregation.

No counterpart in the reference (the 4 Redshift scripts stop at
validate/upsert/fact-populate, validate_data.py:36-171,
populate_fact.py:74-146); this pack extends the same events/orders
warehouse the reference maintains with the analytics families the
SURVEY §7 extension plan calls for.

House rules as plans/catalog.py: exact integer/decimal accumulation
inside aggregates, double assembled once at the boundary with identical
expression text on both engines (see the corr scale note in
analytics_pack.py); no collects, no Python UDFs; every window either
keyed or over an already-aggregated group-count-sized input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import lifecycle
from ..functions import text as tx
from ..lifecycle import scratch_dir
from ..operators.rank import distributed_ntile
from ..sources.readers import load_events, load_table, read_parquet, spread
from .catalog import _q

# --------------------------------------------------------------------------
# Graph metrics over the part co-purchase graph
# --------------------------------------------------------------------------

# Shared edge CTE text: parts linked when they co-occur in an order,
# canonical undirected form (a < b), duplicates collapsed.
_EDGE_CTE = """
e0 AS (
    SELECT DISTINCT x.l_partkey AS s, y.l_partkey AS t
    FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
    WHERE x.l_partkey <> y.l_partkey),
e AS (
    SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b FROM e0)
"""


def _staged_pair_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase pair-weight table (src < dst, w = number of
    distinct orders containing both parts), STAGED ONCE per process
    and read back as parquet by every graph consumer.

    Five catalog queries (triangles, degree-hist, kcore, coreness,
    pagerank) and the market-basket pair stage all derive from this one
    table — support-1 edges are its projection, support-2 edges its
    ``w >= 2`` filter, the symmetric digraph its union with the flipped
    half. Unstaged, each consumer re-runs the lineitem self-join
    (~12 s of a 62 s bench at sf0.1); at 100 TB you materialize the
    edge list exactly once and every graph job scans the staged table —
    the same stage-then-consume shape the manifest catalog uses for
    fact tables. Registered as its own oracle-checked query
    (x_graph_edges_stage), so the staging cost is visible in the bench
    rather than hidden inside whichever consumer runs first.

    Build shape: DISTINCT (order, part) via
    repartition(ok)+dropDuplicates — ONE exchange that the self-join
    reuses; strict src < dst halves the fan-out
    before the pair aggregation; per-pair COUNT(*) equals
    COUNT(DISTINCT ok) because the input is order-distinct."""

    def build(d: str) -> str:
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("ok"), "l_partkey")
            .repartition("ok")
            .dropDuplicates(["ok", "l_partkey"])
        )
        a = li.select("ok", F.col("l_partkey").alias("src"))
        b = li.select("ok", F.col("l_partkey").alias("dst"))
        pw = (
            a.join(b, "ok")
            .filter(F.col("src") < F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("w"))
        )
        pw.write.mode("overwrite").parquet(f"{d}/pair_weights")
        return f"{d}/pair_weights"

    return read_parquet(spark, lifecycle.stage(
        ("pair_weights", sf_dir), build,
        prefix="spark_graft_copurchase_edges_",
    ))


_X_EDGE_STAGE_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
SELECT a.pk AS src, b.pk AS dst, CAST(COUNT(*) AS BIGINT) AS w
FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
GROUP BY 1, 2
"""


@_q("x_graph_edges_stage", _X_EDGE_STAGE_SQL)
def x_graph_edges_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged co-purchase pair-weight table itself (see
    _staged_pair_weights): one row per undirected part pair with its
    exact order-support count. Oracle states the same distinct-then-
    self-join aggregation; hash-checking THIS table transitively pins
    the edge set every downstream graph query consumes."""
    return _staged_pair_weights(spark, sf_dir).select(
        "src", "dst", F.col("w").cast("long").alias("w")
    )


def _support2_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-2 co-purchase graph: parts linked when they co-occur in
    >= 2 distinct orders (shared by x_graph_kcore / x_graph_coreness).
    Since r14 a ``w >= 2`` filter over the staged pair-weight table
    (_staged_pair_weights) — the filter pushes into the parquet scan.
    DISTINCT (order, part) FIRST: collapses duplicate lineitems before
    the self-join (smaller fan-out) and turns the per-pair support
    count into a plain one-pass COUNT(*) instead of the two-phase
    COUNT(DISTINCT ok) keyed on (s, t, ok) — after the distinct, each
    order contributes each pair exactly once, so the counts are
    provably equal; this also mirrors the oracle CTEs'
    `SELECT DISTINCT ... / COUNT(*)` shape literally.

    ONE exchange for distinct + join (r11): repartition on the order
    key first, then dropDuplicates — HashPartitioning(ok) satisfies
    ClusteredDistribution(ok, part) (the partition key is a prefix of
    the grouping keys), so the dedup runs exchange-free in place AND
    the self-join on ok reuses the same layout. A plain .distinct()
    exchanged on (ok, part) and then the join re-exchanged on ok —
    the double shuffle behind the r10 triangles/kcore bench drag."""
    return (
        _staged_pair_weights(spark, sf_dir)
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CANONICAL output (src < dst, one row per undirected edge — the
    # oracle's `e` CTE literally). Since r14 a projection of the staged
    # pair-weight table (_staged_pair_weights — built once per process,
    # every support level is a pushed-down filter over the same scan).
    return _staged_pair_weights(spark, sf_dir).select("src", "dst")


_X_TRIANGLES_SQL = f"""
WITH {_EDGE_CTE},
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS node FROM tri)
GROUP BY node
"""


@_q("x_graph_triangles", _X_TRIANGLES_SQL)
def x_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the co-purchase graph via
    degree-ordered orientation (operators/graph.py::triangle_counts):
    out-degree after orientation is O(sqrt(m)) even at hub nodes, so
    the wedge join's fan-out is bounded at any scale — the property
    that makes distributed triangle counting feasible where the naive
    node-iterator join explodes. The oracle enumerates canonical
    id-ordered triangles; both count each triangle exactly once, so
    per-node participation matches row-for-row."""
    from ..operators.graph import triangle_counts

    return triangle_counts(_copurchase_edges(spark, sf_dir), canonical=True)


_X_DEGREE_SQL = f"""
WITH {_EDGE_CTE},
d AS (
    SELECT node, COUNT(*) AS degree
    FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
    GROUP BY node)
SELECT CAST(degree AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM d GROUP BY degree
"""


@_q("x_graph_degree_hist", _X_DEGREE_SQL)
def x_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the cheapest
    skew diagnostic there is: the histogram's tail IS the list of keys
    that need salting/capping in every downstream graph op. Two
    groupBys (node degree, then degree frequency); the second input is
    |V| rows, the third |distinct degrees|."""
    edges = _copurchase_edges(spark, sf_dir)  # already canonical a < b
    deg = (
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# --------------------------------------------------------------------------
# Grouped OLS regression from exact integer co-moments
# --------------------------------------------------------------------------

# Same bit-stability recipe as x_olap_corr (analytics_pack.py): x is
# integer hours (epoch_us div 3.6e9), y integer value-cents; the five
# co-moment sums accumulate as scale-0 decimals (order-insensitive,
# partial-agg friendly, ONE correctly-rounded int->double conversion on
# both engines), then slope/intercept assemble in double with identical
# expression text. Built-in regr_slope is a streaming update whose
# rounding depends on partition order — unusable under a value hash.
_X_REGR_SQL = """
WITH pts AS (
    SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS x,
           CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(20,0))
                AS BIGINT) AS y
    FROM events),
s AS (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
                         AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
                         AS DECIMAL(38,0))) AS DOUBLE) AS sxy
    FROM pts GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0
           AS slope_per_hour,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / 100.0
           AS intercept
FROM s
"""


@_q("x_olap_regression", _X_REGR_SQL)
def x_olap_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time (slope in
    value-units/hour + intercept), from algebraic co-moments: one
    map-side-combined aggregation pass at any scale, no window, no
    second scan. The normal-equation assembly happens in double AFTER
    the exact integer sums — bit-identical across engines and
    partitionings (see the recipe note above the SQL)."""
    ev = load_events(spark, sf_dir)
    x = F.expr("unix_micros(ts) div 3600000000")
    y = (
        (F.col("value").cast("decimal(18,2)") * F.lit(100))
        .cast("decimal(20,0)")
        .cast("bigint")
    )
    pts = ev.select("event_type", x.alias("x"), y.alias("y"))
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((xd * xd).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((xd * yd).cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope_cents = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "event_type",
        n.alias("n"),
        (slope_cents / F.lit(100.0)).alias("slope_per_hour"),
        ((sy - slope_cents * sx) / n / F.lit(100.0)).alias("intercept"),
    )


# --------------------------------------------------------------------------
# Markov transition matrix over per-user event streams
# --------------------------------------------------------------------------

_X_TRANSITIONS_SQL = """
WITH o AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
    FROM events)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS DOUBLE)
           / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE)
           AS p_transition
FROM o
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@_q("x_events_transitions", _X_TRANSITIONS_SQL)
def x_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + row-normalized
    probabilities over each user's time-ordered event stream (ties
    broken by event_id, so LEAD is deterministic). One keyed window
    shuffle on user_id, one groupBy on the (from, to) pair — the
    normalizing window then runs over |types|^2 rows. The probability
    divides two exact BIGINT counts in double, identically on both
    engines."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = (
        o.withColumnRenamed("event_type", "from_type")
        .withColumnRenamed("next_type", "to_type")
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wn = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wn).cast("double")
        ).alias("p_transition"),
    )


# --------------------------------------------------------------------------
# Referential-integrity validation (FK orphan counts)
# --------------------------------------------------------------------------

_X_FK_SQL = """
SELECT 'lineitem->orders' AS relation,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS n_orphans,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows
UNION ALL
SELECT 'orders->customer' AS relation,
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT) AS n_orphans,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows
"""


@_q("x_validate_fk_orphans", _X_FK_SQL)
def x_validate_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for the two FK edges
    of the reference's star schema (lineitem->orders,
    orders->customer) next to table totals — the V-family check the
    reference's validate_data.py does NOT do (it stops at nulls + PK
    uniqueness, validate_data.py:36-171). Each relation is one LEFT
    ANTI join (AQE picks broadcast when the PK side fits) collapsed to
    a 1-row count; the four scalar aggregates cross-join into two
    constant-size rows — no data ever reaches the driver."""

    def _edge(rel: str, child, key_l, parent, key_r) -> DataFrame:
        orphans = (
            child.join(parent, child[key_l] == parent[key_r], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        total = child.agg(F.count(F.lit(1)).alias("n_rows"))
        return orphans.crossJoin(total).select(
            F.lit(rel).alias("relation"), "n_orphans", "n_rows"
        )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = load_table(spark, sf_dir, "customer").select("c_custkey")
    return _edge("lineitem->orders", li, "l_orderkey", od, "o_orderkey").unionAll(
        _edge("orders->customer", od, "o_custkey", cu, "c_custkey")
    )


# --------------------------------------------------------------------------
# Weighted deterministic Bernoulli sample
# --------------------------------------------------------------------------

_X_WEIGHTED_SQL = """
SELECT doc_id, lang, n_chars FROM documents
WHERE n_chars >= 800
   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < printf('%04x', CAST(floor(n_chars / 800.0 * 65536) AS INTEGER))
"""


@_q("x_sample_weighted", _X_WEIGHTED_SQL)
def x_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional deterministic sample: each doc keeps with
    probability min(n_chars/800, 1), decided by its md5-prefix
    fraction — the weighted twin of x_sample_hash, same engine-portable
    hash idiom (scan-only, no shuffle, stable across runs/partitions;
    the hex threshold renders via %04x so the string compare IS the
    numeric compare, with the p>=1 branch short-circuited to TRUE
    because a 4-digit threshold cannot express 0x10000)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    thr = F.format_string(
        "%04x",
        F.floor(F.col("n_chars") / F.lit(800.0) * F.lit(65536)).cast("int"),
    )
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return d.filter((F.col("n_chars") >= 800) | (pref < thr))


# --------------------------------------------------------------------------
# Month-over-month growth (period-over-period window on exact sums)
# --------------------------------------------------------------------------

_X_MOM_SQL = """
WITH m AS (
    SELECT date_trunc('month', o_orderdate) AS mth,
           SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS DECIMAL(38,0))) AS rev_cents
    FROM orders GROUP BY 1)
SELECT CAST(mth AS DATE) AS month,
       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
       (CAST(rev_cents AS DOUBLE) - CAST(prev AS DOUBLE))
           / CAST(prev AS DOUBLE) AS mom_growth
FROM (SELECT mth, rev_cents,
             LAG(rev_cents) OVER (ORDER BY mth) AS prev FROM m)
"""


@_q("x_olap_mom_growth", _X_MOM_SQL)
def x_olap_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue + month-over-month growth: exact cent sums per
    month (one map-side-combined aggregation over the fact), then LAG
    over the |months|-row aggregate — the single-partition window is
    over a dozen rows, never the fact. First month's growth is NULL
    (no prior period), matching LAG semantics on both engines; all
    doubles derive from scale-0 decimals with one rounding."""
    od = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100))
        .cast("decimal(38,0)")
    )
    m = od.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mth")
    ).agg(F.sum(cents).alias("rev_cents"))
    w = Window.orderBy("mth")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        F.col("mth").cast("date").alias("month"),
        (F.col("rev_cents").cast("double") / F.lit(100.0)).alias("revenue"),
        (
            (F.col("rev_cents").cast("double") - prev.cast("double"))
            / prev.cast("double")
        ).alias("mom_growth"),
    )


# --------------------------------------------------------------------------
# Forward as-of join
# --------------------------------------------------------------------------

_X_ASOF_FWD_SQL = """
WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase')
SELECT l.user_id, l.event_id, l.ts,
       r.ts AS matched_ts, r.value AS matched_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
"""


@_q("x_ts_asof_forward", _X_ASOF_FWD_SQL)
def x_ts_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click matched to the user's NEXT
    purchase at-or-after it — time-to-conversion attribution, the
    mirror of x_ts_asof_join. Same tagged-union single-window shape
    (operators/timeseries.py::asof_join_forward), walking time
    backward; the inequality never reaches a join operator. Oracle:
    DuckDB's native forward ASOF LEFT JOIN (l.ts <= r.ts)."""
    from ..operators.timeseries import asof_join_forward

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join_forward(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols={"ts": "matched_ts", "value": "matched_value"},
    )


# --------------------------------------------------------------------------
# 2-D Pareto skyline (cheapest-and-biggest frontier)
# --------------------------------------------------------------------------

_X_SKYLINE_SQL = """
SELECT p_partkey, p_retailprice, p_size FROM part p
WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
"""


@_q("x_olap_skyline", _X_SKYLINE_SQL)
def x_olap_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline (minimize price, maximize size): the parts no
    other part beats on both axes. The textbook SQL (the oracle) is a
    quadratic NOT-EXISTS self-join; the Spark plan is O(n log n): a
    part survives iff its size exceeds the running max size over all
    strictly-cheaper price groups AND it attains its own price group's
    max (same-price dominance). One groupBy on price collapses the
    fact to |distinct prices| rows; the prefix-max window runs over
    that aggregate, not the fact — at 100 TB, range-partition the
    price-group table and carry per-partition prefix maxima via a
    broadcast of the (tiny) partition-boundary maxima instead of the
    single-partition window."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    g = p.groupBy("p_retailprice").agg(F.max("p_size").alias("max_size"))
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    g = g.select(
        "p_retailprice",
        "max_size",
        F.max("max_size").over(w).alias("run_lt"),
    )
    return (
        p.join(F.broadcast(g), "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("max_size"))
            & (F.col("run_lt").isNull() | (F.col("run_lt") < F.col("p_size")))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


# --------------------------------------------------------------------------
# Statistical mode per group (argmax of counts, deterministic ties)
# --------------------------------------------------------------------------

_X_MODE_SQL = """
WITH c AS (
    SELECT date_trunc('month', o_orderdate) AS mth, o_orderpriority,
           COUNT(*) AS n
    FROM orders GROUP BY 1, 2)
SELECT CAST(mth AS DATE) AS month, o_orderpriority AS modal_priority,
       CAST(n AS BIGINT) AS n_orders
FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY mth ORDER BY n DESC, o_orderpriority) AS rn
      FROM c)
WHERE rn = 1
"""


@_q("x_olap_mode", _X_MODE_SQL)
def x_olap_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month modal order priority: exact mode as argmax over group
    counts with a total tie order (count DESC, then value ASC — no
    engine-dependent "any" pick). The fact collapses in the first
    groupBy; the ranking window runs over |months| x |priorities|
    rows. Spark's built-in mode() has unspecified ties — unusable
    under a value hash; this shape is deterministic everywhere."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_orderpriority"
    )
    c = od.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mth"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("mth").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("mth").cast("date").alias("month"),
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# Market-basket lift (co-occurrence association scoring)
# --------------------------------------------------------------------------

_X_LIFT_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
n_orders AS (SELECT COUNT(DISTINCT ok) AS n FROM op),
item AS (SELECT pk, COUNT(*) AS n_item FROM op GROUP BY pk),
pair AS (
    SELECT x.pk AS item_a, y.pk AS item_b, COUNT(*) AS n_pair
    FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
    GROUP BY 1, 2)
SELECT item_a, item_b, CAST(n_pair AS BIGINT) AS n_pair,
       CAST(n_pair AS DOUBLE) * (SELECT n FROM n_orders)
           / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)) AS lift
FROM pair
JOIN item ia ON ia.pk = item_a
JOIN item ib ON ib.pk = item_b
WHERE n_pair >= 2
"""


@_q("x_market_basket_lift", _X_LIFT_SQL)
def x_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift over co-purchased part pairs:
    lift(a,b) = P(a,b) / (P(a)P(b)) from exact basket counts, reported
    for pairs seen >= 2 times. The pair join fans out per order by
    lines^2 (bounded by basket size, never by catalog size); item
    supports join back by part key; the basket total is a 1-row
    broadcast scalar. All counts are exact BIGINTs; the lift assembles
    once in double with identical expression text on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    # the QUADRATIC pair stage is exactly the staged pair-weight table
    # (r14): n_pair == w because both count distinct orders containing
    # the ordered pair — no second self-join per process. The distinct
    # basket set feeds ONE consumer only (per-item supports): the
    # basket total short-circuits to countDistinct over RAW lineitem —
    # same value, but a partial distinct-agg on the 8-byte order key
    # instead of a second execution of the full (ok, pk) distinct
    # exchange (ADVICE r14: op fed two consumers and the scan+distinct
    # ran twice per call)
    n_orders = li.agg(F.countDistinct("ok").alias("n_total"))
    item = li.distinct().groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_item")
    )
    pair = (
        _staged_pair_weights(spark, sf_dir)
        .filter(F.col("w") >= 2)
        .select(
            F.col("src").alias("item_a"),
            F.col("dst").alias("item_b"),
            F.col("w").alias("n_pair"),
        )
    )
    ia = item.select(F.col("pk").alias("item_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("pk").alias("item_b"), F.col("n_item").alias("n_b"))
    return (
        pair.join(ia, "item_a")
        .join(ib, "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            (
                F.col("n_pair").cast("double") * F.col("n_total")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Segment-level boilerplate removal (C4-style corpus cleaning)
# --------------------------------------------------------------------------

_X_BOILERPLATE_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
seg AS (
    SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
           array_to_string(
               toks[(CAST(i AS INT) * 4 + 1):(CAST(i AS INT) * 4 + 4)],
               ' ') AS seg
    FROM t, unnest(range(CAST(ceil(len(toks) / 4.0) AS BIGINT))) AS u(i)),
df AS (SELECT seg, COUNT(*) AS df FROM seg GROUP BY seg),
keep AS (
    SELECT s.doc_id, s.seg_idx, s.seg
    FROM seg s JOIN df USING (seg) WHERE df.df < 2)
SELECT doc_id,
       string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned_text,
       CAST(COUNT(*) AS BIGINT) AS n_segments_kept
FROM keep GROUP BY doc_id
"""


@_q("x_text_boilerplate_removal", _X_BOILERPLATE_SQL)
def x_text_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal, the C4-recipe cleaning
    step adapted to this corpus: split each doc into fixed 4-token
    segments, count each segment's document frequency across the
    corpus, drop every segment that appears more than once anywhere
    (nav bars, cookie banners, license headers at web scale), and
    reassemble the survivors in original order. Plan: one explode
    (bounded 4-token fan-out), one segment-key groupBy for the df
    table, one anti-join against the hot-segment list, one per-doc
    reassembly groupBy — all built-ins, ordered reassembly via
    array_sort over (pos, seg) structs so no engine-dependent
    collect_list order survives. At 100 TB the hot-segment list is
    tiny relative to the corpus (boilerplate is by definition
    repeated) — a broadcast or bloom-filter anti-join."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    n_seg = F.ceil(F.size("toks") / F.lit(4.0)).cast("int")
    seg = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.col("i").cast("bigint").alias("seg_idx"),
        F.array_join(
            F.slice(F.col("toks"), F.col("i") * 4 + 1, F.lit(4)), " "
        ).alias("seg"),
    )
    hot = (
        seg.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("seg")
    )
    keep = seg.join(hot, "seg", "left_anti")
    return keep.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_segments_kept"),
    )


# --------------------------------------------------------------------------
# DAU / WAU stickiness (sliding 7-day distinct users)
# --------------------------------------------------------------------------

_X_WAU_SQL = """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
cal AS (SELECT DISTINCT day FROM du),
w AS (
    SELECT c.day, COUNT(DISTINCT d.user_id) AS wau
    FROM cal c JOIN du d ON d.day BETWEEN c.day - 6 AND c.day
    GROUP BY c.day),
dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day)
SELECT w.day AS day, CAST(dau.dau AS BIGINT) AS dau,
       CAST(w.wau AS BIGINT) AS wau,
       CAST(dau.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
FROM w JOIN dau ON dau.day = w.day
"""


@_q("x_events_wau", _X_WAU_SQL)
def x_events_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU, and DAU/WAU stickiness per day. The
    oracle states the window as an inequality join (nested loop); the
    Spark plan instead EXPLODES each (day, user) fact into the <= 7
    calendar days it contributes to — a constant fan-out equi-join
    shape (restricted to observed days via a broadcast semi-join), then
    one distinct-count per day. At 100 TB that is 7x the distinct
    day-user pairs moving through one hash shuffle, vs an unbounded
    range-join explosion."""
    ev = load_events(spark, sf_dir)
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    cal = du.select("day").distinct()
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("cday"),
        "user_id",
    ).join(
        F.broadcast(cal.select(F.col("day").alias("cday"))), "cday", "left_semi"
    )
    wau = contrib.groupBy("cday").agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        wau.join(dau, wau["cday"] == dau["day"])
        .select(
            F.col("day"),
            F.col("dau"),
            F.col("wau"),
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


# --------------------------------------------------------------------------
# Robust outlier detection: median / MAD z-score
# --------------------------------------------------------------------------

_X_MAD_SQL = """
WITH v AS (
    SELECT event_type,
           CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(20,0))
                AS BIGINT) AS vc
    FROM events),
med AS (SELECT event_type, quantile_cont(vc, 0.5) AS med
        FROM v GROUP BY event_type),
dev AS (SELECT v.event_type, v.vc,
               abs(CAST(v.vc AS DOUBLE) - m.med) AS adev
        FROM v JOIN med m USING (event_type)),
mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type)
SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       m.med / 100.0 AS median_value,
       a.mad / 100.0 AS mad_value,
       CAST(SUM(CASE WHEN d.adev > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM dev d
JOIN med m USING (event_type)
JOIN mad a USING (event_type)
GROUP BY d.event_type, m.med, a.mad
"""


@_q("x_events_anomaly_mad", _X_MAD_SQL)
def x_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier profile: exact median, exact MAD
    (median absolute deviation), and the count of values beyond
    3 MADs — the z-score family's outlier-resistant sibling (a single
    corrupt sensor shifts a mean z-score's own baseline; the median's
    breakdown point is 50%). Values accumulate as exact cents; both
    medians use the interpolated exact percentile proven bit-portable
    in x_olap_percentiles; the two per-type scalars broadcast back
    (5-row dims). Three passes over events — the price of exact
    medians; the sketch tier at extreme scale is approx_percentile
    (x_olap_approx_pct shows the pattern)."""
    ev = load_events(spark, sf_dir)
    v = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * F.lit(100))
        .cast("decimal(20,0)")
        .cast("bigint")
        .alias("vc"),
    )
    med = v.groupBy("event_type").agg(
        F.expr("percentile(vc, 0.5)").alias("med")
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "vc",
        F.abs(F.col("vc").cast("double") - F.col("med")).alias("adev"),
        "med",
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            (F.col("med") / F.lit(100.0)).alias("median_value"),
            (F.col("mad") / F.lit(100.0)).alias("mad_value"),
            "n_outliers",
        )
    )


# --------------------------------------------------------------------------
# Time-boxed conversion funnel (windowed attribution)
# --------------------------------------------------------------------------

_X_FUNNEL_W_SQL = """
WITH v AS (
    SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
    FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t1
      AND CAST(e.ts AS TIMESTAMP) <= v.t1 + INTERVAL 1 DAY
    GROUP BY e.user_id),
p AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t2
      AND CAST(e.ts AS TIMESTAMP) <= c.t2 + INTERVAL 1 DAY
    GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_1d,
       (SELECT COUNT(*) FROM p) AS n_purchase_1d
"""


@_q("x_events_funnel_windowed", _X_FUNNEL_W_SQL)
def x_events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed funnel: the x_events_funnel chain with a 1-day
    conversion window at each step (the attribution form real funnels
    use — an unbounded window credits conversions months later). Same
    scale shape: every stage shuffles on user_id and shrinks
    monotonically; the window bound is an extra scan-side predicate,
    free at the join."""
    ev = load_events(spark, sf_dir)
    day = F.expr("INTERVAL 1 DAY")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_1d"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_1d"))
    return nv.crossJoin(nc).crossJoin(np_)


# --------------------------------------------------------------------------
# Full outer join (daily clicks vs errors — null-preserving both sides)
# --------------------------------------------------------------------------

_X_FULL_OUTER_SQL = """
WITH c AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_clicks
           FROM events WHERE event_type = 'click' GROUP BY 1),
e AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_errors
      FROM events WHERE event_type = 'error' GROUP BY 1)
SELECT COALESCE(c.day, e.day) AS day,
       CAST(COALESCE(c.n_clicks, 0) AS BIGINT) AS n_clicks,
       CAST(COALESCE(e.n_errors, 0) AS BIGINT) AS n_errors
FROM c FULL OUTER JOIN e ON c.day = e.day
"""


@_q("x_olap_full_outer_join", _X_FULL_OUTER_SQL)
def x_olap_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER equi-join — the last member of the join family
    (inner/left/semi/anti elsewhere in the catalog): daily click
    counts vs daily error counts, keeping days that appear on either
    side only, zero-filled. Both inputs pre-aggregate to |days| rows
    before the join, so the full-outer shuffle moves group counts,
    never events."""
    ev = load_events(spark, sf_dir)
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.col("ts").cast("date").alias("day_e"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return c.join(e, c["day"] == e["day_e"], "full_outer").select(
        F.coalesce(F.col("day"), F.col("day_e")).alias("day"),
        F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        F.coalesce(F.col("n_errors"), F.lit(0)).alias("n_errors"),
    )


# --------------------------------------------------------------------------
# Top user journey paths (ordered event-prefix aggregation)
# --------------------------------------------------------------------------

_X_PATHS_SQL = """
WITH s AS (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
    FROM events),
p AS (
    SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
    FROM s WHERE rn <= 3 GROUP BY user_id)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM p GROUP BY path
"""


@_q("x_events_top_paths", _X_PATHS_SQL)
def x_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path analysis: each user's first three events (by
    time, event_id tie-break) joined into a 'view>click>purchase'-style
    path string, then path frequencies — the onboarding-flow query.
    One keyed window shuffle; ordered reassembly via array_sort over
    (rn, type) structs so no engine-dependent collect_list order
    reaches the output; the final groupBy runs over |users| rows."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 3)
    p = s.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return p.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


# --------------------------------------------------------------------------
# Revenue concentration by customer decile (Pareto / Gini-style curve)
# --------------------------------------------------------------------------

_X_CONC_SQL = """
WITH c AS (
    SELECT o_custkey,
           SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS DECIMAL(38,0))) AS rev
    FROM orders GROUP BY o_custkey),
r AS (
    SELECT o_custkey, rev,
           NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
    FROM c)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(rev) AS DOUBLE) / 100.0 AS revenue,
       CAST(SUM(rev) AS DOUBLE) / (SELECT CAST(SUM(rev) AS DOUBLE) FROM c)
           AS revenue_share
FROM r GROUP BY decile
"""


@_q("x_olap_revenue_concentration", _X_CONC_SQL)
def x_olap_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whale-curve / revenue-concentration report: customers ranked
    into spend deciles (exact NTILE semantics with a total tie order),
    each decile's exact revenue and share of total. The fact collapses
    to |customers| rows first; the decile then comes from the
    distributed exact-rank kernel (operators/rank.py: range-partitioned
    sort + broadcast partition-count offsets + integer NTILE
    arithmetic) — NO single-partition WindowExec, so the customer grain
    can be billions of rows; the grand total is a 1-row broadcast
    scalar. Exact cent sums; doubles assembled once."""
    od = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100))
        .cast("decimal(38,0)")
    )
    c = od.groupBy("o_custkey").agg(F.sum(cents).alias("rev"))
    r = distributed_ntile(
        c,
        [("rev", False), ("o_custkey", True)],
        buckets=10,
        out_col="decile",
    )
    total = c.agg(F.sum("rev").cast("double").alias("grand"))
    return (
        r.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev").cast("double").alias("rev_d"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            (F.col("rev_d") / F.lit(100.0)).alias("revenue"),
            (F.col("rev_d") / F.col("grand")).alias("revenue_share"),
        )
    )


# --------------------------------------------------------------------------
# Scalar string-function surface (single-scan kernel coverage)
# --------------------------------------------------------------------------

_X_STRFNS_SQL = """
SELECT doc_id,
       upper(lang) AS lang_upper,
       lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_code,
       reverse(source) AS source_rev,
       replace(source, 'src', 'corpus-') AS source_named,
       substr(text, 1, 20) AS text_head,
       left(text, 5) AS text_left,
       right(text, 5) AS text_right,
       CAST(strpos(text, 'table') AS INTEGER) AS first_table_pos,
       split_part(text, ' ', 3) AS third_token,
       translate(lang, 'enzhs', 'ENZHS') AS lang_translated,
       repeat(lang, 2) AS lang_twice,
       CAST(length(text) AS INTEGER) AS text_len
FROM documents
"""


@_q("x_text_string_kernels", _X_STRFNS_SQL)
def x_text_string_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface in one scan-only projection:
    case folding, pad, reverse, replace, substring, left/right,
    position (instr/strpos, both 1-based 0-if-absent), split_part,
    translate, repeat, length — the F-family kernels a SQL user
    expects, each verified value-identical across engines. No shuffle,
    full whole-stage codegen; the one cross-engine trap (concat
    propagates NULL in Spark but skips NULL in DuckDB) is documented
    here and avoided in oracle-checked queries."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("doc_code"),
        F.reverse("source").alias("source_rev"),
        F.replace(F.col("source"), F.lit("src"), F.lit("corpus-")).alias(
            "source_named"
        ),
        F.substring("text", 1, 20).alias("text_head"),
        F.expr("left(text, 5)").alias("text_left"),
        F.expr("right(text, 5)").alias("text_right"),
        F.instr("text", "table").cast("int").alias("first_table_pos"),
        F.expr("split_part(text, ' ', 3)").alias("third_token"),
        F.translate("lang", "enzhs", "ENZHS").alias("lang_translated"),
        F.repeat("lang", 2).alias("lang_twice"),
        F.length("text").cast("int").alias("text_len"),
    )


# --------------------------------------------------------------------------
# Conditional-expression surface (CASE / COALESCE / NULLIF / GREATEST)
# --------------------------------------------------------------------------

_X_CONDFNS_SQL = """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'high'
            WHEN o_totalprice > 150000 THEN 'mid'
            ELSE 'low' END AS price_band,
       COALESCE(NULLIF(o_orderstatus, 'O'), '_open') AS status_folded,
       CAST(GREATEST(o_custkey % 7, 3) AS BIGINT) AS g7,
       CAST(LEAST(o_custkey % 7, 3) AS BIGINT) AS l7
FROM orders
"""


@_q("x_olap_conditional_kernels", _X_CONDFNS_SQL)
def x_olap_conditional_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-expression surface in one scan-only projection:
    searched CASE banding, NULLIF-then-COALESCE folding (the
    dialect-portable 'replace this value' idiom), GREATEST/LEAST
    (both engines skip NULL operands — verified). Scan-only,
    whole-stage codegen, no shuffle."""
    od = load_table(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return od.select(
        "o_orderkey",
        F.when(tp > 300000, "high")
        .when(tp > 150000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("_open")
        ).alias("status_folded"),
        F.greatest(F.col("o_custkey") % 7, F.lit(3))
        .cast("bigint")
        .alias("g7"),
        F.least(F.col("o_custkey") % 7, F.lit(3)).cast("bigint").alias("l7"),
    )


# --------------------------------------------------------------------------
# Array-function surface (single-scan kernel coverage over token lists)
# --------------------------------------------------------------------------

_X_ARRFNS_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
       list_contains(toks, 'table') AS has_table,
       COALESCE(array_to_string(
           list_sort(list_intersect(list_distinct(toks),
                                    ['table', 'scan', 'join'])), ','), '')
           AS ops_present,
       array_to_string(flatten([toks[1:2], toks[4:5]]), '|') AS head_probe,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
           AS total_token_chars
FROM t
"""


@_q("x_text_array_kernels", _X_ARRFNS_SQL)
def x_text_array_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface in one scan-only projection over token
    lists: size, distinct-count, membership, sorted set-intersection
    (sorted on BOTH engines — Spark's array_distinct/array_intersect
    preserve first-occurrence order while DuckDB's list_* order is
    unspecified, so every set-valued output is array_sort-ed before it
    reaches the hash), slicing + flatten, and a fold (aggregate /
    list_sum) summing element lengths. Higher-order functions stay
    JVM-side — no Python. Second trap from the differential check:
    joining an EMPTY list yields '' in Spark (array_join) but NULL in
    DuckDB (array_to_string) — the oracle COALESCEs to ''."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("int").alias("n_distinct"),
        F.array_contains("toks", "table").alias("has_table"),
        F.array_join(
            F.array_sort(
                F.array_intersect(
                    F.array_distinct("toks"),
                    F.array(F.lit("table"), F.lit("scan"), F.lit("join")),
                )
            ),
            ",",
        ).alias("ops_present"),
        F.array_join(
            F.flatten(
                F.array(
                    F.slice("toks", 1, 2),
                    F.slice("toks", 4, 2),
                )
            ),
            "|",
        ).alias("head_probe"),
        F.aggregate(
            F.transform("toks", lambda x: F.length(x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_token_chars"),
    )


# --------------------------------------------------------------------------
# Date-function surface (single-scan kernel coverage)
# --------------------------------------------------------------------------

_X_DATEFNS_SQL = """
WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
SELECT o_orderkey,
       last_day(d) AS month_end,
       CAST(date_trunc('week', d) AS DATE) AS week_start,
       CAST(datediff('day', DATE '2024-01-01', d) AS INTEGER)
           AS days_since_2024,
       CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_one_month,
       CAST(dayofyear(d) AS INTEGER) AS doy,
       strftime(d, '%Y-%m') AS ym
FROM o
"""


@_q("x_olap_date_kernels", _X_DATEFNS_SQL)
def x_olap_date_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface in one scan-only projection: last_day,
    ISO week truncation (Monday on both engines — verified),
    date difference, add-month with end-of-month clamping (both
    engines clamp Jan 31 + 1 month to Feb 29 — verified), day-of-year,
    and year-month formatting. Complements the F1–F6 EXTRACT family
    from the reference with the arithmetic/formatting half of the
    date toolbox."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    return od.select(
        "o_orderkey",
        F.last_day("d").alias("month_end"),
        F.date_trunc("week", F.col("d")).cast("date").alias("week_start"),
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since_2024"),
        F.add_months("d", 1).alias("plus_one_month"),
        F.dayofyear("d").cast("int").alias("doy"),
        F.date_format("d", "yyyy-MM").alias("ym"),
    )


# --------------------------------------------------------------------------
# Session bounce rate (composition over the sessionizer)
# --------------------------------------------------------------------------

_X_BOUNCE_SQL = """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
lagged AS (
    SELECT user_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
    FROM e),
marked AS (
    SELECT user_id, ts,
           CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM lagged),
sess AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked),
s2 AS (
    SELECT user_id, session_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events
    FROM sess GROUP BY 1, 2)
SELECT CAST(session_start AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS bounce_rate
FROM s2 GROUP BY 1
"""


@_q("x_ts_bounce_rate", _X_BOUNCE_SQL)
def x_ts_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate — share of single-event sessions — COMPOSED
    over the sessionize_batch operator (the catalog's operators are
    building blocks, not endpoints). Adds one |sessions|-row groupBy
    on top of the sessionizer's existing two same-key shuffles; the
    ratio divides two exact counts in double."""
    from ..operators.timeseries import sessionize_batch

    ev = load_events(spark, sf_dir)
    s = sessionize_batch(ev, gap_minutes=30)
    return (
        s.groupBy(F.col("session_start").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            (
                F.col("n_bounces").cast("double")
                / F.col("n_sessions").cast("double")
            ).alias("bounce_rate"),
        )
    )


# --------------------------------------------------------------------------
# Order-to-ship latency distribution
# --------------------------------------------------------------------------

_X_LATENCY_SQL = """
SELECT CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                     CAST(l.l_shipdate AS DATE)) AS INTEGER) AS latency_days,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


@_q("x_olap_latency_hist", _X_LATENCY_SQL)
def x_olap_latency_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency histogram: one fact-to-fact equi-join on
    the order key (co-partitioned shuffle, AQE-coalesced) and one
    small groupBy over |distinct latencies| — the fulfillment-SLA
    query. At 100 TB the join is the cost; bucketing both tables on
    orderkey (sources/readers.py::write_bucketed) removes the
    exchange entirely, as the bucketing tests demonstrate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    return (
        li.join(od, "l_orderkey")
        .groupBy(
            F.datediff(F.col("ship"), F.col("odate"))
            .cast("int")
            .alias("latency_days")
        )
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


# --------------------------------------------------------------------------
# LM-coverage quality score (exact-count perplexity proxy)
# --------------------------------------------------------------------------

_X_LMCOV_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
big AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1])) AS bg
    FROM toks),
df AS (SELECT bg, COUNT(*) AS n FROM big GROUP BY bg),
cov AS (
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           SUM(CASE WHEN df.n >= 5 THEN 1 ELSE 0 END) AS n_common
    FROM big b JOIN df ON df.bg = b.bg
    GROUP BY b.doc_id)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS lm_coverage
FROM cov
"""


@_q("x_text_lm_coverage", _X_LMCOV_SQL)
def x_text_lm_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model coverage score — the hash-portable stand-in for
    perplexity filtering: the fraction of each doc's bigrams that are
    corpus-common (frequency >= 5). Low coverage flags the same docs a
    perplexity filter would (gibberish, boilerplate soup, wrong-lang),
    but from EXACT integer counts — a real log-prob involves ln(),
    whose last ulp is libm-specific and can't survive a value-hash
    gate. Plan: bigrams form row-locally via zip_with (no window, no
    Python), one count groupBy builds the frequency table, one join
    scores docs, one per-doc agg — at 100 TB the frequency table is
    Zipf-concentrated so the scoring join's hot keys ride AQE skew
    splits (same profile as x_dedup_ngram_jaccard's posting join)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    big = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bg"),
    )
    # corpus frequency via a count-only window over the bigram key:
    # one shuffle on bg, and the exploded bigram set is scanned ONCE —
    # the groupBy-then-join-back alternative recomputes the whole
    # explode for the probe side and shuffles it twice (measured ~2x
    # slower at sf0.1)
    w_bg = Window.partitionBy("bg")
    cov = (
        big.withColumn("n", F.count(F.lit(1)).over(w_bg))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("n") >= 5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_common"),
        )
    )
    return cov.select(
        "doc_id",
        "n_bigrams",
        "n_common",
        (
            F.col("n_common").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("lm_coverage"),
    )


# --------------------------------------------------------------------------
# Functional-dependency profiling (data-quality rule mining)
# --------------------------------------------------------------------------

_X_FD_SQL = """
WITH fd1 AS (
    SELECT COUNT(*) AS n_lhs,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating
    FROM (SELECT lang, COUNT(DISTINCT source) AS n_rhs
          FROM documents GROUP BY lang)),
fd2 AS (
    SELECT COUNT(*) AS n_lhs,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating
    FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_rhs
          FROM orders GROUP BY o_custkey))
SELECT 'documents: lang -> source' AS fd,
       CAST(n_lhs AS BIGINT) AS n_lhs_values, n_violating,
       CAST(n_violating AS DOUBLE) / n_lhs AS violation_rate
FROM fd1
UNION ALL
SELECT 'orders: o_custkey -> o_orderpriority' AS fd,
       CAST(n_lhs AS BIGINT) AS n_lhs_values, n_violating,
       CAST(n_violating AS DOUBLE) / n_lhs AS violation_rate
FROM fd2
"""


@_q("x_validate_fd_profile", _X_FD_SQL)
def x_validate_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling — does lhs determine rhs? — for
    two candidate FDs, reporting how many lhs groups map to more than
    one rhs value (the rule-mining primitive behind schema inference
    and data-repair tools; TANE-style search is a loop over exactly
    this check). Per FD: one groupBy on the lhs with an exact distinct
    count, one constant-size rollup; the two 1-row results union. At
    scale, candidate FDs batch into one pass per lhs column."""

    def _fd(name: str, df: DataFrame, lhs: str, rhs: str) -> DataFrame:
        g = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("n_rhs"))
        return g.agg(
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating"),
        ).select(
            F.lit(name).alias("fd"),
            F.col("n_lhs").alias("n_lhs_values"),
            "n_violating",
            (F.col("n_violating").cast("double") / F.col("n_lhs")).alias(
                "violation_rate"
            ),
        )

    docs = load_table(spark, sf_dir, "documents")
    od = load_table(spark, sf_dir, "orders")
    return _fd("documents: lang -> source", docs, "lang", "source").unionAll(
        _fd(
            "orders: o_custkey -> o_orderpriority",
            od,
            "o_custkey",
            "o_orderpriority",
        )
    )


# --------------------------------------------------------------------------
# Benford first-digit profile (fraud/anomaly screening)
# --------------------------------------------------------------------------

_X_BENFORD_SQL = """
WITH c AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS DECIMAL(20,0)) AS cents
    FROM orders),
d AS (SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit
      FROM c WHERE cents > 0)
SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM d) AS share
FROM d GROUP BY digit
"""


@_q("x_olap_benford", _X_BENFORD_SQL)
def x_olap_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit distribution of order totals — the
    fraud-screening profile (fabricated amounts flatten the leading
    digit curve). The digit extracts from the exact integer cents via
    string head — decimal-to-string is identical on both engines,
    where double formatting is NOT (the reason the cents cast comes
    first). One scan, one 9-row groupBy, one broadcast total."""
    od = load_table(spark, sf_dir, "orders").select("o_totalprice")
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100))
        .cast("decimal(20,0)")
    )
    d = od.select(cents.alias("cents")).filter(F.col("cents") > 0).select(
        F.substring(F.col("cents").cast("string"), 1, 1).alias("digit")
    )
    total = d.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("n_total")).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Window-frame kernel surface (first/last/nth over explicit frames)
# --------------------------------------------------------------------------

_X_WFRAMES_SQL = """
SELECT event_id, user_id,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_type,
       nth_value(event_type, 2) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
"""


@_q("x_olap_window_frames", _X_WFRAMES_SQL)
def x_olap_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame kernel surface: first_value over the default
    running frame, last_value and nth_value(2) over explicit
    UNBOUNDED-both-ends frames (the classic last_value trap — the
    default frame ends at CURRENT ROW, making last_value ≡ the row
    itself; the explicit frame is the portable form and both engines
    agree on it). Total tie order (ts, event_id), one keyed shuffle,
    all three functions in one window pass."""
    ev = load_events(spark, sf_dir)
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w_run.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w_run).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
        F.nth_value("event_type", 2).over(w_full).alias("second_type"),
    )


# --------------------------------------------------------------------------
# File-level hash-bucket skipping index (Delta-style bloom-index analog)
# --------------------------------------------------------------------------

_X_SKIPIDX_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_custkey = 42
"""


@_q("x_storage_hash_skip_index", _X_SKIPIDX_SQL)
def x_storage_hash_skip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through a file-level hash-bucket skipping index
    (sources/skipindex.py): orders is rewritten range-clustered on
    o_custkey (8 files), a per-file bucket-set index is built with one
    groupBy over input_file_name(), and the custkey=42 lookup opens
    ONLY the index's candidate files (1 of 8 on this layout — asserted
    in tests/test_storage.py) before the exact residual filter. The
    oracle runs the same predicate over the unindexed table: identical
    rows prove the index admits no false negatives. At 100 TB this is
    the metadata-plane pruning tier for high-cardinality non-partition
    keys, where directory pruning does not apply and min/max footers
    barely cut."""
    from ..sources.skipindex import (
        build_hash_bucket_index,
        indexed_equality_scan,
    )
    d = scratch_dir("spark_graft_skipidx_") + "/orders_clustered"
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    od.repartitionByRange(8, "o_custkey").write.mode("overwrite").parquet(d)
    idx = build_hash_bucket_index(spark, d, "o_custkey")
    return indexed_equality_scan(spark, idx, 42, "o_custkey")


# --------------------------------------------------------------------------
# PMI collocations (bigram lift over the corpus)
# --------------------------------------------------------------------------

_X_PMI_SQL = r"""
WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS l
           FROM documents),
uni AS (SELECT tok, COUNT(*) AS c
        FROM (SELECT unnest(l) AS tok FROM t) GROUP BY tok),
pairs AS (SELECT unnest(list_transform(range(1, len(l)),
                                       i -> l[i] || ' ' || l[i+1])) AS bg
          FROM t),
bi AS (SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b,
              COUNT(*) AS c_ab
       FROM pairs GROUP BY 1, 2),
tot AS (SELECT CAST((SELECT SUM(c) FROM uni) AS BIGINT) AS n_uni,
               CAST((SELECT SUM(c_ab) FROM bi) AS BIGINT) AS n_bi)
SELECT bi.a, bi.b, bi.c_ab, ua.c AS c_a, ub.c AS c_b,
       (CAST(bi.c_ab AS DOUBLE) * tot.n_uni * tot.n_uni)
         / (CAST(tot.n_bi AS DOUBLE) * ua.c * ub.c) AS pmi_lift
FROM bi JOIN uni ua ON bi.a = ua.tok
        JOIN uni ub ON bi.b = ub.tok, tot
WHERE bi.c_ab >= 5
"""


@_q("x_text_pmi_collocations", _X_PMI_SQL)
def x_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: bigram PMI lift — p(ab) / (p(a) p(b)), the
    association strength behind phrase detection (word2vec-style
    phrasing, multiword-expression vocab entries, boilerplate-phrase
    discovery). The LINEAR lift (exp of PMI) is emitted instead of
    ln(lift): ln is monotone, so ranking/thresholding semantics are
    identical, and the lift assembles from exact integer counts with
    one IEEE multiply/divide chain — bit-stable across engines where
    log() is library-dependent at the ulp (same rationale as
    x_text_tfidf's linear idf).

    Shape: one token-array scan feeds BOTH count tables — unigrams
    (explode -> map-side-combined count) and bigrams (zip_with over two
    offset slices, no window) — then two term-keyed joins of the bigram
    counts against the unigram dictionary and a broadcast 1-row totals
    join. Shuffles move distinct terms/pairs, never corpus rows; the
    c_ab >= 5 support floor is applied before the joins so rare-pair
    fan-out never reaches the dictionary join at scale."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select(tx.tokens(F.lower(F.col("text"))).alias("l"))
    # The two count tables are REDUCED (vocab- / distinct-bigram-sized)
    # but feed five consumers (totals x2, dictionary joins x2, pair
    # probe); without materialization Spark recomputes the corpus
    # tokenize+explode once per consumer (~7 scans). localCheckpoint
    # pins each after its one aggregation — the same
    # materialize-the-partials move a 100 TB run makes by writing the
    # count tables before scoring.
    uni = (
        t.select(F.explode("l").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = lifecycle.checkpoint(uni)
    bi = (
        t.select(
            F.explode(
                F.expr(
                    "zip_with(slice(l, 1, size(l) - 1),"
                    " slice(l, 2, size(l) - 1),"
                    " (a, b) -> struct(a, b))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    bi = lifecycle.checkpoint(bi)
    # totals are taken over the UNFILTERED count tables (p(ab) is
    # relative to all bigrams, not just frequent ones); the support
    # floor then prunes the pair table before the dictionary joins
    tot = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        bi.agg(F.sum("c_ab").alias("n_bi"))
    )
    frequent = bi.filter(F.col("c_ab") >= 5)
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    return (
        frequent.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            (
                (
                    F.col("c_ab").cast("double")
                    * F.col("n_uni")
                    * F.col("n_uni")
                )
                / (
                    F.col("n_bi").cast("double")
                    * F.col("c_a")
                    * F.col("c_b")
                )
            ).alias("pmi_lift"),
        )
    )


# --------------------------------------------------------------------------
# Distribution-drift report (chi-square homogeneity between corpus halves)
# --------------------------------------------------------------------------

_X_DRIFT_SQL = """
WITH c AS (
  SELECT lang,
         CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ref,
         CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cur
  FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
             CAST(SUM(n_cur) AS BIGINT) AS tot_cur FROM c)
SELECT lang, n_ref, n_cur,
       CAST(n_ref AS DOUBLE) / tot_ref AS p_ref,
       CAST(n_cur AS DOUBLE) / tot_cur AS p_cur,
       (CAST(n_cur AS DOUBLE) / tot_cur)
         / (CAST(n_ref AS DOUBLE) / tot_ref) AS rate_ratio,
       (CAST(n_cur AS DOUBLE)
          - CAST(tot_cur AS DOUBLE) * n_ref / tot_ref)
         * (CAST(n_cur AS DOUBLE)
              - CAST(tot_cur AS DOUBLE) * n_ref / tot_ref)
         / (CAST(tot_cur AS DOUBLE) * n_ref / tot_ref) AS chisq_term
FROM c, t
WHERE n_ref > 0 AND n_cur > 0
"""


@_q("x_validate_drift_chisq", _X_DRIFT_SQL)
def x_validate_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report between two corpus snapshots (here the
    deterministic doc_id-parity halves stand in for crawl N vs crawl
    N+1): per-category observed vs expected rates, the rate ratio, and
    the chi-square homogeneity term — sum the terms, compare against a
    critical value, and you have the drift gate a training pipeline
    runs before admitting a new ingest batch. ln-free by construction
    (chi-square + rate ratio, not PSI/KL, whose ln() is
    library-dependent under a value-hash oracle): every column
    assembles from exact integer counts with one IEEE expression.

    Shape: one conditional-aggregation scan (no self-join of the two
    halves), a 1-row totals cross join, per-category arithmetic — the
    category table is group-count-sized, so the report costs one
    map-side-combined pass at any corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_ref"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    t = c.agg(
        F.sum("n_ref").cast("long").alias("tot_ref"),
        F.sum("n_cur").cast("long").alias("tot_cur"),
    )
    j = c.crossJoin(F.broadcast(t)).filter(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    )
    n_ref_d = F.col("n_ref").cast("double")
    n_cur_d = F.col("n_cur").cast("double")
    expected = (
        F.col("tot_cur").cast("double") * F.col("n_ref") / F.col("tot_ref")
    )
    return j.select(
        "lang",
        "n_ref",
        "n_cur",
        (n_ref_d / F.col("tot_ref")).alias("p_ref"),
        (n_cur_d / F.col("tot_cur")).alias("p_cur"),
        (
            (n_cur_d / F.col("tot_cur")) / (n_ref_d / F.col("tot_ref"))
        ).alias("rate_ratio"),
        ((n_cur_d - expected) * (n_cur_d - expected) / expected).alias(
            "chisq_term"
        ),
    )


# --------------------------------------------------------------------------
# Lag-k autocorrelation of the daily event-value series
# --------------------------------------------------------------------------

# Bit-stability recipe: per-event values become exact integer
# micro-units, daily sums stay integral, lagged pairs multiply as
# DECIMAL(19,0) (product <= 38 digits, exact in both engines), the five
# co-moment sums accumulate as DECIMAL(38,0), and the correlation
# assembles in double ONCE with the same expression text as x_olap_corr
# (analytics_pack.py) — no streaming corr(), no library functions.
_X_AUTOCORR_CTES = """
hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         CAST(CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
                                 AS DECIMAL(38,0)) AS BIGINT))
                   AS DECIMAL(38,0)) AS BIGINT) AS xi
  FROM events GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP))),
lagged AS (
  SELECT xi,
         LAG(xi, 1) OVER (ORDER BY h) AS x1,
         LAG(xi, 24) OVER (ORDER BY h) AS x24
  FROM hourly)
"""

_X_AUTOCORR_STATS = """
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(xi AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST({lag} AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(xi AS DECIMAL(19,0)) * CAST(xi AS DECIMAL(19,0))
                       AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST({lag} AS DECIMAL(19,0))
                       * CAST({lag} AS DECIMAL(19,0))
                       AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(CAST(xi AS DECIMAL(19,0)) * CAST({lag} AS DECIMAL(19,0))
                       AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM lagged WHERE {lag} IS NOT NULL
"""

_X_AUTOCORR_SQL = f"""
WITH {_X_AUTOCORR_CTES},
s1 AS ({_X_AUTOCORR_STATS.format(lag="x1")}),
s24 AS ({_X_AUTOCORR_STATS.format(lag="x24")})
SELECT CAST(1 AS INTEGER) AS lag_k, CAST(n AS BIGINT) AS n_pairs,
       (n * sxy - sx * sy)
         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS autocorr
FROM s1
UNION ALL
SELECT CAST(24 AS INTEGER) AS lag_k, CAST(n AS BIGINT) AS n_pairs,
       (n * sxy - sx * sy)
         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS autocorr
FROM s24
"""


@_q("x_ts_autocorr", _X_AUTOCORR_SQL)
def x_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 / lag-24 autocorrelation of the hourly event-value series
    — the seasonality probe (hour-over-hour momentum? a daily cycle?)
    that decides differencing/seasonal terms before any forecasting
    model. Computed as Pearson correlation of the series against its
    own lag from ALGEBRAIC co-moments over exact integer micro-units
    (see the recipe note above the SQL).

    Shape: the only data-proportional work is the map-side-combined
    hourly aggregation; the lag window and co-moment pass run on the
    HOUR-count-sized series (720 rows on this fixture's 30-day span,
    calendar-bounded at any data scale), so the deliberately
    unpartitioned LAG window never sees data-proportional input."""
    ev = load_events(spark, sf_dir)
    micros = (
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("decimal(38,0)")
        .cast("long")
    )
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.sum(micros).cast("decimal(38,0)").cast("long").alias("xi"))
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "xi",
        F.lag("xi", 1).over(w).alias("x1"),
        F.lag("xi", 24).over(w).alias("x24"),
    )

    def stats(lag_col: str, k: int) -> DataFrame:
        xi = F.col("xi").cast("decimal(19,0)")
        xj = F.col(lag_col).cast("decimal(19,0)")
        s = (
            lagged.filter(F.col(lag_col).isNotNull())
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("xi").cast("decimal(38,0)"))
                .cast("double")
                .alias("sx"),
                F.sum(F.col(lag_col).cast("decimal(38,0)"))
                .cast("double")
                .alias("sy"),
                F.sum((xi * xi).cast("decimal(38,0)"))
                .cast("double")
                .alias("sxx"),
                F.sum((xj * xj).cast("decimal(38,0)"))
                .cast("double")
                .alias("syy"),
                F.sum((xi * xj).cast("decimal(38,0)"))
                .cast("double")
                .alias("sxy"),
            )
        )
        n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
        sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
        return s.select(
            F.lit(k).cast("int").alias("lag_k"),
            n.cast("long").alias("n_pairs"),
            (
                (n * sxy - sx * sy)
                / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            ).alias("autocorr"),
        )

    return stats("x1", 1).unionAll(stats("x24", 24))


# --------------------------------------------------------------------------
# First-touch attribution over gap sessions
# --------------------------------------------------------------------------

_X_ATTRIB_SQL = """
WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                  event_type, CAST(value AS DECIMAL(18,6)) AS v
           FROM events),
lagged AS (
  SELECT user_id, event_id, ts, event_type, v,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM e),
sess AS (
  SELECT user_id, event_id, ts, event_type, v,
         SUM(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM lagged),
per_sess AS (
  SELECT user_id, session_id,
         MIN(CASE WHEN rn = 1 THEN event_type END) AS channel,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN v END)
              AS DECIMAL(38,6)) AS srev,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM (SELECT user_id, session_id, event_type, v,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS rn
        FROM sess)
  GROUP BY user_id, session_id)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converting,
       CAST(CAST(SUM(srev) AS DECIMAL(38,6)) AS DOUBLE)
         AS attributed_revenue
FROM per_sess GROUP BY channel
"""


@_q("x_events_attribution", _X_ATTRIB_SQL)
def x_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: sessionize by 30-minute gaps (the
    lag-mark-cumsum idiom of x_ts_sessionize_batch, tie-ordered by
    (ts, event_id) end-to-end), then credit each session's purchase
    revenue to the session's FIRST event type — the acquisition-channel
    attribution report, with per-channel session counts, conversion
    counts, and exact-decimal attributed revenue.

    Shape: one keyed shuffle on user_id serves the lag window, the
    session cumsum, and the first-event row_number (same partitioning,
    Catalyst reuses the exchange); the session rollup and the final
    channel rollup are map-side-combined aggregations. Decimal
    accumulation end-to-end; nothing leaves integer/decimal space."""
    ev = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev", F.lag("ts").over(w_ord))
    # Exact microsecond gap, matching the oracle's `ts - prev >
    # INTERVAL 30 MINUTE`: cast-to-long truncates to whole seconds, so
    # a gap in (1800s, 1801s) would floor to exactly 1800 and flip the
    # session boundary vs the oracle.
    is_new = F.when(
        F.col("prev").isNull()
        | (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev"))
            > 30 * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    sess = lagged.withColumn(
        "session_id",
        F.sum(is_new).over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w_sess = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    per_sess = (
        sess.withColumn("rn", F.row_number().over(w_sess))
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
                "channel"
            ),
            F.sum(F.when(F.col("event_type") == "purchase", F.col("v")))
            .cast("decimal(38,6)")
            .alias("srev"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
        )
    )
    return per_sess.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converting"),
        F.sum("srev")
        .cast("decimal(38,6)")
        .cast("double")
        .alias("attributed_revenue"),
    )


# --------------------------------------------------------------------------
# Join-key skew report
# --------------------------------------------------------------------------

_X_SKEWREP_SQL = """
WITH kc AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MAX(n) AS BIGINT) AS max_per_key,
       CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_per_key,
       CAST(MAX(n) AS DOUBLE) * COUNT(*) / CAST(SUM(n) AS DOUBLE)
         AS skew_ratio,
       (SELECT MIN(k) FROM kc WHERE n = (SELECT MAX(n) FROM kc))
         AS heaviest_key
FROM kc
"""


@_q("x_validate_skew_report", _X_SKEWREP_SQL)
def x_validate_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: per-key count distribution of
    orders.o_custkey reduced to the numbers that decide a join
    strategy — key count, max rows per key, mean, the max/mean skew
    ratio, and the heaviest key itself (min key id among ties, a total
    order). skew_ratio >> 1 is the signal to reach for
    operators/skew.py's salting or AQE skew-join before a 100 TB
    shuffle; the report itself is one map-side-combined count plus
    aggregation over the key-count-sized table, so it is cheap enough
    to run as a pre-flight check on every large join."""
    o = load_table(spark, sf_dir, "orders")
    kc = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return spark.sql(
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(MAX(n) AS BIGINT) AS max_per_key,
               CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_per_key,
               CAST(MAX(n) AS DOUBLE) * COUNT(*) / CAST(SUM(n) AS DOUBLE)
                 AS skew_ratio,
               (SELECT MIN(k) FROM {kc2} WHERE n = (SELECT MAX(n) FROM {kc3}))
                 AS heaviest_key
        FROM {kc}
        """,
        kc=kc,
        kc2=kc,
        kc3=kc,
    )


# --------------------------------------------------------------------------
# Cumulative distinct users (running count distinct via first-touch)
# --------------------------------------------------------------------------

_X_CUMUSERS_SQL = """
WITH fs AS (SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS first_day
            FROM events GROUP BY event_type, user_id),
daily AS (SELECT event_type, first_day AS d, CAST(COUNT(*) AS BIGINT) AS n_new
          FROM fs GROUP BY event_type, first_day)
SELECT event_type, d, n_new,
       CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY d
                             ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM daily
"""


@_q("x_events_cumulative_users", _X_CUMUSERS_SQL)
def x_events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT user) per event type by day — the
    feature-adoption curve — via the first-touch transform:
    distinct-over-expanding-window is unshuffleable as stated (every
    day would re-scan all history), but MIN(day) per (type, user) +
    daily new-user counts + one cumulative sum per type over the
    day-count-sized series is two map-side-combined aggregations and a
    calendar-bounded keyed window. The rewrite is exact, not
    approximate — the standard trick for cumulative-distinct at scale.
    """
    ev = load_events(spark, sf_dir)
    fs = ev.groupBy("event_type", "user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = fs.groupBy("event_type", F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        "d",
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cum_users"),
    )


# --------------------------------------------------------------------------
# k-core extraction over the support-2 co-purchase graph
# --------------------------------------------------------------------------


# k-core peel as a recursive CTE: the shrinking fixpoint does not fit
# UNION-dedup recursion (every later survivor set is a subset of round
# 0, so the working table empties after one step), so the recursion is
# UNION ALL over the surviving EDGE set tagged with a round counter.
# Each step recomputes both endpoint degrees from the single working
# table via window counts (the edge set is symmetric, so COUNT OVER
# (PARTITION BY u) is deg(u)) and recurses only while some edge was
# dropped (any_drop gate) — edge count strictly decreases, so it
# terminates. The final SELECT applies ONE more peel filter: a no-op
# when recursion stopped at the fixpoint, and exactly the missing last
# step when it stopped because the next set was empty.
_X_KCORE_SQL = """
WITH RECURSIVE
li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
cop AS (
  SELECT a.p AS s, b.p AS t
  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING COUNT(*) >= 2),
sym AS (SELECT s AS u, t AS v FROM cop UNION ALL SELECT t AS u, s AS v FROM cop),
walk(r, u, v) AS (
  SELECT 0 AS r, u, v FROM sym
  UNION ALL
  SELECT r + 1, u, v FROM (
    SELECT r, u, v, du, dv,
           MAX(CASE WHEN du < 3 OR dv < 3 THEN 1 ELSE 0 END) OVER () AS any_drop
    FROM (SELECT r, u, v,
                 COUNT(*) OVER (PARTITION BY u) AS du,
                 COUNT(*) OVER (PARTITION BY v) AS dv
          FROM walk) t1) t2
  WHERE du >= 3 AND dv >= 3 AND any_drop = 1),
last AS (SELECT u, v FROM walk WHERE r = (SELECT MAX(r) FROM walk)),
filt AS (
  SELECT u, v FROM (
    SELECT u, v,
           COUNT(*) OVER (PARTITION BY u) AS du,
           COUNT(*) OVER (PARTITION BY v) AS dv
    FROM last) t3
  WHERE du >= 3 AND dv >= 3)
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM filt GROUP BY u
"""


@_q("x_graph_kcore", _X_KCORE_SQL)
def x_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the support-2 co-purchase graph (parts linked when
    they co-occur in >= 2 distinct orders — the same minimum-support
    idea as x_market_basket_lift, which keeps the graph heterogeneous
    instead of near-regular): operators/graph.py::kcore peels nodes of
    degree < 3 in parallel rounds until the maximal subgraph where
    every survivor keeps >= 3 edges remains. Output (node,
    core_degree). Oracle-checked since r09: the peel fixpoint is a
    DuckDB recursive CTE over the surviving edge set (see
    _X_KCORE_SQL's derivation note) — batch and sequential peeling
    provably agree on the greatest fixpoint, additionally pinned by
    tests/test_graph.py's property test against a pure-Python
    sequential peel on random graphs."""
    from ..operators.graph import kcore

    return kcore(_support2_edges(spark, sf_dir), k=3, canonical=True)


# --------------------------------------------------------------------------
# HLL sketch partial / merge (re-aggregatable distinct counts)
# --------------------------------------------------------------------------


_X_HLL_MERGE_SQL = """
SELECT CAST(weekofyear(ts) AS INTEGER) AS week,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS merge_consistent,
       TRUE AS within_tolerance
FROM events GROUP BY week
"""


@_q("x_olap_hll_partial_merge", _X_HLL_MERGE_SQL)
def x_olap_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counting: per-day Datasketches HLL
    sketches of the active-user set (hll_sketch_agg), merged with
    hll_union_agg into period estimates — the pattern that makes
    100 TB distinct-count dashboards incremental: daily partials are
    built once at ingest (map-side-combined, fixed-size state), and
    ANY period rollup (week/month/all-time) is a cheap union of stored
    sketches instead of a re-scan of raw events. approx_count_distinct
    gives one-shot estimates but discards the sketch;
    sketch-as-a-value is what enables storage and later merging.

    QUANTITATIVE oracle gate (r18, upgraded from rows-only — VERDICT
    r17 task #5): the sketch estimate has no DuckDB counterpart, but
    its two CONTRACTS do — per week the output hashes the exact
    distinct count and day count (SQL-statable) plus two booleans:
    ``merge_consistent`` (the union-of-daily-sketches estimate equals
    the one-shot weekly sketch's estimate — HLL union is register-max,
    so this is deterministic associativity, the property that makes
    stored partials trustworthy) and ``within_tolerance`` (merged
    estimate within 5% of exact; measured < 2% at every fixture SF).
    Both sketch paths still run on every invocation; bit-level merge
    equality is additionally pinned in tests/test_mining_pack.py."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        F.weekofyear("ts").alias("week"), F.col("ts").cast("date").alias("d")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("est_users"),
    )
    oneshot = ev.groupBy(F.weekofyear("ts").alias("week")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
        .cast("long")
        .alias("oneshot_users"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    return merged.join(oneshot, "week").select(
        "week",
        "n_days",
        "exact_users",
        (F.col("est_users") == F.col("oneshot_users")).alias(
            "merge_consistent"
        ),
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_tolerance"),
    )


# --------------------------------------------------------------------------
# Join-strategy pre-flight (operators/planner.py)
# --------------------------------------------------------------------------

_X_PLANNER_SQL = """
WITH kc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey),
l AS (SELECT CAST(SUM(n) AS BIGINT) AS l_rows,
             CAST(COUNT(*) AS BIGINT) AS l_keys,
             CAST(MAX(n) AS BIGINT) AS l_max_key_rows FROM kc),
r AS (SELECT CAST(COUNT(*) AS BIGINT) AS r_rows FROM customer)
SELECT l_rows, l_keys, l_max_key_rows, r_rows,
       CAST(l_max_key_rows AS DOUBLE) * l_keys / CAST(l_rows AS DOUBLE)
         AS skew_ratio,
       CASE WHEN r_rows <= 1000000 THEN 'broadcast'
            WHEN CAST(l_max_key_rows AS DOUBLE) * l_keys
                   / CAST(l_rows AS DOUBLE) > 4.0 THEN 'salted_sort_merge'
            ELSE 'sort_merge' END AS strategy
FROM l, r
"""


@_q("x_validate_join_planner", _X_PLANNER_SQL)
def x_validate_join_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy pre-flight report for orders JOIN customer ON
    custkey (operators/planner.py): probe-side volume / key cardinality
    / heaviest-key multiplicity, build-side volume, the max/mean skew
    ratio, and the deterministic strategy decision (broadcast under the
    build-side budget; salt when the probe side is skewed; plain
    sort-merge otherwise) — the report a pipeline author reads BEFORE a
    multi-hour 100 TB join, and the same decision ``auto_join`` applies
    mechanically (plan-shape + result-equivalence tests in
    tests/test_mining_pack.py). Two map-side-combined aggregates and a
    1-row assembly; thresholds are explicit in the output's CASE, so
    the report documents its own reasoning."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    kc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    l = kc.agg(
        F.sum("n").cast("long").alias("l_rows"),
        F.count(F.lit(1)).cast("long").alias("l_keys"),
        F.max("n").cast("long").alias("l_max_key_rows"),
    )
    r = c.agg(F.count(F.lit(1)).cast("long").alias("r_rows"))
    j = l.crossJoin(F.broadcast(r))
    skew = (
        F.col("l_max_key_rows").cast("double")
        * F.col("l_keys")
        / F.col("l_rows").cast("double")
    )
    return j.select(
        "l_rows",
        "l_keys",
        "l_max_key_rows",
        "r_rows",
        skew.alias("skew_ratio"),
        F.when(F.col("r_rows") <= 1000000, F.lit("broadcast"))
        .when(skew > 4.0, F.lit("salted_sort_merge"))
        .otherwise(F.lit("sort_merge"))
        .alias("strategy"),
    )


# --------------------------------------------------------------------------
# Windowed COUNT DISTINCT (sliding distinct-state kernel)
# --------------------------------------------------------------------------

_X_WDISTINCT_SQL = """
SELECT event_id, user_id,
       CAST(COUNT(DISTINCT event_type) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
           ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS INTEGER)
         AS distinct_types_11
FROM events
"""


@_q("x_olap_windowed_distinct", _X_WDISTINCT_SQL)
def x_olap_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding distinct count — how many DISTINCT event types did this
    user touch in their last 11 events? (behavioral-diversity feature
    for engagement/abuse models). Spark does not support DISTINCT
    aggregates in window frames; the engine-idiomatic rewrite is
    size(collect_set() OVER frame) — set state bounded by the FRAME
    length (11), not the partition, so per-row window state is O(frame)
    at any scale. The oracle states the same thing natively
    (COUNT(DISTINCT) OVER), making this a cross-engine kernel pin:
    same total tie order (ts, event_id), same frame, one user-keyed
    shuffle on the Spark side."""
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w))
        .cast("int")
        .alias("distinct_types_11"),
    )


# --------------------------------------------------------------------------
# Linear-interpolation gap repair (the interpolating sibling of LOCF)
# --------------------------------------------------------------------------

_X_INTERP_SQL = """
WITH sparse AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
         CASE WHEN event_id % 3 = 0
              THEN CAST(value AS DOUBLE) ELSE NULL END AS v
  FROM events),
bounds AS (
  SELECT event_id, user_id, tus, v,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS)
           OVER wp AS pt,
         first_value(v IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS)
           OVER wf AS nt
  FROM sparse
  WINDOW wp AS (PARTITION BY user_id ORDER BY tus, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY tus, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_id, user_id, v,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv)
                   * (CAST(tus - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
       END AS v_interp
FROM bounds
"""


@_q("x_ts_interpolate", _X_INTERP_SQL)
def x_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap repair over a sparse per-user series —
    the interpolating sibling of x_ts_gap_fill's LOCF: interior gaps
    take the time-weighted blend of the bracketing observations,
    leading/trailing gaps fall back to nearest-edge fill. The blend
    fraction divides integer microsecond deltas (one IEEE
    multiply/divide chain, same expression both engines); the two
    frame passes (last non-null backward, first non-null forward)
    share one user-keyed sort, and per-row state is O(1) — IGNORE
    NULLS frames carry a scalar, not the frame contents — so the
    repair is a two-window pass at any scale."""
    from ..sources.readers import load_events as _le

    ev = _le(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("tus"),
        F.when(
            F.col("event_id") % 3 == 0, F.col("value").cast("double")
        ).alias("v"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    t_obs = F.when(F.col("v").isNotNull(), F.col("tus"))
    b = ev.select(
        "event_id",
        "user_id",
        "tus",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(t_obs, ignorenulls=True).over(wp).alias("pt"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(t_obs, ignorenulls=True).over(wf).alias("nt"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("tus") - F.col("pt")).cast("double")
                / (F.col("nt") - F.col("pt")).cast("double")
            )
        )
    )
    return b.select("event_id", "user_id", "v", interp.alias("v_interp"))


# --------------------------------------------------------------------------
# Join output-cardinality prediction (planner pre-flight #2)
# --------------------------------------------------------------------------

_X_JOINCARD_SQL = """
WITH a AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n_a
           FROM orders GROUP BY o_orderkey),
b AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n_b
      FROM lineitem GROUP BY l_orderkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
       CAST(SUM(CAST(n_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0)))
            AS BIGINT) AS predicted_rows,
       CAST(MAX(CAST(n_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0)))
            AS BIGINT) AS max_single_key_rows
FROM a JOIN b ON a.k = b.k
"""


@_q("x_validate_join_cardinality", _X_JOINCARD_SQL)
def x_validate_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join output-cardinality prediction WITHOUT running the join:
    |A join B| on an equi-key is exactly SUM over matching keys of
    n_a * n_b, computable from the two per-key count tables — inputs
    that are map-side-combined reductions, joined at key-cardinality
    (not row) scale. The companion to x_validate_join_planner: the
    planner report says HOW to run the join, this one says HOW BIG it
    comes out (and max_single_key_rows bounds the worst skew cell —
    the number AQE's skew splitter will have to chop). At 100 TB the
    same formula runs over sampled or sketched count tables; the exact
    version here is what makes it oracle-checkable, and
    tests/test_mining_pack.py asserts the prediction equals the
    materialized join's count."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    b = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    prod = F.col("n_a").cast("decimal(19,0)") * F.col("n_b").cast(
        "decimal(19,0)"
    )
    return a.join(b, "k").agg(
        F.count(F.lit(1)).cast("long").alias("n_matching_keys"),
        F.sum(prod).cast("long").alias("predicted_rows"),
        F.max(prod).cast("long").alias("max_single_key_rows"),
    )


# --------------------------------------------------------------------------
# Order-independent table checksum (migration / replication equality)
# --------------------------------------------------------------------------

def _cksum_sql() -> str:
    """Generated from the shared row-hash restatement
    (operators/validation.py::row_hash_sql) so the whole-table gate and
    the range tier (x_storage_checksum_ranges) hash identically — the
    Merkle parent/child relationship only holds on one hash."""
    from ..operators.validation import row_hash_sql

    h = row_hash_sql(["o_orderkey", "o_custkey", "o_orderstatus"])
    return f"""
WITH h AS (SELECT {h} AS h FROM orders)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h) AS BIGINT) AS cksum_xor,
       CAST(SUM(CAST(h AS DECIMAL(32,0))) % 2305843009213693951 AS BIGINT)
         AS cksum_sum_mod
FROM h
"""


@_q("x_validate_table_checksum", _cksum_sql())
def x_validate_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum: per-row md5 over an INJECTIVE,
    NULL-SAFE canonical string (operators/validation.py::row_hash_expr
    since r10 — length-prefixed fields so embedded separators can't
    alias, explicit null markers so a NULL never blinds the fold; the
    same hash the range tier x_storage_checksum_ranges buckets, making
    the pair a real Merkle parent/child), folded with BOTH xor
    (order-insensitive, detects any single-row change) and an exact
    decimal sum reduced mod the Mersenne prime 2^61-1 (catches the xor
    blind spot — an even number of identical row changes — while
    landing in BIGINT on both engines; the unreduced sum would widen
    past DECIMAL(18), the cross-engine wide-decimal trap).
    This is the replicate/migrate equality gate: run on source and
    target, compare three numbers instead of sorting and diffing 100 TB
    on both sides. Map-side-combined fold, constant aggregate state,
    zero shuffle beyond the final 1-row reduce. Float columns still
    need decimal canonicalization first (engine/locale-dependent
    formatting). The 15-hex-digit window keeps the parsed value inside
    the positive BIGINT range on both engines (conv() here, '0x' cast
    in DuckDB)."""
    from ..operators.validation import row_hash_expr

    o = load_table(spark, sf_dir, "orders")
    h = row_hash_expr(["o_orderkey", "o_custkey", "o_orderstatus"])
    return o.select(h.alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.bit_xor("h").cast("long").alias("cksum_xor"),
        # fold the sum into Z_(2^61-1): the exact decimal sum widens
        # past precision 18 (the engines widen differently — the wide-
        # decimal trap); the Mersenne-prime mod keeps the order-
        # independent sum-fold property and lands in BIGINT on both
        (
            F.sum(F.col("h").cast("decimal(32,0)"))
            % F.lit(2305843009213693951)
        )
        .cast("long")
        .alias("cksum_sum_mod"),
    )


# --------------------------------------------------------------------------
# k-anonymity audit (privacy / governance gate over quasi-identifiers)
# --------------------------------------------------------------------------

_X_KANON_SQL = """
WITH full_cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor((c_acctbal + 1000.0) / 2000.0) AS BIGINT) AS bal_bucket,
         COUNT(*) AS n
  FROM customer GROUP BY 1, 2, 3),
gen_cls AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
  FROM customer GROUP BY 1, 2)
SELECT 'full' AS tier, CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(n) AS BIGINT) AS k_level,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS rows_at_risk
FROM full_cls
UNION ALL
SELECT 'generalized' AS tier, CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(n) AS BIGINT) AS k_level,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS rows_at_risk
FROM gen_cls
"""


@_q("x_validate_k_anonymity", _X_KANON_SQL)
def x_validate_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training-data pipeline runs before releasing person-derived rows
    (HIPAA Safe-Harbor-style generalization analysis): every row whose
    quasi-identifier equivalence class holds fewer than k=5 members is
    re-identifiable by linkage. Two tiers in one report: 'full'
    granularity (nation x segment x account-balance bucket) and the
    'generalized' cut that suppresses the balance bucket — their
    (k_level, rows_at_risk) delta IS the generalization decision.

    The balance bucket is floor((bal + 1000) / 2000): one IEEE
    add/divide into floor — the +1000 shift keeps the operand positive
    so floor == truncation on both engines (negative balances would
    otherwise split floor-vs-trunc across engines). Everything else is
    exact integer counting.

    Shape: two map-side-combined groupBys over the dimension table and
    a 2-row union of their 1-row summaries — no joins, no window over
    the fact side; at 100 TB the census is one shuffle of class keys
    per tier (and tiers share the scan)."""
    c = load_table(spark, sf_dir, "customer")
    bucket = F.floor(
        (F.col("c_acctbal") + F.lit(1000.0)) / F.lit(2000.0)
    ).cast("long")

    def census(classes: DataFrame, tier: str) -> DataFrame:
        return classes.agg(
            F.lit(tier).alias("tier"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("n").cast("long").alias("k_level"),
            F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
        ).select("tier", "n_classes", "k_level", "n_violating", "rows_at_risk")

    full_cls = c.groupBy(
        "c_nationkey", "c_mktsegment", bucket.alias("bal_bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    gen_cls = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    return census(full_cls, "full").unionByName(census(gen_cls, "generalized"))


# --------------------------------------------------------------------------
# BM25 retrieval scoring (integer-rational, log-free under the hash gate)
# --------------------------------------------------------------------------

# Three fixed multi-term queries over the corpus' stable vocabulary.
# (query_id, term) literals shared verbatim by the Spark plan and the
# generated DuckDB oracle — one source of truth.
_BM25_QUERIES: list[tuple[int, str]] = [
    (1, "join"), (1, "hash"), (1, "merge"),
    (2, "scan"), (2, "filter"), (2, "column"),
    (3, "vector"), (3, "batch"), (3, "row"),
]
_BM25_GRID = 100_000  # score quantization: 1e-5 score units
_BM25_TOPK = 10


def _bm25_ctes(topk: int) -> str:
    """Shared DuckDB CTE block computing the BM25 top-``topk`` doc list
    per query — reused by the x_text_bm25 oracle and composed into the
    x_sim_rrf_fusion oracle. Derivation of the integer constants is in
    x_text_bm25's docstring."""
    vals = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    return rf"""
toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
         FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
dlen AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
         FROM toks GROUP BY 1),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
tot AS (SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS n_tokens
        FROM dlen),
av AS (SELECT n_docs, (10 * n_tokens) // n_docs AS avgdl_u FROM tot),
qa AS (SELECT * FROM (VALUES {vals}) AS q(query_id, term)),
bm_m AS (
  SELECT q.query_id, t.doc_id, t.tf, d.df, l.dl, av.n_docs, av.avgdl_u
  FROM qa q
  JOIN tf t USING (term)
  JOIN dfreq d USING (term)
  JOIN dlen l ON l.doc_id = t.doc_id, av),
bm_c AS (
  SELECT query_id, doc_id,
         ({_BM25_GRID} * (22 * tf * avgdl_u) * (2 * n_docs - 2 * df + 1))
           // ((10 * tf * avgdl_u + 3 * avgdl_u + 90 * dl) * (2 * df + 1))
           AS contrib
  FROM bm_m),
bm_s AS (SELECT query_id, doc_id,
                CAST(COUNT(*) AS INT) AS n_terms,
                CAST(SUM(contrib) AS BIGINT) AS score_grid
         FROM bm_c GROUP BY 1, 2),
bm_top AS (
  SELECT CAST(query_id AS INT) AS query_id, doc_id, n_terms, score_grid,
         CAST(rnk AS INT) AS rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_grid DESC, doc_id) AS rnk
        FROM bm_s)
  WHERE rnk <= {topk})
"""


_X_BM25_SQL = (
    "WITH "
    + _bm25_ctes(_BM25_TOPK)
    + f"""
SELECT query_id, doc_id, n_terms, score_grid,
       CAST(score_grid AS DOUBLE) / {_BM25_GRID}.0 AS score, rank
FROM bm_top
"""
)


def _bm25_scores(spark: SparkSession, sf_dir: str, topk: int) -> DataFrame:
    """BM25 top-``topk`` docs per query as a DataFrame with columns
    (query_id int, doc_id, n_terms, score_grid, rank) — the Spark twin
    of _bm25_ctes. Shared by x_text_bm25 and x_sim_rrf_fusion."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(tx.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dlen = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tot = (
        dlen.agg(F.sum("dl").cast("long").alias("n_tokens"))
        .crossJoin(F.broadcast(n_docs))
        .selectExpr("n_docs", "(10 * n_tokens) div n_docs AS avgdl_u")
    )
    qa = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    m = (
        tf.join(F.broadcast(qa), "term")  # prunes to query terms map-side
        .join(F.broadcast(dfreq.join(F.broadcast(qa), "term")
                          .select("term", "df")), "term")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(tot))
    )
    c = m.selectExpr(
        "query_id",
        "doc_id",
        f"({_BM25_GRID}L * (22 * tf * avgdl_u) * (2 * n_docs - 2 * df + 1))"
        f" div ((10 * tf * avgdl_u + 3 * avgdl_u + 90 * dl) * (2 * df + 1))"
        " AS contrib",
    )
    s = c.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        F.sum("contrib").cast("long").alias("score_grid"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_grid"), F.asc("doc_id")
    )
    return (
        s.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
    )


@_q("x_text_bm25", _X_BM25_SQL)
def x_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (Robertson-Sparck Jones / Okapi, k1=1.2,
    b=0.75): top-10 documents per query for three fixed multi-term
    queries — the standard first-stage ranker of RAG / retrieval
    curation pipelines, one doc-length-normalized step up from
    x_text_tfidf. Log-free under the hash gate by the house
    sufficient-statistics discipline: with avgdl pre-rounded to
    deci-tokens (avgdl_u = (10*total_tokens) div n_docs — exact
    integer), each term's score is the EXACT rational

        tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl) * idf
      = (22*tf*avgdl_u) / (10*tf*avgdl_u + 3*avgdl_u + 90*dl)   [x10avgdl_u]
        * (2*n_docs - 2*df + 1) / (2*df + 1)                    [x2]

    using the linear odds-ratio idf (N-df+.5)/(df+.5) — the same
    monotone-in-df substitution x_text_tfidf documents (swap in
    log1p(idf) for classical BM25 scores; rankings per fixed tf agree).
    Scores quantize to the 1e-5 integer grid by BIGINT floor-division
    (both engines' integer div truncates on positives), so SUM over
    query terms, ranking, and tiebreak (score DESC, doc_id) are exact
    integer ops; the one double at the boundary is score_grid/1e5.

    Shape: the tiny query-term table BROADCASTS into the (doc, term)
    tf table, so the corpus prunes to query-term postings map-side
    before any wide state; df joins broadcast (query terms only);
    doc lengths join on doc_id; one window tops per query. At 100 TB
    the only corpus-wide work is the tf/dlen scans — everything after
    is postings-of-9-terms-sized."""
    return _bm25_scores(spark, sf_dir, _BM25_TOPK).select(
        "query_id",
        "doc_id",
        "n_terms",
        "score_grid",
        (F.col("score_grid").cast("double") / F.lit(float(_BM25_GRID)))
        .alias("score"),
        "rank",
    )


# --------------------------------------------------------------------------
# Reciprocal-rank-fusion hybrid retrieval (lexical BM25 + vector cosine)
# --------------------------------------------------------------------------

_RRF_K = 60          # the standard RRF damping constant
_RRF_GRID = 10 ** 9  # 1/(k+rank) quantized to integer 1e9/(k+rank)
_RRF_TOPN = 20       # per-system candidate depth
_RRF_DIM = 64
_RRF_SCALE = 1024    # embedding quantization grid (2^10), as the MMR key


def _rrf_sql() -> str:
    """DuckDB oracle for x_sim_rrf_fusion: the BM25 CTE block (shared
    with x_text_bm25 — one source of truth) plus an integer-grid
    brute-cosine ranker over embeddings, full-outer-joined and fused
    with integer reciprocal ranks."""
    qz = (
        "list_transform(embedding, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {_RRF_SCALE}) AS BIGINT))"
    )
    qids = ", ".join(str(q) for q in sorted({q for q, _ in _BM25_QUERIES}))
    return (
        "WITH "
        + _bm25_ctes(_RRF_TOPN)
        + f""",
vq AS (SELECT vec_id AS query_id, {qz} AS qv
       FROM embeddings WHERE vec_id IN ({qids})),
ve AS (SELECT vec_id AS doc_id, {qz} AS cv FROM embeddings),
vs AS (SELECT q.query_id, e.doc_id,
              list_sum(list_transform(range(1, {_RRF_DIM + 1}),
                                      i -> q.qv[i] * e.cv[i])) AS dot
       FROM vq q, ve e WHERE e.doc_id <> q.query_id),
v_top AS (
  SELECT CAST(query_id AS INT) AS query_id, doc_id, CAST(rnk AS INT) AS rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, doc_id) AS rnk
        FROM vs)
  WHERE rnk <= {_RRF_TOPN}),
fused AS (
  SELECT COALESCE(v.query_id, b.query_id) AS query_id,
         COALESCE(v.doc_id, b.doc_id) AS doc_id,
         CAST(COALESCE({_RRF_GRID} // ({_RRF_K} + v.rank), 0)
            + COALESCE({_RRF_GRID} // ({_RRF_K} + b.rank), 0) AS BIGINT)
           AS rrf_grid,
         CAST((CASE WHEN v.rank IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN b.rank IS NULL THEN 0 ELSE 1 END) AS INT)
           AS n_systems
  FROM v_top v
  FULL OUTER JOIN bm_top b
    ON v.query_id = b.query_id AND v.doc_id = b.doc_id)
SELECT query_id, doc_id, n_systems, rrf_grid, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY rrf_grid DESC, doc_id) AS INT)
              AS rank
  FROM fused)
WHERE rank <= 5
"""
    )


@_q("x_sim_rrf_fusion", _rrf_sql())
def x_sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (Cormack, Clarke &
    Buettcher 2009): fuse a LEXICAL ranking (the shared BM25 top-20,
    _bm25_scores — exactly x_text_bm25's scorer at candidate depth 20)
    with a VECTOR ranking (integer-grid brute cosine over embeddings,
    the same 2^10 quantization as x_sim_mmr_rerank) via

        rrf(d) = sum over systems of 1 / (60 + rank_system(d))

    quantized to floor(1e9/(60+rank)) — integer division, so the fused
    score, the full-outer union of the two candidate lists (a doc
    ranked by only one system still scores), and the (rrf DESC, doc_id)
    tiebreak are all exact integer ops both engines state identically.
    This is THE standard RAG hybrid-search combiner: rank-space fusion
    needs no score calibration between incommensurable scorers.

    Shape: each ranker is top-20-per-query (BM25's postings prune by a
    broadcast of 9 query terms; the vector side broadcasts 3 query
    vectors and scores map-side — swap the IVF tier in at 100 TB), so
    the fusion join and final window touch <= queries x 40 rows.
    doc_id/vec_id share the id space by fixture construction; where
    the universes diverge the outer join IS the semantics (rank-only
    fusion over whichever systems scored the candidate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = sorted({q for q, _ in _BM25_QUERIES})
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * _RRF_SCALE).cast("long"),
    )
    vq = (
        emb.filter(F.col("vec_id").isin(qids))
        .select(F.col("vec_id").cast("int").alias("query_id"),
                quant.alias("qv"))
    )
    ve = emb.select(F.col("vec_id").alias("doc_id"), quant.alias("cv"))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    vs = (
        ve.crossJoin(F.broadcast(vq))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", dot.alias("dot"))
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("doc_id"))
    v_top = (
        vs.withColumn("rank", F.row_number().over(wv).cast("int"))
        .filter(F.col("rank") <= _RRF_TOPN)
        .select("query_id", "doc_id", "rank")
    )
    b_top = _bm25_scores(spark, sf_dir, _RRF_TOPN).select(
        "query_id", "doc_id", "rank"
    )
    fused = (
        v_top.withColumnRenamed("rank", "rank_v")
        .join(
            b_top.withColumnRenamed("rank", "rank_b"),
            ["query_id", "doc_id"],
            "full_outer",
        )
        .selectExpr(
            "query_id",
            "doc_id",
            f"CAST(COALESCE({_RRF_GRID} div ({_RRF_K} + rank_v), 0)"
            f" + COALESCE({_RRF_GRID} div ({_RRF_K} + rank_b), 0) AS BIGINT)"
            " AS rrf_grid",
            "CAST((CASE WHEN rank_v IS NULL THEN 0 ELSE 1 END)"
            " + (CASE WHEN rank_b IS NULL THEN 0 ELSE 1 END) AS INT)"
            " AS n_systems",
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_grid"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "doc_id", "n_systems", "rrf_grid", "rank")
    )


# --------------------------------------------------------------------------
# Prefix-filtered (PPJoin-style) exact Jaccard — same answer, ~20x less
# join work than the full inverted-index self-join at a high threshold
# --------------------------------------------------------------------------

from .catalog_ext import _JACCARD_CTES_T, _TH_CLUSTER

_X_JACCARD_PREFIX_SQL = (
    "WITH "
    + _JACCARD_CTES_T.format(th=_TH_CLUSTER)
    + f"SELECT doc_a, doc_b, inter, jaccard FROM scored "
    f"WHERE jaccard >= {_TH_CLUSTER}"
)


@_q("x_dedup_jaccard_prefix", _X_JACCARD_PREFIX_SQL)
def x_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact trigram Jaccard at the cluster threshold
    (t = 1/2, df_cap = 100): operators/dedup.py::jaccard_prefix_pairs —
    the PPJoin-family candidate pruning. The ORACLE IS THE UNFILTERED
    OPERATOR's SQL (the same CTE template x_dedup_ngram_jaccard
    instantiates, at th = 0.5): prefix filtering is lossless, so pair
    set, intersection counts, and jaccard values must hash-identically
    to the full inverted-index self-join. What changes is the work:
    only each doc's rarest ~sz/2 shingles are indexed, and candidate
    pairs collapse from sum C(df,2) over ALL shingles to the rare-end
    prefix co-occurrences that survive the integer length filter
    (measured ~20x fewer candidates at sf0.1 — the test pins the
    reduction AND the equality).

    posts_partitions scales with the corpus footprint (source parquet
    bytes / 400 KB clamped to [4, 32] — a stat() call, no count job;
    measured optima: ~4 at sf0.1's 595 KB, ~16 at sf1's 6 MB, where
    fixed-8 left ~20% on the table). Partitioning cannot change the
    output — every op here is exact integer counting or a single final
    division — so the oracle is unaffected."""
    import os

    from ..operators import dedup

    try:
        nbytes = os.stat(os.path.join(sf_dir, "documents.parquet")).st_size
        pp = max(4, min(32, nbytes // 400_000))
    except OSError:
        pp = 8
    return dedup.jaccard_prefix_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3,
        t_num=1, t_den=2, df_cap=100, posts_partitions=pp,
    )


# --------------------------------------------------------------------------
# Catalog commit log (audit/lineage surface; Delta DESCRIBE HISTORY /
# Iceberg snapshots equivalent) under the hash gate
# --------------------------------------------------------------------------

_X_COMMIT_LOG_SQL = """
WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
cb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer
       WHERE c_mktsegment = 'BUILDING'),
cbe AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0),
f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
      WHERE o_orderpriority = '1-URGENT'),
fe AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
       WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0)
SELECT 1 AS seq, 'dim_customer' AS tables_changed,
       (SELECT n FROM c) AS dim_rows, CAST(NULL AS BIGINT) AS fact_rows
UNION ALL
SELECT 2, 'fact_orders', (SELECT n FROM c), (SELECT n FROM f)
UNION ALL
SELECT 3, 'dim_customer', (SELECT n FROM cb), (SELECT n FROM f)
UNION ALL
SELECT 4, 'dim_customer,fact_orders',
       (SELECT n FROM cbe), (SELECT n FROM fe)
"""


@_q("x_storage_commit_log", _X_COMMIT_LOG_SQL)
def x_storage_commit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log audit over the transactional catalog
    (sources/txn.py::Catalog.log + read_asof — the DESCRIBE
    HISTORY / snapshot-lineage surface): four scripted commits (dim,
    fact, dim rewrite, then a MULTI-TABLE transaction touching both)
    and the emitted report walks the log oldest-first, naming each
    commit's table-level change set and the AS-OF row count of every
    table in that snapshot. The counts are pure functions of the
    source tables, so DuckDB states the whole expected history without
    seeing the catalog: a log that misorders commits, misattributes a
    change set (the in-code assertion also pins it), or resolves an
    as-of read against the wrong snapshot flips a row. Pure metadata
    plus one filtered count per (commit, table) — the log itself costs
    one small JSON read per commit at any data scale."""
    from ..sources.txn import Catalog

    cat = Catalog(scratch_dir("spark_graft_clog_") + "/wh")
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    fact = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).filter(F.col("o_orderpriority") == "1-URGENT")
    with cat.transaction() as t:
        t.overwrite(dim, "dim_customer")
    with cat.transaction() as t:
        t.overwrite(fact, "fact_orders")
    with cat.transaction() as t:
        t.overwrite(
            cat.read(spark, "dim_customer").filter(
                F.col("c_mktsegment") == "BUILDING"
            ),
            "dim_customer",
        )
    with cat.transaction() as t:  # multi-table commit: ONE log entry
        t.overwrite(
            cat.read(spark, "dim_customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .filter(F.col("c_custkey") % 2 == 0),
            "dim_customer",
        )
        t.overwrite(
            cat.read(spark, "fact_orders").filter(
                F.col("o_orderkey") % 2 == 0
            ),
            "fact_orders",
        )
    log = cat.log()
    expected = [
        ["dim_customer"],
        ["fact_orders"],
        ["dim_customer"],
        ["dim_customer", "fact_orders"],
    ]
    if [e["changed"] for e in log] != expected or any(
        e["removed"] for e in log
    ):
        raise AssertionError(f"commit log misattributed changes: {log}")

    out = None
    for seq, e in enumerate(log, start=1):
        def asof_count(table: str):
            try:
                return cat.read_asof(spark, table, e["manifest"]).agg(
                    F.count(F.lit(1)).cast("long").alias("n")
                )
            except FileNotFoundError:
                return spark.range(1).select(
                    F.lit(None).cast("long").alias("n")
                )
        row = (
            asof_count("dim_customer")
            .withColumnRenamed("n", "dim_rows")
            .crossJoin(asof_count("fact_orders")
                       .withColumnRenamed("n", "fact_rows"))
            .select(
                F.lit(seq).alias("seq"),
                F.lit(",".join(e["changed"])).alias("tables_changed"),
                "dim_rows",
                "fact_rows",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
