"""Distributed exact-rank kernel: global ROW_NUMBER / NTILE without a
single-partition sort — and with partition ids that are a PURE FUNCTION
of the row values, so the result is deterministic across re-executions.

`Window.orderBy(...)` with no partition spec funnels every row through
ONE task — fine on a 150k-customer aggregate at sf0.1, a genuine
scale-killer when the ranked grain grows with the data (customers are
billions of rows at 100 TB TPC-H shape). Exact global rank does not
need that funnel:

    boundary sample (ONE collect)     # p-1 key tuples, picked from a
                                      # deterministic hash sample and
                                      # folded into the plan as LITERALS
      -> pid = searchsorted(key)      # count of literal boundaries the
                                      # row's key exceeds — a pure
                                      # column expression, no execution
                                      # state involved
      -> per-pid counts               # map-side-combined agg; ONE
                                      # scalar-per-partition collect
      -> local row_number             # Window.partitionBy(pid) — a
                                      # HASH exchange over ~p balanced
                                      # groups, never a global sort
      -> rank = offset[pid] + local   # offsets as a literal map

Determinism argument (this is the point of the design): every later
stage consumes only literal boundaries + literal offsets + row values.
If any upstream stage is recomputed (cache eviction, executor churn,
shuffle-fetch order drift), the pid of every row is unchanged because
it depends on nothing but the row itself and constants already burned
into the plan. Pids taken from `monotonically_increasing_id()` on a
range exchange would need a cache to pin them: a recomputed block
re-samples the range boundaries and shifts every rank past the first
boundary. Correctness needs NO cache here; the kernel still caches its
input — but purely as a PERFORMANCE hint
(the three driver jobs would otherwise re-run a groupBy upstream's
reduce side each; map shuffle files are reused across jobs, reduce
aggregation is not), and eviction merely recomputes identical values.
The cache belongs to the query scope (``lifecycle.cached``).

One kernel (`_range_rank`) ranks along k orderings at once;
`distributed_row_number` and `distributed_ntile` are its one-ordering
case and `distributed_ntile_multi` its k-ordering case.

Cost model: 2 driver collects before the caller's action — the
boundary-sample collect (a TakeOrdered of the p*32 lowest-hash key
tuples; no pre-count pass) and the per-pid count collect (~k*p longs,
whose SUM is the exact total) — all cache reads after the first
materialization.

Correctness preconditions (documented, not silent):
- `order_by` must be a TOTAL order (append a unique tiebreaker such as
  the business key). Equal keys compare equal to at most one boundary
  and land in one pid, so no tie straddles a partition boundary.
- NULL keys rank like `ROW_NUMBER() OVER (ORDER BY ...)`: first for
  an ascending column, last for a descending one, in the boundary
  sample sort, the boundary comparison and the local window alike.

Skew note: like Spark's own RangePartitioner, an equal-key mass all
lands in one pid; the tiebreaker column (always unique here) restores
balance because boundaries are sampled from the full tuple.

Reference scope: the reference's 4 Redshift scripts have no ranked
statistic at all; this kernel backs the extension queries
`x_olap_gini`, `x_olap_global_rank`, `x_olap_rfm_scores`
(plans/metrics_pack.py), `x_olap_revenue_concentration`
(plans/mining_pack.py), `x_corpus_epoch_shuffle`, and
`x_pack_length_buckets`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..lifecycle import cached

# Boundary-sample rows per partition: the sample collect takes
# num_partitions * _SAMPLES_PER_PARTITION rows.
_SAMPLES_PER_PARTITION = 32

OrderSpec = tuple[str, bool]  # (column name, ascending)


def _sort_cols(order_by: list[OrderSpec]) -> list[Column]:
    return [
        F.col(name).asc() if asc else F.col(name).desc()
        for name, asc in order_by
    ]


def _py_sort(rows: list[tuple], order_by: list[OrderSpec]) -> list[tuple]:
    """Sort collected key tuples driver-side under the same total order
    the kernel ranks by (_sort_cols): repeated stable sorts, last key
    first. NULL sorts first ascending and last descending — the key
    (is not None, value) puts None lowest, and ``reverse`` flips it to
    the end for a descending column."""
    out = list(rows)
    for i in range(len(order_by) - 1, -1, -1):
        _, asc = order_by[i]
        out.sort(
            key=lambda t, i=i: (t[i] is not None, t[i]), reverse=not asc
        )
    return out


def _pick_boundaries(
    sample: list[tuple], num_partitions: int
) -> list[tuple]:
    """Evenly spaced, strictly increasing boundary tuples (≤ p-1)."""
    if not sample or num_partitions <= 1:
        return []
    n = len(sample)
    bounds: list[tuple] = []
    for i in range(1, num_partitions):
        cand = sample[min(n - 1, (i * n) // num_partitions)]
        if not bounds or cand != bounds[-1]:
            bounds.append(cand)
    return bounds


def _sql_lit(v) -> str:
    """Render a collected boundary value as a SQL literal. Covers every
    type the kernel's callers rank by (long/int, Decimal, date,
    timestamp, string, float, bool); rejects non-finite floats before
    they become unparseable text (the assign_ivf_cells guard)."""
    import datetime as _dt
    import decimal as _dec
    import math as _math

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if not _math.isfinite(v):
            raise ValueError("non-finite float in rank boundary sample")
        return repr(v) + "D"
    if isinstance(v, _dec.Decimal):
        return f"{v:f}BD"  # exact decimal literal, no float round-trip
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"unsupported rank boundary type: {type(v).__name__}")


def _gt_boundary_sql(order_by: list[OrderSpec], bvals: tuple) -> str:
    """key sorts after boundary (lexicographic under the per-column
    directions) as SQL text, built innermost-last-column-first:
        gt_i OR (eq_i AND <comparison of the remaining suffix>)
    `desc` flips the strict comparison; equality is direction-free.
    NULL sorts first ascending and last descending, as in _sort_cols.
    A NULL key against a non-NULL boundary leaves ``>`` / ``=`` NULL,
    which the enclosing CASE WHEN reads as false — the right answer
    wherever the explicit IS NULL terms do not decide."""
    cond = "FALSE"
    for (name, asc), bv in zip(reversed(order_by), reversed(bvals)):
        col = f"`{name}`"
        if bv is None:
            gt = f"{col} IS NOT NULL" if asc else "FALSE"
            eq = f"{col} IS NULL"
        else:
            lit = _sql_lit(bv)
            gt = f"{col} > {lit}" if asc else f"({col} < {lit} OR {col} IS NULL)"
            eq = f"{col} = {lit}"
        cond = f"({gt} OR ({eq} AND {cond}))"
    return cond


def _pid_expr(order_by: list[OrderSpec], bounds: list[tuple]) -> Column:
    """searchsorted: pid = number of literal boundaries the key exceeds.
    A sum of O(p) boolean terms, each O(n_keys) comparisons — all
    literal-folded, whole-stage-codegen friendly. Assembled as ONE SQL
    text expression: the Column-op form cost ~10 Py4J round trips per
    boundary (~0.8 s of pure driver-side plan construction per kernel
    call at p=32, tripled in chained callers like RFM — the same
    plan-size constant assign_ivf_cells/_book_sql eliminate)."""
    if not bounds:
        return F.expr("CAST(0 AS INT)")
    terms = " + ".join(
        f"(CASE WHEN {_gt_boundary_sql(order_by, bvals)} THEN 1 ELSE 0 END)"
        for bvals in bounds
    )
    return F.expr(f"CAST({terms} AS INT)")


def _range_rank(
    df: DataFrame,
    orderings: list[list[OrderSpec]],
    out_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int]:
    """Exact global ROW_NUMBER of ``df``'s rows along each of k
    orderings, in one sample collect, one count collect and one window.

    Each ordering must be total. With k > 1 the orderings must differ
    only in their first column: every row is exploded k ways into
    (``__rk_dim``, ``__rk_key``, pid) by ``stack``, so one window
    partitioned by (pid, dim) ranks all k orderings at once. With k = 1
    the frame is not exploded and ``__rk_dim`` is the literal 0.

    Returns ``(ranked, total)``: ranked carries ``df``'s columns,
    ``__rk_dim`` and the LongType 1-based rank ``out_col``; total is the
    row count, the sum of the per-pid counts (no count job). On an empty
    input ranked is ``df`` with a NULL ``out_col``.
    """
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    k = len(orderings)
    # A performance hint only: the sample and count collects and the
    # caller's action would otherwise each re-run an upstream reduce
    # (map shuffle files are reused across jobs, reduce aggregation is
    # not). Pids and offsets are literals, so a recompute after
    # eviction reproduces identical values.
    df = cached(df)

    bounds: list[list[tuple]] = [[] for _ in orderings]
    if num_partitions > 1:
        # One deterministic hash sample for every ordering, with no
        # pre-count: the lowest-(xxhash64, key) rows, a TakeOrdered that
        # is uniform over rows because the hash is, and a pure function
        # of the row values. After this collect the boundaries are plan
        # literals.
        names = list(dict.fromkeys(n for o in orderings for n, _ in o))
        rows = (
            df.select(*names)
            .orderBy(F.xxhash64(*names), *names)
            .limit(num_partitions * _SAMPLES_PER_PARTITION)
            .collect()
        )
        for i, o in enumerate(orderings):
            sample = _py_sort([tuple(r[n] for n, _ in o) for r in rows], o)
            bounds[i] = _pick_boundaries(sample, num_partitions)
    pids = [_pid_expr(o, b) for o, b in zip(orderings, bounds)]

    if k == 1:
        frame = df.select(
            "*", F.lit(0).alias("__rk_dim"), pids[0].alias("__rk_pid")
        )
        local_order = orderings[0]
    else:
        args = [
            x
            for i, o in enumerate(orderings)
            for x in (F.lit(i), F.col(o[0][0]), pids[i])
        ]
        frame = df.select(
            "*",
            F.stack(F.lit(k), *args).alias("__rk_dim", "__rk_key", "__rk_pid"),
        )
        local_order = [("__rk_key", orderings[0][0][1])] + orderings[0][1:]

    # One map-side-combined count per (dim, pid): at most k*p scalar
    # rows. Each dim's counts sum to the exact total.
    counts = sorted(
        (r["__rk_dim"], r["__rk_pid"], r["__rk_cnt"])
        for r in frame.groupBy("__rk_dim", "__rk_pid")
        .agg(F.count(F.lit(1)).alias("__rk_cnt"))
        .collect()
    )
    pairs: list[Column] = []
    acc = [0] * k
    for dim, pid, cnt in counts:
        pairs.extend((F.lit(dim * num_partitions + pid), F.lit(acc[dim])))
        acc[dim] += cnt
    if len(set(acc)) > 1:
        raise RuntimeError(f"rank kernel per-ordering count drift: {acc}")
    total = acc[0]
    if total == 0:
        return df.withColumn(out_col, F.lit(None).cast("long")), 0

    # Offsets as a literal map: no join, no shuffle, plan-constant.
    off = F.element_at(
        F.create_map(*pairs),
        F.col("__rk_dim") * F.lit(num_partitions) + F.col("__rk_pid"),
    )
    local = F.row_number().over(
        Window.partitionBy("__rk_pid", "__rk_dim").orderBy(
            *_sort_cols(local_order)
        )
    )
    ranked = frame.withColumn(out_col, (off + local.cast("long")).cast("long"))
    return ranked.drop("__rk_pid"), total


def distributed_row_number(
    df: DataFrame,
    order_by: list[OrderSpec],
    out_col: str = "i",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact global ROW_NUMBER over `order_by`, fully parallel and
    deterministic across re-executions.

    `order_by` is a list of `(column_name, ascending)` pairs that MUST
    form a total order — append a unique tiebreaker. NULLs sort first
    ascending and last descending. Returns `(df_with_rank, total_rows)`;
    the rank column `out_col` is LongType, 1-based, identical to
    `ROW_NUMBER() OVER (ORDER BY ...)`. The total comes free as the
    pid-count sum, so callers (NTILE, percentile cutoffs) never run a
    count job.
    """
    ranked, total = _range_rank(df, [order_by], out_col, num_partitions)
    return ranked.drop("__rk_dim"), total


def _ntile_params(total_rows: int, buckets: int) -> tuple[int, int, int]:
    """(q, r, head) for the integer NTILE formula — factored out so the
    exhaustive arithmetic test exercises the SAME constants the Column
    expression folds in (tests/test_rank.py)."""
    q, r = divmod(total_rows, buckets)
    return q, r, r * (q + 1)


def ntile_from_rank(rank: Column, total_rows: int, buckets: int) -> Column:
    """NTILE(buckets) as pure integer arithmetic over a global rank.

    SQL NTILE with N rows and B buckets gives the first N mod B buckets
    ceil(N/B) rows and the rest floor(N/B): for 1-based rank i,

        q = N div B, r = N mod B
        bucket(i) = ceil(i / (q+1))                     if i <= r*(q+1)
                  = r + ceil((i - r*(q+1)) / q)         otherwise

    Integer ceil via (x + d - 1) div d; the otherwise-branch divisor q
    is only 0 when N < B, in which case the first branch always fires
    (r = N, r*(q+1) = N >= i) — CaseWhen evaluates lazily per row, so
    the dead division never runs. LongType throughout: hash-stable
    across engines.
    """
    q, r, head = _ntile_params(total_rows, buckets)
    first = F.floor((rank + F.lit(q)) / F.lit(q + 1)).cast("long")
    rest = (
        F.lit(r) + F.floor((rank - F.lit(head) + F.lit(q - 1)) / F.lit(q))
    ).cast("long")
    return F.when(rank <= F.lit(head), first).otherwise(rest)


def distributed_ntile_multi(
    df: DataFrame,
    dim_cols: list[str],
    tiebreaker: str,
    buckets: int,
    out_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """NTILE(buckets) along SEVERAL orderings in ONE window pass.

    Chaining k `distributed_ntile` calls costs k cache
    materializations, ~3k driver jobs, and k window exchanges stacked
    in the final plan (the RFM shape: 3 passes over the customer
    grain was the most expensive non-graph bench query for three
    rounds). This kernel amortizes all of it:

        1 sample collect + 1 pid-count job (whose sums are the exact
        total — no count job), then a single window over the rows
        EXPLODED k ways —
        (dim_id, sort_key) pairs via ``stack`` — partitioned by
        (pid, dim_id) (`_range_rank`); a groupBy(tiebreaker) regroup
        pivots the buckets back onto one row per key.

    Byte-cost caveat: the explode carries ALL of ``df``'s
    columns, so the (dim_id, pid) exchange AND the regroup each move
    k COPIES OF THE FULL ROW WIDTH — k*n thin rows only when the
    caller's grain is thin (RFM: 7 small columns, a clear win over 3
    chained passes). For WIDE rows, project down to
    (tiebreaker, dim_cols) before calling this kernel and join the
    result back on the tiebreaker — otherwise the chained
    `distributed_ntile` form can shuffle fewer bytes despite its k
    exchanges.

    Preconditions (same family as distributed_row_number, plus one):
    - every ``dim_cols`` entry must be a NON-NULL LONG column already
      on `df` — callers encode dates as epoch days, decimals as scaled
      integers (strictly monotonic encodings preserve NTILE exactly);
    - ``tiebreaker`` must be unique and non-null, so each per-dim
      ordering (dim asc, tiebreaker asc) is total.

    Determinism: identical argument to distributed_row_number — the
    one row sample is a deterministic hash sample on the key columns
    (uniform over rows because the tiebreaker is unique), boundaries
    and offsets fold into the plan as literals, and the regroup's
    max() aggregates are order-free.

    Scale shape at 100 TB: the exploded exchange is k×grain thin rows
    hash-partitioned over ~k*p balanced pids; the regroup is one more
    grain-keyed exchange. No stage funnels through a single task.

    Returns `df`'s columns plus one LongType NTILE column per dim
    (named by ``out_cols``); the scratch dim columns are NOT dropped.
    Mismatched ``dim_cols`` / ``out_cols`` raise ValueError.
    """
    if not dim_cols or len(dim_cols) != len(out_cols):
        raise ValueError(
            f"dim_cols {dim_cols} and out_cols {out_cols} must be "
            "non-empty and of equal length"
        )
    orderings = [[(c, True), (tiebreaker, True)] for c in dim_cols]
    ranked, total = _range_rank(df, orderings, "__rk_i", num_partitions)
    if total == 0:
        return df.withColumns({c: F.lit(None).cast("long") for c in out_cols})
    bucket = ntile_from_rank(F.col("__rk_i"), total, buckets)

    # Regroup: one grain-keyed exchange; every carried column is
    # constant within its group, so max() is both deterministic and
    # type-preserving.
    aggs = [F.max(c).alias(c) for c in df.columns if c != tiebreaker] + [
        F.max(F.when(F.col("__rk_dim") == i, bucket)).alias(oc)
        for i, oc in enumerate(out_cols)
    ]
    out = ranked.groupBy(tiebreaker).agg(*aggs)
    return out.select(*df.columns, *out_cols)


def distributed_ntile(
    df: DataFrame,
    order_by: list[OrderSpec],
    buckets: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """NTILE(buckets) OVER (ORDER BY order_by) without the
    single-partition WindowExec: distributed_row_number supplies the
    exact global rank AND the total count (no extra job), then the
    bucket is a literal-folded integer expression."""
    ranked, total = distributed_row_number(
        df, order_by, out_col="__rk_i", num_partitions=num_partitions
    )
    bucket = (
        ntile_from_rank(F.col("__rk_i"), total, buckets)
        if total
        else F.lit(None).cast("long")
    )
    return ranked.withColumn(out_col, bucket).drop("__rk_i")
