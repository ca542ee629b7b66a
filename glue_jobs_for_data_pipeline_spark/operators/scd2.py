"""SCD Type-2 dimension upsert (SURVEY §2.9 M1/M4; reference dynamic_upsert.py:110-152).

Reference pipeline (one Redshift transaction, generated from column dicts):
  (a) stage ``SELECT DISTINCT <cols>`` of the source into dim_<t>_staging
      with LoadDate = current_date            (dynamic_upsert.py:120-122)
  (b) expire: ``UPDATE dim SET EndDate = current_date - INTERVAL '1 day'
      WHERE <key> IN (SELECT <key> FROM source) AND EndDate = '9999-12-31'``
                                              (dynamic_upsert.py:128-131)
  (c) insert every staged row as a new current version with
      StartDate = LoadDate, EndDate = '9999-12-31'
                                              (dynamic_upsert.py:137-139)

This is the NAIVE variant — no change detection: every run re-versions
every key present in the source, changed or not. ``mode="reference"``
reproduces that exactly; ``mode="delta"`` is the scale extension that
versions only genuinely changed rows (left-anti on the compared
columns), cutting dim growth from O(runs x source) to O(changes).

Spark realization: the three statements collapse into one pure
DataFrame -> DataFrame expression with a single terminal write — the
transaction bracket (M5) becomes write-last atomicity, and Spark's lazy
evaluation removes the physical staging table (S4/S7) entirely.

Plan shape. A dim-sized batch is bound by fixed per-job cost, not by
rows, so the plan is built for the fewest query stages. The gate is
``spark.graft.sk.kernelMinBytes`` (default 256 MiB, by optimizer plan
statistics of the input that would pass through one task): the dim and
the source for an upsert onto a committed dim, the staged rows for an
initial load. A funnel upsert measures once.

Below the gate, a rownum upsert onto a committed dim is one funnel: the
dim rows (tagged current or closed) and the source rows are unioned
into one single-partition exchange, and two window operators finish
the upsert inside it (see _funnel_upsert). The single partition
satisfies every distribution the windows ask for, so they add sorts but
no exchange. A delta write runs two jobs, the exchange and the write,
and each dim version is one file. An initial load runs two jobs too:
the single-partition exchange that deduplicates and ranks the staged
rows, and the write.

Above the gate, and for ``key_mode="hash"``, the upsert is distributed.
Change detection is a left-anti join against the current rows. The
expire step's IN-subquery is planned as an existence join, so it needs
no distinct; its changed-key set is broadcast, and for a billion-row
dim ``broadcast_keys=False`` lets the optimizer pick the join. The flag
acts only on this path. New versions are hashed, or deduplicated and
ranked: by one single-partition window when the staged rows alone are
below the gate, by the exact-rank kernel (operators/rank.py) otherwise.

Surrogate-key assignment offers ``key_mode="hash"`` (xxhash64, fully
parallel, deterministic, non-contiguous) for huge dims, and
``key_mode="rownum"`` (max + row_number, contiguous like the
reference's IDENTITY).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import CURRENT_ROW_SENTINEL, SCD2_END, SCD2_START
from ..functions.datefns import run_date_col

def _sentinel() -> F.Column:
    return F.lit(CURRENT_ROW_SENTINEL).cast("date")


def _check(name: str, value: str, allowed: tuple[str, ...]) -> None:
    if value not in allowed:
        raise ValueError(f"{name} must be one of {allowed}, got {value!r}")


def expire_current_rows(
    dim: DataFrame,
    source_keys: DataFrame,
    business_key: str,
    run_date: dt.date | str | None = None,
    broadcast_keys: bool = True,
) -> DataFrame:
    """(b)/M4: close out current rows whose key re-appears in the source.

    ``UPDATE ... SET EndDate = run_date - 1 WHERE key IN (source) AND
    EndDate = '9999-12-31'`` (dynamic_upsert.py:128-131). Spark has no
    in-place UPDATE, so EndDate is rewritten with when/otherwise over
    the same IN-subquery, and the caller overwrites the dim. Spark
    plans the IN as an existence join: duplicate source keys add no
    rows, so the keys need no distinct. Keys present in dim but absent
    from source are NOT touched (P7/J3), and a NULL key never matches.
    """
    keys = source_keys.select(business_key)
    if broadcast_keys:
        keys = F.broadcast(keys)
    expire = (F.col(SCD2_END) == _sentinel()) & F.col(business_key).isin(keys)
    return dim.withColumn(
        SCD2_END,
        F.when(expire, F.date_sub(run_date_col(run_date), 1)).otherwise(
            F.col(SCD2_END)
        ),
    )


def _below_gate(df: DataFrame) -> bool:
    """Whether ``df`` is small enough for one task: its optimizer plan
    statistics are at most ``spark.graft.sk.kernelMinBytes`` (default
    256 MiB). Plan-stats overestimation (cached or joined inputs, or
    rows built from Python objects, which carry no size statistics)
    errs toward the distributed plan, the scale-safe direction."""
    min_bytes = int(
        df.sparkSession.conf.get("spark.graft.sk.kernelMinBytes", str(256 << 20))
    )
    plan_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return plan_bytes <= min_bytes


def _rownum_keys(
    rows: DataFrame,
    dim: DataFrame | None,
    business_key: str,
    surrogate_key: str,
    dedup: bool,
) -> DataFrame:
    """The rownum keys of assign_surrogate_keys, dropping exact duplicate
    rows first when ``dedup`` is set. A batch below the gate is ranked
    by one single-partition window, and its dedup runs inside that
    partition: the single-partition exchange already satisfies the
    aggregate's distribution, so the distinct costs no exchange of its
    own. A batch above it takes a distributed distinct and the
    exact-rank kernel."""
    if _below_gate(rows):
        if dedup:
            rows = rows.repartition(1).distinct()
        ranked = rows.withColumn(
            "__sk_rn",
            F.row_number().over(Window.orderBy(business_key)).cast("long"),
        )
    else:
        from .rank import distributed_row_number

        ranked, _total = distributed_row_number(
            rows.distinct() if dedup else rows,
            [(business_key, True)],
            out_col="__sk_rn",
        )
    base = F.lit(0)
    if dim is not None:
        max_key = dim.agg(
            F.coalesce(F.max(surrogate_key), F.lit(0)).alias("_max_key")
        )
        # a cartesian product with the one shuffled row: a broadcast
        # would cost a job of its own
        ranked = ranked.crossJoin(max_key.hint("shuffle_replicate_nl"))
        base = F.col("_max_key")
    return (
        ranked.withColumn(surrogate_key, (base + F.col("__sk_rn")).cast("long"))
        .drop("_max_key", "__sk_rn")
    )


# the funnel's row tag: a source row, a current dim row, a closed one
_TAG, _SRC, _CUR, _CLOSED = "__scd2_tag", 0, 1, 2


def _funnel_input(
    dim: DataFrame, source: DataFrame, columns: Sequence[str], out_cols: list[str]
) -> DataFrame:
    """Every dim row and every source row in one frame, tagged; the
    source rows carry NULL keys and dates."""
    current = F.coalesce(F.col(SCD2_END) == _sentinel(), F.lit(False))
    tagged_dim = dim.select(
        *out_cols, F.when(current, _CUR).otherwise(_CLOSED).alias(_TAG)
    )
    tagged_src = source.select(*columns, F.lit(_SRC).alias(_TAG))
    return tagged_dim.unionByName(tagged_src, allowMissingColumns=True)


def _funnel_upsert(
    rows: DataFrame,
    business_key: str,
    columns: Sequence[str],
    surrogate_key: str,
    run_date: dt.date | str | None,
    delta: bool,
) -> DataFrame:
    """The whole upsert over one single-partition exchange of
    ``_funnel_input``'s rows. The exchange satisfies the distribution of
    both window operators, so they add sorts but no exchange.

    The window over the full column tuple (source rows sort first)
    detects change and deduplicates. A source tuple is always changed
    in reference mode; in delta mode it is unchanged only when a current
    row carries it and none of its columns is NULL, the left-anti join's
    NULL-unsafe rule. A changed tuple's first source row is its one new
    version. The window in business-key order then carries three
    frames: the peer frame flags a current row for expiry when a changed
    source row shares its key, the running count of new versions is the
    ROW_NUMBER() OVER (ORDER BY key) of the distributed plan, and the
    unbounded frame gives the existing max key."""
    tag = F.col(_TAG)
    is_src = tag == _SRC
    by_tuple = Window.partitionBy(*columns).orderBy(_TAG)
    by_key = Window.orderBy(business_key)
    whole = (Window.unboundedPreceding, Window.unboundedFollowing)
    changed = is_src
    if delta:
        matched = F.max(tag == _CUR).over(by_tuple.rowsBetween(*whole))
        for c in columns:
            matched = matched & F.col(c).isNotNull()
        changed = is_src & ~matched
    rows = rows.repartition(1).select(
        "*",
        changed.alias("__changed"),
        (F.row_number().over(by_tuple) == 1).alias("__first"),
    )
    new = F.col("__changed") & F.col("__first")
    rows = rows.select(
        "*",
        F.max("__changed")
        .over(by_key.rangeBetween(Window.currentRow, Window.currentRow))
        .alias("__hit"),
        F.sum(new.cast("long"))
        .over(by_key.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__rn"),
        F.max(surrogate_key).over(by_key.rowsBetween(*whole)).alias("__max"),
    )
    expire = (tag == _CUR) & F.col(business_key).isNotNull() & F.col("__hit")
    load_date = run_date_col(run_date)
    key = (F.coalesce(F.col("__max"), F.lit(0)) + F.col("__rn")).cast("long")
    return rows.filter(~is_src | new).select(
        F.when(new, key).otherwise(F.col(surrogate_key)).alias(surrogate_key),
        *columns,
        F.when(new, load_date).otherwise(F.col(SCD2_START)).alias(SCD2_START),
        F.when(new, _sentinel())
        .when(expire, F.date_sub(load_date, 1))
        .otherwise(F.col(SCD2_END))
        .alias(SCD2_END),
    )


def assign_surrogate_keys(
    staged: DataFrame,
    dim: DataFrame | None,
    business_key: str,
    surrogate_key: str,
    key_mode: str = "rownum",
) -> DataFrame:
    """Surrogate keys for new versions (the IDENTITY(1,1) analog,
    dynamic_upsert.py:17-19).

    rownum: max(existing)+row_number over business-key order —
    contiguous + deterministic (oracle-reproducible). Size-gated:
    below `spark.graft.sk.kernelMinBytes` (default 256 MiB of staged
    batch, by optimizer plan statistics) the row_number is the classic
    single-partition ordered window — bounded by the gate's own
    measurement, so the funnel task is small by construction; above it,
    the distributed exact-rank kernel (operators/rank.py) computes the
    identical ranks with no single-task sort, so a billion-row dim load
    never collapses onto one executor. Both paths produce the same key
    values — ROW_NUMBER() OVER (ORDER BY business_key) — because keys
    are unique at the staged grain (the reference's source contract;
    with duplicate keys the window is tie-nondeterministic anyway), so
    the gate can never cause value drift, only plan choice.
    Plan-stats overestimation (cached/joined inputs, or rows built from
    Python objects, which carry no size statistics) errs toward the
    kernel — the scale-safe direction. The existing max key joins as a
    one-row cartesian product.
    hash: xxhash64(business_key, StartDate) — join-free and
    non-contiguous; still available where contiguity is not required.
    Any other key_mode raises ValueError.
    """
    _check("key_mode", key_mode, ("rownum", "hash"))
    if key_mode == "rownum":
        return _rownum_keys(staged, dim, business_key, surrogate_key, False)
    # KEY-GRAIN writers (scd1_overwrite / scd3_update) stage no version
    # date at all — their rows are one-per-key, so the business key
    # alone is the hash input.
    if SCD2_START in staged.columns:
        key = F.xxhash64(F.col(business_key), F.col(SCD2_START))
    else:
        key = F.xxhash64(F.col(business_key))
    return staged.withColumn(surrogate_key, key)


def scd2_upsert(
    dim: DataFrame | None,
    source: DataFrame,
    business_key: str,
    columns: Sequence[str],
    surrogate_key: str,
    run_date: dt.date | str | None = None,
    mode: str = "reference",
    key_mode: str = "rownum",
    broadcast_keys: bool = True,
) -> DataFrame:
    """M1: full SCD-2 upsert — returns the new dim table contents.

    dim may be None/empty for the initial load. Output columns:
    [surrogate_key, *columns, StartDate, EndDate].

    mode="reference": naive semantics — every source key is expired and
    re-versioned each run (dynamic_upsert.py:128-139), byte-for-byte the
    reference behavior.
    mode="delta": expire/re-version only rows whose compared columns
    changed (left-anti join of the source vs current dim rows,
    null-unsafe: a row with a NULL attribute is re-versioned every run)
    — the scale extension (SURVEY §7.4).
    Any other mode or key_mode raises ValueError.

    Plan (see the module docstring): below
    ``spark.graft.sk.kernelMinBytes``, a rownum upsert onto a committed
    dim is one single-partition funnel, two jobs with the write; an
    initial load also runs two. Above the gate, and in hash mode, the
    plan is distributed; ``broadcast_keys`` hints its expire step's key
    side and has no effect on the funnel. Either way the staged rows are
    never deduplicated on their own: the new versions are deduplicated
    where they are ranked.
    """
    _check("mode", mode, ("reference", "delta"))
    _check("key_mode", key_mode, ("rownum", "hash"))
    out_cols = [surrogate_key, *columns, SCD2_START, SCD2_END]
    staged = source.select(*columns)
    if key_mode == "rownum" and dim is not None:
        rows = _funnel_input(dim, staged, columns, out_cols)
        if _below_gate(rows):
            return _funnel_upsert(
                rows, business_key, columns, surrogate_key, run_date,
                mode == "delta",
            )
    # the staging DDL's ``LoadDate DATE DEFAULT current_date``
    # (dynamic_upsert.py:22-26) becomes StartDate column-positionally
    # (dynamic_upsert.py:137-139); run_date is injectable for
    # determinism (F10)
    load_date = run_date_col(run_date)
    if mode == "delta" and dim is not None:
        current = dim.filter(F.col(SCD2_END) == _sentinel()).select(*columns)
        staged = staged.join(current, on=list(columns), how="left_anti")

    if key_mode == "hash":
        new_rows = assign_surrogate_keys(
            staged.distinct().withColumn(SCD2_START, load_date),
            dim, business_key, surrogate_key, key_mode,
        )
    else:
        # stamped after ranking: the date literal stays out of the
        # dedup aggregate's generated code, which would otherwise
        # compile anew for every run date
        new_rows = _rownum_keys(
            staged, dim, business_key, surrogate_key, True
        ).withColumn(SCD2_START, load_date)
    new_rows = new_rows.withColumn(SCD2_END, _sentinel()).select(*out_cols)
    if dim is None:
        return new_rows
    expired = expire_current_rows(
        dim, staged, business_key, run_date, broadcast_keys
    ).select(*out_cols)
    return expired.unionByName(new_rows)


def infer_late_members(
    dim: DataFrame,
    fact_keys: DataFrame,
    business_key: str,
    defaults: dict[str, object],
    flag_col: str = "is_inferred",
) -> DataFrame:
    """Late-arriving dimension handling: business keys the FACT feed
    references before the dim feed has delivered them get INFERRED
    placeholder members, so fact population never drops or orphans a
    row — the standard Kimball pattern the reference's star ETL lacks
    (its fact join silently inner-joins orphans away,
    populate_fact.py:89-136). When the real dim row finally arrives,
    the normal SCD-2 upsert expires the placeholder like any changed
    row — no special repair path.

    ``defaults`` fills the placeholder's attribute columns (e.g.
    'UNKNOWN'); dim columns not listed come out NULL. All existing
    members carry ``flag_col`` = false, inferred ones true, so
    downstream can report/repair inferred counts.

    Scale shape: distinct fact keys (map-side-combined — the fact is
    reduced to its key set before anything joins), one left_anti
    against the dim's key projection (dim keys broadcast when small,
    AQE decides), one unionByName. The fact's payload columns never
    move; the dim is scanned once.
    """
    missing = (
        fact_keys.select(F.col(business_key))
        .distinct()
        .join(dim.select(business_key), business_key, "left_anti")
    )
    inferred = missing.select(
        F.col(business_key),
        *[F.lit(v).alias(c) for c, v in defaults.items()],
        F.lit(True).alias(flag_col),
    )
    if flag_col in dim.columns:
        # a dim that already persisted the flag keeps it: a placeholder
        # from an earlier run that is STILL unrepaired must stay
        # flagged, or the repair report silently loses it forever
        existing = dim.withColumn(
            flag_col, F.coalesce(F.col(flag_col), F.lit(False))
        )
    else:
        existing = dim.withColumn(flag_col, F.lit(False))
    return existing.unionByName(inferred, allowMissingColumns=True)


def _stage_key_grain(
    source: DataFrame, business_key: str, columns: Sequence[str]
) -> DataFrame:
    """Stage a batch for the KEY-GRAIN writers (type-1 / type-3):
    distinct rows, then collapse to exactly one row per business key.
    A feed can legitimately carry two different updates for the same
    key in one batch; without this collapse the dim join fans out and
    the one-row-per-key output contract silently breaks (duplicate
    surrogates, double-counting fact joins). Resolution is
    deterministic — the lexicographically greatest attribute tuple
    wins (struct max over the columns in declared order) — and costs
    one map-side-combined aggregate keyed the same as the join that
    follows."""
    attrs = [c for c in columns if c != business_key]
    if not attrs:  # key-only feed: distinct IS the key grain
        return source.select(business_key).distinct()
    return (
        source.select(*columns)
        .distinct()
        .groupBy(business_key)
        .agg(F.max(F.struct(*[F.col(c) for c in attrs])).alias("_p"))
        .select(business_key, *[F.col("_p")[c].alias(c) for c in attrs])
    )


def _matched_batch(
    staged: DataFrame,
    business_key: str,
    attrs: Sequence[str],
    broadcast_batch: bool,
):
    """The staged batch shaped for the dim left join: key, a match
    marker, and the new attribute values under collision-free names."""
    b = staged.select(
        business_key,
        F.lit(True).alias("_matched"),
        *[F.col(c).alias(f"_new_{c}") for c in attrs],
    )
    return F.broadcast(b) if broadcast_batch else b


def scd1_overwrite(
    dim: DataFrame | None,
    source: DataFrame,
    business_key: str,
    columns: Sequence[str],
    surrogate_key: str,
    key_mode: str = "rownum",
    broadcast_batch: bool = False,
) -> DataFrame:
    """SCD Type-1: overwrite in place, no history — the taxonomy slot
    BELOW the reference's type-2 pipeline (dynamic_upsert.py versions
    every change; type-1 is the contract for corrections/typos where
    history is noise). Matched keys take the batch's attribute values
    but KEEP their surrogate key — downstream facts keep joining;
    unmatched dim rows pass through untouched; unseen keys insert with
    fresh surrogates (same assigner as SCD-2). Output grain: exactly
    one row per business key.

    Scale shape: one left join of the dim against the staged batch on
    the business key, one anti-join for inserts, one union. AQE decides
    the join strategy by default (r11: the default flipped from forced
    broadcast — F.broadcast bypasses autoBroadcastJoinThreshold, and an
    SF-proportional batch would mandate a driver-side hash-relation
    build at large SF, the x_validate_fk_cascade hazard). Pass
    broadcast_batch=True only for KNOWN-SMALL incremental batches. No
    window over data-proportional grain in hash key_mode.
    """
    attrs = [c for c in columns if c != business_key]
    staged = _stage_key_grain(source, business_key, columns)
    if dim is None:
        return assign_surrogate_keys(
            staged, None, business_key, surrogate_key, key_mode
        ).select(surrogate_key, *columns)

    b = _matched_batch(staged, business_key, attrs, broadcast_batch)
    updated = dim.join(b, on=business_key, how="left").select(
        surrogate_key,
        business_key,
        *[
            F.when(F.col("_matched").isNotNull(), F.col(f"_new_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in attrs
        ],
    )
    inserts = assign_surrogate_keys(
        staged.join(dim.select(business_key), business_key, "left_anti"),
        dim,
        business_key,
        surrogate_key,
        key_mode,
    ).select(surrogate_key, business_key, *attrs)
    return updated.unionByName(inserts)


def scd3_update(
    dim: DataFrame,
    source: DataFrame,
    business_key: str,
    columns: Sequence[str],
    tracked: Sequence[str],
    surrogate_key: str,
    run_date: dt.date | str | None = None,
    key_mode: str = "rownum",
    broadcast_batch: bool = False,
) -> DataFrame:
    """SCD Type-3: previous-value columns — the taxonomy slot between
    type-1 (no history) and type-2 (full history): each ``tracked``
    column keeps exactly ONE prior value in ``Prev<col>`` plus the date
    it changed in ``<col>ChangeDate``, while untracked attributes
    overwrite type-1 style (the standard mixed-SCD3 contract for
    'current vs previous territory/segment' reporting). A dim that has
    never been through this operator (no Prev columns yet) is accepted:
    missing Prev/ChangeDate columns start as NULL.

    Per matched key: tracked column's new value differs (null-safe) ->
    Prev<col> = old value, <col>ChangeDate = run_date, value
    overwritten; unchanged -> value, Prev, and ChangeDate all carry
    forward. Inserts get NULL Prev/ChangeDate. Output grain: one row
    per business key (like type-1 — no row versioning).

    Scale shape identical to scd1_overwrite: one left join (strategy
    AQE-decided by default; broadcast_batch=True only for known-small
    batches) + one anti-join + union; change detection is a null-safe
    column comparison inside the join projection, never a shuffle of
    its own.
    """
    attrs = [c for c in columns if c != business_key]
    staged = _stage_key_grain(source, business_key, columns)
    b = _matched_batch(staged, business_key, attrs, broadcast_batch)

    def _existing(col: str, like: str) -> F.Column:
        if col in dim.columns:
            return F.col(col)
        return F.lit(None).cast(dim.schema[like].dataType)

    matched = F.col("_matched").isNotNull()
    out: list[F.Column] = [F.col(surrogate_key), F.col(business_key)]
    for c in attrs:
        new_val = F.when(matched, F.col(f"_new_{c}")).otherwise(F.col(c))
        out.append(new_val.alias(c))
    for c in tracked:
        changed = matched & ~F.col(f"_new_{c}").eqNullSafe(F.col(c))
        out.append(
            F.when(changed, F.col(c))
            .otherwise(_existing(f"Prev{c}", c))
            .alias(f"Prev{c}")
        )
        out.append(
            F.when(changed, run_date_col(run_date))
            .otherwise(
                _existing(f"{c}ChangeDate", c).cast("date")
                if f"{c}ChangeDate" in dim.columns
                else F.lit(None).cast("date")
            )
            .alias(f"{c}ChangeDate")
        )
    updated = dim.join(b, on=business_key, how="left").select(*out)
    inserts = assign_surrogate_keys(
        staged.join(dim.select(business_key), business_key, "left_anti"),
        dim,
        business_key,
        surrogate_key,
        key_mode,
    ).select(
        F.col(surrogate_key),
        F.col(business_key),
        *[F.col(c) for c in attrs],
        *[
            col
            for c in tracked
            for col in (
                F.lit(None).cast(dim.schema[c].dataType).alias(f"Prev{c}"),
                F.lit(None).cast("date").alias(f"{c}ChangeDate"),
            )
        ],
    )
    return updated.unionByName(inserts)
