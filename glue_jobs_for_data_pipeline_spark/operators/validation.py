"""Data-quality / validation operators (SURVEY §2.10, V1-V4).

Reference semantics (validate_data.py:36-87): after each CSV load, run a
NOT-NULL check per column and a PK-uniqueness check; raise (aborting the
workflow) on any violation.

Physical divergence, same answers: the reference issues N+1 sequential
full scans per table (one COUNT(*) per column at validate_data.py:68-76
plus one GROUP BY at :78-86). Here the null checks collapse into ONE
pass of conditional aggregation — at 100 TB that is the difference
between N+1 table scans and a single scan with a tiny agg, and Catalyst
still prunes the scan to exactly the checked columns. The gate
(validate_or_raise) goes further: it observes the null counts on the
same scan that feeds the PK group-by, so a table costs one scan and two
Spark jobs; the report (validation_report) renders those same counts.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class ValidationError(Exception):
    """Raised on data-quality violation; aborts the pipeline (V4).

    Mirrors the reference raising inside validate_data (validate_data.py:74,85),
    which fails the Glue job and halts the workflow.
    """


def _col(name: str) -> Column:
    """A column by its exact name. Quoted, so a dot is not a struct
    field and no character of the name is parsed; a backtick doubles,
    the one escape Spark's attribute parser defines."""
    return F.col("`{}`".format(name.replace("`", "``")))


def _pk_columns(pk: str | list[str]) -> list[str]:
    return [pk] if isinstance(pk, str) else list(pk)


def _null_count(name: str) -> Column:
    return F.count(F.when(_col(name).isNull(), F.lit(1)))


def _null_metrics(df: DataFrame) -> list[Column]:
    """One NULL count per column of ``df``, aliased by position
    (``n0``, ``n1``, ...) so no column name is ever an alias."""
    return [_null_count(c).alias(f"n{i}") for i, c in enumerate(df.columns)]


def _check_names(df: DataFrame, pk: str | list[str]) -> list[str]:
    """The checks in report order: ``not_null_<col>`` in column order,
    then ``pk_unique_<keys>``."""
    return [f"not_null_{c}" for c in df.columns] + [
        "pk_unique_" + "_".join(_pk_columns(pk))
    ]


def null_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """V1: per-column NULL counts in one scan.

    Reference: one ``SELECT COUNT(*) FROM t WHERE c IS NULL`` per column
    (validate_data.py:68-76). Single-pass conditional aggregation gives
    identical counts with one scan.
    """
    cols = columns or df.columns
    return df.agg(*[_null_count(c).alias(c) for c in cols])


def pk_duplicates(df: DataFrame, pk: str | list[str]) -> DataFrame:
    """V2: business keys that appear more than once.

    Reference: ``SELECT pk, COUNT(*) FROM t GROUP BY pk HAVING COUNT(*) > 1``
    (validate_data.py:78-86; pk = first column of the table dict,
    validate_data.py:63). Generalized to composite keys for tables whose
    real grain is multi-column (e.g. orderdetails = (OrderID, ProductID),
    FIXTURES.md §A1). Hash aggregation with map-side partial agg;
    shuffles only the (already reduced) per-key counts.
    """
    return (
        df.groupBy(*[_col(k) for k in _pk_columns(pk)])
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def validation_report(df: DataFrame, table: str, pk: str | list[str]) -> DataFrame:
    """V4 (reporting form): one row per check with its violation count.

    Columns: table_name, check_name, violation_count — the relational
    rendering of the reference's raise-on-violation gate so the result is
    oracle-checkable as a query. The counts are :func:`validation_counts`
    (one scan, two Spark jobs, run when this is called), in its order,
    returned as a local ``VALUES`` relation whose collect runs no job.
    Every value is a bound parameter, so no name is parsed as SQL.
    """
    counts = validation_counts(df, pk)
    args: dict[str, object] = {"t": table}
    for i, (name, n) in enumerate(counts):
        args[f"c{i}"], args[f"n{i}"] = name, n
    rows = ", ".join(
        f"(:t, :c{i}, CAST(:n{i} AS BIGINT))" for i in range(len(counts))
    )
    return df.sparkSession.sql(
        f"SELECT * FROM VALUES {rows} "
        "AS r(table_name, check_name, violation_count)",
        args=args,
    )


def _observed(obs: Observation, recount: DataFrame) -> dict[str, int]:
    """The metrics ``obs`` observed, or ``recount``'s one row when the
    executed plan no longer held the observer. Spark drops an observer
    that sits under an aggregate it proves empty (an empty relation
    propagates through it, statically or after the shuffle stage ran);
    the observation then completes with an empty row, which classic
    PySpark fails to convert."""
    try:
        got = obs.get
    except Py4JJavaError:
        got = {}
    return got or recount.first().asDict()


def validation_counts(df: DataFrame, pk: str | list[str]) -> list[tuple[str, int]]:
    """The violation count of every check — ``not_null_<col>`` in column
    order, then ``pk_unique_<keys>`` — from one scan and one shuffle.

    The per-column NULL counts are observed on the scan and the number
    of duplicate keys on the output of :func:`pk_duplicates`, and one
    ``noop`` write drives the plan: the shuffle's map stage and the
    result stage are the only two Spark jobs. Both observers are plain
    ``count`` aggregates, so the counts are exact — they equal
    :func:`null_counts` and the row count of :func:`pk_duplicates`.
    """
    null_metrics = _null_metrics(df)
    dup_metric = F.count(F.lit(1)).alias("n")
    nulls, dups = Observation(), Observation()
    pk_duplicates(df.observe(nulls, *null_metrics), pk).observe(
        dups, dup_metric
    ).write.format("noop").mode("overwrite").save()
    null_row = _observed(nulls, df.agg(*null_metrics))
    dup_row = _observed(dups, pk_duplicates(df, pk).agg(dup_metric))
    counts = [int(null_row[f"n{i}"]) for i in range(len(df.columns))]
    return list(zip(_check_names(df, pk), counts + [int(dup_row["n"])]))


def validate_or_raise(df: DataFrame, table: str, pk: str | list[str]) -> None:
    """V4: the load-then-validate gate (validate_data.py:148-171).

    Runs :func:`validation_counts` (one scan, two Spark jobs) and raises
    ValidationError listing every failed check, aborting the pipeline
    like the reference.
    """
    failed = [(name, n) for name, n in validation_counts(df, pk) if n > 0]
    if failed:
        detail = ", ".join(f"{name}={n}" for name, n in failed)
        raise ValidationError(f"validation failed for {table}: {detail}")


def row_hash_expr(cols: list[str]) -> "F.Column":
    """The shared 60-bit order-independent-foldable row hash both
    checksum tiers use (whole-table gate x_validate_table_checksum,
    range tier range_checksums — a Merkle relationship only holds if
    parent and child hash identically).

    Canonicalization is INJECTIVE and NULL-SAFE: each column emits
    'n|' when NULL, else 'v<charlen>:<value>|' — the length prefix
    makes embedded '|'/':' harmless (('a|b','c') vs ('a','b|c') no
    longer collide), and the explicit null marker is distinct from
    every real value (bare '|'-joins hash NULL rows to NULL, silently
    blinding xor AND sum — an integrity check must never skip rows).
    md5 of the canonical string, first 15 hex digits (inside positive
    BIGINT on Spark and DuckDB), conv to long. Restated verbatim by
    the oracles (_row_hash_sql)."""
    segs: list = []
    for c in cols:
        s = F.col(c).cast("string")
        segs.append(
            F.when(F.col(c).isNull(), F.lit("n|")).otherwise(
                F.concat(
                    F.lit("v"),
                    F.length(s).cast("string"),
                    F.lit(":"),
                    s,
                    F.lit("|"),
                )
            )
        )
    return F.conv(F.substring(F.md5(F.concat(*segs)), 1, 15), 16, 10).cast(
        "long"
    )


def row_hash_sql(sql_cols: list[str]) -> str:
    """DuckDB restatement of row_hash_expr's canonical string + hash —
    generated next to the Spark expression so the two cannot drift.
    ``sql_cols`` are SQL expressions (already cast to VARCHAR where
    needed)."""
    segs = " || ".join(
        f"(CASE WHEN {c} IS NULL THEN 'n|' ELSE 'v' || "
        f"CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR) || ':' || "
        f"CAST({c} AS VARCHAR) || '|' END)"
        for c in sql_cols
    )
    return f"CAST(('0x' || substr(md5({segs}), 1, 15)) AS BIGINT)"


def range_checksums(
    df: DataFrame,
    key_col: str,
    cols: list[str],
    bucket_width: int = 1000,
) -> DataFrame:
    """Anti-entropy range checksums: an order-independent row fold per
    key-range bucket — the Merkle-ish tier that LOCALIZES a replica
    mismatch instead of just detecting it (x_validate_table_checksum is
    the whole-table root; this is one level of fan-out below it, on the
    SAME row hash — row_hash_expr).

    Per bucket (key floor-div bucket_width — exact integer arithmetic,
    so 64-bit snowflake-scale keys never misbucket the way a double
    division would past 2^53, and the repair step's integer range
    predicate sees the same buckets): row count, bit-XOR of the row
    hash, and the exact decimal row-hash sum reduced mod the Mersenne
    prime 2^61-1 — xor catches any single-row change, the mod-sum
    catches xor's blind spot (an even number of identical changes),
    and the count catches pure cardinality drift. Two replicas compare
    this table; only buckets whose triple differs need a row-level
    diff (snapshot_diff restricted to that key range), so repair
    traffic is proportional to the damage, never the table. NULLs and
    embedded separators are safe — see row_hash_expr. One
    map-side-combined aggregation; the shuffle carries one row per
    bucket.
    """
    h = row_hash_expr(cols)
    k = F.col(key_col)
    w = F.lit(bucket_width)
    # exact floor division: (k - pmod(k, w)) is a multiple of w, and
    # pmod keeps floor semantics for negative keys (matching DuckDB's
    # //). The division runs in DECIMAL, not double — a double loses
    # low bits past 2^53 and can misbucket snowflake-scale keys.
    bucket = (
        (k.cast("decimal(38,0)") - F.pmod(k, w).cast("decimal(38,0)"))
        / w.cast("decimal(38,0)")
    ).cast("long")
    return (
        df.select(bucket.alias("bucket"), h.alias("h"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("h").cast("long").alias("cksum_xor"),
            (
                F.sum(F.col("h").cast("decimal(32,0)"))
                % F.lit(2305843009213693951).cast("decimal(32,0)")
            )
            .cast("long")
            .alias("cksum_sum_mod"),
        )
    )


def constraint_quarantine(
    df: DataFrame, constraints: dict[str, "F.Column"]
) -> tuple[DataFrame, DataFrame]:
    """Split rows into (valid, quarantined-with-reasons) by a named
    constraint set — the batch dead-letter pattern: a nightly load
    ships the valid side and routes violators to a quarantine table
    with machine-readable reasons, instead of failing the whole batch
    (validate_or_raise) or silently dropping rows (a bare filter).

    NULL follows SQL CHECK semantics: a constraint evaluating to NULL
    (unknown) PASSES — only a definite FALSE quarantines, so a nullable
    column never flags rows the equivalent CHECK would admit. The
    violation array preserves the dict's insertion order,
    deterministically.

    One map-only projection builds the reasons array; both returned
    frames share it, so a caller materializing the two sides scans the
    input once per side with no shuffle (or once total if it caches the
    tagged frame). Quarantined rows keep every input column plus
    ``violations`` (array<string>). An input that ALREADY has a
    ``violations`` column (e.g. re-quarantining a quarantine table)
    raises rather than silently overwriting the earlier reasons.
    """
    if "violations" in df.columns:
        raise ValueError(
            "constraint_quarantine: input already has a 'violations' "
            "column — rename it first (re-quarantining would silently "
            "overwrite the earlier reasons)"
        )
    viol = F.filter(
        F.array(
            *[
                F.when(~F.coalesce(c, F.lit(True)), F.lit(name))
                for name, c in constraints.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )
    tagged = df.withColumn("violations", viol)
    valid = tagged.filter(F.size("violations") == 0).drop("violations")
    quarantined = tagged.filter(F.size("violations") > 0)
    return valid, quarantined


def observed_write(
    df: DataFrame,
    path: str,
    pk: str | list[str] | None = None,
    null_check_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> dict[str, int]:
    """Write a table and collect its data-quality metrics IN FLIGHT via
    ``DataFrame.observe`` — zero extra scans.

    The V1/V4 shape (validate then load) reads the data twice: once for
    the checks, once for the write. At 100 TB the second read is the
    entire cost of validation. ``observe`` attaches an aggregate
    observer to the plan itself: the metrics (row count, per-column
    null counts, distinct-PK count for a uniqueness check) accumulate
    on the executors WHILE the write job runs and surface through the
    observation handle afterwards — one scan, both outcomes.

    Caveats this encodes deliberately:
    - observed metrics must be single-pass accumulator aggregates;
      Spark REJECTS DISTINCT aggregates here (an exact distinct needs
      a shuffle, which an in-flight observer by definition cannot
      have), so the uniqueness signal is approx_count_distinct — an
      HLL smoke check (pk_distinct_approx far below row_count means
      the key is badly broken NOW, during the load). The exact V2
      gate (pk_duplicates) still runs where exactness matters;
    - the dict returns AFTER the write action; a caller that wants
      validate-THEN-publish semantics writes to a scratch path and
      commits the table through a catalog transaction only if the
      metrics pass (sources/txn.py, the bracket m5 uses).

    Returns {"row_count": n, "null_<col>": n...,
    "pk_distinct_approx": n}.
    """
    cols = null_check_cols or []
    metrics = [F.count(F.lit(1)).alias("row_count")]
    metrics += [_null_count(c).alias(f"null_{c}") for c in cols]
    if pk is not None:
        key = F.concat_ws(
            "\x1f", *[_col(k).cast("string") for k in _pk_columns(pk)]
        )
        metrics.append(
            F.approx_count_distinct(key, rsd=0.02).alias("pk_distinct_approx")
        )
    obs = Observation()
    observed = df.observe(obs, *metrics)
    observed.write.mode(mode).parquet(path)
    return {k: int(v) for k, v in obs.get.items()}


def varchar_enforce(
    df: DataFrame, limits: dict[str, int]
) -> tuple[DataFrame, DataFrame]:
    """VARCHAR(n) length enforcement over a declared-length registry.

    The reference's warehouse DDL bounds every string column —
    VARCHAR(50) / VARCHAR(10) at dynamic_upsert.py:17-25 — and leans on
    Redshift to reject over-length rows at COPY/INSERT time. Spark's
    StringType is unbounded (SURVEY §1.2 listed enforcement as the one
    optional residue), so the contract is made explicit here with both
    Redshift postures:

    - conformed frame: every declared column truncated to its limit
      with substring(1, n) — the TRUNCATECOLUMNS posture (load
      everything, clip silently);
    - report frame: one row per declared column with the would-be
      reject count, the longest observed value, and the total
      characters truncation would remove — the default posture's
      error surface, as data instead of a load abort.

    The report is ONE conditional-aggregation pass over exactly the
    declared columns (the V1 single-scan rule; Catalyst prunes the
    scan to ``limits.keys()``), pivoted to per-column rows with
    ``explode(array(struct))`` — no per-column scans, no shuffle beyond
    the final 1-row agg. Lengths are in characters (``length``), matching
    Redshift's VARCHAR semantics for the ASCII fixtures; a multibyte
    deployment would swap in ``octet_length`` to match byte-bounded
    DDL. Report schema: (col_name string, declared_len int,
    n_overlength long, max_observed int, chars_truncated long).
    """
    if not limits:
        raise ValueError("varchar_enforce: empty limits registry")
    missing = [c for c in limits if c not in df.columns]
    if missing:
        raise ValueError(f"varchar_enforce: unknown columns {missing}")

    # aliases are indexed (__over_0, not __over_<name>) and every
    # column reference is quoted (_col), so a column name containing
    # quotes or backticks can never break a parsed string
    aggs = []
    for i, (c, n) in enumerate(limits.items()):
        ln = F.length(_col(c))
        # counts coalesce to 0 on an empty input (SUM over zero rows is
        # NULL in SQL) so consumers can gate on `n_overlength == 0`
        # without a null check; max_observed stays NULL when there is
        # nothing to observe — that is a fact, not a zero.
        aggs += [
            F.coalesce(F.sum(F.when(ln > n, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"__over_{i}"),
            F.max(ln).cast("int").alias(f"__max_{i}"),
            F.coalesce(F.sum(F.when(ln > n, ln - n).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"__trunc_{i}"),
        ]
    one = df.agg(*aggs)
    # explode(array(struct...)) is the programmatic stack(): same
    # single-pass Generate over the 1-row aggregate, no string parsing
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.lit(n).cast("int").alias("declared_len"),
                    F.col(f"__over_{i}").alias("n_overlength"),
                    F.col(f"__max_{i}").alias("max_observed"),
                    F.col(f"__trunc_{i}").alias("chars_truncated"),
                )
                for i, (c, n) in enumerate(limits.items())
            ]
        )
    )
    report = one.select(rows.alias("r")).select("r.*")
    conformed = df
    for c, n in limits.items():
        conformed = conformed.withColumn(c, F.substring(_col(c), 1, n))
    return conformed, report
