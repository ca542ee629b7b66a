"""Incremental aggregate maintenance: a materialized grouped aggregate
kept current by merging per-batch PARTIAL aggregates, never re-scanning
history.

The warehouse pattern behind every "daily rollup" table: at 100 TB the
fact history is unrecomputable on each load, but grouped
sums/counts/mins/maxes are ALGEBRAIC — a new batch contributes its own
partial state, and merge(stored, delta) = groupBy(keys).sum(...) over
their union. Cost per refresh is O(batch + |distinct keys|), not
O(history); the merge shuffles only aggregate rows (keys x few
measures), the batch itself collapses map-side before the shuffle.

AVG is maintained as (sum, count) and derived at read — storing the
ratio would make the state non-mergeable. Same decomposition extends to
stddev (sum, sum-of-squares, count) and approx-distinct (HLL sketch
merge); exact DISTINCT and percentiles are NOT algebraic and need their
own structures (the catalog's count-distinct / percentile queries are
full-recompute by design).

Storage: each refresh is one catalog transaction (sources/txn.py)
over the directory the caller passes as the catalog root, so readers
always see a complete state — never a half-merged one — and a failed
refresh is a free rollback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.txn import Catalog


def cdc_apply(
    feed: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Collapse a CDC changelog (insert/update/delete records) to the
    current snapshot: keep each key's LATEST record by ``seq_cols``
    (make the order total — e.g. (commit_seq, offset) — or the survivor
    is nondeterministic), then drop keys whose latest record is a
    tombstone. This is the Debezium/DMS-style feed-to-table collapse
    that precedes an SCD-2 upsert or a snapshot publish.

    One window shuffle on the key; the tombstone filter is free (applied
    post-window, no extra pass). Deletes must ride the SAME ordering
    domain as upserts — filtering tombstones before the window instead
    would resurrect a deleted key's older version, the classic CDC
    replay bug.

    A NULL ``op_col`` is NOT a tombstone: ``op != delete_op`` alone
    evaluates NULL and the filter would silently DROP the key — feed
    malformation must not masquerade as a delete, so NULL-op survivors
    are kept explicitly (validate the feed upstream if NULL op should
    be an error).
    """
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in seq_cols]
    )
    return (
        feed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col(op_col).isNull() | (F.col(op_col) != delete_op))
        .drop("_rn", op_col)
    )


def dedup_ingest(
    spark: SparkSession,
    store_dir: str,
    batch: DataFrame,
    id_col: str,
    fp_col: "F.Column",
) -> DataFrame:
    """Incremental exact dedup: admit only the batch rows whose content
    fingerprint has never been seen, and extend the committed fingerprint
    store — so continuous ingestion never recomputes dedup over history.
    Returns the ADMITTED rows (id + fingerprint).

    Per batch: collapse within the batch (min id per fingerprint — a
    batch can self-duplicate), LEFT ANTI against the stored fingerprint
    set, append the admitted fingerprints in one catalog commit (table
    ``fp`` under the ``store_dir`` catalog root).
    Cost is O(batch + matching store partitions): the anti-join shuffles
    16-byte fingerprints, never documents, and the store holds one row
    per distinct fingerprint ever admitted — the same
    state-proportional-to-distinct-keys contract as refresh_rollup, and
    the batch analog of streaming dropDuplicatesWithinWatermark (which
    bounds state by time instead; this store is exact and unbounded).

    First-arrival-wins: a fingerprint keeps the doc that reached the
    store first, which is the production semantic (already-published
    docs are not retracted when a duplicate arrives later) and differs
    from global-min-id dedup when a smaller id arrives in a later batch.
    """
    collapsed = (
        batch.select(F.col(id_col), fp_col.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    with Catalog(store_dir).transaction() as t:
        if t.has_committed("fp"):
            stored = t.read_committed(spark, "fp")
            admitted = collapsed.join(stored, "fp", "left_anti")
            new_store = stored.unionByName(admitted.select("fp"))
        else:
            admitted = collapsed
            new_store = collapsed.select("fp")
        t.overwrite(new_store, "fp")
    # NOTE: the returned frame lazily reads the PRE-commit store version;
    # it stays on disk while a manifest references it, so this stays
    # valid until expire_snapshots() — collect/write it before expiring.
    return admitted.select(id_col, "fp")


def partial_aggs(
    batch: DataFrame, keys: list[str], sum_cols: dict[str, str]
) -> DataFrame:
    """Collapse a batch to its partial aggregate state: one row per key
    with n_rows + exact decimal sums (``sum_cols`` maps source column ->
    output measure name). Map-side combine does most of the work; only
    per-key partials reach the shuffle."""
    return batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.col(src).cast("decimal(28,2)")).alias(dst)
            for src, dst in sum_cols.items()
        ],
    )


def merge_aggs(
    stored: DataFrame, delta: DataFrame, keys: list[str], measures: list[str]
) -> DataFrame:
    """merge(stored, delta): union the two partial states and re-sum.
    Keys present in only one side pass through (full outer semantics via
    union+groupBy, no join)."""
    return (
        stored.select(*keys, "n_rows", *measures)
        .unionByName(delta.select(*keys, "n_rows", *measures))
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            *[F.sum(m).alias(m) for m in measures],
        )
    )


def refresh_rollup(
    spark: SparkSession,
    rollup_dir: str,
    batch: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
) -> DataFrame:
    """Apply one batch to the stored rollup (table ``rollup`` under the
    ``rollup_dir`` catalog root) and commit atomically. First call
    bootstraps the rollup from the batch alone. Returns the newly
    committed state."""
    delta = partial_aggs(batch, keys, sum_cols)
    measures = list(sum_cols.values())
    cat = Catalog(rollup_dir)
    with cat.transaction() as t:
        merged = (
            merge_aggs(t.read_committed(spark, "rollup"), delta, keys, measures)
            if t.has_committed("rollup")
            else delta
        )
        t.overwrite(merged, "rollup")
    return cat.read(spark, "rollup")


def refresh_join(
    spark: SparkSession,
    store_dir: str,
    a_batch: DataFrame,
    b_batch: DataFrame,
    key: str,
) -> DataFrame:
    """Incrementally maintain the materialized join J = A ⋈ B under
    append-only batches — the delta-join rule (classic incremental view
    maintenance):

        ΔJ = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB
        J_new = J_old ∪ ΔJ      (valid because appends cannot retract)

    Cost per refresh is O(Δ ⋈ stored) — the deltas drive every join's
    probe side — never O(A ⋈ B) over history; J_old is appended to,
    not recomputed. At scale, store A and B bucketed on the key so the
    three delta joins are shuffle-free on the stored side, and swap
    the J_old union for an append of only ΔJ (``CatalogTransaction.append``)
    once J outgrows rewrite-per-refresh — the delta ALGEBRA is the part
    that carries to 100 TB.

    All three tables (A, B, J, named ``a``/``b``/``j`` under the
    ``store_dir`` catalog root) commit in ONE catalog transaction: a
    reader never observes A containing a batch whose join
    contributions are missing from J. First call bootstraps the store.
    Returns the newly committed J.
    """
    cat = Catalog(store_dir)
    with cat.transaction() as t:
        if t.has_committed("j"):
            a_old, b_old, j_old = (t.read_committed(spark, n) for n in "abj")
            delta_j = (
                a_batch.join(b_old, key)
                .unionByName(a_old.join(b_batch, key))
                .unionByName(a_batch.join(b_batch, key))
            )
            new_a = a_old.unionByName(a_batch)
            new_b = b_old.unionByName(b_batch)
            new_j = j_old.unionByName(delta_j)
        else:
            new_a, new_b = a_batch, b_batch
            new_j = a_batch.join(b_batch, key)
        t.overwrite(new_a, "a")
        t.overwrite(new_b, "b")
        t.overwrite(new_j, "j")
    return cat.read(spark, "j")
