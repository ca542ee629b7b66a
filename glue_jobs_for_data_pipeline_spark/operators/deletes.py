"""Merge-on-read DELETEs over the transactional catalog.

The reference mutates rows in place — UPDATE..WHERE expires SCD-2 rows
(dynamic_upsert.py:110-127, the M4 surface) and relies on the warehouse
to rewrite affected blocks. The catalog's copy-on-write answer rewrites
the whole table version, which is correct but absurd at 100 TB when a
GDPR/right-to-be-forgotten batch touches 0.01% of rows: you do not
rewrite 100 TB to delete 10 GB. The industry answer (Iceberg v2 delete
files, Delta deletion vectors) is MERGE-ON-READ: record WHICH rows are
deleted as a tiny side table, apply it as an anti-join at read time,
and fold it into the base lazily at the next compaction.

This module implements that posture with ZERO catalog-format changes:
the deletion vector for table ``T`` is just another catalog table
``T__dv`` holding the deleted keys, committed in the SAME atomic
manifest as any other staging — so "delete batch lands" and "base +
dv flip together at compaction" both inherit the one-HEAD-swap
guarantee Catalog already proves.

Scale shape: a dv is keys-only (KBs-MBs for realistic delete rates),
so ``read_merged`` broadcasts it into a LEFT ANTI hash join pinned to
the base scan — no shuffle of the 100 TB side, and Catalyst pushes
base-table filters below the join as usual. ``compact_deletes``
rewrites base-minus-dv once (the expensive, parallel part) and resets
the dv to empty IN ONE TRANSACTION: readers see either (old base,
full dv) or (new base, empty dv) — never a double-delete or a
resurrection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.txn import Catalog, CatalogTransaction
from .mor_fold import (
    DV,
    _fold,
    apply_delta,
    delta_table,
    drop_keys,
    dv_table,
    read_asof_or_none,
)


def delete_where(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    predicate,
    key_cols: tuple[str, ...],
    branch: str = "main",
) -> int:
    """DELETE FROM name WHERE predicate — merge-on-read: append the
    matching keys to the deletion vector (distinct union with any
    existing dv) and commit ONLY the tiny dv table. The base version
    directory is untouched; the delete is visible to every
    ``read_merged`` the instant the manifest swaps. Returns the new
    manifest id.

    Concurrency: every read goes through the transaction's snapshot,
    the one its commit is checked against, and a racing writer on the
    same branch makes the commit lose and rerun from a fresh read of
    the dv (the Iceberg/Delta delete-commit posture: read-union-CAS
    until it lands, bounded).

    Composition with merge-on-read upserts: when a ``name__delta``
    side table exists, touched keys' CURRENT values live in the delta,
    not the base — so the predicate evaluates over the merged logical
    view ((base ANTI delta-keys) ∪ delta) within the same snapshot.
    Otherwise DELETE WHERE on a non-key column would miss rows upserted
    INTO the predicate and wrongly delete keys upserted OUT of it."""

    def body(t: CatalogTransaction) -> None:
        current = t.read_committed(spark, name)
        if t.has_committed(delta_table(name)):
            current = apply_delta(
                current, t.read_committed(spark, delta_table(name)), key_cols
            )
        keys = current.filter(predicate).select(*key_cols).distinct()
        if t.has_committed(dv_table(name)):
            existing = t.read_committed(spark, dv_table(name))
            keys = keys.unionByName(existing.select(*key_cols)).distinct()
        t.overwrite(keys, dv_table(name))

    return cat.commit_retrying(body, branch)


def read_merged(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...],
    branch: str = "main",
) -> DataFrame:
    """The table's LOGICAL state: base rows minus deletion-vector keys,
    applied as a broadcast LEFT ANTI join (the dv is keys-only and
    small by contract; the base side never shuffles).

    Base and dv resolve from ONE pinned manifest snapshot: two
    independent head reads would let a compact_deletes commit land
    between them, handing the reader old base + emptied dv — a
    resurrection of every compacted delete. Pinning head once makes
    the read atomic: either (old base, full dv) or (new base, empty
    dv), exactly the invariant compact_deletes's single manifest swap
    provides."""
    h = cat.head(branch)
    if h is None:
        # no commits on the branch yet; surface the same error
        # cat.read would (table cannot exist in an empty manifest)
        return cat.read(spark, name, branch)
    base = cat.read_asof(spark, name, h)
    dv = read_asof_or_none(cat, spark, dv_table(name), h)
    return base if dv is None else drop_keys(base, dv, key_cols)


def compact_deletes(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...],
    branch: str = "main",
) -> int | None:
    """Fold the deletion vector into the base: rewrite base-minus-dv as
    the new base version AND reset the dv to empty, in ONE atomic
    manifest commit — a reader resolves either (old base, full dv) or
    (new base, empty dv), so the logical row set is identical on both
    sides of the swap. Returns this compaction's own manifest id, or
    None when there was no dv to fold (no commit happened).

    Concurrency: a delete batch landing between this compaction's read
    and its commit would be silently resurrected if the commit won —
    the CAS makes the commit LOSE instead, and the retry re-reads the
    (now larger) dv and compacts it too.

    Composition with merge-on-read upserts: a deleted key whose
    CURRENT value lives in ``name__delta`` is invisible to the
    base-ANTI-dv rewrite — emptying the dv alone would let
    ``read_upserted`` re-surface it from the delta. The delta is
    therefore rewritten as delta ANTI dv in the SAME atomic commit,
    so the logical row set ((base ANTI delta) ∪ delta) ANTI dv is
    identical on both sides of the swap."""
    return _fold(cat, spark, name, (DV,), key_cols, branch)
