"""POSITION-BASED merge-on-read deletes.

``operators/deletes.py`` records deleted KEYS — the Iceberg v2
*equality delete* / Delta deletion-vector-by-key posture. This module
adds the second Iceberg v2 fidelity level: POSITIONAL delete files,
which record ``(data_file, row_position)`` pairs. The distinction
matters operationally:

- an equality delete costs an anti-join on the key columns at read
  time — cheap, but it requires a key, and it deletes EVERY row with
  that key (wrong for tables with legitimate duplicate keys);
- a positional delete names exact physical rows, so it works on
  keyless tables, deletes exactly one occurrence among duplicates,
  and the read-side anti-join runs on ``(file, pos)`` — two cheap
  columns Spark materializes for free from parquet scan metadata
  (``_metadata.file_path`` / ``_metadata.row_index``, the same
  mechanism Delta uses to apply its deletion vectors).

Anchoring: a delete row stores the data file's path RELATIVE to its
version directory plus the row index within that file. Catalog appends
hard-link base part files into the new version dir under the SAME
relative path with identical bytes (txn.py stage_version_append), so
positional deletes stay valid across any number of appends — exactly
the Iceberg contract (delete files reference immutable data files; new
data files are born undeleted). A REWRITE (overwrite / compact_table)
mints fresh part files, so prior anchors no longer resolve; rewrites
must therefore fold pending positional deletes first —
``compact_positional_deletes`` does apply-then-rewrite in ONE atomic
manifest commit, and is the only rewrite this module sanctions while a
pdv is non-empty. (Part-file names embed a writer UUID, so a stale
anchor can never collide with a new file's name.)

Scale shape: the pdv is (file, pos) pairs — KBs for realistic delete
rates. ``read_positional`` broadcasts it into a LEFT ANTI hash join
against the base scan; the 100 TB side never shuffles, and at real
cluster scale the same pairs would push down further as parquet
row-group skips (the Delta DV fast path). Commit/concurrency posture
is identical to deletes.py: read through the transaction snapshot,
CAS-retry on racing writers.

Reference parity note: the reference's only delete surface is
UPDATE/DELETE-by-predicate in Redshift (dynamic_upsert.py:110-127);
positional deletes are the scale-path extension of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.txn import Catalog, CatalogTransaction, pdv_table
from ..sources.txn import has_pending_positional_deletes  # noqa: F401 re-export
from .mor_fold import (
    _FILE_COL,
    _POS_COL,
    PDV,
    _fold,
    drop_positions,
    read_asof_or_none,
    scan_with_pos,
)


def delete_where_positional(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    predicate,
    branch: str = "main",
) -> int:
    """DELETE FROM name WHERE predicate, recorded as POSITIONS: the
    matching rows' (file, row_index) pairs union into the pdv table;
    the base version directory is untouched. Works on keyless tables
    and deletes exactly the matching physical rows (duplicates
    included, one anchor each). Returns the commit's own manifest
    id. CAS-retries like deletes.delete_where."""

    def body(t: CatalogTransaction) -> None:
        hits = (
            scan_with_pos(cat, spark, name, t._expected_head)
            .filter(predicate)
            .select(F.col(_FILE_COL).alias("file"), F.col(_POS_COL).alias("pos"))
        )
        if t.has_committed(pdv_table(name)):
            existing = t.read_committed(spark, pdv_table(name))
            hits = hits.unionByName(existing.select("file", "pos")).distinct()
        t.overwrite(hits, pdv_table(name))

    return cat.commit_retrying(body, branch)


def read_positional(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    branch: str = "main",
) -> DataFrame:
    """The table's LOGICAL state: base scan minus positionally deleted
    rows, applied as a broadcast LEFT ANTI join on (file, pos) — the
    pdv is tiny by contract, the base side never shuffles. Base and
    pdv resolve from ONE pinned manifest snapshot, so a compaction
    landing mid-read can never mix generations."""
    h = cat.head(branch)
    if h is None:
        return cat.read(spark, name, branch)  # surfaces FileNotFoundError
    base = scan_with_pos(cat, spark, name, h)
    pdv = read_asof_or_none(cat, spark, pdv_table(name), h)
    if pdv is None:
        return base.drop(_FILE_COL, _POS_COL)
    return drop_positions(base, pdv)


def compact_positional_deletes(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    branch: str = "main",
) -> int | None:
    """Fold the pdv into the base: rewrite base-minus-deleted-positions
    as the new base version AND reset the pdv to empty, in ONE atomic
    manifest commit. This is the ONLY sanctioned rewrite while a pdv is
    non-empty — any other rewrite mints new part files whose anchors
    the pending deletes cannot reach (they would silently no-op, which
    for a delete means resurrect). Returns this compaction's own
    manifest id, or None when there was no pdv to fold (absent OR
    already empty — rewriting a 100 TB base to fold zero deletes is
    not a no-op). A racing delete batch makes this commit lose its CAS
    and retry with the larger pdv, so nothing is silently
    resurrected."""
    return _fold(cat, spark, name, (PDV,), branch=branch)
