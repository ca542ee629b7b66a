"""Merge-on-read side tables and the one fold that applies them.

A merge-on-read table ``T`` keeps its pending changes in side tables,
ordinary catalog tables committed in the same manifests as the base:

- ``T__delta`` holds upserted rows, the latest version of each touched
  key (operators/mor_upsert.py);
- ``T__dv`` holds deleted keys (operators/deletes.py);
- ``T__pdv`` holds deleted row positions as (file, pos) pairs
  (operators/positional_deletes.py).

Side tables are small by contract, so every read applies them to the
base scan as broadcast joins and the base side never shuffles. ``_fold``
applies any subset of them in ONE base rewrite and ONE atomic commit
that also truncates each applied side table, the way Iceberg v2's
delete-file compaction applies every delete and log file in a single
pass: a reader sees either (old base, full side tables) or (new base,
empty side tables), the same logical rows on both sides of the swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.txn import (
    Catalog,
    CatalogTransaction,
    _apply_schema_ops,
    _detect_partition_cols,
    _read_version_df,
    _version_dir,
    guard_no_pending_positional_deletes,
    pdv_table,
)

# side-table suffixes; the catalog owns the pdv name because its own
# rewrites refuse while a pdv has rows
DELTA, DV, PDV = "__delta", "__dv", pdv_table("")
_FILE_COL = "_pd_file"
_POS_COL = "_pd_pos"


def delta_table(name: str) -> str:
    return name + DELTA


def dv_table(name: str) -> str:
    return name + DV


def base_partition_cols(
    cat: Catalog, name: str, manifest: int | None
) -> tuple[str, ...]:
    """Partition layout of ``name``'s version in ``manifest``. Every
    fold passes it to its base rewrite, so a partitioned table stays
    partitioned and later readers keep their partition pruning."""
    versions = cat._manifest_tables(manifest)
    if name not in versions:
        return ()
    return _detect_partition_cols(
        _version_dir(cat.table_dir(name), versions[name])
    )


def read_asof_or_none(
    cat: Catalog, spark: SparkSession, name: str, manifest: int
) -> DataFrame | None:
    try:
        return cat.read_asof(spark, name, manifest)
    except FileNotFoundError:
        return None


def apply_delta(
    base: DataFrame, delta: DataFrame, key_cols: tuple[str, ...]
) -> DataFrame:
    """(base ANTI delta-keys) ∪ delta: the delta's row wins per key."""
    return drop_keys(base, delta, key_cols).unionByName(delta)


def drop_keys(
    df: DataFrame, keys: DataFrame, key_cols: tuple[str, ...]
) -> DataFrame:
    """``df`` without the rows whose key appears in ``keys``."""
    return df.join(
        F.broadcast(keys.select(*key_cols)), on=list(key_cols), how="left_anti"
    )


def scan_with_pos(
    cat: Catalog, spark: SparkSession, name: str, manifest: int
) -> DataFrame:
    """Scan ``name`` at ``manifest`` with two extra columns: the data
    file's path RELATIVE to its version directory (stable across
    hard-linked appends) and the row index within the file. Schema-
    evolution ops replay AFTER the position columns attach — positions
    are physical, the ops are logical."""
    versions = cat._manifest_tables(manifest)
    if name not in versions:
        raise FileNotFoundError(f"table {name!r} not in manifest m={manifest}")
    vdir = _version_dir(cat.table_dir(name), versions[name])
    # the anchor is the path after the scan's own absolute version
    # directory, quoted literally (\Q...\E). A pattern on ``/v=<N>/``
    # instead would match a warehouse root that itself contains a v=
    # segment, or a partition directory named v=<N> inside the version
    # dir. The absolute prefix cannot recur in the relative remainder:
    # partition values escape '/', and part-file names embed a writer
    # UUID.
    df = _read_version_df(spark, vdir).withColumns(
        {
            _FILE_COL: F.regexp_replace(
                F.col("_metadata.file_path"),
                rf"^.*\Q{vdir}\E/",
                "",
            ),
            _POS_COL: F.col("_metadata.row_index"),
        }
    )
    ops = cat._manifest_schemas(manifest).get(name)
    return _apply_schema_ops(df, ops) if ops else df


def drop_positions(base: DataFrame, pdv: DataFrame) -> DataFrame:
    """A ``scan_with_pos`` result minus the rows ``pdv`` names, with
    the position columns dropped."""
    out_cols = [c for c in base.columns if c not in (_FILE_COL, _POS_COL)]
    return base.join(
        F.broadcast(
            pdv.select(
                F.col("file").alias(_FILE_COL), F.col("pos").alias(_POS_COL)
            )
        ),
        on=[_FILE_COL, _POS_COL],
        how="left_anti",
    ).select(*out_cols)


def _rows_or_none(
    t: CatalogTransaction, spark: SparkSession, name: str
) -> DataFrame | None:
    """``name`` at the transaction's snapshot, or None when it is absent
    or empty — footer count first (no Spark job), a scan when footers
    cannot answer."""
    try:
        df = t.read_committed(spark, name)
        nrows = t.committed_rows(name)
    except FileNotFoundError:
        return None
    if nrows == 0 or (nrows is None and df.isEmpty()):
        return None
    return df


def _fold(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    sides: tuple[str, ...],
    key_cols: tuple[str, ...] = (),
    branch: str = "main",
    n_files: int | None = None,
) -> int | None:
    """Apply the side tables ``sides`` (suffixes among DELTA, DV, PDV)
    to ``name``'s base in one rewrite and one commit, truncating each
    one that had rows; ``n_files`` repartitions the rewrite. Returns
    the commit's manifest id, or None when no requested side table has
    rows and no repartition was asked for — rewriting a 100 TB base to
    apply nothing is not a no-op.

    The rewrite is the read path: positions first, then
    (· ANTI delta-keys) ∪ delta, then ANTI dv. Positional deletes
    anchor to the base's current part files, so they are applied
    before anything rewrites it, and a fold without PDV refuses while
    they are pending. The dv applies last, so a deleted key stays
    deleted even over a stale delta row. A dv fold without DELTA
    rewrites a non-empty delta as delta ANTI dv in the same commit:
    emptying the dv alone would let ``read_upserted`` resurface a
    deleted key from the delta.

    A batch that lands between the reads and the commit makes the
    commit lose its CAS; the retry re-reads the larger side tables, so
    nothing is silently dropped or resurrected."""

    def body(t: CatalogTransaction) -> None:
        head = t._expected_head
        pending = {}
        for side in sides:
            df = _rows_or_none(t, spark, name + side)
            if df is not None:
                pending[side] = df
        if not pending and n_files is None:
            return
        if PDV not in sides:
            guard_no_pending_positional_deletes(cat, spark, name, head)
        if PDV in pending:
            base = drop_positions(
                scan_with_pos(cat, spark, name, head), pending[PDV]
            )
        else:
            base = t.read_committed(spark, name)
        if DELTA in pending:
            base = apply_delta(base, pending[DELTA], key_cols)
        if DV in pending:
            base = drop_keys(base, pending[DV], key_cols)
        if n_files is not None:
            base = base.repartition(max(1, n_files))
        t.overwrite(base, name, base_partition_cols(cat, name, head))
        for side, df in pending.items():
            t.truncate(df, name + side)
        delta = delta_table(name)
        if (
            DV in pending
            and DELTA not in sides
            and t.has_committed(delta)
            # an empty delta needs no rewrite: footer count, no job
            and t.committed_rows(delta) != 0
        ):
            t.overwrite(
                drop_keys(
                    t.read_committed(spark, delta), pending[DV], key_cols
                ),
                delta,
            )

    return cat.commit_retrying(body, branch)
