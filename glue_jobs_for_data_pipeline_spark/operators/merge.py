"""MERGE INTO semantics on plain DataFrames — the one warehouse DML
statement the reference's platform offers through its SQL engine that
open Spark lacks without a table format (Delta/Iceberg ship it as
`MERGE INTO`; this states the same contract as one declarative plan):

  WHEN MATCHED [AND cond] THEN UPDATE SET ...
  WHEN MATCHED [AND cond] THEN DELETE
  WHEN NOT MATCHED THEN INSERT ...

Reference analog: dynamic_upsert.py's UPDATE + INSERT pair (SURVEY §2.9
M1/M4) is exactly a two-clause MERGE; this operator generalizes it to
arbitrary clause conditions and a delete branch, so a user porting a
`MERGE INTO` statement has a direct target.

Shape: ONE full outer join on the key (broadcast when the source is a
small changeset — the common case — else shuffle on the key), then a
row-level CASE over the three clause predicates. No second pass, no
driver loop; the result is a new snapshot to publish through a
sources/txn.py catalog transaction (same write-last discipline as
SCD-2). Rows touched once each => MERGE's "each target row matches at
most one action" rule holds structurally; the source side must be
key-unique (enforced: duplicate source keys make MERGE ill-defined, so
we raise rather than pick silently — Delta does the same).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: str,
    update_set: dict[str, F.Column] | None = None,
    update_cond: F.Column | None = None,
    delete_cond: F.Column | None = None,
    insert: bool = True,
    broadcast_source: bool = True,
    check_unique_source: bool = True,
) -> DataFrame:
    """Return the post-MERGE snapshot of ``target``.

    - ``update_set``: matched rows get these columns replaced; values
      are expressions over ``src.<col>`` / ``tgt.<col>`` aliases.
      Applied when ``update_cond`` (default: always) holds.
    - ``delete_cond``: matched rows satisfying it are dropped. Delete
      is evaluated BEFORE update (Delta clause order: first matching
      clause wins; callers wanting update-first encode it in the
      conditions).
    - ``insert``: source rows with no target match are appended with
      the target's columns (missing ones NULL).

    The join is a LEFT join from target plus an anti-join for inserts
    rather than one full-outer: the two reads share the shuffle/broadcast
    (same key, same sides), and it keeps every target column's type
    authoritative — a full-outer CASE would have to reconcile both
    sides' schemas column by column.
    """
    if check_unique_source:
        # metadata-cheap guard: duplicate source keys make MERGE
        # ill-defined (which row's values apply?) — fail loudly like
        # Delta's "multiple source rows matched" error. One count per
        # merge; skip via flag for pre-deduped feeds at scale.
        dup = (
            source.groupBy(on)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"merge_into: source has duplicate keys on '{on}' — "
                "MERGE requires a key-unique source (pre-collapse with "
                "cdc_apply / latest-by-key)"
            )
    update_set = update_set or {}
    src = F.broadcast(source) if broadcast_source else source
    joined = target.alias("tgt").join(
        src.alias("src"), F.col(f"tgt.{on}") == F.col(f"src.{on}"), "left"
    )
    matched = F.col(f"src.{on}").isNotNull()
    # A clause condition that evaluates to NULL means "clause not
    # satisfied" => row unchanged (Delta MERGE semantics). Without the
    # coalesce, `~(matched & NULL)` is NULL and filter() would silently
    # DELETE the row — the same three-valued-logic data-loss trap
    # cdc_apply guards against for NULL ops.
    upd = (
        F.coalesce(update_cond, F.lit(False))
        if update_cond is not None
        else F.lit(True)
    )
    dele = (
        F.coalesce(delete_cond, F.lit(False))
        if delete_cond is not None
        else F.lit(False)
    )

    kept = joined.filter(~(matched & dele))
    out_cols = []
    for c in target.columns:
        col = F.col(f"tgt.{c}")
        if c in update_set:
            col = F.when(matched & upd, update_set[c]).otherwise(col)
        out_cols.append(col.alias(c))
    merged = kept.select(*out_cols)

    if not insert:
        return merged
    new_rows = source.join(
        target.select(on), on, "left_anti"
    )
    inserts = new_rows.select(
        *[
            (
                F.col(c)
                if c in new_rows.columns
                else F.lit(None).cast(target.schema[c].dataType)
            ).alias(c)
            for c in target.columns
        ]
    )
    return merged.unionByName(inserts)
