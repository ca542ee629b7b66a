"""Config-driven pipeline runner (SURVEY §2.12) — the Glue-workflow analog.

Reference control plane: a Glue workflow passes run properties
(table_name, bucket, key) between three jobs — validate_data ->
dynamic_upsert (per dimension table) -> populate_fact, with
datespopulation as one-time setup (get_workflow_params copies at
dynamic_upsert.py:35-58, populate_fact.py:15-38, validate_data.py:90-113).

Here the control plane is one ``PipelineContext`` dict-like dataclass and
``Pipeline.run`` sequences the same steps inside a single SparkSession:

    validate sources (V4 gate, aborts on violation)
      -> SCD-2 upsert each dimension (M1)
      -> generate dim_dates (M3)
      -> populate fact (M2)
      -> single terminal write per table (M5 write-last atomicity)

Scale posture: apart from the validation counts each source is checked
with up front, every transform stays lazy until its one terminal write;
the fact output partitions by OrderDateKey so downstream scans prune by
date; dims are written unpartitioned (they are small and broadcast).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.dates_dim import generate_dim_dates
from ..operators.fact import build_staging_fact, populate_fact
from ..operators.scd2 import scd2_upsert
from ..operators.validation import validate_or_raise, validation_report
from ..sources.txn import Catalog


@dataclass
class DimSpec:
    """One dimension-backed source table (the reference's
    dimensional_columns entry, dynamic_upsert.py:16-20)."""

    name: str
    business_key: str
    columns: tuple[str, ...]
    surrogate_key: str


@dataclass
class PipelineContext:
    """The workflow-run-properties analog."""

    sf_dir: str
    warehouse_dir: str
    run_date: dt.date
    dates_start: dt.date
    dates_days: int
    scd2_mode: str = "reference"
    # "rownum" = contiguous surrogate keys like the reference (single-
    # partition window over NEW keys only); "hash" = xxhash64 keys, fully
    # parallel — the documented at-scale configuration.
    scd2_key_mode: str = "rownum"
    # When set, every committed table is compacted to ~this file size
    # after the transaction publishes (atomic: readers see fragmented or
    # compacted, never a mix; fact partition layout is preserved).
    compact_target_bytes: int | None = None
    results: dict[str, DataFrame] = field(default_factory=dict)


class Pipeline:
    """validate -> upsert dims -> dates -> fact, write-last per table."""

    def __init__(
        self,
        sources: dict[str, Callable[[SparkSession, str], DataFrame]],
        dims: list[DimSpec],
        fact_orders_source: str = "orders",
        fact_details_source: str = "orderdetails",
        source_pks: dict[str, list[str]] | None = None,
        lenient_sources: set[str] | None = None,
    ) -> None:
        self.sources = sources
        self.dims = dims
        self.fact_orders_source = fact_orders_source
        self.fact_details_source = fact_details_source
        # per-table PK override for composite grains; default mirrors the
        # reference's first-column rule (validate_data.py:63)
        self.source_pks = source_pks or {}
        # violation policy: default = abort (the reference's behavior,
        # validate_data.py:74,85); lenient tables record the violation
        # report and continue — the pragmatic mode for web-scale corpora
        # where upstream dup rows are expected, not exceptional.
        self.lenient_sources = lenient_sources or set()

    def run(self, spark: SparkSession, ctx: PipelineContext) -> dict[str, DataFrame]:
        # Step 1: ingest + validate every source (validate_data.py:148-171).
        loaded: dict[str, DataFrame] = {}
        for name, loader in self.sources.items():
            df = loader(spark, ctx.sf_dir)
            pk = self.source_pks.get(name, df.columns[0])
            if name in self.lenient_sources:
                report = validation_report(df, name, pk)
                ctx.results[f"validation_{name}"] = report
            else:
                validate_or_raise(df, name, pk)
            loaded[name] = df

        # Steps 2-4 run inside one catalog transaction: every table's new
        # version is fully staged, then ONE manifest + HEAD swap commits
        # dims and fact together — the reference's BEGIN..ROLLBACK
        # bracket (dynamic_upsert.py:108,159-161) with genuinely atomic
        # cross-table semantics: readers through the catalog can never
        # see the new dims with the old fact or vice versa
        # (sources/txn.py Catalog; crash-injection in tests/test_txn.py).
        catalog = Catalog(ctx.warehouse_dir)
        staged: list[str] = []
        with catalog.transaction() as t:
            # Step 2: SCD-2 upsert each dimension (dynamic_upsert.py:110-152).
            staged_dims: dict[str, DataFrame] = {}
            for spec in self.dims:
                dim = scd2_upsert(
                    None,
                    loaded[spec.name],
                    spec.business_key,
                    list(spec.columns),
                    spec.surrogate_key,
                    run_date=ctx.run_date,
                    mode=ctx.scd2_mode,
                    key_mode=ctx.scd2_key_mode,
                )
                t.overwrite(dim, f"dim_{spec.name}")
                staged.append(f"dim_{spec.name}")
                # fact build scans the staged parquet (materialized, just
                # not yet published) instead of recomputing the SCD-2 plan
                staged_dims[f"dim_{spec.name}"] = t.read_staged(
                    spark, f"dim_{spec.name}"
                )

            # Step 3: one-time calendar dimension (datespopulation.py).
            dim_dates = generate_dim_dates(spark, ctx.dates_start, ctx.dates_days)
            t.overwrite(dim_dates, "dim_dates")
            staged.append("dim_dates")
            staged_dims["dim_dates"] = t.read_staged(spark, "dim_dates")

            # Step 4: fact population (populate_fact.py:89-136); runs after
            # the last source ingest (table_name=='orderdetails' dispatch).
            staging = build_staging_fact(
                loaded[self.fact_orders_source], loaded[self.fact_details_source]
            )
            fact = populate_fact(
                staging,
                staged_dims["dim_customers"],
                staged_dims["dim_stores"],
                staged_dims["dim_products"],
                staged_dims["dim_dates"],
            )
            # Partitioned by date key so downstream date-range scans prune
            # files; repartition first so each date lands in one task ->
            # one file per partition instead of (tasks x dates) small files.
            t.overwrite(
                fact.repartition("OrderDateKey"),
                "fact_orders",
                partition_by=("OrderDateKey",),
            )
            staged.append("fact_orders")

        # Optional post-commit compaction (at-scale maintenance pass):
        # rewrites each committed table to ~target-sized files and
        # re-commits atomically (one manifest per table); fact keeps its
        # OrderDateKey layout via partition auto-detection.
        if ctx.compact_target_bytes is not None:
            for name in staged:
                catalog.compact_table(
                    spark, name, target_file_bytes=ctx.compact_target_bytes
                )

        # transaction committed: expose the published views
        for name in staged:
            ctx.results[name] = catalog.read(spark, name)
        return ctx.results
