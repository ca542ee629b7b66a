"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    -- flagship query (M2 fact population) on sf0.001.
queries()       -- one callable per implemented SURVEY §2 operator.
oracle_sql()    -- matching ANSI SQL for the DuckDB oracle.

The real implementations live in glue_jobs_for_data_pipeline_spark/;
this module is a thin adapter the driver imports.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from glue_jobs_for_data_pipeline_spark.plans.catalog import ORACLE, QUERIES
from glue_jobs_for_data_pipeline_spark.plans import catalog_ext  # noqa: F401  (registers x_* queries)
from glue_jobs_for_data_pipeline_spark.plans import tpch_pack  # noqa: F401  (registers x_olap_q*_style pack)
from glue_jobs_for_data_pipeline_spark.plans import scale_pack  # noqa: F401  (registers skew-join/SQL-frontend/stream-topk)
from glue_jobs_for_data_pipeline_spark.plans import analytics_pack  # noqa: F401  (registers funnel/retention/corr)
from glue_jobs_for_data_pipeline_spark.plans import mining_pack  # noqa: F401  (registers graph/regression/skyline/asof-forward)
from glue_jobs_for_data_pipeline_spark.plans import metrics_pack  # noqa: F401  (registers gini/diversity/fk-cascade/percentiles/phash-cc)
from glue_jobs_for_data_pipeline_spark.plans import curation_pack  # noqa: F401  (registers winnowing/url-dedup/temperature-mix/matryoshka/compaction)
from glue_jobs_for_data_pipeline_spark.plans import media_pack  # noqa: F401  (registers audio-frame/VAD-segment/scene-cut)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the fact-population star join (SURVEY §2.9 M2) at sf0.001."""
    return QUERIES["m2_j2_fact_population"](spark, "/root/testdata/sf0.001")


# The driver's correctness gate checks exactly the FIRST 50 keys of
# queries(), so registration order decides what it covers. _WINDOW_FIRST
# seats those keys in groups listed in priority order: keys whose plan,
# operator or gate changed most recently first, then the always-on core,
# then the keys with the oldest driver evidence. Every seated key must be
# oracle-able: a rows-only key in the window wastes a hash-check slot
# (tests/test_entry_window.py), and _WINDOW_ROWS_ONLY_OK lists the
# rows-only keys allowed there anyway (none).
_WINDOW_ROWS_ONLY_OK: set[str] = set()

_WINDOW_FIRST = [
    # newest storage operators (6)
    "x_storage_positional_deletes",
    "x_storage_schema_widening",
    "x_storage_retention_policy",
    "x_storage_rollback_expire",
    "x_storage_check_constraints",
    "x_storage_partition_compaction",
    # changed plans or gates: merge-on-read, sketches, exactly-once
    # streams, sketch contract gates (11)
    "x_storage_mor_upsert",
    "x_storage_deletion_vectors",
    "x_olap_approx_distinct",
    "x_olap_approx_percentiles",
    "x_olap_hll_partial_merge",
    "x_stream_exactly_once",
    "x_stream_incremental_mv",
    "x_corpus_stream_ingest_dedup",
    "x_dedup_minhash_lsh",
    "x_dedup_simhash",
    "x_corpus_prep_neardup",
    # always-on core (3)
    "m1_scd2_upsert",
    "m2_j2_fact_population",
    "m5_transactional_pipeline",
    # staged-table consumers, time series, retrieval (16)
    "x_text_boilerplate_removal",
    "x_text_string_kernels",
    "x_ts_asof_forward",
    "x_ts_ohlc",
    "x_ts_twap",
    "x_dedup_cc_clusters",
    "x_corpus_dedup_cc",
    "x_corpus_dedup_quality_keep",
    "x_split_neardup_leakage",
    "x_dedup_semantic_semdedup",
    "x_corpus_cluster_balance",
    "x_sim_ivf_kmeans_topk",
    "x_olap_grid_quantile_sketch",
    "x_market_basket_lift",
    "x_graph_pagerank",
    "x_text_dsir_weights",
    # oldest parity keys (14)
    "s1_csv_bulk_load",
    "s2_truncate_and_load",
    "s3_table_scan",
    "s4_s7_staging_lifecycle",
    "s5_ctas_cached",
    "s6_insert_select_append",
    "s1b_json_roundtrip",
    "s1c_orc_roundtrip",
    "s8_row_generator",
    "p1_projection",
    "p2_computed_column",
    "p3_literal_column",
    "p4_equality_filter",
    "p5_conjunction",
]


def _ordered_keys() -> list[str]:
    first = [k for k in _WINDOW_FIRST if k in QUERIES]
    placed = set(first)
    parity = [k for k in QUERIES if not k.startswith("x_") and k not in placed]
    rest = [k for k in QUERIES if k.startswith("x_") and k not in placed]
    ordered = first + parity + rest
    assert sorted(ordered) == sorted(QUERIES), "ordering dropped/duplicated keys"
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: QUERIES[k] for k in _ordered_keys()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
