"""Headline benchmark: runs representative queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized through the noop sink (full computation, no
driver-side collect bottleneck). The set spans the engine's load-bearing
paths: the broadcast star join (M2), SCD-2 upsert (M1), single-pass
validation (V1/V2), hash aggregation, exact + LSH dedup, similarity
top-k, text kernels, and the streaming window aggregate.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from glue_jobs_for_data_pipeline_spark import lifecycle, runner  # noqa: E402
from glue_jobs_for_data_pipeline_spark.session import get_spark  # noqa: E402

# The first headline set: cross-version comparisons use this subtotal.
# The full total is not comparable across versions whose cohorts differ,
# so the like-for-like perf gate is judged on this number.
R01_BASELINE_QUERIES = [
    "m2_j2_fact_population",
    "m1_scd2_upsert",
    "v1_null_counts",
    "v2_pk_duplicates",
    "a2_groupby_count",
    "j1_inner_equijoin",
    "m3_dim_dates",
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
    "x_sim_bruteforce_topk",
    "x_text_fingerprint",
    "x_stream_window_agg",
]

# The cohort: the load-bearing paths plus every query that takes more
# than ~0.7 s warm at sf0.1. Membership and order are fixed so totals
# compare across versions. A stage line (x_*_stage) runs before its
# consumers, so its build cost lands on its own line and not on the
# first consumer's.
BENCH_QUERIES = [
    # star join, SCD-2, validation, aggregation, joins, dim build
    "m2_j2_fact_population",
    "m1_scd2_upsert",
    "v1_null_counts",
    "v2_pk_duplicates",
    "a2_groupby_count",
    "j1_inner_equijoin",
    "m3_dim_dates",
    # dedup: exact, the staged near-dup pair table (the sketch gates
    # below read its exact scores), LSH and n-gram Jaccard
    "x_dedup_exact",
    "x_dedup_pairs_stage",
    "x_dedup_minhash_lsh",
    "x_dedup_ngram_jaccard",
    "x_sim_bruteforce_topk",
    "x_text_fingerprint",
    "x_stream_window_agg",
    "x_olap_q1_style",
    "x_corpus_prep",
    # map-only text passes, linear posting pipeline, array kernel
    "x_text_pii_redact",
    "x_text_chunking",
    "x_dedup_substring_spans",
    "x_emb_quantize_int8",
    # gram explode + broadcast join, RANGE frame, hash + per-shard window
    "x_decontam_report",
    "x_olap_range_frame",
    "x_sample_shard_positions",
    # iterative connected components, domain window, key window +
    # tombstone filter
    "x_dedup_cc_clusters",
    "x_sample_token_budget",
    "x_ingest_cdc_apply",
    # two-level count + top-k window, join-free zip_with fan-out
    "x_text_tfidf",
    "x_text_bigram_lm",
    # TPC-H Q9 (fact x 3 broadcast dims) and Q21 (EXISTS / NOT EXISTS,
    # the heaviest multi-shuffle shape in the pack)
    "x_olap_q9_style",
    "x_olap_q21_style",
    # the staged co-purchase edge table every graph consumer reads;
    # each pass resets the stages, so the build is paid here once per
    # pass instead of hiding in a process-lifetime cache
    "x_graph_edges_stage",
    "x_graph_triangles",
    "x_text_lm_coverage",
    "x_market_basket_lift",
    "x_text_pmi_collocations",
    "x_events_attribution",
    "x_mm_phash_dedup",
    "x_validate_fk_cascade",
    "x_olap_gini",
    "x_fact_accumulating_snapshot",
    "x_fact_periodic_snapshot",
    "x_dedup_golden_record",
    "x_olap_rfm_scores",
    "x_fact_order_part_bridge",
    "x_olap_drill_across",
    "x_graph_coreness",
    "x_sim_ivfpq_topk",
    "x_olap_revenue_concentration",
    "x_text_winnow_stats",
    "x_dedup_winnow_pairs",
    "x_corpus_temperature_mix",
    "x_mm_audio_features",
    "x_mm_video_scene_cuts",
    "x_text_bpe_merges",
    "x_text_subword_encode",
    # the staged k-means centroids (both trainings), then the three
    # consumers that read them
    "x_emb_centroids_stage",
    "x_sim_ivf_kmeans_topk",
    "x_dedup_semantic_semdedup",
    "x_corpus_cluster_balance",
    "x_storage_bucketed_join",
    "x_olap_grid_quantile_sketch",
    "x_storage_dynamic_partition_pruning",
    "x_validate_observed_load",
    "x_graph_pagerank",
    "x_mm_ingest_pipeline",
    "x_dedup_embedding_cosine",
    "x_text_dsir_weights",
    "x_olap_countmin_sketch",
    "x_split_group_kfold",
    "x_storage_runtime_bloom_filter",
    # catalog commit machinery: branches, deletion vectors, MMR / BM25 /
    # RRF retrieval, prefix Jaccard, commit log, exactly-once streams,
    # schema evolution, merge-on-read, positional deletes, retention
    "x_storage_branch_isolation",
    "x_storage_branch_rebase",
    "x_storage_deletion_vectors",
    "x_sim_mmr_rerank",
    "x_text_bm25",
    "x_sim_rrf_fusion",
    "x_dedup_jaccard_prefix",
    "x_storage_commit_log",
    "x_stream_exactly_once",
    "x_stream_incremental_mv",
    "x_storage_schema_evolution",
    "x_corpus_stream_ingest_dedup",
    "x_storage_mor_upsert",
    "x_storage_positional_deletes",
    "x_storage_retention_policy",
    "x_storage_schema_widening",
    "x_olap_approx_percentiles",
    "x_olap_approx_distinct",
    "x_storage_rollback_expire",
    "x_storage_check_constraints",
    "x_storage_partition_compaction",
    # sketch contract gates checked against the staged exact pairs
    "x_dedup_simhash",
    "x_corpus_prep_neardup",
]

# The winnowing pair join swings most on this host with a byte-identical
# plan, so these queries get EXTRA_SAMPLES more timed runs per pass and
# their min-of-N sits on 3x the samples.
NOISY_QUERIES = {"x_dedup_winnow_pairs", "x_text_winnow_stats"}
EXTRA_SAMPLES = 2

# The stdout line carries a per-query map, but the driver keeps only the
# last 2000 characters of stdout, so the full 93-entry map (~2.7 KB)
# cannot fit. This FIXED subset (every query at >= 1.2 s on the
# reference run, ~80% of the total seconds) plus the residual sum keeps
# the line under ~1.9 KB with worst-case digits. Membership is
# hard-coded, never derived from timings, so per-query comparisons see
# a stable cohort; the full map is in the sidecar.
STDOUT_QUERIES = [
    "x_graph_pagerank", "x_dedup_jaccard_prefix", "x_storage_retention_policy",
    "x_corpus_stream_ingest_dedup", "x_mm_ingest_pipeline", "x_corpus_prep_neardup",
    "x_stream_exactly_once", "x_stream_incremental_mv", "x_graph_triangles",
    "x_emb_centroids_stage", "x_graph_coreness", "x_sim_rrf_fusion",
    "x_dedup_pairs_stage", "x_dedup_simhash", "x_storage_positional_deletes",
    "x_olap_rfm_scores", "x_dedup_minhash_lsh", "x_sim_ivfpq_topk",
    "x_mm_phash_dedup", "x_text_bm25", "x_text_dsir_weights",
    "x_dedup_winnow_pairs", "x_storage_check_constraints", "x_dedup_semantic_semdedup",
    "x_storage_partition_compaction", "x_dedup_ngram_jaccard", "x_storage_mor_upsert",
    "x_fact_order_part_bridge", "x_graph_edges_stage", "x_corpus_prep",
    "x_text_pmi_collocations", "x_olap_revenue_concentration", "x_validate_fk_cascade",
    "x_dedup_embedding_cosine", "x_stream_window_agg", "m2_j2_fact_population",
    "x_olap_gini", "x_storage_deletion_vectors", "x_text_tfidf",
    "x_olap_q21_style", "x_fact_periodic_snapshot", "x_text_subword_encode",
    "x_market_basket_lift", "x_olap_approx_distinct", "x_dedup_substring_spans",
    "x_storage_rollback_expire",
]

# Calibration: three independent constant-work shapes (731-row dim
# build, single-pass null counts, hash aggregate). Comparisons normalize
# by the MEDIAN of their mins, so one query's wobble cannot move it.
# calib.query/min/median keep the single-query calibration.
CALIB_QUERIES = ["m3_dim_dates", "v1_null_counts", "a2_groupby_count"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as e

    spark = get_spark("bench")
    qs = e.queries()
    runner.warm_up(spark, qs)

    # Min-of-N per query: the host throws multi-second noise spikes on
    # single samples while neighbors stay flat, so the min estimates the
    # engine's cost under interference; the median is reported beside it
    # to show the noise floor.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "4"))
    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for _ in range(n_passes):
        # each pass rebuilds every staged table once, on its x_*_stage
        # line, so the min keeps the real staging cost in the total
        lifecycle.reset_stages()
        for name in BENCH_QUERIES:
            runs = 1 + (EXTRA_SAMPLES if name in NOISY_QUERIES else 0)
            for _rep in range(runs):
                r = runner.run(spark, qs[name], sf_dir)
                samples[name].append(round(r.seconds, 3))

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {name: min(xs) for name, xs in samples.items()}
    medians = {name: _median(xs) for name, xs in samples.items()}
    calib_mins = sorted(timings[q] for q in CALIB_QUERIES)
    common = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # like-for-like number (see R01_BASELINE_QUERIES)
        "r01_baseline_total": round(
            sum(timings[q] for q in R01_BASELINE_QUERIES if q in timings), 3
        ),
        "calib": {
            "query": "m3_dim_dates",
            "min": timings["m3_dim_dates"],
            "median": medians["m3_dim_dates"],
            "set": {q: timings[q] for q in CALIB_QUERIES},
            "med3": calib_mins[1],
        },
        "sf": float(sf),
        "passes": n_passes,
        "estimator": "min",
        "n_queries": len(BENCH_QUERIES),
    }
    # per-query map for the driver's PERF.per_query (fixed subset +
    # residual; byte budget rationale at STDOUT_QUERIES)
    stdout_queries = {
        q: round(timings[q], 2) for q in STDOUT_QUERIES if q in timings
    }
    queries_other = round(
        sum(v for q, v in timings.items() if q not in stdout_queries), 3
    )

    # Per-query detail (min + median + raw samples) goes to a sidecar
    # file: everything on one line (~2.3 KB) overflows the driver's
    # 2000-character tail capture.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL_LATEST.json"),
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(
                {**common, "queries": timings, "queries_median": medians, "samples": samples},
                fh,
                indent=1,
            )
    except OSError:
        pass  # detail sidecar is best-effort; the stdout line is the contract

    sys.stdout.flush()
    print(
        json.dumps(
            {
                **common,
                "queries": stdout_queries,
                "queries_other_total": queries_other,
                "detail": os.path.basename(detail_path),
            },
            separators=(",", ":"),
        )
    )
    sys.stdout.flush()


if __name__ == "__main__":
    main()
