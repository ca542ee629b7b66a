"""Physical-plan audits for the r03 operators: the hot paths must stay
JVM-side (no Python row UDFs), join-free where designed join-free, and
cartesian-free everywhere."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from glue_jobs_for_data_pipeline_spark.plans import catalog_ext as cx


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pii_redact_plan_is_pure_codegen(spark, sf_dir):
    plan = _plan(cx.x_text_pii_redact(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # spread() adds one round-robin repartition for coarse sources;
    # there must be NO keyed shuffle (no aggregation/join exchange)
    assert "Exchange hashpartitioning" not in plan


def test_chunking_plan_is_map_only(spark, sf_dir):
    plan = _plan(cx.x_text_chunking(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan  # fan-out via generate


def test_quantize_plan_is_map_only(spark, sf_dir):
    plan = _plan(cx.x_emb_quantize_int8(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_substring_spans_plan_has_no_cartesian(spark, sf_dir):
    plan = _plan(cx.x_dedup_substring_spans(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_centroid_plan_is_single_agg_pipeline(spark, sf_dir):
    plan = _plan(cx.x_emb_centroid_elements(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # partial aggregation present (map-side combine before the shuffle)
    assert "partial" in plan.lower()


def test_q3_style_plan_broadcasts_and_pushes_down(spark, sf_dir):
    plan = _plan(cx.x_olap_q3_style(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the selective segment predicate reaches the customer scan: the
    # column must appear INSIDE a PushedFilters list, not merely in a
    # Filter node above the scan (every scan prints 'PushedFilters: []')
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("c_mktsegment" in p for p in pushed), pushed


def test_q5_style_plan_shape(spark, sf_dir):
    plan = _plan(cx.x_olap_q5_style(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("r_name" in p for p in pushed), pushed  # region filter at scan
    # lineitem scan prunes to the 4 needed columns
    scans = [ln for ln in plan.splitlines() if "l_extendedprice" in ln and "Scan" in ln]
    assert scans and all("l_comment" not in s for s in scans)


def test_unpivot_plan_is_single_scan(spark, sf_dir):
    plan = _plan(cx.x_olap_unpivot(spark, sf_dir))
    assert plan.count("FileScan") == 1  # stack(), not 3x UNION ALL scans
    assert "Exchange hashpartitioning" not in plan  # map-only generate


def test_decontam_report_single_corpus_scan_groups_on_hits(spark, sf_dir):
    plan = _plan(cx.x_decontam_report(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # eval gram set broadcasts
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_freq_items_superset_of_truly_frequent(spark, sf_dir):
    """The sketch may over-report but must NEVER miss an item above the
    support threshold."""
    from glue_jobs_for_data_pipeline_spark.sources.readers import load_events

    e = load_events(spark, sf_dir).select("event_type")
    total = e.count()
    exact = {
        r["event_type"]
        for r in e.groupBy("event_type").count().collect()
        if r["count"] / total >= 0.15
    }
    got = set(
        e.stat.freqItems(["event_type"], support=0.15).first()[0]
    )
    assert exact <= got


def test_token_budget_plan_prunes_scan_and_single_window_shuffle(spark, sf_dir):
    plan = _plan(cx.x_sample_token_budget(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # scan must read only the 3 needed columns, never the whole table
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan
    # exactly one keyed shuffle: the per-domain window
    assert plan.count("Exchange hashpartitioning") == 1


def test_cdc_apply_plan_single_window_no_extra_pass(spark, sf_dir):
    plan = _plan(cx.x_ingest_cdc_apply(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # one keyed shuffle (the per-key latest window); the tombstone
    # filter must ride the window output, not add a join or second pass
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_merge_into_plan_broadcasts_changeset_no_cartesian(spark, sf_dir):
    plan = _plan(cx.x_merge_into(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the small changeset must broadcast against the big target
    assert "BroadcastHashJoin" in plan


def test_tfidf_plan_jvm_side_pruned_scan(spark, sf_dir):
    plan = _plan(cx.x_text_tfidf(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # scan reads only the two needed columns, never the whole table
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    # the scalar n_docs joins via broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bigram_plan_jvm_side_join_free(spark, sf_dir):
    plan = _plan(cx.x_text_bigram_lm(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # bigrams form row-locally via zip_with: no join anywhere
    assert "Join" not in plan
    # scan reads only text
    assert "ReadSchema: struct<text:string>" in plan


def test_profile_plan_single_scan_expand(spark, sf_dir):
    plan = _plan(cx.x_validate_profile(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one scan of orders regardless of profiled column count — the
    # multi-countDistinct runs via Expand over that single read
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_exact_rank_queries_have_no_window_exec(spark, sf_dir):
    """x_olap_gini / x_olap_revenue_concentration rank a data-
    proportional grain (customers) — they must use the distributed
    rank kernel (operators/rank.py), never an unpartitioned WindowExec
    (single-task sort of billions of rows at 100 TB)."""
    from glue_jobs_for_data_pipeline_spark.plans import metrics_pack as mp
    from glue_jobs_for_data_pipeline_spark.plans import mining_pack as mk

    for fn in (mp.x_olap_gini, mk.x_olap_revenue_concentration):
        plan = _plan(fn(spark, sf_dir))
        # the r11 kernel: pid = literal searchsorted expression, local
        # rank via Window.partitionBy(pid) — a HASH exchange over ~p
        # balanced groups. EVERY window spec in the plan must be
        # pid-partitioned (an unpartitioned ORDER BY window would show
        # a windowspecdefinition without the pid column and an Exchange
        # SinglePartition funnel beneath it; the only SinglePartition
        # allowed is the query's own 1-row scalar fold).
        for ln in plan.splitlines():
            if "windowspecdefinition(" in ln:
                assert "__rk_pid" in ln, (fn.__name__, ln)
        assert "hashpartitioning(__rk_pid" in plan, fn.__name__
        assert "Exchange rangepartitioning" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_payloads_semi_join_before_wide_projection(spark, sf_dir):
    """changed_payloads' scale claim: the wide snapshot is probed by a
    LEFT SEMI join on the keys — wide rows never ride the full-outer
    diff join, so payload traffic is proportional to the delta."""
    from glue_jobs_for_data_pipeline_spark.plans import metrics_pack as mp

    plan = _plan(mp.x_storage_snapshot_payloads(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the manifest side projects keys only before joining: no wide
    # column appears in the full-outer diff branch's projections
    import re

    fo = [ln for ln in plan.splitlines() if "FullOuter" in ln]
    assert fo and all("o_totalprice" not in ln for ln in fo)


def test_anomaly_plan_broadcast_stats_no_python(spark, sf_dir):
    plan = _plan(cx.x_events_anomaly_zscore(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the tiny per-type stats broadcast; the hourly side never re-shuffles
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_accumulating_snapshot_aggregates_before_join(spark, sf_dir):
    """Lineitem must reach ORDER grain via aggregation BEFORE the
    orders join (the join sees two order-grain sides, never raw
    lineitem x orders), and milestone gating is conditional
    aggregation — no window anywhere."""
    from glue_jobs_for_data_pipeline_spark.plans.metrics_pack import (
        x_fact_accumulating_snapshot,
    )

    plan = _plan(x_fact_accumulating_snapshot(spark, sf_dir))
    assert "Window" not in plan
    # partial aggregate must sit below the join: the string order of a
    # formatted plan lists the join above its children, so the
    # HashAggregate feeding it must appear in the plan at all
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_periodic_snapshot_window_is_partitioned(spark, sf_dir):
    """The cumulative position window must be keyed by part — a
    single-partition WindowExec here would serialize the whole fact."""
    from glue_jobs_for_data_pipeline_spark.plans.metrics_pack import (
        x_fact_periodic_snapshot,
    )

    plan = _plan(x_fact_periodic_snapshot(spark, sf_dir))
    assert "Window" in plan
    assert "windowspecdefinition(part_key" in plan


def test_golden_record_is_one_aggregation_no_window(spark, sf_dir):
    """Every survivorship rule rides ONE groupBy: exactly one keyed
    exchange, no window, no join, no Python."""
    from glue_jobs_for_data_pipeline_spark.plans.metrics_pack import (
        x_dedup_golden_record,
    )

    plan = _plan(x_dedup_golden_record(spark, sf_dir))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_junk_dim_joins_by_broadcast(spark, sf_dir):
    """The junk dim is flag-domain-sized: the fact must join it with
    a BroadcastHashJoin, never a shuffled join."""
    from glue_jobs_for_data_pipeline_spark.plans.metrics_pack import (
        x_dim_junk,
    )

    plan = _plan(x_dim_junk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_role_playing_dates_broadcast_both_roles(spark, sf_dir):
    """One calendar dim, two roles: both date joins must broadcast
    (the dim stays a single small artifact however many roles exist)."""
    from glue_jobs_for_data_pipeline_spark.plans.metrics_pack import (
        x_olap_role_playing_dates,
    )

    plan = _plan(x_olap_role_playing_dates(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_conform_schema_is_map_only(spark, sf_dir):
    """Schema conformance is a single SELECT of casts: no exchange,
    no Python, no join."""
    from glue_jobs_for_data_pipeline_spark.plans.metrics_pack import (
        x_ingest_conform_schema,
    )

    plan = _plan(x_ingest_conform_schema(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_rfm_has_no_single_partition_window(spark, sf_dir):
    """All three NTILE passes ride the distributed rank kernel: no
    WindowExec without a partition spec (the 'No Partition Defined'
    scale-killer) may appear."""
    from glue_jobs_for_data_pipeline_spark.plans.metrics_pack import (
        x_olap_rfm_scores,
    )

    plan = _plan(x_olap_rfm_scores(spark, sf_dir))
    # the ONE window rides the rank kernel's (pid, dim) partition —
    # never a global ORDER BY (which would funnel through an Exchange
    # SinglePartition)
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            assert "__rk_pid" in ln and "__rk_dim" in ln, ln
    assert "SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(__rk_pid#\d+, __rk_dim", plan)


def test_pq_rows_missing_fixture_is_none(tmp_path):
    """_pq_rows must answer None (unknown) for a fixture that does not
    exist — not a confident 0 that would corrupt k / row-count
    assertions (ADVICE r19) — and the exact footer count otherwise."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    assert cx._pq_rows(str(tmp_path), "no_such_table") is None
    pq.write_table(
        pa.table({"x": [1, 2, 3]}), str(tmp_path / "t.parquet")
    )
    assert cx._pq_rows(str(tmp_path), "t") == 3
