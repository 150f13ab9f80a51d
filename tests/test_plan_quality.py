"""Scan-level plan assertions: pushdown and pruning must actually appear in
the physical plan, not just be hoped for (PLANS.md documents the full
plans)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.plans.registry import all_queries
from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table


from tests.planutil import physical_plan as _plan


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_quantity,45", plan), plan


def test_column_pruning_reaches_parquet_scan(spark, sf_dir):
    # a 3-column projection must not read all 16 lineitem columns
    q = all_queries()["revenue_by_nation"].build(spark, sf_dir)
    plan = _plan(q)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    lineitem_schemas = [
        s for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan) if "l_" in s
    ]
    assert lineitem_schemas, plan
    assert all(len(s.split(",")) <= 4 for s in lineitem_schemas), lineitem_schemas


def test_dimensional_join_broadcasts_not_shuffles(spark, sf_dir):
    q = all_queries()["revenue_by_nation"].build(spark, sf_dir)
    plan = _plan(q)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    # exactly one data shuffle: the final grouped aggregate
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "Broadcast" not in ln
    ]
    assert len(shuffles) == 1, shuffles


def test_whole_stage_codegen_covers_agg_pipeline(spark, sf_dir):
    import contextlib
    import io

    q = all_queries()["pricing_summary"].build(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(mode="codegen")
    plan = buf.getvalue()
    assert "Found 2 WholeStageCodegen subtrees" in plan or "WholeStageCodegen" in plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """A selective filter on the build side of a shuffle join should inject a
    runtime bloom filter into the fact-side scan (Spark's row-level runtime
    filtering). At 100 TB this is the difference between shuffling the whole
    fact table and shuffling only rows that can possibly match; the fixture
    thresholds are lowered because the default application-side gate is 10 GB."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        li = load_table(spark, sf_dir, "lineitem")
        q = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = _plan(q).lower()
        assert "might_contain" in plan or "bloomfilter" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_funnel_is_two_exchange_plan(spark, sf_dir):
    # conditional MINs per user then a global agg: exactly two shuffles,
    # no window sort over the full event log
    q = all_queries()["event_funnel_counts"].build(spark, sf_dir)
    plan = _plan(q)
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "ReusedExchange" not in ln
        and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) <= 2, shuffles
    assert "Window" not in plan


def test_latest_state_single_shuffle(spark, sf_dir):
    # changelog compaction = one hash exchange on the key + in-partition sort
    q = all_queries()["user_latest_state"].build(spark, sf_dir)
    plan = _plan(q)
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "ReusedExchange" not in ln
        and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) == 1, shuffles


def test_deterministic_sampling_is_scan_local(spark, sf_dir):
    # hash membership is a pure projection+filter: zero exchanges before
    # the final count aggregation's
    from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (
        deterministic_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    q = deterministic_sample(docs, "doc_id", 0.25).select("doc_id")
    plan = _plan(q)
    assert "Exchange" not in plan, plan
    # "*(n)" is the codegen-stage marker in the compact plan rendering
    assert "WholeStageCodegen" in plan or "*(1)" in plan, plan


def test_q6_all_filters_pushed_and_columns_pruned(spark, sf_dir):
    plan = _plan(all_queries()["discount_band_revenue"].build(spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)", plan)
    assert m, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in m.group(1), m.group(1)
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert len(schema.split(",")) == 4, schema  # only the 4 needed columns


def test_duplicate_windows_scans_documents_once(spark, sf_dir):
    # the single-explode guarantee: one FileScan of documents feeds both
    # the (hash, doc) reduce and the flag side — a join formulation would
    # show two scans
    plan = _plan(
        all_queries()["doc_duplicate_ngram_windows"].build(spark, sf_dir)
    )
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "Join" not in plan


def test_cdc_merge_pushes_both_window_filters(spark, sf_dir):
    plan = _plan(all_queries()["orders_cdc_merge_counts"].build(spark, sf_dir))
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "FullOuter" in plan, plan


def test_psi_monitor_is_single_grouped_pass(spark, sf_dir):
    # projection binning: ONE fact scan; totals via the unpartitioned
    # window over the <=9-row aggregate (a crossJoin-a-reaggregate
    # formulation showed a second full scan in the plan); no joins
    plan = _plan(all_queries()["drift_psi_events"].build(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "Join" not in plan
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "Broadcast" not in ln
    ]
    assert len(shuffles) <= 2, shuffles


def test_unigram_logprob_single_scan_no_joins(spark, sf_dir):
    # the window-over-token formulation turns the (doc, tok) grain into
    # the frequency table in place: one corpus scan, no self-join (the
    # freq-join formulation showed 3 scans + 2 joins in the plan)
    plan = _plan(all_queries()["doc_unigram_logprob"].build(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "Join" not in plan


def test_rate_limit_audit_single_user_shuffle(spark, sf_dir):
    q = all_queries()["user_rate_limit_violations"].build(spark, sf_dir)
    plan = _plan(q)
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "Broadcast" not in ln
    ]
    assert len(shuffles) == 1, shuffles
    # three columns read, nothing else
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and all(len(s.split(",")) <= 3 for s in m), m


def test_distributed_rank_queries_have_no_single_partition_exchange(
    spark, sf_dir
):
    """The round-8 scale fix, asserted at the plan level: the queries that
    moved from single-reducer global windows to global_ntile /
    global_row_number / bounded_ranked_topk must never feed a Window from
    a SinglePartition exchange — every Window sits over a hashpartitioning
    exchange (the __pid-keyed local rank) or none. A 1-row global
    aggregate's final merge exchange is SinglePartition by nature (it
    merges #partitions partial rows, bounded by cluster width) and is NOT
    the anti-pattern."""
    names = (
        "order_price_equidepth_histogram",
        "token_coverage_curve",
        "revenue_pareto_deciles",
        "weighted_doc_sample",
        "term_posting_stats",
        "vocab_growth_heaps",
    )
    # the anti-pattern prints as Window -> Sort -> Exchange SinglePartition
    # (children below parents in explain output)
    anti = re.compile(
        r"Window \[[^\n]*\]\n\s*(?:\+|:)- Sort [^\n]*\n\s*"
        r"(?:\+|:)- Exchange SinglePartition"
    )
    qs = all_queries()
    for name in names:
        p = _plan(qs[name].build(spark, sf_dir))
        assert not anti.search(p), (name, "single-reducer global window")
