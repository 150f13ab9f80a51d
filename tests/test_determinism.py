"""Partitioning-determinism: a result that changes when
spark.sql.shuffle.partitions changes is not reproducible at cluster
scale. A representative sample of queries (the decimal-exact, hash-keyed,
and integer-quantized families, including every round-4 determinism fix)
must produce IDENTICAL content under different partition counts."""

from __future__ import annotations

import pytest

from end_to_end_data_engineering_and_ml_system_spark.plans.registry import all_queries

SAMPLE = [
    "pricing_summary",            # decimal-exact aggregates
    "profit_by_nation_year",      # integer-cents products (r4 fix)
    "discount_band_revenue",      # integer-cents products
    "embedding_drift_by_dim",     # IEEE-quantized float32 sums (r4 fix)
    "doc_unigram_logprob",        # decimal-exact mean over window counts
    "drift_psi_events",           # shares + ln over integer counts
    "doc_duplicate_ngram_windows",# hash-keyed window counts
    "orders_cdc_merge_counts",    # full-outer merge + decimal checksum
    "token_cms_estimates",        # md5-bucket sketch + TakeOrdered ties
    "corpus_manifest",            # order-independent content checksum
    "user_activity_entropy",      # decimal-exact entropy terms
    "user_feature_store_row",     # multi-family entity join
    "events_hourly_gapfill",      # spine join + LOCF window
    "value_impute_by_group",      # broadcast-stats fill + decimal checksum
    "supplier_concentration_hhi", # integer-cents sum-of-squares
    "customer_cohort_ltv_curve",  # decimal running sum
    "error_burst_detection",      # integer moving-window sums (r4 fix)
    "price_quantity_ols",         # exact-integer sufficient statistics
    "source_unigram_jsd",         # ln-domain decimal sums
    # round-5 additions
    "events_mad_outlier_hours",   # dyadic medians -> integer comparison
    "events_l_diversity_audit",   # count + count_distinct grain
    "events_data_contract_report",# one-pass conditional sums
    "user_rate_limit_violations", # interval RANGE frame (rule 4)
    "event_series_correlation_matrix",  # DECIMAL(38,0) stats + sqrt
    "events_t_closeness_audit",   # exact-integer TV numerator
    "value_trimmed_mean_by_type", # UDAF over exact cents
    "hourly_seasonal_naive_mase", # integer error sums over the spine
    "tx_table_time_travel_counts",  # committed-manifest reads
    "term_posting_stats",         # posting-grain reduce, tie-broken topk
    "join_cardinality_estimate_vs_actual",  # exact counts + floored est
    "order_price_equidepth_histogram",      # NTILE over exact cents
    "signup_to_purchase_latency_quantiles",  # dyadic quartiles
    "watermark_tolerance_curve",  # running-max window + delay sweep
    "sessions_per_user_histogram",  # interval-exact session gaps
    # round-6 additions
    "tx_table_zorder_pruned_scan",  # pruning is I/O-only, results exact
    # round-7 additions
    "events_dp_noisy_counts",     # md5-uniform seeded Laplace noise
    # round-8 additions — the distributed-rank machinery uses
    # spark_partition_id over a range repartition, exactly the kind of
    # construction this suite exists to pin across shuffle widths
    "token_coverage_curve",           # global_row_number over the vocab
    "revenue_pareto_deciles",         # global_ntile over the aggregate
    "vocab_growth_heaps",             # global_running_sum prefix offsets
]


def _content(df):
    rows = df.collect()
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize("name", SAMPLE)
def test_result_identical_across_partitionings(spark, sf_dir, name):
    q = all_queries()[name]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        a = _content(q.build(spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = _content(q.build(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b, f"{name}: result depends on partition count"
    assert a, f"{name}: empty result proves nothing"
