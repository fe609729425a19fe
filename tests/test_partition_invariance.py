"""Cluster-equivalence check: results must be BITWISE identical under
different shuffle-partition counts — the property that lets the same
queries hash-match on a laptop and a 1000-executor cluster (SCALE.md's
determinism rules: decimal accumulators, floor rounding, unique window
tiebreaks)."""

from __future__ import annotations

import math

import pytest

from sparkwrangle.catalog import CATALOG

from conftest import SF_SMOKE

QUERIES = [
    "tpch_q1_pricing_summary",  # decimal-accumulated wide aggregation
    "d_compounded_return",      # exp over decimal-summed logs
    "g_pivot_wide",             # pivot with decimal cell sums
    "w_pct_change_log_returns", # floor-formula rounded windows
    "x_dedup_minhash_sigs",     # min-aggregated portable hashes
    "r_balance_report",         # closed-form report aggregates
    "x_dedup_cc_clusters",      # iterative min-label propagation
    "x_embedding_neardup",      # per-cell GEMM (Arrow group boundaries)
    "x_embedding_quantize",     # per-row array math, no shuffle at all
    "x_stratified_sample",      # salted-hash keep decision
    "x_boilerplate_prune",      # block-hash occurrence window + reassembly
    "x_bm25_search",            # scalar stats row + fixed-order float sum
    "x_semantic_dedup",         # trained assign + per-cell GEMM keep-list
    "x_epoch_shuffle",          # per-shard rank windows
    "x_curation_pipeline_end_to_end",  # staged composition incl. checkpoint
    "x_dedup_containment",      # df-capped directed shingle join
    "x_events_funnel",          # conditional-min funnel counts
    "x_dedup_lsh_recall_audit", # single-row audit ratios
    "x_knn_pq_adc",             # iterated k-means + LUT ADC ranking
    "x_dedup_minhash_mapside",  # zero-shuffle HOF signature path
    "a_plot_downsample",        # integer bucket math + decimal mean
    "x_dedup_incremental",      # batch-vs-corpus band probe
    "s2_trader_percent_ledger", # sequential compounding ledger
    "x_feature_hashing",        # hash-bucket tf + integer-exact L2 norm
    "x_bigram_stats",           # global top-k with tiebreak
    "x_countmin_heavy_hitters", # combinable sketch counters + broadcast probe
    "x_hll_distinct_users",     # combinable register MAX + float-sum estimate
    "x_span_dedup",             # content-hash window + gaps-and-islands merge
    "x_bpe_train_merges",       # iterative argmax + greedy merge rounds
    "x_bloom_decontaminate",    # bit_or bitmap + broadcast probe counts
    "x_pagerank_centrality",    # decimal-accumulated power iteration
    "x_bpe_segment",            # trained-vocab join (AQE-sized) encode counts
    "x_token_entropy",          # decimal-accumulated c·ln(c) sums
    "x_perplexity_prune",       # decimal-accumulated per-doc ln(p) average
    "x_frequent_pairs",         # basket self-join support + lift
    "x_histogram_quantiles",    # combinable bin counts + interpolation
    "x_grouped_quantiles",      # keyed bin counts + per-key windows
    "x_hll_set_ops",            # register-MAX merge + int64 harmonic sums
    "x_weighted_sample",        # hash-derived keys + distributed top-k
    "x_negative_sampling",      # pair-hash ranking per anchor
    "tpch_q10_returned_items",  # decimal revenue + TakeOrdered top-20
    "tpch_q8_market_share",     # ratio of two decimal-accumulated sums
    "tpch_q15_top_supplier",    # equality against a decimal scalar max
    "tpch_q9_shape_product_profit",   # decimal profit rollup
    "tpch_q11_shape_important_inventory",  # threshold vs decimal mean
    "tpch_q20_shape_excess_suppliers",     # share boundary vs decimal sums
    "tpch_q2_shape_min_cost_supplier",     # window-min tie keep (r9 rewrite)
    "tpch_q17_small_quantity_revenue",     # slice-window integer avg (r9)
    "h_struct_map_suite",       # two-level decimal partial rollup (r9)
    "x_stream_ann_batch_twin",  # persisted-index probe, unioned micro-batches
    "x_dedup_prefix_filter_join",  # prefix-filter candidates + exact verify
    "x_dedup_pipeline_end_to_end",  # LSH candidates + exact verify keep-list
    "x_dedup_cc_keep",          # verified pairs -> connected components
    "x_quality_prune",          # two-level range percent_rank (rank must
                                # not depend on range-partition count)
]


def _rows(df):
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)  # full bit precision
        return str(v)

    cols = sorted(df.columns)
    order = [df.columns.index(c) for c in cols]
    return sorted("|".join(cell(r[i]) for i in order) for r in df.collect())


@pytest.mark.parametrize("name", QUERIES)
def test_results_invariant_to_partitioning(spark, name):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _rows(CATALOG[name].fn(spark, SF_SMOKE))
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        b = _rows(CATALOG[name].fn(spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b, f"{name}: results depend on partitioning"
