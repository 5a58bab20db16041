"""Import every query-registering module and re-export the registry.

Import THIS (not svoe_spark.queries) anywhere the full registry is
needed — decorator registration only happens on module import.

Registry ORDER matters: the correctness driver hash-checks the FIRST
50 entries only. Rounds 1-2 driver-verified the relational core
(q1..supplier_balance_ranks, 50 green rows in CORRECTNESS_r01/r02);
round 3 rotated the never-driver-checked tail — the entire LLM-data
layer plus the post-50 relational queries — into the window (45 of 50
hash-green in CORRECTNESS_r03; the 5 non-green had driver-
canonicalizer traps, fixed since). Round 4 fronts (a) those 5 fixed
queries so their repair is driver-witnessed, (b) the new round-4
queries, then (c) refills with the relational core in its r2 order —
every query in the registry now has at least one hash-green driver
row, and the window rotates toward whatever is least recently
checked (README "Registry order" section).
"""

import svoe_spark.queries  # noqa: F401
import svoe_spark.queries_analytics  # noqa: F401
import svoe_spark.queries_llm  # noqa: F401
import svoe_spark.queries_profile  # noqa: F401
from svoe_spark.queries import QUERIES  # noqa: F401

# Names to surface into the driver's 50-entry window, in check order.
# Round 10 (VERDICT r9 ask 1): LEAD with the never-driver-checked
# round-9 quantile-sketch query plus the four r5-stale names that
# overflowed the r9 window (`orderbook_snapshots_cryptofeed`,
# `local_extrema`, `ewma_final_by_type`, `ewma_trend_by_type`), then
# refill with the queries whose newest driver row is CORRECTNESS_r06,
# in their r6 check order. 5 + 50 = 55 names; the first 50 of the
# rotated registry are the driver's window, the overflow rotates to
# round 11.
_DRIVER_PRIORITY = [
    "approx_quantiles_daily",
    "orderbook_snapshots_cryptofeed",
    "local_extrema",
    "ewma_final_by_type",
    "ewma_trend_by_type",
    "q3_shipping_priority",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_discounted_revenue",
    "orderbook_snapshots_bucketed",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_item",
    "q13_order_distribution",
    "q16_supplier_count",
    "q22_global_sales_opportunity",
    "resample_1h_ffill",
    "cube_returnflag_status",
    "supplier_balance_ranks",
    "ann_ivfpq_recall90",
    "unigram_tokens_oov",
    "corpus_filter_trained",
    "ann_ivfpq_batch",
    "ann_ivfpq_batch_refined",
    "pagerank_supply_graph",
    "scd2_user_state",
    "kmv_vocab_overlap",
    "zorder_cells",
    "ofi_1h",
    "asof_purchase_next_view",
    "asof_purchase_nearest_view",
    "ppr_trusted_suppliers",
    "hits_supply_graph",
    "bfs_hops_trusted",
    "tfidf_keywords_top3",
    "contrastive_crops",
    "embedding_jl_project",
    "mixed_language_docs",
    "pagerank_weighted_supply",
    "top_collocations",
    "dq_orders_report",
    "supplier_cograph_triangles",
    "event_transitions_30m",
    "event_hourly_anomalies",
    "value_cusum_alarms",
    "priority_sample_orders",
    "value_trend_by_type",
    "event_dwell_30m",
    "brand_association_rules",
    "doc_length_drift",
    "touch_attribution_72h",
    "trimmed_mean_value",
    "benford_order_values",
]

# Queue for names that should lead the NEXT round's window (none
# pending after the r10 rotation).
_PRIORITY_EXTRA: list[str] = []


def _rotate() -> None:
    front = [n for n in _DRIVER_PRIORITY + _PRIORITY_EXTRA if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(front)]
    ordered = {n: QUERIES[n] for n in front + rest}
    QUERIES.clear()
    QUERIES.update(ordered)


_rotate()
