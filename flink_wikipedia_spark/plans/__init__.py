"""Query plans — the engine's public query surface.

``registry.py`` holds the name → (Spark builder, DuckDB oracle) mapping
that ``__spark_entry__.py`` exposes to the driver. Importing this
package populates the registry from every query module.
"""

from flink_wikipedia_spark.plans.registry import REGISTRY, QueryDef, alias, query

# Import for side effect: each module registers its queries.
from flink_wikipedia_spark.plans import queries_core  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_relational  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_tpch  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_functions  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_text  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_dedup  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_similarity  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_curation  # noqa: E402,F401

# The driver's correctness gate verifies the FIRST 50 registry entries
# only (CORRECTNESS_r01 stopped at slot 50), so registration order is
# part of the contract. STANDING WINDOW POLICY (coverage closed in
# round 8 — every registry query has at least one driver record):
#   1. flagship q_windowed_edit_size is always slot 1 (it is entry());
#   2. any query whose implementation changed this round goes in-window
#      (changed code with only stale evidence is untested code);
#   3. remaining slots refresh the STALEST evidence first — per-query
#      newest driver round comes from the CORRECTNESS_r*.json history;
#   4. one anchor per operator family stays in-window every round so a
#      family regression can never hide behind rotation;
#   5. no-oracle (rows-only) queries in the window are pre-declared
#      below so the verdict can check the gate outcome against a
#      written prediction.
#
# The window below is the verbatim output of ``python
# tools/rotate_window.py --changed <this round's changed names>`` (the
# names are tests/test_plan_audit.ROUND_CHANGED). When the driver
# commits a new CORRECTNESS_rN.json, re-run the tool, paste its output
# here and update ROUND_CHANGED + the families pin in
# tests/test_plan_audit.py in the same commit;
# test_priority_window_is_rotation_tool_output fails on a stale window
# by design. In-window names with no oracle (rows-only by design) are
# listed in the tool's pre-declaration block.
_PRIORITY = [
    "q_windowed_edit_size",  # r16
    "q_ann_ivf",  # r16
    "q_ann_ivfpq_refined",  # r16
    "q_embedding_neardup_lsh",  # r16
    "q_ivfpq_search",  # r16
    "q_lm_perplexity",  # r14
    "q_pq_codes",  # r12
    "q_semantic_dedup",  # r12
    "q_simhash",  # r13
    "q_tfidf_top_terms",  # r13
    "q_tpch_q16_supplier_variety",  # r13
    "q_filter_events",  # r16
    "q_json_extract",  # r16
    "q_word_count",  # r16
    "q_pii_redact",  # r16
    "q_dedup_docs_exact",  # r16
    "q_multimodal_decode",  # r16
    "q_similarity_lsh",  # r16
    "q_join_orders_customer",  # r16
    "q_tpch_q1_pricing_summary",  # r16
    "q_rank_functions",  # r16
    "q_dedup_components",  # r16
    "q_keyby_agg_edit_size",  # r16
    "q_pivot_user_event_values",  # r12
    "q_posexplode_tokens",  # r12
    "q_range_join_counts",  # r12
    "q_rollup_event_value",  # r12
    "q_salted_agg_edit_size",  # r12
    "q_sessionize",  # r12
    "q_setops_users",  # r12
    "q_top_events_by_value",  # r12
    "q_tpch_q10_returned_items",  # r12
    "q_tpch_q13_order_histogram",  # r12
    "q_tpch_q14_promo_share",  # r12
    "q_tpch_q4_priority_with_big_lines",  # r12
    "q_union_all_actions",  # r12
    "q_unpivot_part_metrics",  # r12
    "q_user_event_gaps",  # r12
    "q_value_moment_stats",  # r12
    "q_window_share_of_segment",  # r12
    "q_asof_join",  # r13
    "q_cohort_retention",  # r13
    "q_contamination_check",  # r13
    "q_corr_quantity_price",  # r13
    "q_curation_funnel",  # r13
    "q_data_quality_audit",  # r13
    "q_date_functions",  # r13
    "q_dedup_canonical",  # r13
    "q_distribution_ranks",  # r13
    "q_doc_chunks",  # r13
    # --- driver cutoff is 50; everything below is registry tail ---
]

# SURVEY.md §2 names the O5 and E6 inventory queries differently than
# their primary registrations; register the survey names as aliases so
# a line-by-line inventory check resolves either name. Registered
# BEFORE the reorder so _PRIORITY may place them inside the window.
alias("q_filter_human_main", "q_filter_events")
alias("q_antijoin_inactive_users", "q_antijoin_quiet_customers")


def _reorder() -> None:
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:  # fail loudly at import — a typo here silently demotes a query
        raise RuntimeError(f"priority list names unknown queries: {missing}")
    if len(_PRIORITY) != 50:
        raise RuntimeError(f"driver window must be exactly 50, got {len(_PRIORITY)}")
    tail = [n for n in REGISTRY if n not in set(_PRIORITY)]
    ordered = {n: REGISTRY[n] for n in [*_PRIORITY, *tail]}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()

__all__ = ["REGISTRY", "QueryDef", "alias", "query"]
