"""Physical-plan audit (scale discipline as a test): no query in the
registry may plan a CartesianProduct, and BroadcastNestedLoopJoin is
allowed only where a small broadcast side makes it the intended
physical op — the explicit allowlist below. A new query that
accidentally cross-joins two large inputs fails here before it ever
reaches a benchmark.
"""

from __future__ import annotations

import pytest

from flink_wikipedia_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

# Queries whose plans legitimately contain BroadcastNestedLoopJoin:
# every entry broadcasts a provably-small side (single-row scalar or a
# bounded kernel set), where BNLJ IS the efficient strategy.
BNLJ_ALLOWED = {
    "q_tfidf_top_terms",      # single-row corpus-count broadcast
    "q_similarity_topk",      # bounded query-vector kernel (brute-force baseline)
    "q_ann_ivf",              # small centroid table for coarse quantization
    "q_ivfpq_search",         # same coarse-assign centroid broadcast as q_ann_ivf
    "q_ann_ivfpq_refined",    # same coarse-assign broadcast, trained 16-row centroid table
    "q_semantic_dedup",       # same coarse-assign centroid broadcast as q_ann_ivf
    "q_embedding_neardup_kernel",  # bounded candidate kernel (LSH variant covers full corpus)
    "q_edit_distance_kernel",  # fixed tiny pair set
    "q_tpch_q22_dormant_accounts",  # single-row global-average broadcast
    "q_tpch_q11_important_stock",   # single-row stock-value-total broadcast
    "q_data_quality_audit",         # single-row checked-total broadcast per FK rule
}


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


@pytest.mark.parametrize(
    "name",
    sorted(n for n, qd in REGISTRY.items() if qd.alias_of is None),
)
def test_no_cartesian_and_bnlj_only_allowlisted(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a BroadcastNestedLoopJoin but is not allowlisted — "
            "either broadcast a provably-small side intentionally (and add it "
            "here with a reason) or fix the join keys"
        )


def test_driver_window_covers_every_family():
    """The driver's correctness gate reads only the FIRST 50 registry
    entries (CORRECTNESS_r01 stopped at slot 50) — losing a family from
    the window silently downgrades it to 'untested' in the next round's
    verdict. Pin the composition.

    NOTE: this test pins the CURRENT round's rotation and is updated in
    the same commit as plans/__init__._PRIORITY — its job is to catch a
    registration-order regression between rotations, plus the standing
    semantic invariant that every operator family keeps at least one
    in-window representative."""
    names = list(REGISTRY)[:50]
    assert names[0] == "q_windowed_edit_size"  # flagship = entry()
    # Current rotation (tools/rotate_window.py --changed ROUND_CHANGED,
    # see plans/__init__.py): flagship, the changed names, the family
    # anchors, then the stalest evidence — r12-vintage names
    # alphabetically, then the r13 band.
    families = {
        "changed": ["q_ann_ivf", "q_ann_ivfpq_refined",
                    "q_embedding_neardup_lsh", "q_ivfpq_search",
                    "q_lm_perplexity", "q_pq_codes", "q_semantic_dedup",
                    "q_simhash", "q_tfidf_top_terms",
                    "q_tpch_q16_supplier_variety"],
        "anchors": ["q_filter_events", "q_json_extract", "q_word_count",
                    "q_pii_redact", "q_dedup_docs_exact",
                    "q_multimodal_decode", "q_similarity_lsh",
                    "q_join_orders_customer", "q_tpch_q1_pricing_summary",
                    "q_rank_functions", "q_dedup_components",
                    "q_keyby_agg_edit_size"],
        "r12_vintage": [
            "q_pivot_user_event_values", "q_posexplode_tokens",
            "q_range_join_counts", "q_rollup_event_value",
            "q_salted_agg_edit_size", "q_sessionize", "q_setops_users",
            "q_top_events_by_value", "q_tpch_q10_returned_items",
            "q_tpch_q13_order_histogram", "q_tpch_q14_promo_share",
            "q_tpch_q4_priority_with_big_lines", "q_union_all_actions",
            "q_unpivot_part_metrics", "q_user_event_gaps",
            "q_value_moment_stats", "q_window_share_of_segment",
        ],
        "r13_vintage": [
            "q_asof_join", "q_cohort_retention", "q_contamination_check",
            "q_corr_quantity_price", "q_curation_funnel",
            "q_data_quality_audit", "q_date_functions",
            "q_dedup_canonical", "q_distribution_ranks", "q_doc_chunks",
        ],
    }
    missing = {
        fam: [q for q in qs if q not in names]
        for fam, qs in families.items()
        if any(q not in names for q in qs)
    }
    assert not missing, f"driver-window regression: {missing}"
    # the groups that define the rotation must union to the full window
    rotation = {"q_windowed_edit_size"}
    for fam in families:
        rotation.update(families[fam])
    assert rotation == set(names), (
        f"window/rotation mismatch: extra={set(names) - rotation} "
        f"unlisted={rotation - set(names)}"
    )
    # semantic coverage: every operator family keeps AT LEAST ONE
    # in-window representative each round, whatever the rotation picks
    # (a family regression must never be able to hide behind rotation)
    semantic = {
        "text": ["q_word_count", "q_lang_stats", "q_posexplode_tokens",
                 "q_gopher_quality", "q_c4_quality", "q_fingerprint"],
        "curation": ["q_pii_redact", "q_hash_sample",
                     "q_stratified_sample", "q_shuffle_shards"],
        "dedup": ["q_dedup_docs_exact", "q_minhash_dedup_clusters",
                  "q_minhash_signatures", "q_ngram_jaccard_pairs"],
        "similarity": ["q_ann_ivf", "q_ivfpq_search",
                       "q_embedding_neardup_lsh", "q_semantic_dedup",
                       "q_similarity_lsh"],
        "multimodal": ["q_multimodal_decode", "q_multimodal_frames"],
        "streaming_twin": ["q_sessionize", "q_keyby_agg_edit_size",
                           "q_windowed_edit_size"],
        "relational": ["q_cube_orders", "q_rollup_event_value",
                       "q_setops_users", "q_pivot_user_event_values",
                       "q_antijoin_inactive_users",
                       "q_join_orders_customer", "q_asof_join",
                       "q_gapfill_rollup", "q_snapshot_merge"],
        "tpch": ["q_tpch_q10_returned_items", "q_tpch_q13_order_histogram",
                 "q_tpch_q14_promo_share",
                 "q_tpch_q4_priority_with_big_lines",
                 "q_tpch_q1_pricing_summary", "q_tpch_q7_volume_shipping",
                 "q_tpch_q9_nation_year_profit",
                 "q_tpch_q16_supplier_variety",
                 "q_tpch_q17_small_quantity_revenue",
                 "q_tpch_q18_large_orders",
                 "q_tpch_q19_disjunctive_revenue",
                 "q_tpch_q21_sole_late_supplier"],
        "functions": ["q_window_share_of_segment", "q_user_event_gaps",
                      "q_median_value", "q_value_moment_stats",
                      "q_rank_functions", "q_running_total",
                      "q_window_navigation", "q_distribution_ranks",
                      "q_date_functions", "q_corr_quantity_price"],
        "iterative_graph": ["q_pagerank_parts_suppliers",
                            "q_pagerank_converged", "q_dedup_components"],
        "core": ["q_filter_events", "q_json_extract",
                 "q_windowed_edit_size"],
    }
    unrepresented = [fam for fam, qs in semantic.items()
                     if not any(q in names for q in qs)]
    assert not unrepresented, (
        f"operator families with NO in-window representative: {unrepresented}"
    )


# The names whose builders changed in the CURRENT round — the
# rotate_window rule-3 input. Updated each rotation, in the same commit
# as plans/__init__._PRIORITY.
ROUND_CHANGED = [
    "q_tpch_q16_supplier_variety", "q_pq_codes", "q_ivfpq_search",
    "q_ann_ivfpq_refined", "q_tfidf_top_terms", "q_embedding_neardup_lsh",
    "q_lm_perplexity",
    # ivf_assign, pq_d2_cols and simhash_fingerprints now backquote the
    # column names they splice into SQL
    "q_ann_ivf", "q_semantic_dedup", "q_simhash",
]


def test_priority_window_is_rotation_tool_output():
    """plans/__init__._PRIORITY must be EXACTLY what
    tools/rotate_window.py computes from the CORRECTNESS_r*.json
    history + this round's changed-names list — the rotation is
    mechanical as of r12, and a hand-edited window (or a stale one
    after the driver writes a new CORRECTNESS file at round start)
    fails here, forcing the re-rotation the standing policy requires."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo))
    from tools.rotate_window import load_history, load_registry, rotate

    expected = rotate(load_registry(), load_history(repo), ROUND_CHANGED)
    assert expected == list(REGISTRY)[:50]


def test_no_oracle_uses_nonportable_decimal_to_double():
    """Every decimal-sum → double conversion in an oracle must go
    through the portable floor/frac split (functions/compat.py
    sql_dec_sum_duckdb): a bare CAST(SUM(CAST(... AS DECIMAL)) AS
    DOUBLE) double-rounds past 2^53 and diverges from Spark by one ulp
    — exactly the sf1 TPC-H Q1 incident. A FLOOR-free match here means
    someone added an oracle with the old pattern.

    Two forms are flagged (ADVICE r6: the alias form previously evaded
    the audit entirely once subquery refactors routed sums through
    aliases):

    1. direct: CAST(SUM(... AS DECIMAL ...) [OVER (...)] AS DOUBLE)
    2. aliased: CAST(<ident> AS DOUBLE) where <ident> was assigned from
       SUM(CAST(... AS DECIMAL(>0 scale)...)) earlier in the same oracle
    """
    import re

    def _walk_parens(upper: str, start: int) -> int:
        """Index just past the ')' closing the paren opened before start."""
        depth, j = 1, start
        while j < len(upper) and depth:
            if upper[j] == "(":
                depth += 1
            elif upper[j] == ")":
                depth -= 1
            j += 1
        return j

    def decimal_sum_aliases(upper: str) -> set:
        """Aliases assigned from a scale>0 decimal SUM: SUM(...DECIMAL...)
        [OVER (...)] AS <ident>."""
        out, i = set(), 0
        while True:
            i = upper.find("SUM(", i)
            if i == -1:
                return out
            j = _walk_parens(upper, i + len("SUM("))
            inner = upper[i + len("SUM(") : j - 1]
            i = j
            if "AS DECIMAL" not in inner or "DECIMAL(38,0)" in inner:
                continue
            rest = upper[j:]
            m = re.match(r"\s*OVER\s*\(", rest)
            if m:
                rest = rest[_walk_parens(rest, m.end()) :]
            m = re.match(r"\s*AS\s+([A-Z_][A-Z0-9_]*)", rest)
            if m:
                out.add(m.group(1))

    def bare_casts(sql: str) -> bool:
        """True iff the SQL contains CAST(<expr> AS DOUBLE) where <expr>
        is a decimal SUM (directly, or via an alias defined in the same
        oracle) and is not FLOOR-guarded — walks parens, so the window
        form CAST(SUM(...) OVER (...) AS DOUBLE) is caught too."""
        upper = sql.upper()
        aliases = decimal_sum_aliases(upper)
        i = 0
        while True:
            i = upper.find("CAST(", i)
            if i == -1:
                return False
            inner_start = i + len("CAST(")
            j = _walk_parens(upper, inner_start)
            inner = upper[inner_start : j - 1]
            i = inner_start
            if not inner.rstrip().endswith("AS DOUBLE"):
                continue
            # the split form's terms CAST(FLOOR(S) AS DOUBLE) and
            # CAST(S - FLOOR(S) AS DOUBLE) are the portable pattern —
            # FLOOR inside the expression marks both as already safe
            if "FLOOR" in inner:
                continue
            expr = inner.rstrip()[: -len("AS DOUBLE")].strip()
            # scale-0 decimals are exempt from the direct form: with no
            # /10^scale step the direct cast is ONE correctly-rounded
            # int->double on both engines — the hazard needs scale > 0
            if expr.startswith("SUM(") and "DECIMAL(38,0)" not in inner:
                return True
            if re.fullmatch(r"[A-Z_][A-Z0-9_]*", expr) and expr in aliases:
                return True
    offenders = [
        name
        for name, qd in REGISTRY.items()
        if qd.oracle is not None and bare_casts(qd.oracle)
    ]
    assert not offenders, (
        f"non-portable decimal→double conversion in oracles: {offenders} "
        "— use functions.compat.sql_dec_sum_duckdb"
    )


def test_q21_single_scan_per_fact(spark):
    """Q21 regression: the EXISTS/NOT-EXISTS pair must stay a one-pass
    window plan. The earlier join-back formulation planned the
    lineitem⋈orders join TWICE (the countDistinct exchange carries
    partial-agg rows, so the probe side could not reuse it), doubling
    the dominant fact shuffle — at sf100 the duplication exhausted
    local disk. Each fact file may appear exactly once in the plan."""
    plan = _plan(spark, "q_tpch_q21_sole_late_supplier")
    assert plan.count("lineitem.parquet") == 1, "lineitem scanned more than once"
    assert plan.count("orders.parquet") == 1, "orders scanned more than once"


def _ancestors(plan: str, leaf: str) -> list[str]:
    """Operators on the path from the first plan line containing
    ``leaf`` up to the root, nearest first: walking up, each line indented
    less than the last one kept is the next ancestor."""
    lines = plan.splitlines()
    start = next(i for i, line in enumerate(lines) if leaf in line)

    def indent(line):
        return len(line) - len(line.lstrip(" :+-"))

    chain, depth = [], indent(lines[start])
    for line in reversed(lines[:start]):
        if line.strip() and indent(line) < depth:
            chain.append(line.strip(" :+-"))
            depth = indent(line)
    return chain


def test_q16_partial_aggregate_below_first_exchange(spark):
    """Q16 pin: the first aggregate above the lineitem scan is the
    (brand, type, size, suppkey) partial of COUNT(DISTINCT), in the scan's
    stage — no Exchange between them — in both the planned and the final
    adaptive plan. A pre-distinct of the (partkey, suppkey) pairs, the
    shape removed earlier, aggregates on the pair first and puts a full
    shuffle of every pair below the join."""
    name = "q_tpch_q16_supplier_variety"
    df = REGISTRY[name].fn(spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    for plan in (_plan(spark, name), final.split("== Initial Plan ==")[0]):
        chain = _ancestors(plan, "lineitem.parquet")
        first_agg = next(i for i, op in enumerate(chain) if "HashAggregate" in op)
        assert not [op for op in chain[:first_agg] if "Exchange" in op], chain
        assert "p_brand" in chain[first_agg] and "l_suppkey" in chain[first_agg], chain
        assert any("Exchange" in op for op in chain[first_agg:]), chain
