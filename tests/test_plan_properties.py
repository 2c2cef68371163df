"""Physical-plan regression guards for the headline queries.

These pin the *shape* facts SCALE.md claims — shuffle counts, broadcast
joins, no accidental Python stages — so a future edit that silently
degrades a plan (adds an exchange, drops a broadcast, re-inlines a
tokenizer into a lambda) fails here, not in a benchmark regression.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from audit_plans import audit  # noqa: E402

from ipeds_etl_spark import queries as q

SF = "/root/testdata/sf0.001"

# query -> (max exchanges, min broadcast joins, max python stages)
EXPECTATIONS = {
    "kpi_yearly": (1, 0, 0),
    "latest_per_key_agg": (1, 0, 0),
    "enrich_join": (0, 3, 0),          # whole dim chain broadcasts
    "dim_lookup_agg": (1, 2, 0),
    "sentinel_clean": (0, 0, 0),       # map-only
    "coalesce_pick": (0, 0, 0),
    "stable_hash": (0, 0, 0),
    # text_quality/doc_fingerprint carry ONE round-robin exchange: the
    # conditional scan-widening floor (docs_scan) — a single tiny-file row
    # group otherwise serializes the per-gram sha256 stage on one core.
    # The compute itself is still map-only (no key ever crosses rows).
    "text_quality": (1, 0, 0),
    "doc_fingerprint": (1, 0, 0),
    "dedup_exact": (1, 0, 0),
    # round-5: signature build is MAP-ONLY (array_min over the hashed
    # shingle array) — the only shuffles left are bucket agg + distinct
    "dedup_minhash_lsh": (2, 0, 0),
    "dedup_simhash": (3, 0, 0),
    "multimodal_features": (0, 0, 1),  # exactly the one Arrow stage
    "events_window_hourly": (1, 0, 0),
    # round-2 additions
    "docs_split_and_sample": (0, 0, 0),   # sampling must stay map-only
    "docs_chunk_windows": (0, 0, 0),      # chunking is map-only row expansion
    "docs_pack_sequences": (1, 0, 0),     # window + agg share the source key
    "docs_length_zscore": (1, 1, 0),      # one moments agg + broadcast back
    "events_click_attribution": (1, 1, 0),
    "events_pivot_types": (2, 0, 0),
    "orders_profile": (2, 0, 0),          # countDistinct Expand rewrite
    "nation_top2_customers": (1, 1, 0),   # decorrelated to broadcast + window
    "orders_range_join_bucketed": (2, 1, 0),
    # round-3 additions, re-shaped opt r13 (c3247de) then opt r14: the
    # in-bucket expand+verify computes threshold hits INSIDE the bucket
    # expansion — both vector re-attach joins (and their broadcasts)
    # are gone; only the bucket groupBy + chunk repartition exchanges
    # remain, and as of r14 the per-pair cosine runs in ONE sanctioned
    # MapInArrow stage (bit-identical numpy fold, arrowverify module)
    "emb_near_dups": (2, 0, 1),
    "emb_rp_lsh_near_dups": (2, 0, 1),
    "docs_repetition_filters": (1, 0, 0),  # map-only + scan-widening floor
    "docs_decontaminate": (3, 1, 0),       # eval shingle set broadcast
    "docs_token_diversity": (2, 0, 0),
    "events_value_histogram": (2, 0, 0),
    # round-4 additions
    "docs_source_quota_sample": (2, 1, 0),  # count agg + window on sliver
    "orders_bloom_semi_join": (2, 1, 0),    # bloom build agg + final agg
    # (gram,doc) agg + gram agg + docs_scan scan-widening floor; top-k
    "docs_ngram_heavy_hitters": (3, 0, 0),
    "docs_bm25_search": (1, 1, 0),          # one global-stats agg, broadcast back
    # round-5 additions
    "lineitem_pricing_summary": (1, 0, 0),  # scan → partial agg → final
    "customer_scd2": (1, 0, 0),             # all 3 windows on ONE custkey shuffle
    "orders_market_basket": (3, 0, 0),      # distinct + bucket expand + pair count
    "events_top_paths": (2, 0, 0),          # user window + path count
    "customer_cohort_ltv": (3, 1, 0),       # firsts agg bcast back + Expand distinct
    # FULL OUTER cannot broadcast — the merge join over two
    # pre-aggregated 25-row sides is the correct (and only) plan
    "nations_customer_supplier_balance": (2, 0, 0, 1),
    # round-5 second wave
    "events_resample_locf": (3, 2, 0),   # compaction + grid distinct + fill window
    "orders_yoy_growth": (2, 0, 0),      # year agg + O(years) window
    "customer_rfm_scores": (5, 3, 0),    # rfm agg ×2 sides + quartile agg, bcast back
    # TPC-H Q3/Q5 shapes: filters pushed, dims broadcast, ONE big
    # shuffle (the orderkey join + agg reuse each other's key)
    "orders_shipping_priority": (1, 2, 0),
    "regional_supplier_volume": (2, 5, 0),
    # round-7 additions (TPC-H Q18/Q7/Q20/Q11 shapes + corpus signals)
    # Q18: semi + groupBy share the orderkey exchange; cust/dim bcast
    "customers_large_orders": (3, 4, 0),
    "nations_trade_volume": (2, 5, 0),   # all four dim branches bcast
    "suppliers_dominant_parts": (4, 2, 0),
    # map-side shingle dedup → ONE hash exchange + per-doc rollup
    "docs_dup_ngram_fraction": (2, 0, 0),
    "events_dau_wau_stickiness": (7, 2, 0),  # day-sized frames beyond the grid distinct
    "nation_part_value_concentration": (4, 4, 0),
    # Q13: ON-clause filter preserved under the outer join; custkey
    # exchange shared by join+agg; count-domain 2nd agg
    "customer_order_distribution": (3, 1, 0),
    # Q19: ONE broadcast join, disjunction as residual, partial pushdown
    "parts_promo_revenue_disjunctive": (1, 1, 0),
    # Q12/Q14/Q16 shapes
    "lineitem_priority_shipping_counts": (2, 1, 0),
    "parts_promo_revenue_share": (1, 1, 0),
    "parts_supplier_counts_excluded": (3, 2, 0),
    # TPC-H completion wave: Q4/Q6/Q8/Q9/Q10/Q15/Q2 shapes
    "orders_priority_late_exists": (2, 1, 0),
    "lineitem_discount_revenue": (1, 0, 0),   # the plan IS the scan
    "nation_market_share": (2, 6, 0),
    "nation_year_red_revenue": (2, 3, 0),
    "customers_returned_revenue_top": (1, 3, 0),
    "top_supplier_by_revenue": (4, 1, 0),
    "parts_cheapest_supplier": (4, 3, 0),
    # round-8 late wave: anchor batches broadcast (the 5-row side),
    # anchor-side scans filter-pushed (doc_id/vec_id < 5), fusion /
    # re-attach joins pinned shuffle_hash (never SMJ), zero Python
    "docs_hybrid_rrf": (8, 2, 0),
    "docs_hard_negatives": (8, 1, 0),
    # round-9 wave: CDC chunking is per-doc window + chunk-hash
    # exchange reused by the accounting join; DP histogram and the
    # packing audit are one source agg of codegen arithmetic; SRM is
    # distinct + agg sharing nothing corpus²; zero Python everywhere
    "docs_cdc_chunk_dedup": (8, 0, 0),
    "docs_dp_source_histogram": (2, 0, 0),
    "events_srm_check": (3, 0, 0),
    "docs_packing_fragmentation": (2, 0, 0),
}


@pytest.mark.parametrize("name", sorted(EXPECTATIONS))
def test_plan_shape(spark, name):
    max_ex, min_bcast, max_py = EXPECTATIONS[name][:3]
    max_smj = EXPECTATIONS[name][3] if len(EXPECTATIONS[name]) > 3 else 0
    a = audit(q.queries()[name](spark, SF))
    assert a["exchanges"] <= max_ex, f"{name}: {a['exchanges']} exchanges > {max_ex}"
    assert a["broadcast_joins"] >= min_bcast, (
        f"{name}: {a['broadcast_joins']} broadcast joins < {min_bcast}"
    )
    assert a["sortmerge_joins"] <= max_smj, f"{name}: unexpected sort-merge join"
    assert a["python_stages"] <= max_py, f"{name}: unexpected Python stage"


def test_not_in_plans_null_aware_anti_join(spark):
    """The Q16 NOT IN must plan as a NULL-AWARE anti join (the trailing
    `true` on the LeftAnti BroadcastHashJoin) — a plain anti join has
    different semantics when the denylist can contain NULLs."""
    df = q.queries()["parts_supplier_counts_excluded"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"BroadcastHashJoin .*LeftAnti, BuildRight, (\w+)", plan)
    assert m is not None, plan
    assert m.group(1) == "true"  # isNullAwareAntiJoin


def test_bucketed_range_join_has_no_nested_loop(spark):
    """The range-join scale path must plan as an equi-join on the time
    bucket — a BroadcastNestedLoopJoin would mean the bucketing didn't
    take and the operator degrades to O(facts x intervals)."""
    df = q.queries()["orders_range_join_bucketed"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # and the plain formulation is indeed the nested-loop one (the
    # contrast that justifies the operator)
    plain = q.queries()["orders_range_join_periods"](spark, SF)
    assert "BroadcastNestedLoopJoin" in plain._jdf.queryExecution().executedPlan().toString()


def test_revenue_gini_rank_is_range_partitioned_not_single_task(spark):
    """customer_revenue_gini's whole reason to exist as a Spark form:
    the global rank must come from the two-phase range exchange, NOT a
    `row_number() OVER (ORDER BY ...)` window, whose plan funnels the
    full table through one `Exchange SinglePartition` task. Allowed
    SinglePartition exchanges: exactly the final metadata-sized 1-row
    aggregate combine."""
    df = q.queries()["customer_revenue_gini"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    # the range exchange itself sits BEHIND global_row_number's
    # localCheckpoint boundary (the ranged frame is pinned so counts
    # and ranks see one assignment), so the visible two-phase
    # signature is the window keyed on the range-partition id
    assert "hashpartitioning(__pid" in plan, (
        "two-phase rank signature missing — the rank is not windowed "
        "on the range-partition id"
    )
    assert plan.count("singlepartition") <= 1, (
        "extra SinglePartition exchange — the rank degraded to the "
        "global-window form"
    )
