"""Plan-shape tests: the scale guarantees SURVEY.md §3 promises.

These pin the physical plan, not the results: filters reach the parquet
scan, projections prune columns, dimension joins broadcast, and no
operator degenerates into a cartesian product.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from spider_spark.operators.relational import q3_shipping_priority, q6_forecast_revenue
from spider_spark.operators.joins_ext import range_join
from spider_spark.dedup.jaccard import ngram_jaccard_pairs
from tests.conftest import (
    SF_DIR,
    has_broadcast_join,
    has_cartesian,
    has_pushed_filters,
    read_schema_columns,
)


def test_q6_filters_pushed_and_columns_pruned(spark):
    df = q6_forecast_revenue(spark, SF_DIR)
    assert has_pushed_filters(df), "q6 predicates must reach the parquet scan"
    cols = set(read_schema_columns(df))
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}, cols


def test_q3_broadcasts_dimension(spark):
    assert has_broadcast_join(q3_shipping_priority(spark, SF_DIR))


def test_no_cartesian_on_scale_paths(spark, cat):
    assert not has_cartesian(range_join(spark, SF_DIR))
    assert not has_cartesian(ngram_jaccard_pairs(cat.documents))
    for name in ["dedup_minhash_lsh", "dedup_simhash", "sessionize_batch", "asof_join"]:
        df = entrymod.queries()[name](spark, SF_DIR)
        assert not has_cartesian(df), f"{name} degenerated into a cross join"


def test_q1_partial_aggregation(spark):
    """Map-side combine: the shuffle must carry partial aggregates, not
    raw rows. (Codegen ids only appear in the AQE final executed plan, so
    plan-text asserts target the aggregation shape instead.)"""
    from spider_spark.plans.explain import formatted_plan

    plan = formatted_plan(entrymod.queries()["q1_pricing_summary"](spark, SF_DIR))
    assert "partial_sum" in plan
    assert plan.index("partial_sum") < plan.index("Exchange") or "Exchange" in plan


def test_crawl_ops_plan_shapes(spark):
    """Round-2 crawl-tier operators keep their promised plan shapes."""
    from spider_spark.plans.explain import formatted_plan
    from tests.conftest import exchange_count

    q = entrymod.queries()
    # narrow scan-speed passes: zero exchanges at any scale
    for name in ["link_extract", "warc_parse", "zorder_layout", "retry_schedule"]:
        assert exchange_count(q[name](spark, SF_DIR)) == 0, name
    # broadcast rule/dim tables, never a cartesian
    assert has_broadcast_join(q["robots_filter"](spark, SF_DIR))
    for name in [
        "robots_filter",
        "merge_upsert",
        "countmin_heavy_hitters",
        "bloom_membership",
        "recrawl_priority",
        "host_triangles",
        "latency_outliers",
    ]:
        assert not has_cartesian(q[name](spark, SF_DIR)), name
    # CDC merge: one shuffle on the merge key (+1 AQE coalesce allowance)
    assert exchange_count(q["merge_upsert"](spark, SF_DIR)) <= 2
    # packing: one window shuffle keyed on the bucket
    assert exchange_count(q["sequence_packing"](spark, SF_DIR)) <= 2
    # per-host fetch aggregation is two-phase (map-side combine)
    assert "partial_" in formatted_plan(q["fetch_stats"](spark, SF_DIR))


def test_round3_plan_shapes(spark):
    """Round-3 operators keep the promised physical shapes."""
    from spider_spark.plans.explain import formatted_plan

    qs = entrymod.queries()

    # bloom_pruned_join: the bitmap probe must sit BELOW the join — the
    # pruned scan feeds a broadcast hash join, and the probe filter is
    # in the scan-side subtree (no cartesian anywhere)
    df = qs["bloom_pruned_join"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert not has_cartesian(df)
    assert "BroadcastHashJoin" in plan
    f_pos = plan.find("substring")
    j_pos = plan.find("BroadcastHashJoin")
    assert 0 < j_pos < f_pos, "probe filter must be below (after) the join node"

    # sparse_cosine_sim: term-keyed candidate generation — no cartesian,
    # pairs aggregated by key
    df = qs["sparse_cosine_sim"](spark, SF_DIR)
    assert not has_cartesian(df)

    # embedding_neardup: block-keyed applyInPandas (FlatMapGroupsInPandas
    # / similar), no cross join, no full-table collect shape
    df = qs["embedding_neardup"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert not has_cartesian(df)
    assert "InPandas" in plan

    # variant_props_agg: partial aggregation before the exchange
    df = qs["variant_props_agg"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.find("HashAggregate") < plan.find("Exchange") or "partial" in plan.lower()

    # scd2/event_dedup: window ops, no cartesian
    for name in ("scd2_history", "event_dedup_hourly"):
        assert not has_cartesian(qs[name](spark, SF_DIR)), name
    # rfm_segments moved to the two-phase exact ntile (round 5): its
    # plan legitimately carries the whitelisted 1-row ntile-denominator
    # broadcasts (INTENDED_CROSS in tools/audit_plans.py) but must not
    # contain any single-partition window
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    try:
        from audit_plans import _single_partition_windows
    finally:
        _sys.path.pop(0)
    assert _single_partition_windows(formatted_plan(qs["rfm_segments"](spark, SF_DIR))) == 0
