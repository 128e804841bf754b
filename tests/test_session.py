"""spider_spark.session: settings whose effect only shows across ops."""

from __future__ import annotations

import __spark_entry__ as entry

# The perfbench olap queries: their plans need more than the default
# 100-entry codegen cache (191 distinct generated classes).
WORKING_SET = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_profit_by_nation", "q18_large_orders", "q21_late_suppliers",
    "q2_min_cost_supplier", "top_k_per_group", "customer_ltv_rank",
    "asof_join", "sessionize_batch", "windowed_event_counts",
    "cohort_retention",
]


def test_codegen_cache_holds_the_plan_working_set(spark, sf_dir):
    """Re-running a set of plans reuses their generated classes: the
    second pass adds (almost) no Janino compilations."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = entry.queries()

    def run_all() -> int:
        before = compiles.getCount()
        for name in WORKING_SET:
            queries[name](spark, sf_dir).collect()
        return compiles.getCount() - before

    first = run_all()
    second = run_all()
    assert second <= 5, f"second pass recompiled {second} classes (first pass {first})"
