"""The plan rules of tools/audit_plans.py on synthetic executed-plan
strings: no Spark session, only the text the correctness sweep reads
after each query's action."""

from __future__ import annotations

from tools import audit_plans

_SCAN = "+- FileScan parquet [l_orderkey#1L,l_ship_month#2] Batched: true\n"

_NESTED_LOOP = (
    "AdaptiveSparkPlan isFinalPlan=true\n"
    "+- BroadcastNestedLoopJoin BuildRight, Cross\n"
    "   :- LocalTableScan [n_name#3]\n"
    "   +- BroadcastQueryStage 0\n"
)

_ROW_PYTHON = (
    "AdaptiveSparkPlan isFinalPlan=true\n"
    "+- Project [priority_class(o_totalprice#4)#9 AS cls#10]\n"
    "   +- BatchEvalPython [priority_class(o_totalprice#4)#9], [pythonUDF0#11]\n"
)

_BARE_WINDOW = (
    "AdaptiveSparkPlan isFinalPlan=true\n"
    "+- Window [rank(cnt#5L) windowspecdefinition(cnt#5L DESC NULLS LAST, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rk#6], "
    "[cnt#5L DESC NULLS LAST]\n"
)

_PARTITIONED_WINDOW = (
    "AdaptiveSparkPlan isFinalPlan=true\n"
    "+- Window [rank(cnt#5L) windowspecdefinition(source#7, cnt#5L DESC NULLS LAST, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rk#6], "
    "[source#7], [cnt#5L DESC NULLS LAST]\n"
)

_DPP = (
    "+- FileScan parquet [l_orderkey#1L,l_ship_month#2] Batched: true, "
    "PartitionFilters: [isnotnull(l_ship_month#2), "
    "dynamicpruningexpression(l_ship_month#2 IN dynamicpruning#8)]\n"
)


def test_nested_loop_join_needs_the_whitelist():
    assert "join_cross" in audit_plans.NL_WHITELIST
    assert audit_plans.violations("join_cross", _NESTED_LOOP) == []
    assert audit_plans.violations("q3_shipping_priority", _NESTED_LOOP) == [
        "q3_shipping_priority: nested-loop/cartesian join in plan"
    ]
    assert audit_plans.violations(
        "q3_shipping_priority", _NESTED_LOOP.replace("BroadcastNestedLoopJoin", "CartesianProduct")
    ) == ["q3_shipping_priority: nested-loop/cartesian join in plan"]


def test_row_python_needs_the_whitelist():
    assert audit_plans.violations("udf_priority_class", _ROW_PYTHON) == []
    assert audit_plans.violations("q1_pricing_summary", _ROW_PYTHON) == [
        "q1_pricing_summary: row-at-a-time Python UDF in plan"
    ]


def test_bare_window_is_flagged_and_a_partitioned_one_is_not():
    (msg,) = audit_plans.violations("q1_pricing_summary", _BARE_WINDOW)
    assert msg.startswith("q1_pricing_summary: 1 partition-less Window(s)")
    assert audit_plans.violations("yoy_growth_by_month", _BARE_WINDOW) == []
    assert audit_plans.violations("q1_pricing_summary", _PARTITIONED_WINDOW) == []


def test_required_partition_pruning_must_show_in_the_plan():
    name = "dpp_urgent_months_revenue"
    assert audit_plans.violations(name, _DPP) == []
    (msg,) = audit_plans.violations(name, _SCAN)
    assert msg.startswith(f"{name}: required partition pruning absent from executed plan")
    # A query no required-pattern table names needs no pattern.
    assert audit_plans.violations("q1_pricing_summary", _SCAN) == []
