"""Shared physical-plan fingerprint extraction (round-10 verdict item 6).

One place that reduces an executed-plan string to the strategy set the
audits care about — exchange count, join strategies, Python-eval
operators, partition-less windows. tools/check_correctness.py reads
each query's executed (AQE-final) plan once, after its action, and

- records this fingerprint per query in MANIFEST.json and diffs it in
  --manifest-check: a plan regression (a broadcast that silently
  demoted to SortMergeJoin, an extra shuffle, an Arrow path that fell
  back to row-at-a-time Python) becomes attributable to a commit even
  when the RESULT hash is unchanged, and
- checks the same plan string against tools/audit_plans.py's rules,
  which use the join, row-Python and bare-window detectors below.

The fingerprint is deliberately coarse (counts and operator names, no
expression text, no plan ids): it must be stable across runs of the
same tree on the same fixture, and flip only when the strategy set
actually changes.
"""

from __future__ import annotations

import re

ARROW_OPS = (
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    # r12: the cogroup and Arrow grouped-map operators were invisible to
    # the fingerprint (neither is a substring of the entries above), so
    # an Arrow->row regression in those plans was unattributable. The
    # three affected pre-r12 queries' manifest entries were rebaselined
    # in the same commit (apply_in_arrow_user_stats,
    # apply_in_arrow_group_stats, cogroup_apply_customer_orders).
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "BatchEvalPythonUDTF",
)
JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)
EXCHANGE_RE = re.compile(r"Exchange (?:hash|range)partitioning\([^\n]*")
#: Attribute ids and plan ids vary per instantiation/run; strip them so
#: the SAME logical exchange always normalizes to the same descriptor.
_EXCHANGE_NOISE_RE = re.compile(r"#\d+L?|plan_id=\d+|exprId=\d+")


def count_exchanges(plan: str) -> int:
    """DISTINCT normalized exchange descriptors, not raw occurrences.

    Raw counting is racy under AQE: when two IDENTICAL exchange
    subtrees (e.g. a query composing two pipelines over the same scan)
    materialize CONCURRENTLY, stage reuse may or may not kick in
    depending on which stage finishes first, so the printed plan shows
    the same exchange once or twice run-to-run (observed: ann_ndcg_at_k
    13 vs 15 raw exchanges between a solo and a loaded run, identical
    results and join strategies). Deduping on the partitioning
    expression text (attr/plan ids stripped) is stable under that race
    while still catching a genuinely new shuffle, which necessarily
    carries a different partitioning descriptor."""
    return len({_EXCHANGE_NOISE_RE.sub("", m) for m in EXCHANGE_RE.findall(plan)})


def count_exchanges_raw(plan: str) -> int:
    """Raw exchange occurrences, recorded informationally alongside the
    distinct count: deduping alone would mask a regression that adds a
    SECOND shuffle with an identical partitioning descriptor (a lost
    ReusedExchange, or a repartition re-added on the same key/count).
    The gate stays on the distinct count (stable under the AQE
    stage-reuse race); raw-count drift is surfaced as informational by
    check_correctness so same-descriptor duplications remain visible."""
    return len(EXCHANGE_RE.findall(plan))


def count_bare_windows(plan: str) -> int:
    """Partition-less Window operators: `Window [exprs], [order]` has one
    `], [` separator and its last bracket group is an ORDER spec."""
    n = 0
    for ln in plan.splitlines():
        stripped = ln.lstrip("+- :*(0123456789) ")
        if not stripped.startswith("Window "):
            continue
        groups = stripped.split("], [")
        if len(groups) == 2 and re.search(r"\b(ASC|DESC)\b", groups[-1]):
            n += 1
    return n


def has_row_python_udf(plan: str) -> bool:
    """Row-at-a-time Python eval detector (BatchEvalPythonUDTF
    substring-matches deliberately; the one table-argument UDTF is
    whitelisted in audit_plans.PYUDF_WHITELIST with a comment)."""
    return ("BatchEvalPython" in plan) or (
        "PythonUDF" in plan
        and not any(
            op in plan
            for op in (
                "ArrowEvalPython",
                "MapInPandas",
                "MapInArrow",
                "FlatMapGroupsInPandas",
            )
        )
    )


def extract(plan: str) -> dict:
    """Strategy-set fingerprint of an executed-plan string."""
    return {
        "exchanges": count_exchanges(plan),
        "exchanges_raw": count_exchanges_raw(plan),
        "joins": sorted(set(JOIN_RE.findall(plan))),
        "python_eval": sorted(
            [op for op in ARROW_OPS if op in plan]
            + (["BatchEvalPython"] if has_row_python_udf(plan) else [])
        ),
        "bare_windows": count_bare_windows(plan),
    }

