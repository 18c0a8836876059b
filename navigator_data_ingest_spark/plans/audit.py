"""Physical-plan audits: the scale guardrails as testable predicates.

SURVEY.md §4's rules ("broadcast the dims", "push filters to the scan",
"stay inside whole-stage codegen", "no cartesian products") only stay
true under refactoring if they are asserted. These helpers parse
``EXPLAIN`` output into numbers tests can pin:

    assert plan_audit(q5(spark, sf)).broadcast_joins >= 2
    assert "l_shipdate" in " ".join(pushed_filters(q1(spark, sf)))

They read the explain strings rather than walking the JVM plan tree via
py4j internals — the text format is the stable public surface of
``EXPLAIN``. In FORMATTED mode every physical operator appears exactly
once as a ``(n) OperatorName`` detail header, which is what the
counters match; codegen stage ids (``*(n)``) only appear in simple
mode, so that mode backs ``codegen_stage_count``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

_NODE = re.compile(r"^\((\d+)\) (\w+)", re.MULTILINE)


def _explain(df: DataFrame, mode: str) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), mode
    )


def formatted_plan(df: DataFrame) -> str:
    """The EXPLAIN FORMATTED text of the DataFrame's physical plan."""
    return _explain(df, "formatted")


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan (column-pruning evidence)."""
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


_WINDOW_ARGS = re.compile(
    r"^\(\d+\) Window(GroupLimit)?\s*$(?:\n(?!\(\d+\)).*?)*?"
    r"^Arguments: (.*)$",
    re.MULTILINE,
)


def unpartitioned_window_count(df: DataFrame) -> int:
    """Window operators whose partition spec is EMPTY (global windows).

    A global window funnels every row through ONE task — fine on a
    bounded intermediate (a <=1024-row block table, a 1-row moment row),
    fatal on an unbounded corpus at 100 TB. The formatted-explain
    ``Arguments:`` line renders as top-level bracket groups and OMITS an
    empty partition list: ``[defs], [partition], [order]`` when
    partitioned+ordered, ``[defs], [partition]`` when partitioned only,
    but ``[defs], [order …ASC/DESC…]`` when GLOBAL — so a window is
    global iff there are exactly two groups and the last one is an
    order spec (carries ASC/DESC), or only the defs group exists.
    """
    n = 0
    for m in _WINDOW_ARGS.finditer(formatted_plan(df)):
        groups = re.split(r"\], \[", m.group(2).strip())
        if m.group(1):
            # WindowGroupLimit (the rank<=k pushdown Spark inserts above
            # a partitioned rank filter): Arguments are
            # ``[partition], [order], func, k, mode`` — it is global iff
            # the FIRST group is the order spec (carries ASC/DESC).
            if groups and re.search(r"\b(ASC|DESC)\b", groups[0]):
                n += 1
            continue
        if len(groups) < 2:
            n += 1  # no partition, no order
        elif len(groups) == 2 and re.search(r"\b(ASC|DESC)\b", groups[1]):
            n += 1  # second group is the ORDER spec: partition absent
    return n


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct WholeStageCodegen spans (``*(n)`` markers, simple mode)."""
    return len(set(re.findall(r"\*\((\d+)\)", _explain(df, "simple"))))


# A tree line of the formatted plan: ``:  +- Name args (n)``. Each child
# sits three columns right of its parent; ``:-`` is a left child, ``+-``
# the last one.
_TREE_NODE = re.compile(r"^((?:[ :]  )*(?:[+:]- )?)([A-Z]\w*)(.*) \((\d+)\)$", re.M)
_NO_KEYS = re.compile(r"^Keys: \[\]$", re.M)
_REUSES = re.compile(r"Reuses operator id: (\d+)")
_NESTED_LOOPS = ("BroadcastNestedLoopJoin", "CartesianProduct")
_AGGREGATES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
# one child, and never more rows out than in
_NARROWING = _AGGREGATES + (
    "AQEShuffleRead",
    "BroadcastExchange",
    "Coalesce",
    "CollectLimit",
    "Exchange",
    "Filter",
    "GlobalLimit",
    "LocalLimit",
    "Project",
    "Sort",
    "TakeOrderedAndProject",
    "Window",
    "WindowGroupLimit",
)


def _unbounded_nested_loops(text: str) -> int:
    heads = list(_NODE.finditer(text))
    details = {
        int(m.group(1)): (m.group(2), text[m.end() : end])
        for m, end in zip(heads, [h.start() for h in heads[1:]] + [len(text)])
    }
    children: dict[int, list[int]] = {}
    args: dict[int, str] = {}
    stack: list[tuple[int, int]] = []  # (column, id) of the open ancestors
    for m in _TREE_NODE.finditer(text):
        col, name, nid = len(m.group(1)), m.group(2), int(m.group(4))
        if details.get(nid, ("",))[0] != name:
            continue  # a detail line that happens to end in "(n)"
        while stack and stack[-1][0] >= col:
            stack.pop()
        if stack:
            children[stack[-1][1]].append(nid)
        stack.append((col, nid))
        children[nid] = []
        args[nid] = m.group(3)

    def bounded(nid: int) -> bool:
        name, detail = details[nid]
        kids = children.get(nid, [])
        if name == "ReusedExchange":
            m = _REUSES.search(detail)
            return m is not None and bounded(int(m.group(1)))
        if name == "LocalTableScan":
            return True
        if name in _AGGREGATES and _NO_KEYS.search(detail):
            return True
        if name in _NESTED_LOOPS:
            return len(kids) == 2 and all(bounded(k) for k in kids)
        return name in _NARROWING and len(kids) == 1 and bounded(kids[0])

    n = 0
    for nid, kids in children.items():
        if details[nid][0] in _NESTED_LOOPS:
            build = kids[0] if "BuildLeft" in args[nid] else kids[-1]
            n += not bounded(build)
    return n


@dataclass
class PlanAudit:
    broadcast_joins: int
    sortmerge_joins: int
    shuffle_exchanges: int
    codegen_stages: int
    cartesian_products: int
    # nested-loop and cartesian joins whose build side (a cartesian
    # product's right side) is not bounded by construction: bounded
    # means a global aggregate, a LocalTableScan or a nested-loop join
    # of two bounded sides, under operators that never add rows
    unbounded_nested_loops: int
    parquet_scans: int


def plan_audit(df: DataFrame) -> PlanAudit:
    text = formatted_plan(df)
    counts: dict[str, int] = {}
    for _, name in _NODE.findall(text):
        counts[name] = counts.get(name, 0) + 1
    return PlanAudit(
        broadcast_joins=counts.get("BroadcastHashJoin", 0),
        sortmerge_joins=counts.get("SortMergeJoin", 0),
        shuffle_exchanges=counts.get("Exchange", 0),
        codegen_stages=codegen_stage_count(df),
        cartesian_products=counts.get("CartesianProduct", 0)
        + counts.get("BroadcastNestedLoopJoin", 0),
        unbounded_nested_loops=_unbounded_nested_loops(text),
        parquet_scans=counts.get("Scan", 0),
    )
