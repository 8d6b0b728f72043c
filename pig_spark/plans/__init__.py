"""Plan inspection & linting — scale-readiness checks on Catalyst plans.

Pig exposes EXPLAIN of its three IRs (GruntParser.java:330); here the
single IR is the Catalyst plan, and what matters at 100 TB is *plan
shape*: filters pushed to the scan, columns pruned, small dims
broadcast, no Python row UDFs in hot paths. ``lint_plan`` inspects the
executed-plan string for those properties so tests can assert them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)  # noqa: SLF001


def lint_plan(df: DataFrame) -> dict[str, object]:
    """Heuristic plan facts for assertions/benchmark reports."""
    s = plan_string(df, "formatted")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan_string(df, "codegen"))
    return {
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", s)),
        "broadcast_joins": s.count("BroadcastHashJoin"),
        "sortmerge_joins": s.count("SortMergeJoin"),
        "shuffles": s.count("Exchange"),
        "python_udfs": ("BatchEvalPython" in s) or ("ArrowEvalPython" in s),
        "wholestage_codegen": bool(m) and int(m.group(1)) > 0,
        "cartesian": ("CartesianProduct" in s) or ("BroadcastNestedLoopJoin" in s),
    }


def executed_plan_string(df: DataFrame) -> str:
    """Run the plan and return the final adaptive physical plan — the
    only place codegen spans and AQE decisions are visible. Test-sized
    inputs only (collects the result to finalize the plan)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


# order columns whose domain is bounded by the partition count — the
# per-partition totals table of the two-pass running sums (operators/
# prefix.py). An unpartitioned window over these sorts ≤ #partitions
# rows; over anything else it sorts the DATA in one task.
_BOUNDED_ORDER_COLS = {"__pid"}


def unpartitioned_windows(plan: str, allow_order_cols: set[str] = _BOUNDED_ORDER_COLS) -> list[str]:
    """Window specs in an optimizedPlan string that have NO partition
    columns and order by something outside ``allow_order_cols`` — the
    single-partition-sort scale-killer shape (every row through one
    task). Catalyst prints ``windowspecdefinition(part..., ord ASC/
    DESC..., frame)``; no partition cols ⇔ the first argument carries
    a sort direction."""
    out: list[str] = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        start = m.end()
        depth, i = 1, start
        while i < len(plan) and depth:
            if plan[i] == "(":
                depth += 1
            elif plan[i] == ")":
                depth -= 1
            i += 1
        args = plan[start : i - 1]
        # first top-level argument
        d, j = 0, 0
        while j < len(args) and (d or args[j] != ","):
            if args[j] in "([":
                d += 1
            elif args[j] in ")]":
                d -= 1
            j += 1
        first = args[:j].strip()
        if " ASC" in first or " DESC" in first:  # unpartitioned
            col = re.split(r"[ #]", first)[0]
            if col not in allow_order_cols:
                out.append(f"windowspecdefinition({args[:80]}...")
    return out


def read_schema_width(df: DataFrame) -> int:
    """Number of columns actually read from the scan (column pruning
    check: a 2-column projection must not read 16)."""
    s = plan_string(df, "formatted")
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    if not m:
        return -1
    return len([c for c in m.group(1).split(",") if c])


# ----------------------------------------------------------------------
# plan rendering for EXPLAIN -dot / -xml (r8) — GruntParser's
# processExplain format options, reinterpreted Spark-first: the graph
# is the CATALYST OPTIMIZED PLAN (the artifact that matters on this
# engine), rendered from the plan tree's indentation structure
# (3 chars per level, ":-"/"+-" child markers).
# ----------------------------------------------------------------------

import re as _re


def _plan_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, label) per operator line of a Catalyst plan toString;
    codegen stage markers (*(n)) are stripped from labels."""
    nodes: list[tuple[int, str]] = []
    for ln in plan.splitlines():
        if not ln.strip():
            continue
        m = _re.search(r"[:+]- ", ln)
        if m is None:
            if nodes:  # continuation/detail line, not an operator
                continue
            depth, label = 0, ln.strip()
        else:
            depth = m.start() // 3 + 1
            label = ln[m.end():].strip()
        label = _re.sub(r"^\*\(\d+\) ", "", label)
        nodes.append((depth, label))
    return nodes


def plan_dot(df: DataFrame, max_label: int = 96) -> str:
    """Graphviz DOT of the optimized plan (EXPLAIN -dot)."""
    nodes = _plan_tree(df._jdf.queryExecution().optimizedPlan().toString())
    out = ["digraph plan {", "  node [shape=box];"]
    stack: list[tuple[int, int]] = []  # (depth, node id)
    for i, (depth, label) in enumerate(nodes):
        short = label if len(label) <= max_label else label[: max_label - 1] + "…"
        short = short.replace("\\", "\\\\").replace('"', '\\"')
        out.append(f'  n{i} [label="{short}"];')
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if stack:
            out.append(f"  n{stack[-1][1]} -> n{i};")
        stack.append((depth, i))
    out.append("}")
    return "\n".join(out)


def plan_xml(df: DataFrame, max_label: int = 160) -> str:
    """Nested XML of the optimized plan (EXPLAIN -xml)."""
    from xml.sax.saxutils import escape, quoteattr

    nodes = _plan_tree(df._jdf.queryExecution().optimizedPlan().toString())
    out = ['<?xml version="1.0"?>', "<plan>"]
    stack: list[int] = []
    for depth, label in nodes:
        while stack and stack[-1] >= depth:
            stack.pop()
            out.append("  " * (len(stack) + 1) + "</node>")
        op = label.split(" ", 1)[0].split("[", 1)[0]
        detail = label if len(label) <= max_label else label[: max_label - 1] + "…"
        out.append(
            "  " * (depth + 1)
            + f"<node op={quoteattr(op)} detail={quoteattr(detail)}>"
        )
        stack.append(depth)
    while stack:
        stack.pop()
        out.append("  " * (len(stack) + 1) + "</node>")
    out.append("</plan>")
    return "\n".join(out)
