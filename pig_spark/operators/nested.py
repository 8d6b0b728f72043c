"""Nested FOREACH lowering (QueryParser.g:921-971 — per-group pipelines
of filter/order/distinct/limit over inner bags; LOForEach.java:38,54).

Pig evaluates these *inside each group's reducer bag*, streaming/
spilling via SortedDataBag / SecondaryKeyOptimizer.java. At 100 TB a
literal translation (collect_list then array functions) OOMs on hot
keys, so this module provides BOTH strategies (SURVEY §7.4 hard part 1):

1. **Flat lowering** (default, scale-safe): rewrite the nested op as an
   equivalent flat plan *before* any bag materializes —
   nested filter   → pre-group filter,
   nested order+limit (top-k per group) → window row_number ≤ k,
   nested distinct → distinct-before-group,
   nested count/agg → plain groupBy aggregates.
2. **Bag functions** (small-group fast path): higher-order functions on
   a materialized array<struct> column — filter(), array_sort with a
   comparator, array_distinct, slice — all JVM-evaluated, no Python.
   ``bag_sort`` is the engine's one bag comparator: the Latin
   translator and ``functions.TOP`` sort bags through it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ----------------------------------------------------------------------
# strategy 1: flat lowerings
# ----------------------------------------------------------------------


def topk_per_group(
    df: DataFrame,
    group_keys: Sequence[str],
    order_by: Sequence[str],
    k: int,
    ascending: bool | Sequence[bool] = False,
) -> DataFrame:
    """{ sorted = ORDER x BY c; lim = LIMIT sorted k; } and builtin TOP()
    (builtin/TOP.java:72) → ``row_number() ≤ k`` over a per-group
    window.

    Skew safety comes from CATALYST, not a hand-rolled two-level
    scheme: a ``rank/row_number ≤ k`` filter over a window plans as
    WindowGroupLimit with a PARTIAL phase before the exchange and a
    FINAL phase after (Spark ≥ 3.5) — every map task forwards at most
    k rows per group, so a data-sized hot group (GROUP BY lang)
    reaches its window partition as ≤ k × map-tasks rows, bounded by
    cluster config, not data. This is exactly the two-level top-k,
    run natively in codegen with ONE exchange. (r9 postscript: the
    round briefly shipped an explicit two-level rewrite here — two
    full shuffles — and the bench's A/B control caught it at a
    consistent ~1.4× on uniform data; the plan pin below asserts the
    Partial phase instead, which is the actual skew evidence. Rule:
    check what Catalyst already does before hand-scheduling around
    it.) Ties are implementation-chosen, exactly like Pig's
    TOP/nested LIMIT. ``ascending`` may be per-column
    (ORDER ... BY a DESC, b ASC).
    """
    if isinstance(ascending, bool):
        ascending = [ascending] * len(order_by)
    order = [F.col(c).asc() if a else F.col(c).desc() for c, a in zip(order_by, ascending)]
    w = Window.partitionBy(*group_keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ----------------------------------------------------------------------
# strategy 2: bag-column functions (post collect_list(struct))
# ----------------------------------------------------------------------


def bag_filter(bag: Column, predicate) -> Column:
    """nested FILTER over a bag column: predicate(struct) -> bool."""
    return F.filter(bag, predicate)


def bag_sort(bag: Column, order: Sequence[tuple[str, bool]]) -> Column:
    """Nested ORDER over a bag column: sort by ``[(field, ascending)]``
    keys, lexicographically, via array_sort with a comparator
    (JVM-side). ``'*'`` names the element itself — the key of a
    scalar-element bag. Pig's null ordering (DataType.compare): null is
    the smallest value, so nulls come first under an ascending key and
    last under a descending one."""

    def cmp(x: Column, y: Column) -> Column:
        out = F.lit(0)
        for fld, asc in reversed(order):
            xa, ya = (x, y) if fld == "*" else (x[fld], y[fld])
            lt, gt = (F.lit(-1), F.lit(1)) if asc else (F.lit(1), F.lit(-1))
            out = (
                F.when(xa.isNull() & ya.isNull(), out)
                .when(xa.isNull(), lt)
                .when(ya.isNull(), gt)
                .when(xa < ya, lt)
                .when(xa > ya, gt)
                .otherwise(out)
            )
        return out

    return F.array_sort(bag, cmp)


def bag_limit(bag: Column, n: int) -> Column:
    return F.slice(bag, 1, n)


def bag_distinct(bag: Column) -> Column:
    return F.array_distinct(bag)
