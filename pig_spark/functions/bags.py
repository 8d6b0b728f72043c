"""Pig bag/tuple/map builtins — the nested-model glue
(builtin/TOBAG.java, TOTUPLE.java, TOMAP.java, BagToString.java,
SIZE.java, IsEmpty.java, TOP.java, KEYSET.java, VALUELIST.java,
VALUESET.java, INVERSEMAP.java, PluckTuple.java, DIFF.java).

Bags are array<struct>, tuples are struct, maps are map<string,T>
(SURVEY §1.1). All JVM-side higher-order functions — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import nested as _nested


def _c(c) -> Column:
    return c if isinstance(c, Column) else F.lit(c)


def TOBAG(*cols: Column) -> Column:
    """TOBAG.java — bag of single-field tuples from scalars (literals
    coerce)."""
    return F.array(*[F.struct(_c(c).alias("t")) for c in cols])


def TOTUPLE(*cols: Column) -> Column:
    return F.struct(*[_c(c) for c in cols])


def TOMAP(*cols: Column) -> Column:
    """TOMAP.java — alternating key, value args (literal keys coerce).
    Null-keyed entries DROP: Pig's HashMap-backed map tolerates one
    null key, Spark maps cannot — dropping the entry is the closest
    semantics (the alternative is a per-row crash on dirty data)."""
    entries = F.array(
        *[
            F.struct(_c(k).alias("key"), _c(v).alias("value"))
            for k, v in zip(cols[0::2], cols[1::2])
        ]
    )
    return F.map_from_entries(F.filter(entries, lambda e: e["key"].isNotNull()))


def BagToString(bag: Column, delimiter: str = "_") -> Column:
    """BagToString.java — join bag elements into one chararray."""
    return F.array_join(F.transform(bag, lambda t: t.cast("string")), delimiter)


def BagToTuple(bag: Column) -> Column:
    """BagToTuple.java — flatten a bag into a single wide tuple: as array."""
    return F.flatten(F.transform(bag, lambda t: F.array(t.cast("string"))))


def SIZE(col: Column) -> Column:
    """SIZE.java family — element count; Pig returns long and NULL for
    null input (F.size alone yields -1 under the legacy conf)."""
    return F.when(col.isNull(), F.lit(None)).otherwise(F.size(col)).cast("long")


BagSize = SIZE
TupleSize = SIZE
MapSize = SIZE
ARITY = SIZE  # ARITY.java — deprecated tuple-width alias of SIZE


def IsEmpty(col: Column) -> Column:
    """IsEmpty.java — true for empty bag/map."""
    return F.size(col) == 0


def Distinct(bag: Column) -> Column:
    """Distinct.java — dedup a bag."""
    return F.array_distinct(bag)


def TOP(n: int, field: str, bag: Column, ascending: bool = False) -> Column:
    """TOP.java:72 — top-n tuples of a bag by one field (priority queue
    in Pig; sort+slice here, JVM-evaluated). Null is the smallest
    value, as in Pig's comparator: the default descending top-n ranks
    nulls last, an ascending one first. For top-k per *group* at
    scale prefer operators.nested.topk_per_group (no bag materialized).
    """
    return F.slice(_nested.bag_sort(bag, [(field, ascending)]), 1, n)


def KEYSET(m: Column) -> Column:
    return F.map_keys(m)


def VALUELIST(m: Column) -> Column:
    return F.map_values(m)


def VALUESET(m: Column) -> Column:
    return F.array_distinct(F.map_values(m))


def INVERSEMAP(m: Column) -> Column:
    """INVERSEMAP.java — swap keys/values (values coerced to string keys)."""
    return F.map_from_entries(
        F.transform(F.map_entries(m), lambda e: F.struct(e["value"].cast("string").alias("key"), e["key"].alias("value")))
    )


def DIFF(a: Column, b: Column) -> Column:
    """DIFF.java — symmetric difference of two bags."""
    return F.array_union(F.array_except(a, b), F.array_except(b, a))


def SUBTRACT(a: Column, b: Column) -> Column:
    """SUBTRACT.java (string pkg but bag-typed) — set-minus of bags."""
    return F.array_except(a, b)


def pluck_tuple(df: DataFrame, prefix: str) -> DataFrame:
    """PluckTuple.java — project columns matching a prefix (used after
    joins to grab one side's `alias::` columns)."""
    return df.select(*[c for c in df.columns if c.startswith(prefix)])


def CubeDimensions(*cols: Column, all_marker: str | None = None) -> Column:
    """CubeDimensions.java — the pre-CUBE row-multiplication UDF, also
    public API for direct `FLATTEN(CubeDimensions(a, b, ...))` use:
    a bag of the 2^n dimension combinations, unspecified dimensions
    replaced by the all-marker (null by default; CubeDimensions.java:
    44 allows an arbitrary string). Input NULLs become the literal
    'unknown' first (CubeDimensions.java:91-97 — null is reserved for
    the rollup marker). Pure per-row array construction, no shuffle —
    the CUBE statement itself lowers to native grouping sets instead
    (operators/cube.py), so this stays a compatibility surface."""
    vals = [
        F.when(_c(c).isNull(), F.lit("unknown")).otherwise(_c(c).cast("string"))
        for c in cols
    ]
    marker = F.lit(all_marker).cast("string")
    n = len(vals)
    elems = []
    for mask in range(1 << n):
        fields = [
            ((marker if (mask >> i) & 1 else vals[i])).alias(f"dim{i}")
            for i in range(n)
        ]
        elems.append(F.struct(*fields))
    return F.array(*elems)


def RollupDimensions(*cols: Column, all_marker: str | None = None) -> Column:
    """RollupDimensions.java — bag of the n+1 hierarchical prefixes:
    the full tuple, then dimensions nulled right-to-left
    (RollupDimensions.java:70-73). No 'unknown' coercion here — only
    CUBE reserves null."""
    vals = [_c(c).cast("string") for c in cols]
    marker = F.lit(all_marker).cast("string")
    n = len(vals)
    elems = []
    for keep in range(n, -1, -1):
        fields = [
            ((vals[i] if i < keep else marker)).alias(f"dim{i}")
            for i in range(n)
        ]
        elems.append(F.struct(*fields))
    return F.array(*elems)
