"""Pig-compat semantic shims (SURVEY §7 compat.py).

Where Spark's defaults differ from Pig's corner semantics, the shim
lives here so the core DSL stays idiomatic Spark:

- bad cast → null, div-by-zero → null: session-level
  ``spark.sql.ansi.enabled=false`` (session.py) reproduces
  POCast.java / Divide.java warn-and-null behavior.
- ``::`` disambiguation naming after joins/cogroups
  (LogicalSchema.java mergeSchemasByIndex, QueryParser.g eid).
- gradual typing: text loads arrive all-string (Pig bytearray,
  LoadTypeCastInserter.java); ``cast_as`` applies a declared schema
  with null-on-garbage.
- GROUP null keys: Spark groupBy keeps a null group — same as Pig
  (PigNullableWritable.java); nothing to shim. COGROUP cross-input
  null isolation is handled structurally in operators/cogroup.py.
- CUBE "ALL" marker (CubeDimensions.java:72) — operators/cube.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def qualify(df: DataFrame, alias: str) -> DataFrame:
    """Prefix every column with ``alias::`` — Pig's join/cogroup
    disambiguation scheme, applied *before* a join whose sides share
    names."""
    return df.select(*[df[c].alias(f"{alias}::{c}") for c in df.columns])


def join_qualified(left: DataFrame, lalias: str, right: DataFrame, ralias: str, on: list[str], how: str = "inner") -> DataFrame:
    """JOIN with Pig output naming: all columns from both sides kept,
    prefixed ``lalias::col`` / ``ralias::col`` (LOJoin schema rules)."""
    lq, rq = qualify(left, lalias), qualify(right, ralias)
    cond = None
    for k in on:
        c = lq[f"{lalias}::{k}"] == rq[f"{ralias}::{k}"]
        cond = c if cond is None else (cond & c)
    return lq.join(rq, cond, how)


def cast_as(df: DataFrame, schema: str | T.StructType) -> DataFrame:
    """LOAD ... AS (schema) over an all-string relation: positional
    rename + cast, null on garbage (LoadTypeCastInserter.java +
    Utf8StorageConverter.java)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if len(schema.fields) > len(df.columns):
        raise ValueError("declared schema wider than relation")
    # try_cast: null on garbage regardless of spark.sql.ansi.enabled —
    # the Pig semantic must hold on any session, not just ours.
    cols = [
        df[df.columns[i]].try_cast(f.dataType).alias(f.name)
        for i, f in enumerate(schema.fields)
    ]
    return df.select(*cols)
