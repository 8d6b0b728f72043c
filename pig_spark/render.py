"""Pig textual tuple rendering — `(a,{(b),(c)},[k#v])`.

Reference: Pig renders tuples/bags/maps with this exact bracket
vocabulary in DUMP output and delimited storage
(`src/org/apache/pig/data/utils/SedesHelper.java`, `Tuple
.toDelimitedString`, `DataType.toString`; SURVEY §7.4 item 5).
PigUnit's assertOutput compares these strings
(`test/org/apache/pig/pigunit/PigTest.java`), so the embedded
harness (`pig_spark.pigunit`) and Grunt DUMP share this renderer.

Conventions (matching Pig's DUMP):
- tuple → ``(f1,f2)``; bag → ``{(t1),(t2)}``; map → ``[k#v]``
- null → empty string; boolean → ``true``/``false``
- chararray bare (no quotes); bytearray decoded utf-8
- double/float via Java-style ``Double.toString`` (``1.0`` keeps
  its ``.0``; scientific only beyond 1e7/1e-3, matching Java)
"""

from __future__ import annotations

import datetime as _dt
from decimal import Decimal

from pyspark.sql import Row

from .pigtypes import pig_type_name


def _java_double(v: float) -> str:
    # Java Double.toString: plain decimal in [1e-3, 1e7), always a
    # fractional part; scientific with 'E' outside that range.
    if v != v or v in (float("inf"), float("-inf")):
        return {float("inf"): "Infinity", float("-inf"): "-Infinity"}.get(v, "NaN")
    a = abs(v)
    if a != 0 and (a >= 1e7 or a < 1e-3):
        s = repr(v)
        if "e" in s:
            mant, exp = s.split("e")
            if "." not in mant:
                mant += ".0"
            return f"{mant}E{int(exp)}"
        return s
    s = repr(v)
    return s + ".0" if "." not in s and "e" not in s else s


def pig_repr(v) -> str:
    """Render one field the way Pig's DUMP would."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _java_double(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    if isinstance(v, Row):
        return "(" + ",".join(pig_repr(f) for f in v) + ")"
    if isinstance(v, (list, tuple)):
        # Pig bags always contain tuples (QueryParser.g:322); wrap
        # scalar arrays so {1,2} renders as {(1),(2)} like TOBAG does.
        items = [pig_repr(x) if isinstance(x, Row) else "(" + pig_repr(x) + ")" for x in v]
        return "{" + ",".join(items) + "}"
    if isinstance(v, dict):
        return "[" + ",".join(f"{k}#{pig_repr(x)}" for k, x in v.items()) + "]"
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep="T")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return str(v)


def pig_schema_str(schema) -> str:
    """A relation's schema in DESCRIBE's format (GruntParser.java:296 →
    Schema.toString): ``{name: type,name: type}`` — e.g.
    ``{group: chararray,A: {name: chararray,age: int}}``."""
    return "{" + ",".join(f"{f.name}: {pig_type_name(f.dataType)}" for f in schema.fields) + "}"


def render_row(row: Row) -> str:
    """One output tuple: ``(f1,f2,...)``."""
    return "(" + ",".join(pig_repr(f) for f in row) + ")"


def render_rows(rows) -> list[str]:
    return [render_row(r) for r in rows]
