"""Pig's type system on Spark types (DataType.java:60-92).

One table maps each Pig type name to its Spark type and its
``DataType`` byte code. Around it:

- ``parse`` reads Pig type text — an AS field type, a CAST type, an
  ``@outputSchema`` string — into a Spark type (QueryParser.g
  ``type``/``type_cast``), and ``ddl`` gives that type as the DDL
  string ``cast``/``try_cast`` take;
- ``pig_type_name`` prints a Spark type as Pig names it
  (Schema.toString — DESCRIBE's vocabulary);
- ``utf8_decode`` turns one field of Pig text into a value of a
  parsed type (Utf8StorageConverter.java).

Every layer that meets Pig type text goes through this module: LOAD
and STREAM AS, CAST, ``@outputSchema``, DESCRIBE, the ``.pig_schema``
sidecar and PigUnit.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


class PigType(NamedTuple):
    spark: T.DataType | None  # None: complex, shaped by its parameters
    code: int  # DataType.java byte code (the .pig_schema sidecar's `type`)


TYPES: dict[str, PigType] = {
    "boolean": PigType(T.BooleanType(), 5),
    "int": PigType(T.IntegerType(), 10),
    "long": PigType(T.LongType(), 15),
    "float": PigType(T.FloatType(), 20),
    "double": PigType(T.DoubleType(), 25),
    "datetime": PigType(T.TimestampType(), 30),
    # bytearray from text loaders IS utf8 text: backing it with string
    # gives Pig's coerce-on-use gradual typing — `age < 50` or AVG(age)
    # over an untyped field leans on Spark's string→numeric coercion,
    # explicit casts go through try_cast (null on garbage); a binary
    # backing made every such use an analysis error
    # (POCast.java / Utf8StorageConverter.java)
    "bytearray": PigType(T.StringType(), 50),
    "chararray": PigType(T.StringType(), 55),
    "biginteger": PigType(T.DecimalType(38, 0), 65),
    "bigdecimal": PigType(T.DecimalType(38, 18), 70),
    "map": PigType(None, 100),
    "tuple": PigType(None, 110),
    "bag": PigType(None, 120),
}

# Spark type → Pig name for the scalars; string prints as chararray
# (bytearray also reads as string, and Spark cannot tell them apart)
_NAMES = {t.spark: n for n, t in TYPES.items() if t.spark is not None and n != "bytearray"}

BYTEARRAY = TYPES["bytearray"].spark

# the bracket that opens each complex type's parameters: map[..],
# tuple(..), bag{..}
OPENERS = {"map": "[", "tuple": "(", "bag": "{"}


# ----------------------------------------------------------------------
# parser
# ----------------------------------------------------------------------

_TOKEN = re.compile(r"\s*(?:([A-Za-z_$][\w$]*(?:::[A-Za-z_$][\w$]*)*)|(.))")


class _Reader:
    """Recursive descent over Pig type text."""

    def __init__(self, text: str):
        self.text = text
        self.toks = [m.group(1) or m.group(2) for m in _TOKEN.finditer(text) if m.group(1) or m.group(2)]
        self.pos = 0

    def peek(self, k: int = 0) -> str | None:
        i = self.pos + k
        return self.toks[i] if i < len(self.toks) else None

    def take(self, tok: str | None = None) -> str:
        got = self.peek()
        if got is None or (tok is not None and got != tok):
            raise ValueError(f"Pig type {self.text!r}: expected {tok or 'a token'}, got {got!r}")
        self.pos += 1
        return got

    def name(self) -> str:
        t = self.take()
        if not (t[0].isalpha() or t[0] in "_$"):
            raise ValueError(f"Pig type {self.text!r}: expected a field name, got {t!r}")
        return t

    def end(self) -> None:
        if self.peek() is not None:
            raise ValueError(f"Pig type {self.text!r}: unexpected {self.peek()!r}")

    def starts_type(self) -> bool:
        """A bare token here is a type, not a field name: a Pig type
        keyword or a complex type's opening bracket."""
        t = self.peek()
        return t in ("(", "{", "[") or (t is not None and t.lower() in TYPES)

    def type(self) -> T.DataType:
        t = self.take()
        kw = t.lower()
        if kw in ("map", "tuple", "bag"):
            if self.peek() != OPENERS[kw]:
                return self.empty(kw)
            t = self.take()
        if t == "[":
            value = BYTEARRAY if self.peek() == "]" else self.type()
            self.take("]")
            return T.MapType(T.StringType(), value, True)
        if t == "(":
            return self.tuple_body()
        if t == "{":
            return self.bag_body()
        if kw in TYPES:
            return TYPES[kw].spark
        raise ValueError(f"Pig type {self.text!r}: unknown type {t!r}")

    @staticmethod
    def empty(kw: str) -> T.DataType:
        """`map` / `tuple` / `bag` with no brackets: the empty form."""
        if kw == "map":
            return T.MapType(T.StringType(), BYTEARRAY, True)
        if kw == "tuple":
            return T.StructType([])
        # a bag holds tuples: an empty bag's tuple is one untyped field
        return T.ArrayType(T.StructType([T.StructField("t", BYTEARRAY, True)]), True)

    def tuple_body(self) -> T.StructType:
        """The fields after `(` through `)`."""
        fields: list[T.StructField] = []
        while self.peek() != ")":
            fields.append(self.field(len(fields)))
            if self.peek() != ")":
                self.take(",")
        self.take(")")
        return T.StructType(fields)

    def field(self, i: int) -> T.StructField:
        """`name:type`; a bare type (positional name `f<i>`, as CAST
        names them); or a bare name (typed bytearray)."""
        if self.peek(1) == ":" and self.peek() not in ("(", "{", "["):
            name = self.name()
            self.take(":")
            return T.StructField(name, self.type(), True)
        if self.starts_type():
            return T.StructField(f"f{i}", self.type(), True)
        return T.StructField(self.name(), BYTEARRAY, True)

    def bag_body(self) -> T.ArrayType:
        """`{}`, `{(..)}`, `{tuple(..)}`, `{t:(..)}`, `{t:tuple(..)}`."""
        if self.peek() == "}":
            self.take()
            return self.empty("bag")
        if self.peek(1) == ":":  # the tuple's alias
            self.name()
            self.take(":")
        element = self.type()
        self.take("}")
        return T.ArrayType(element, True)


def parse(text: str | None) -> T.DataType:
    """Pig type text → Spark type. No text means bytearray."""
    if text is None or not text.strip():
        return BYTEARRAY
    r = _Reader(text)
    t = r.type()
    r.end()
    return t


def parse_schema(text: str) -> T.StructType:
    """A field list, ``name:type, ...`` (an AS clause's body) → the
    struct of its fields."""
    return parse(f"({text})")


def ddl(text: str | None) -> str:
    """Pig type text → the Spark DDL string ``cast``/``try_cast``
    take (one py4j call, where a DataType costs a JVM parse more)."""
    return parse(text).simpleString()


# ----------------------------------------------------------------------
# printer
# ----------------------------------------------------------------------


def pig_type_name(dt: T.DataType) -> str:
    """Spark type → Pig schema-type string (Schema.stringifySchema):
    struct → tuple ``(f: t,..)``, array → bag ``{(f: t,..)}`` (a bag's
    inner schema is one anonymous TUPLE field, so the parens print —
    ``B: {group: bytearray,A: {(name: bytearray,...)}}``), map →
    ``map[t]``, decimals → biginteger/bigdecimal."""
    if isinstance(dt, T.StructType):
        return "(" + ",".join(f"{f.name}: {pig_type_name(f.dataType)}" for f in dt.fields) + ")"
    if isinstance(dt, T.ArrayType):
        el = dt.elementType
        if isinstance(el, T.StructType):
            return "{" + pig_type_name(el) + "}"
        return "{(" + pig_type_name(el) + ")}"
    if isinstance(dt, T.MapType):
        return f"map[{pig_type_name(dt.valueType)}]"
    if isinstance(dt, T.DecimalType):
        return _NAMES.get(dt, "bigdecimal")
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return "int"
    if isinstance(dt, (T.TimestampNTZType, T.DateType)):
        return "datetime"
    if isinstance(dt, T.BinaryType):
        return "bytearray"
    return _NAMES.get(dt, dt.simpleString())


# ----------------------------------------------------------------------
# text decoder
# ----------------------------------------------------------------------


def utf8_decode(col: Column, dt: T.DataType) -> Column:
    """Utf8StorageConverter.java: one TEXT field → a value of ``dt``,
    including Pig's textual complex forms — ``[k#v,...]`` maps,
    ``(a,b)`` tuples, ``{(a,b),(c,d)}`` bags (the shapes PigStorage
    writes). Garbage → null, never an error. All Column ops
    (str_to_map / split / regexp_extract_all) — codegen, no Python."""
    if isinstance(dt, T.MapType):
        body = F.regexp_replace(F.regexp_replace(col, r"^\[", ""), r"\]$", "")
        # map_filter drops the {""→null} artifact str_to_map produces
        # for an empty body ("[]" → empty map)
        m = F.map_filter(
            F.str_to_map(body, F.lit(","), F.lit("#")), lambda k, _v: F.length(k) > 0
        )
        if not isinstance(dt.valueType, T.StringType):
            m = F.map_from_arrays(
                F.map_keys(m), F.transform(F.map_values(m), lambda v: utf8_decode(v, dt.valueType))
            )
        return F.when(col.rlike(r"^\[.*\]$"), m)
    if isinstance(dt, T.StructType):
        body = F.regexp_replace(F.regexp_replace(col, r"^\(", ""), r"\)$", "")
        return F.when(col.rlike(r"^\(.*\)$"), _decode_fields(body, dt))
    if isinstance(dt, T.ArrayType):
        el = dt.elementType
        tuples = F.regexp_extract_all(col, F.lit(r"\(([^()]*)\)"), 1)
        return F.when(
            col.rlike(r"^\{.*\}$"),
            F.transform(
                tuples,
                (lambda s: _decode_fields(s, el)) if isinstance(el, T.StructType)
                else (lambda s: utf8_decode(s, el)),
            ),
        )
    return col.try_cast(dt.simpleString())


def _decode_fields(body: Column, dt: T.StructType) -> Column:
    """A tuple's comma-separated text (parentheses stripped) → a
    struct of ``dt``'s fields, decoded by position."""
    return F.struct(
        *[
            utf8_decode(F.get(F.split(body, ","), i), f.dataType).alias(f.name)
            for i, f in enumerate(dt.fields)
        ]
    )
