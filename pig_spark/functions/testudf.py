"""The reference e2e test-UDF jar, engine-side.

Reference: ``test/e2e/pig/udfs/java/org/apache/pig/test/udf/...`` —
the classes ``register :FUNCPATH:/testudf.jar`` snippets exercise
(nightly/streaming corpus suites). Each is tiny by design (they test
Pig's UDF MACHINERY — eval/accumulator/monitored/ctor-args/UDFContext
— not library logic), so the honest port is a Column expression per
class, resolved by leaf name through the same function table as
builtin/piggybank classes.

Their entries in that table (:mod:`pig_spark.functions.registry`)
state how the Latin layer calls them:

- plain functions (argument kind ``values``) take Columns and return a
  Column;
- ``relation`` — UDFContextTestUDF and DumpJVMArgsUDF also get the
  relation they read as ``_rel`` (schema/session introspection);
- ``bag`` — the aggregate-position classes take a BAG and its element
  type as ``_elem``, so field-0 access works without guessing names;
- a constructor — Udfcachetest, UdfContextFrontend and
  TestingAccumulatorHelper are factories: ``DEFINE alias Cls('arg')``
  calls them with the constructor strings and the alias lowers through
  the column function they return.
"""

from __future__ import annotations

import time

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "Swap", "CreateMap", "Fred", "TestBoolean", "CreateTupleBag",
    "GoodMonitored", "BadMonitored", "UDFContextTestUDF",
    "DumpJVMArgsUDF", "Udfcachetest", "UdfContextFrontend",
    "TestingAccumulatorHelper", "AllFirstLetter", "NonAlgNonAccCount",
    "IteratingAccumulatorCount", "IteratingAccumulatorSum",
    "IteratingAccumulatorIsEmpty", "STREAM_SERDES",
]


def _first_field(t: Column, elem: T.StructType | None) -> Column:
    """Field 0 of a tuple element — by NAME from the probed element
    type (struct fields aren't positionally addressable in Column
    algebra); a non-struct element IS its own field 0."""
    if elem is not None and isinstance(elem, T.StructType):
        return t.getField(elem.fields[0].name)
    return t


# ---------------------------------------------------------------------
# evalfunc/ — plain scalar classes
# ---------------------------------------------------------------------
def Swap(a: Column, b: Column) -> Column:
    """evalfunc/Swap.java — (a, b) → tuple (b, a)."""
    return F.struct(b.alias("f0"), a.alias("f1"))


def CreateMap(key: Column, value: Column) -> Column:
    """evalfunc/CreateMap.java — (key, value) → single-entry map."""
    return F.create_map(key.cast("string"), value)


def Fred(*_cols: Column) -> Column:
    """evalfunc/Fred.java — constant 'fred' (macro-expansion probe)."""
    return F.lit("fred")


def TestBoolean(b: Column) -> Column:
    """evalfunc/TestBoolean.java — null → ''; true → 'false'; false →
    'true' (yes, inverted — it tests boolean PASSING, not logic)."""
    return (
        F.when(b.isNull(), F.lit(""))
        .when(b.cast("boolean"), F.lit("false"))
        .otherwise(F.lit("true"))
    )


def CreateTupleBag(f1: Column, f2: Column) -> Column:
    """evalfunc/CreateTupleBag.java — bag {(f1, f2), (f2, f1)}.
    Spark arrays need one element type, so both slots take the
    common string form when the inputs' types differ (the inputs are
    gradually-typed bytearrays in every corpus use)."""
    a, b = f1.cast("string"), f2.cast("string")
    return F.array(
        F.struct(a.alias("f0"), b.alias("f1")),
        F.struct(b.alias("f0"), a.alias("f1")),
    )


def GoodMonitored(*_cols: Column) -> Column:
    """evalfunc/GoodMonitored.java — @MonitoredUDF returning instantly;
    the timeout never fires, so the value is the constant."""
    return F.lit("fred")


def _bad_monitored_impl(_v) -> str:
    time.sleep(100)  # BadMonitored.java sleeps 100 s — always times out
    return "fred"


def BadMonitored(col: Column) -> Column:
    """evalfunc/BadMonitored.java — @MonitoredUDF whose exec sleeps
    past any timeout: every row yields the monitored DEFAULT (null)
    via the engine's real monitored_udf executor (udf.monitored_udf —
    the MonitoredUDFExecutor contract). Timeout shortened to 1 s so
    corpus runs don't stall on the Java default of 10 s; the
    machinery exercised is identical."""
    from ..udf import monitored_udf

    fn = monitored_udf("string", timeout_ms=1000, default=None)(_bad_monitored_impl)
    return fn(col)


def UDFContextTestUDF(col: Column, _rel=None) -> Column:
    """evalfunc/UDFContextTestUDF.java — returns the INPUT SCHEMA
    string the frontend stashed in UDFContext (it tests that per-UDF
    properties survive front→back). Here the plan IS the context:
    the input schema resolves at translation time from the relation
    and ships as a literal (same value on every row, like the Java)."""
    if _rel is None:
        return F.lit("unknown")
    try:
        dt = _rel.df.select(col).schema.fields[0]
        return F.lit(f"{{{dt.name}: {dt.dataType.simpleString()}}}")
    except Exception:
        return F.lit("unknown")


def DumpJVMArgsUDF(col: Column, _rel=None) -> Column:
    """evalfunc/DumpJVMArgsUDF.java — the task JVM's input arguments
    (RuntimeMXBean). local mode shares one JVM between driver and
    executors, so the driver-side bean IS the task bean; resolved at
    plan time and shipped as a literal."""
    try:
        jvm = _rel.df.sparkSession.sparkContext._jvm  # type: ignore[union-attr]
        bean = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        args = " ".join(list(bean.getInputArguments())) + " "
    except Exception:
        args = ""
    return F.lit(args)


# ---------------------------------------------------------------------
# evalfunc/ — ctor-arg factories (DEFINE alias Cls('arg'))
# ---------------------------------------------------------------------
def Udfcachetest(file_spec: str):
    """evalfunc/Udfcachetest.java — ctor takes 'path#symlink'
    (getCacheFiles ships path into the task cwd as ./symlink); exec
    returns the file's FIRST LINE. Local FS is the cache here: read
    the line once at define time, ship it as a literal."""
    path = str(file_spec).split("#", 1)[0]
    with open(path, encoding="utf-8", errors="replace") as fh:
        line = fh.readline().rstrip("\n")

    def _apply(*_cols: Column) -> Column:
        return F.lit(line)

    return _apply


def UdfContextFrontend(*_ctor: str):
    """evalfunc/UdfContextFrontend.java — ctor prints the (frontend)
    job conf, exec returns true; value surface = constant true."""

    def _apply(*_cols: Column) -> Column:
        return F.lit(True)

    return _apply


def TestingAccumulatorHelper(early_terminate: str = "false"):
    """TestingAccumulatorHelper.java — an AccumulatorEvalFunc counting
    accumulate() calls; with earlyTerminate=true it is a
    TerminatingAccumulator that stops after the first CHUNK. Pig's
    accumulator chunk (pig.accumulative.batchsize, default 20000)
    exceeds every corpus group, so both variants see the whole bag —
    value = the bag size either way (divergence would appear only for
    groups past the batch size; documented here)."""

    def _apply(bag: Column, _elem=None) -> Column:
        return F.size(bag)

    return _apply


# ---------------------------------------------------------------------
# evalfunc/ — aggregate-position classes (take the group/pipe BAG)
# ---------------------------------------------------------------------
def AllFirstLetter(bag: Column, _elem=None) -> Column:
    """evalfunc/AllFirstLetter.java — concatenation of the first
    letter of field 0 of every tuple in the bag, in BAG ORDER (the
    nested-ORDER pipes feed it sorted bags; the engine's pipe
    assembly preserves that order)."""
    vals = F.transform(bag, lambda t: _first_field(t, _elem).cast("string"))
    return F.array_join(
        F.transform(
            F.filter(vals, lambda s: s.isNotNull() & (F.length(s) > 0)),
            lambda s: F.substring(s, 1, 1),
        ),
        "",
    )


def NonAlgNonAccCount(bag: Column, _elem=None) -> Column:
    """evalfunc/NonAlgNonAccCount.java — COUNT without the Algebraic/
    Accumulator interfaces (tests the no-combiner path; same value):
    tuples whose field 0 is non-null (COUNT.java:40)."""
    return F.size(F.filter(bag, lambda t: _first_field(t, _elem).isNotNull())).cast("long")


def IteratingAccumulatorCount(bag: Column, _elem=None) -> Column:
    """evalfunc/IteratingAccumulatorCount.java — COUNT through the
    IteratingAccumulatorEvalFunc base (chunk-streamed bags; same
    value as COUNT)."""
    return NonAlgNonAccCount(bag, _elem)


def IteratingAccumulatorSum(bag: Column, _elem=None) -> Column:
    """evalfunc/IteratingAccumulatorSum.java — SUM of field 0 via the
    iterating-accumulator base."""
    return F.aggregate(
        bag,
        F.lit(0.0),
        lambda acc, t: acc + F.coalesce(_first_field(t, _elem).cast("double"), F.lit(0.0)),
    )


def IteratingAccumulatorIsEmpty(bag: Column, _elem=None) -> Column:
    """evalfunc/IteratingAccumulatorIsEmpty.java — IsEmpty via the
    iterating-accumulator base."""
    return F.size(bag) == 0


# ---------------------------------------------------------------------
# streaming/ — PigToStream / StreamToPig serdes
# ---------------------------------------------------------------------
def streaming_dump_serialize(row: tuple) -> str:
    """streaming/StreamingDump.java — TupleFormat.format: '(' +
    fields joined by ',' (null → empty) + ')'. One line per tuple."""
    return "(" + ",".join("" if v is None else str(v) for v in row) + ")"


def dump_streamer_deserialize(line: str):
    """streaming/DumpStreamer.java — parse '(f1, f2, ...)' back into
    trimmed string fields (the Java substring(1, len-2) paren strip +
    split(','))."""
    s = line.strip()
    if s.startswith("(") and s.endswith(")"):
        s = s[1:-1]
    return [f.strip() for f in s.split(",")]


STREAM_SERDES = {
    # leaf class name (lowercased) → (side, callable)
    "streamingdump": ("serialize", streaming_dump_serialize),
    "dumpstreamer": ("deserialize", dump_streamer_deserialize),
}
