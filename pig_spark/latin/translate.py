"""Pig Latin AST → pig_spark DSL translation.

Mirrors the reference pipeline (QueryParserDriver.parse →
LogicalPlanBuilder → LogicalPlan, PigServer.java:707): each statement
binds an alias to a lazy Relation; STORE/DUMP force execution.
Catalyst replaces all of Pig's logical optimization
(LogicalPlanOptimizer.java) — we only translate.

The load-bearing piece is FOREACH-over-GROUP: Pig's
  g = GROUP li BY k;  out = FOREACH g GENERATE group, SUM(li.x);
materializes reducer bags in the reference; here, when every GENERATE
item is a group-key or an algebraic aggregate, it lowers to
groupBy().agg() — bags never exist and Catalyst plans partial
aggregation (the CombinerOptimizer path). Non-algebraic FOREACH falls
back to the literal bag-form relation.
"""

from __future__ import annotations

from dataclasses import dataclass
from dataclasses import replace as G_replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as SparkWindow
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StringType, StructType

from .. import aggregates, pigtypes, sources, udf_lift
from .. import functions as PF
from ..functions import registry
from ..sources import storage
from ..operators.nested import bag_distinct, bag_filter, bag_limit, bag_sort, topk_per_group
from ..dsl import Relation
from . import grammar as G

# jar bundles whose classes are implemented ENGINE-SIDE — REGISTERing
# them succeeds without the file (functions/piggybank.py,
# functions/testudf.py; the datafu leaves the corpus uses resolve from
# the builtin registry); any OTHER missing jar raises ERROR 101
_ENGINE_JARS = {"piggybank.jar", "testudf.jar", "datafu.jar"}


class _JavaStub:
    """Stand-in for a java class referenced at module level by a
    jython scripting-UDF file (``Path('foo')``, PIG-1824): accepts any
    construction/call/attribute and returns itself."""

    def __init__(self, *_a, **_k):
        pass

    def __call__(self, *_a, **_k):
        return self

    def __getattr__(self, _name):
        return self


class _JavaImportStub:
    """Import-machinery shim for jython scripts' java imports
    (``from org.apache.hadoop.fs import Path``): fabricates permissive
    package modules under the org/java/javax roots so module-level
    java references don't kill the script — the UDF bodies themselves
    are plain Python. Installed only around scripting-UDF exec."""

    _ROOTS = ("org", "java", "javax")

    def find_spec(self, fullname, path=None, target=None):
        if fullname.split(".", 1)[0] not in self._ROOTS:
            return None
        import importlib.machinery

        return importlib.machinery.ModuleSpec(fullname, self, is_package=True)

    def create_module(self, spec):
        import types

        mod = types.ModuleType(spec.name)
        mod.__path__ = []  # package, so submodule imports recurse here
        mod.__all__ = []  # star imports add nothing; see _JythonGlobals
        mod.__getattr__ = lambda name: _JavaStub()
        return mod

    def exec_module(self, module):
        pass


class _JythonGlobals(dict):
    """exec-globals for a script that does a java STAR import
    (``from org.apache... import *``): star imports can't enumerate a
    fabricated package, so unknown CamelCase names resolve to a
    _JavaStub at use — jython itself resolves java classes lazily the
    same way. Lowercase names still raise NameError normally."""

    def __missing__(self, name):
        if name[:1].isupper():
            return _JavaStub()
        raise KeyError(name)


# jython is Python 2: the dict-iterator idioms reference scripts use
# rewrite textually to their Python-3 spellings before compile
_PY2_REWRITES = ((".iteritems()", ".items()"), (".iterkeys()", ".keys()"), (".itervalues()", ".values()"))


def _pig_decorator(attr: str):
    """A Pig scripting decorator: ``@outputSchema('w:chararray')`` etc.
    record their argument on the function as ``attr``."""

    def make(value: str):
        def deco(fn):
            setattr(fn, attr, value)
            return fn

        return deco

    return make


# singletons, so a pig_util stub created by one REGISTER is still
# recognized (by identity) when a later REGISTER imports from it
_PIG_DECORATORS = {
    "outputSchema": _pig_decorator("_pig_output_schema"),
    "outputSchemaFunction": _pig_decorator("_pig_schema_fn_ref"),
    "schemaFunction": _pig_decorator("_pig_schema_fn_name"),
}


def _pig_text_value(v):
    """Render a Python value in Pig's textual forms — bag {(..),(..)},
    tuple (..), map [k#v] — the shape a bytearray cast of a complex
    jython result produces (JythonUtils.pythonToPig → TextDataParser
    round-trip). A null INSIDE a container writes as an empty field
    ('(7,)' not '(7,None)'), Pig's text form for null."""

    def fld(x):
        return "" if x is None else str(_pig_text_value(x))

    if v is None or isinstance(v, str):
        return v
    if isinstance(v, list):
        return "{" + ",".join(
            fld(x) if isinstance(x, tuple) else f"({fld(x)})" for x in v
        ) + "}"
    if isinstance(v, tuple):
        return "(" + ",".join(fld(x) for x in v) + ")"
    if isinstance(v, dict):
        return "[" + ",".join(f"{k}#{fld(x)}" for k, x in v.items()) + "]"
    return str(v)


def _stringify_result(fn):
    def wrapped(*a, **k):
        return _pig_text_value(fn(*a, **k))

    return wrapped


class _ScriptUDF:
    """One scripting-UDF function with its declared Pig return type.
    ``@outputSchemaFunction`` UDFs (JythonFunction.java outputSchema
    delegation) defer typing to call time: the named schema function
    maps the INPUT's Pig type to the output type, so the translator
    passes the relation for input-type resolution. ``node`` is the
    function's definition in the script, for :mod:`pig_spark.udf_lift`."""

    def __init__(self, fn, ddl: str | None, schema_fn=None, node=None):
        self.fn, self.ddl, self.schema_fn, self.node = fn, ddl, schema_fn, node

    def lower(self, call: registry.Call) -> Column:
        """The call as a Catalyst expression when :mod:`pig_spark.udf_lift`
        lifts it, else as a Python UDF. ``call``'s argument types type
        the lift and an ``@outputSchemaFunction``."""
        ddl, cols = self.ddl, call.cols()
        in_types = call.types if cols else None
        if ddl is None and self.schema_fn is not None and in_types:
            pig_in = pigtypes.pig_type_name(in_types[0])
            try:
                out = self.schema_fn(pig_in)
            except Exception:
                out = pig_in
            ddl = _script_udf_ddl(str(out))
        ddl = ddl or "string"
        if in_types is not None:
            # a pure function is the same Spark expression: no Python
            # worker, and Catalyst compiles it into the stage
            lifted = udf_lift.lift(self.node, ddl, cols, in_types)
            if lifted is not None:
                return lifted
        if call.in_lambda:
            raise NotImplementedError(
                f"scripting UDF {self.fn.__name__!r} inside a nested bag pipe: Spark cannot run a "
                "Python UDF inside a higher-order function's lambda, and this function is outside "
                "the subset lifted to a Spark expression (pig_spark.udf_lift); apply it in a "
                "FOREACH before the GROUP"
            )
        fn = self.fn
        if ddl == "string":
            # bytearray/chararray-typed result: coerce complex Python
            # values through Pig's text forms ({(..)}, (..), [k#v]) —
            # JythonUtils.pythonToPig + bytearray cast semantics for
            # un-annotated functions returning lists/tuples/dicts
            fn = _stringify_result(self.fn)
        # scalar signatures take the Arrow-optimized Python UDF
        # (SPARK-40307: the same per-row calls, Arrow batch transport);
        # bag/tuple/map ones keep row mode, where complex values arrive
        # as Rows rather than the dicts/lists Arrow would give
        use_arrow = _scalar_ddl(ddl)
        if use_arrow and call.rel is not None and cols:
            use_arrow = in_types is not None and all(_scalar_ddl(t.simpleString()) for t in in_types)
        if use_arrow:
            try:
                return F.udf(fn, ddl, useArrow=True)(*cols)
            except TypeError:  # pyspark without the useArrow kwarg
                pass
        return F.udf(fn, ddl)(*cols)


def _scalar_ddl(ddl: str) -> bool:
    """True when a Spark DDL type string is a plain scalar (no
    array/map/struct nesting) — the signatures eligible for the
    Arrow-optimized UDF path."""
    d = ddl.lower()
    return "<" not in d and not any(t in d for t in ("array", "map", "struct"))


def _load_script_udfs(path: str, engine: str = "jython") -> dict[str, registry.Func]:
    """Execute a Pig scripting-UDF file (REGISTER ... USING jython AS
    ns — scripting/jython/JythonScriptEngine.java; USING
    streaming_python — python/PythonScriptEngine.java: that engine IS
    CPython, exactly what runs here) and make its public functions
    function-table entries. Pig's decorator surface works verbatim:
    ``@outputSchema('name:type')`` declares the return type
    (un-annotated functions default to chararray, like Pig's
    bytearray-as-default); ``@outputSchemaFunction`` +
    ``@schemaFunction`` delegate typing to a function of the input
    schema; ``from pig_util import outputSchema`` (the
    streaming_python idiom) resolves against an injected stub; java
    imports in jython files resolve to permissive stubs (PIG-1824
    module-level references). The script's own directory joins
    sys.path during exec so sibling helper modules import
    (JythonScriptEngine adds the script dir to jython's path). Each
    call lowers through :meth:`_ScriptUDF.lower`."""
    import ast as _ast
    import os as _os
    import re as _re
    import sys as _sys
    import types as _types

    decorators = _PIG_DECORATORS
    with open(path, encoding="utf-8") as fh:
        code = fh.read()
    for old, new in _PY2_REWRITES:
        code = code.replace(old, new)
    # java-class references are a JYTHON capability (the interpreter
    # runs on the JVM); streaming_python is plain CPython in the
    # reference too, so its files get no java stubs — an org.* import
    # there fails exactly as it would under Pig
    jython = engine.lower() not in ("streaming_python", "cpython")
    glb: dict = (
        _JythonGlobals()
        if jython and _re.search(r"from\s+(?:org|java|javax)[\w.]*\s+import\s+\*", code)
        else {}
    )
    glb.update(decorators)
    finder = _JavaImportStub() if jython else None
    script_dir = _os.path.dirname(_os.path.abspath(path))
    # the pig_util stub lives in sys.modules only for the duration of
    # the exec (save/restore, like the meta_path finder) so it never
    # shadows a real user-installed pig_util package for the rest of
    # the process; decorator identity across REGISTERs still holds
    # because the decorators themselves are module singletons
    saved_pig_util = _sys.modules.get("pig_util")
    if saved_pig_util is None:
        pig_util = _types.ModuleType("pig_util")
        for dname, deco in decorators.items():
            setattr(pig_util, dname, deco)
        _sys.modules["pig_util"] = pig_util
    if finder is not None:
        _sys.meta_path.insert(0, finder)
    _sys.path.insert(0, script_dir)
    try:
        exec(compile(code, path, "exec"), glb)  # noqa: S102 — user-registered script, like Pig
    finally:
        if finder is not None:
            _sys.meta_path.remove(finder)
        if script_dir in _sys.path:
            _sys.path.remove(script_dir)
        if saved_pig_util is None:
            _sys.modules.pop("pig_util", None)
        else:
            _sys.modules["pig_util"] = saved_pig_util
    # sibling helper modules the script imported (JythonScriptEngine
    # puts the script dir on the interpreter path) exist only on the
    # driver — ship them INSIDE the pickled UDF, or the executor's
    # unpickle dies with ModuleNotFoundError
    try:
        from pyspark import cloudpickle as _cp

        for mod in list(_sys.modules.values()):
            mf = getattr(mod, "__file__", None)
            if mf and _os.path.dirname(_os.path.abspath(mf)) == script_dir:
                _cp.register_pickle_by_value(mod)
    except Exception:
        pass
    schema_fns = {
        getattr(obj, "_pig_schema_fn_name"): obj
        for obj in glb.values()
        if callable(obj) and getattr(obj, "_pig_schema_fn_name", None)
    }
    deco_ids = {id(d) for d in decorators.values()}
    tree = _ast.parse(code, path)
    out: dict = {}
    for name, obj in glb.items():
        if name.startswith("_") or not callable(obj) or isinstance(obj, (type, _JavaStub)):
            continue
        if id(obj) in deco_ids:
            continue
        if getattr(obj, "_pig_schema_fn_name", None):
            continue  # schema functions aren't UDFs themselves
        schema = getattr(obj, "_pig_output_schema", None)
        ref = getattr(obj, "_pig_schema_fn_ref", None)
        udf = _ScriptUDF(
            obj,
            _script_udf_ddl(schema) if schema else (None if ref else "string"),
            schema_fns.get(ref) if ref else None,
            udf_lift.find_def(tree, obj, path),
        )
        out[name] = registry.Func(name, typed=udf.lower)
    return out


def _script_udf_ddl(schema: str) -> str:
    """@outputSchema string → Spark DDL type. One field gives its
    type, its name dropped (``word:chararray`` → string); several
    fields give a tuple of them."""
    fields = pigtypes.parse_schema(schema).fields
    return (fields[0].dataType if len(fields) == 1 else StructType(fields)).simpleString()


def _bind_as(df: DataFrame, schema: list[G.Field]) -> DataFrame:
    """LOAD/STREAM … AS (LoadTypeCastInserter.java): bind the declared
    fields to the loader's columns by position. A field past the last
    column reads null — Pig pads a schema declared wider than the data.
    An untyped field keeps the loaded type (LogicalSchema.merge in
    LoadForEach mode). A typed field over a text column decodes Pig's
    text forms ([k#v], (a,b), {(a,b),...} — Utf8StorageConverter); over
    a typed column it try_casts, which also rebinds nested names by
    position (BinStorage stores tuples positionally, so
    ``AS (t2:tuple(a,b,c))`` renames the stored struct's fields)."""
    loaded = df.schema.fields
    outs = []
    for i, f in enumerate(schema):
        if i >= len(loaded):
            outs.append(F.lit(None).cast(pigtypes.ddl(f.type)).alias(f.name))
            continue
        c = df[loaded[i].name]
        if f.type is not None:
            dt = pigtypes.parse(f.type)
            if isinstance(loaded[i].dataType, StringType):
                c = pigtypes.utf8_decode(c, dt)
            else:
                c = c.try_cast(dt.simpleString())
        outs.append(c.alias(f.name))
    return df.select(*outs)


def _typed(c: Column, pig_type: str | None) -> Column:
    """``c`` try_cast to a declared Pig type (null on garbage,
    POCast.java); unchanged when no type is declared."""
    return c.try_cast(pigtypes.ddl(pig_type)) if pig_type else c


def _flatten_as(cols: list[str | Column], schema: list[tuple[str, str | None]]) -> list[Column]:
    """FLATTEN(...) AS (name[:type], ...): name the flattened columns
    (Columns, or column names) by position and cast the typed ones.
    The schema must name every column the flatten produced. A named
    column the schema leaves as it is costs no alias."""
    if len(schema) != len(cols):
        raise ValueError(
            f"pig latin: FLATTEN AS schema has {len(schema)} fields, got {len(cols)} columns"
        )
    return [
        F.col(c) if isinstance(c, str) and c == n and t is None
        else _typed(F.col(c) if isinstance(c, str) else c, t).alias(n)
        for c, (n, t) in zip(cols, schema)
    ]


def _is_group_ref(e) -> bool:
    """``group`` or ``group.<ref>`` — a GENERATE item that projects the
    group key (_group_selects)."""
    return isinstance(e, G.Col) and (e.name == "group" or e.name.startswith("group."))


def _group_selects(g: "GroupedInfo", item: G.GenItem) -> list[tuple[str, Column]]:
    """``group`` / ``group.<ref>`` in a grouped GENERATE, as (output
    name, column) pairs over a frame that carries the key columns under
    their key names."""
    if item.expr.name != "group":
        # group.<ref>: one key field, by name or position
        kname = _group_key(item.expr.name.split(".", 1)[1], g.key_exprs)
        name = item.alias or kname
        return [(name, F.col(kname).alias(name))]
    keys = [n for n, _ in g.key_exprs]
    if isinstance(item.alias, list):
        # FLATTEN(group) AS (a[:t], ...): the key fields by position
        cols = _flatten_as(keys or [F.lit("all")], item.alias)
        return [(n, c) for (n, _), c in zip(item.alias, cols)]
    name = item.alias or "group"
    if not keys:
        # GROUP ALL: Pig's group value is the literal 'all'
        # (LOCogroup GROUP ALL semantics)
        return [(name, F.lit("all").alias(name))]
    if len(keys) == 1:
        # FLATTEN(group) of a single key is Pig's no-op flatten of a
        # scalar: the field stays named 'group' (LogicalSchema), so a
        # downstream `generate group` keeps resolving
        return [(name, F.col(keys[0]).alias(name))]
    if item.flatten:
        return [(n, F.col(n)) for n in keys]
    # tuple key: 'group' is one tuple-typed field (LogicalSchema) —
    # deref later via g.$0 / g.field
    return [(name, F.struct(*[F.col(n) for n in keys]).alias(name))]


def _sub_positional(e, sub: dict[str, str]):
    """Rewrite ``$0`` / ``$1`` column heads per ``sub`` throughout an
    expression tree (GROUP-output positional refs → group / bag)."""
    if isinstance(e, G.Col):
        head, dot, rest = e.name.partition(".")
        if head in sub:
            return G.Col(sub[head] + dot + rest)
        return e
    if isinstance(e, G.Bin):
        return G.Bin(e.op, _sub_positional(e.left, sub), _sub_positional(e.right, sub))
    if isinstance(e, G.Cast):
        return G.Cast(e.type, _sub_positional(e.operand, sub))
    if isinstance(e, G.Call):
        return G.Call(e.func, [_sub_positional(a, sub) for a in e.args])
    if isinstance(e, G.BinCond):
        return G.BinCond(
            _sub_positional(e.cond, sub),
            _sub_positional(e.then, sub),
            _sub_positional(e.otherwise, sub),
        )
    return e


def _orderable(dtype) -> bool:
    """True when a column of this type can appear in an ORDER BY
    (maps — and anything containing one — cannot)."""
    if isinstance(dtype, T.MapType):
        return False
    if isinstance(dtype, T.ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return True


def _group_key(kname: str, key_exprs) -> str:
    """Resolve a ``group.<ref>`` deref to a key column name —
    positional ``group.$N`` (QueryParser.g col_ref: tuple deref
    applies to the implicit 'group' tuple) or by field name."""
    if kname.startswith("$"):
        idx = int(kname[1:])
        if idx >= len(key_exprs):
            raise NameError(
                f"pig latin: group.${idx} — the group key has only {len(key_exprs)} fields"
            )
        return key_exprs[idx][0]
    return kname


@dataclass
class GroupedInfo:
    key_exprs: list[tuple[str, Column]]  # output key name → child expr
    child: Relation
    child_alias: str
    # columns ADDED to the child by nested expression aliases / inner
    # FOREACH projections — excluded from whole-tuple pipe outputs
    # (FLATTEN(l) must emit the original tuple)
    derived: tuple[str, ...] = ()
    # CUBE/ROLLUP statements carry explicit grouping sets (lists of key
    # names); None = plain GROUP BY. Lowered to df.groupingSets so
    # partial aggregation stays below the Expand node (LOCube.java
    # desugars to row expansion BEFORE the shuffle — strictly worse).
    sets: list[list[str]] | None = None


@dataclass(frozen=True)
class _Elem:
    """One bag element as an expression scope: the higher-order
    function's lambda variable ``el``, the element's field names ([]
    for a scalar element, which every field reference names) and a
    thunk of its Spark type (None: unknown)."""

    el: Column
    names: list[str]
    type: object = None

    def field(self, name: str) -> Column:
        fld = _field_ref(name, self.names)
        if fld is None:
            raise NameError(f"nested bag pipe: no field {name!r} (fields: {self.names})")
        return self.el if fld == "*" else self.el[fld]


@dataclass
class RelInfo:
    rel: Relation
    grouped: GroupedInfo | None = None


@dataclass
class _Pipe:
    """Flattened state of an inner-bag pipeline inside FOREACH { }."""

    col: str | None = None
    distinct: bool = False
    cond: object = None
    ordered: bool = False
    limited: bool = False
    order_keys: object = None  # list[(col, asc)] from nested ORDER
    limit_n: int | None = None
    # inner-FOREACH projection: output field name → materialized
    # (mangled) child column; the pipe's tuple is exactly these fields
    proj: dict[str, str] | None = None
    # inner-FOREACH with FLATTEN: the pipe's tuples are the ELEMENTS of
    # this per-row array column (multiplicity lives inside the array —
    # the child row count is untouched, so sibling pipes stay correct)
    arr: str | None = None
    # ops chained AFTER a LIMIT, in statement order: the flags above
    # apply in canonical filter→distinct→order→limit order, so a
    # later op that must see the SLICED bag (f = FILTER l BY ...)
    # records here and consumers (_pipe_bag) replay it sequentially
    # after the slice — Pig's dataflow order, not the flag order
    post_ops: list | None = None


@dataclass
class _SortedCollect:
    """Internal topk-frame aggregate: collect one LIMIT pipe's column
    as an array in the pipe's bag order (_pipe_order) — the bounded
    (≤ limit_n) bag arguments of the multi-bag aggregates COR/COV
    (builtin/COR.java computeAll walks both bags with paired
    iterators, so positional order matters)."""

    col: str


def _pipe_order(pipe: _Pipe, fields: list[str], orderable) -> list[tuple[str, bool]]:
    """The order a pipe's bag iterates in, as [(field, asc)]: its ORDER
    keys; after a DISTINCT the whole tuple ascending (Pig's
    DistinctDataBag iterates in sorted order); under a LIMIT with no
    ORDER the same stand-in, so Pig's "any n rows" is the first n of a
    fixed order (retry-stable); otherwise none. Map fields cannot sort
    and are left out."""
    if pipe.ordered:
        return pipe.order_keys
    if pipe.distinct or pipe.limited:
        return [(f, True) for f in fields if orderable(f)]
    return []


def _pick_field(fields: list[tuple[str, str]], ref: str, pipe: str) -> tuple[str, str]:
    """The (leaf name, column) of the tuple field a ``pipe.ref``
    projection names (_field_ref)."""
    f = _field_ref(ref, [n for n, _ in fields])
    if f is None:
        raise NameError(f"nested pipe {pipe!r} has no field {ref!r}")
    return f.split("::")[-1], dict(fields)[f]


def _grouped_builtin(e, alias: str) -> str | None:
    """The builtin aggregate a GENERATE item over a GROUP of ``alias``
    calls: a one-bag builtin, COR/COV over fields of the grouped bag, or
    SIZE(bag) — BagSize ≡ COUNT_STAR. None for any other item."""
    if not isinstance(e, G.Call):
        return None
    fn = e.func.lower()
    if fn in aggregates.ONE_BAG:
        return fn
    if fn in aggregates.PAIRWISE and len(e.args) >= 2:
        if all(isinstance(a, G.Col) and a.name.startswith(alias + ".") for a in e.args):
            return fn
    elif fn in ("size", "arity") and len(e.args) == 1 and isinstance(e.args[0], G.Col) and e.args[0].name == alias:
        return "count_star"
    return None


def _fill_empty(df: DataFrame, fill: dict[str, str]) -> DataFrame:
    """Coalesce the columns a group missing from a pipe's frame leaves
    null to an aggregate's value over an empty bag, or {} (``"bag"``)."""
    for n, kind in fill.items():
        empty = F.array().cast(df.schema[n].dataType) if kind == "bag" else aggregates.empty(kind)
        df = df.withColumn(n, F.coalesce(F.col(n), empty))
    return df


def _key_join(left: DataFrame, right: DataFrame, keys: list[str], how: str = "inner") -> DataFrame:
    """Join two frames on the group keys null-safely — a null key is one
    group, as in Pig's GROUP — keeping ``left``'s key columns (their
    non-null side for a full outer join); a cross join without keys."""
    if not keys:
        return left.crossJoin(right)
    kn = [f"__k{q}" for q in range(len(keys))]
    right = right.withColumnsRenamed(dict(zip(keys, kn)))
    out = left.join(right, [left[k].eqNullSafe(right[n]) for k, n in zip(keys, kn)], how)
    if how == "full_outer":
        out = out.withColumns({k: F.coalesce(left[k], right[n]) for k, n in zip(keys, kn)})
    return out.drop(*kn)


class PigTranslator:
    def __init__(
        self,
        spark: SparkSession,
        params: dict[str, str] | None = None,
        execute_stores: bool = True,
    ):
        self.spark = spark
        self.aliases: dict[str, RelInfo] = {}
        self.outputs: dict[str, object] = {}
        # DESCRIBE of a nested inner alias (describe C::D — Pig
        # prints the inner relation's schema): recorded as each
        # nested block translates
        self.nested_schemas: dict[str, str] = {}
        self.stores: list[str] = []  # paths written by STORE
        self.sink_aliases: list[str] = []  # STORE/DUMP target aliases, script order
        self.params = params or {}
        self.registered: list[str] = []
        # the script's function-table entries: REGISTER ... AS ns →
        # {name: entry} ("" without AS), DEFINE alias → entry (or an
        # exec-command spec, for STREAM THROUGH)
        self.scripts: dict[str, dict[str, registry.Func]] = {}
        self.defines: dict[str, registry.Func | dict] = {}
        self._job_ship: list[str] = []  # union of DEFINE SHIP files (job-scoped)
        # STOREs are deferred to end-of-script (Pig batch semantics:
        # PigServer executes the whole plan at the last STORE) so the
        # MultiQuery planner can cache subplans shared between sinks
        self._pending_stores: list[tuple[Relation, str, object]] = []
        # False for describe/explain/illustrate: the reference's
        # BoundScript plan-inspection methods never run the sinks
        self.execute_stores = execute_stores

    # ------------------------------------------------------------------
    def run(self, src: str) -> dict[str, Relation]:
        from .macros import expand as _expand_macros

        src = _expand_macros(src)
        src = self._preprocess(src)
        # token-aware substitution: '$a' must not rewrite the prefix of
        # '$ab' (Pig's PreprocessorContext substitutes whole names)
        import re as _re

        for name, value in self.params.items():
            sval = str(value)
            src = _re.sub(r"\$" + _re.escape(name) + r"\b", lambda _m: sval, src)
        # any named $param still present is undefined — fail like the
        # reference preprocessor (PreprocessorContext.substitute:
        # "Undefined parameter : <name>") instead of parsing '$out'
        # as a literal path and silently writing a '$out' directory.
        # \$digit positional refs and \\$-escapes are not parameters,
        # and neither is bare `$_` (perl idiom inside backtick stream
        # commands): Pig's parameter IDENTIFIER must contain a letter
        # (PigFileParser.jj:265 `(<SPECIALCHAR>)*<LETTER>...`).
        # Comments don't participate (the reference preprocessor passes
        # them through; the lexer drops them at parse time), so search
        # comment-stripped text — but keep string/backtick literals,
        # where $params DO substitute and an undefined one must raise.
        searchable = _re.sub(
            r"('(?:\\.|[^'\\])*')|(`[^`]*`)|--[^\n]*|/\*.*?\*/",
            lambda m: m.group(1) or m.group(2) or " ",
            src,
            flags=_re.S,
        )
        leftover = _re.search(r"(?<!\\)\$(_*[A-Za-z]\w*)", searchable)
        if leftover:
            raise ValueError(f"Undefined parameter : {leftover.group(1)}")
        script = G.parse(src)
        for stmt in script.statements:
            self._stmt(stmt)
        self._flush_stores()
        return {a: info.rel for a, info in self.aliases.items()}

    def _flush_stores(self) -> None:
        """Execute pending STOREs through the MultiQuery planner —
        subplans shared by several sinks are detected automatically and
        cached once (MultiQueryOptimizer.java equivalent)."""
        if not self._pending_stores or not self.execute_stores:
            self._pending_stores = []
            return
        from ..operators.multisink import multi_store

        sinks = [(rel.df, store_fn) for rel, _path, store_fn in self._pending_stores]
        self._pending_stores = []
        # bin/pig semantics: -M disables the multiquery cache
        # (pig.opt.multiquery=false), and the batch default runs every
        # independent sink even after one fails — -F / stop.on.failure
        # aborts on the first failure instead (Main.java -F handling)
        conf = self.spark.conf
        shared = [] if conf.get("pig.opt.multiquery", "true") == "false" else None
        stop = conf.get("pig.stop.on.failure", "false") == "true"
        multi_store(sinks, shared=shared, stop_on_failure=stop)

    def relation(self, alias: str) -> Relation:
        return self.aliases[alias].rel

    def _preprocess(self, src: str) -> str:
        """Parameter preprocessor (tools/parameters in the reference):
        %declare NAME value (always set) and %default NAME value (set
        unless passed via params). Lines are consumed, values join the
        $NAME substitution map. Lines this pass EXECUTES (sh / fs) get
        the accumulated parameters substituted FIRST — the reference
        preprocessor rewrites the whole file before Grunt runs any of
        it, so `fs -rmr $out` must see the bound value, not '$out'."""
        import re as _re

        def _sub_params(text: str) -> str:
            for name, value in self.params.items():
                text = _re.sub(r"\$" + _re.escape(name) + r"\b", lambda _m, v=str(value): v, text)
            return text

        out_lines = []
        sql_buf: list[str] = []  # multi-line `sql <ddl> ... ;` statement
        for line in src.splitlines():
            if "$" in line:
                # top-to-bottom: a $ref sees every param bound so far
                # (callers' params + earlier %declare/%default lines)
                line = _sub_params(line)
            if sql_buf:
                sql_buf.append(line)
                if line.rstrip().endswith(";"):
                    self._run_sql_command(" ".join(sql_buf))
                    sql_buf = []
                continue
            sqlm = _re.match(r"\s*sql\s+(.*)$", line, _re.IGNORECASE)
            if sqlm and not _re.match(r"\s*sql\s*=", line, _re.IGNORECASE):
                # Grunt `sql <stmt>;` (GruntParser.processSQLCommand:
                # 1267, pig.sql.type=hcat): DDL to the SQL engine —
                # here Spark's own catalog (sources/hcatalog.py). The
                # statement runs up to its terminating ';', possibly
                # spanning lines, at preprocess time like sh/fs; same
                # explain-mode skip (GruntParser.java:1327 ignores
                # 'sql' under explain/check)
                rest = sqlm.group(1)
                if rest.rstrip().endswith(";"):
                    self._run_sql_command(rest)
                else:
                    sql_buf = [rest]
                continue
            sh = _re.match(r"\s*sh\s+(.+?)\s*;?\s*$", line)
            if sh and not _re.match(r"\s*sh\s*=", line):
                # Grunt `sh <command>` (GruntParser.processShCommand):
                # run via the shell, keep going on non-zero exit (Grunt
                # prints the status and continues). Skipped entirely
                # during plan inspection — the reference executes sh
                # only `if (mExplain == null)` (GruntParser.java:1203)
                if self.execute_stores:
                    import subprocess

                    subprocess.run(sh.group(1), shell=True, check=False)
                continue
            fsm = _re.match(r"\s*fs\s+(-?\w+\s*.*?)\s*;?\s*$", line)
            if fsm and not _re.match(r"\s*fs\s*=", line):
                # Grunt `fs -<cmd> args` inside a script (GruntParser.
                # processFsCommand → hadoop FsShell): shared local-FS
                # equivalents, continue on non-zero like Grunt. Same
                # explain-mode skip (GruntParser.java:1174)
                if self.execute_stores:
                    from ..fsshell import fs_shell

                    fs_shell(fsm.group(1))
                continue
            m = _re.match(r"\s*%(declare|default)\s+(\w+)\s+(.+?)\s*;?\s*$", line)
            if m:
                kind, name, value = m.groups()
                if value.startswith("`") and value.rstrip().endswith("`"):
                    # backtick command substitution (PreprocessorContext
                    # .java processShellCmd: run the command, the value
                    # is its stdout, trailing newline stripped)
                    import subprocess

                    value = subprocess.run(
                        value.strip().strip("`"), shell=True, capture_output=True, text=True, check=True
                    ).stdout.rstrip("\n")
                else:
                    value = value.strip("'\"")
                if kind == "declare" or name not in self.params:
                    self.params[name] = value
                continue
            out_lines.append(line)
        if sql_buf:  # unterminated trailing sql statement — run as-is
            self._run_sql_command(" ".join(sql_buf))
        return "\n".join(out_lines)

    def _run_sql_command(self, stmt: str) -> None:
        """Execute one Grunt ``sql`` statement (sources/hcatalog.py);
        skipped during plan inspection like sh/fs (GruntParser.java:
        1327 warns-and-ignores 'sql' under explain -script/-check)."""
        if self.execute_stores:
            from ..sources.hcatalog import run_sql

            run_sql(self.spark, stmt)

    # ------------------------------------------------------------------
    def _stmt(self, stmt):
        if isinstance(stmt, G.Assign):
            self.aliases[stmt.alias] = self._op(stmt.op, stmt.alias)
        elif isinstance(stmt, G.Realias):
            self.aliases[stmt.alias] = self.aliases[stmt.src]
        elif isinstance(stmt, G.Store):
            # the storage function resolves by leaf name
            # (org.apache.pig.piggybank.storage.CSVExcelStorage →
            # CSVExcelStorage), as Pig resolves registered classes
            fmt, sf, opts = storage.bind(stmt.storer, "store", stmt.storer_args or [])
            conf = self.spark.conf
            if sf.error_handling and conf.get("pig.error-handling.enabled", "false") == "true":
                # SET pig.error-handling.enabled true → tolerant store
                # (ErrorHandling.java; thresholds per PigConfiguration)
                opts["on_error"] = "skip"
                opts["min_error_records"] = int(conf.get("pig.error-handling.min.error.records", "0"))
                opts["max_error_frac"] = float(conf.get("pig.error-handling.error.threshold", "0.0"))
            import os as _os

            if sf.clobber and self.execute_stores and _os.path.exists(stmt.path):
                # Pig refuses to clobber an existing output location
                # (InputOutputFileValidator ERROR 6000, negative.conf
                # 'store into existing file'); remove it first (fs -rmr)
                # or store elsewhere — the DSL .store(mode=...) keeps
                # Spark's explicit-mode semantics for programmatic use
                raise ValueError(
                    f"pig latin: output location {stmt.path!r} already exists "
                    "(ERROR 6000 Output Location Validation Failed)"
                )
            store_fn = lambda d, p=stmt.path, f=fmt, o=opts: sources.store(d, p, f, **o)  # noqa: E731
            self._pending_stores.append((self._rel(stmt.rel), stmt.path, store_fn))
            self.stores.append(stmt.path)
            self.sink_aliases.append(stmt.rel)
        elif isinstance(stmt, G.Simple) and stmt.op == "dump":
            self.sink_aliases.append(stmt.rel)
            if not self.execute_stores:
                # plan-inspection translation (BoundScript.describe/
                # explain/illustrate): never run jobs for DUMPs
                return
            from ..render import render_row

            rows = self._rel(stmt.rel).df.collect()
            self.outputs[stmt.rel] = rows
            for r in rows[:100]:
                print(render_row(r))
        elif isinstance(stmt, G.Simple) and stmt.op == "describe":
            if not self.execute_stores:
                # plan-inspection translation (explain -script /
                # BoundScript.describe): GruntParser.processExplain
                # only COMPILES the script — in-script describe/
                # explain/illustrate/DUMP print and run nothing
                return
            if stmt.rel in (None, "@"):
                # bare describe / describe @ — last-defined alias
                # (processDescribe's getLastAlias path + its error)
                if not self.aliases:
                    raise NameError(
                        "No previously defined alias found. Please define an "
                        "alias and use 'describe' operator."
                    )
                stmt = G.Simple("describe", list(self.aliases)[-1])
            if stmt.rel in self.nested_schemas:
                # describe <alias>::<inner> — the nested block's inner
                # relation schema (Pig DESCRIBE nested alias support)
                print(f"{stmt.rel}: {self.nested_schemas[stmt.rel]}")
            else:
                print(f"{stmt.rel}: {self._rel(stmt.rel).describe()}")
        elif isinstance(stmt, G.Simple) and stmt.op == "explain":
            if not self.execute_stores:
                return  # plan-inspection translation — see describe
            self._rel(stmt.rel).explain()
        elif isinstance(stmt, G.ExplainStmt):
            if not self.execute_stores:
                return  # plan-inspection translation — see describe
            self._explain_stmt(stmt)
        elif isinstance(stmt, G.Simple) and stmt.op == "illustrate":
            if not self.execute_stores:
                return  # plan-inspection translation — see describe
            self._rel(stmt.rel).illustrate()
        elif isinstance(stmt, G.SplitStmt):
            parent = self._rel(stmt.rel)
            conds = [self._expr(c, parent) for _, c in stmt.branches if c is not None]
            has_otherwise = any(c is None for _, c in stmt.branches)
            outs = parent.split(*conds, otherwise=has_otherwise)
            for (alias, _), rel in zip(stmt.branches, outs):
                self.aliases[alias] = RelInfo(rel)
        elif isinstance(stmt, G.Simple) and stmt.op == "register":
            self.registered.append(stmt.rel)  # recorded no-op: code is Python-native
        elif isinstance(stmt, G.Register):
            self.registered.append(stmt.path)
            import os as _os

            if (
                stmt.path.endswith(".jar")
                and "://" not in stmt.path
                and not any(ch in stmt.path for ch in "*?{[")
                and _os.path.basename(stmt.path) not in _ENGINE_JARS
                and not _os.path.exists(stmt.path)
            ):
                # QueryParserDriver.registerJar: a registered jar must
                # exist (ERROR 101) — except the bundles whose classes
                # ship ENGINE-SIDE (piggybank/test-UDF/datafu leaves
                # resolve from functions/, so their registration is
                # meaningful without the file)
                raise ValueError(
                    f"pig latin: file '{stmt.path}' does not exist "
                    "(ERROR 101; REGISTER checks the path — "
                    "QueryParserDriver.registerJar)"
                )
            engine = (stmt.engine or "").lower()
            if engine in ("jruby", "javascript", "groovy"):
                # scripting engines whose runtime isn't Python: can't
                # execute the UDF file. Parse-and-refuse with guidance
                # (same scope class as MAPREDUCE/HBase)
                raise NotImplementedError(
                    f"REGISTER ... USING {engine}: only Python scripting "
                    "engines run here (jython/streaming_python execute as "
                    "native CPython); port the UDF file to Python"
                )
            if stmt.namespace or engine:
                # REGISTER 'udfs.py' USING jython [AS ns] — scripting
                # UDFs (JythonScriptEngine/PythonScriptEngine): exec the
                # file with Pig's decorator surface in scope, expose
                # every public callable as ns.func(...) — or, with no
                # AS clause, as bare top-level names (Pig registers
                # them unqualified)
                funcs = _load_script_udfs(stmt.path, engine or "jython")
                if stmt.namespace:
                    self.scripts[stmt.namespace] = funcs
                else:
                    self.scripts.setdefault("", {}).update(funcs)
        elif isinstance(stmt, G.SetStmt):
            if stmt.key == "__exec_boundary__":
                # Grunt `exec`: run everything queued so far — later
                # LOADs may read paths the pending STOREs write
                self._flush_stores()
                return
            # SET default_parallel n ≅ PARALLEL clause → shuffle partitions
            key = {"default_parallel": "spark.sql.shuffle.partitions"}.get(stmt.key, stmt.key)
            try:
                self.spark.conf.set(key, stmt.value)
            except Exception:
                pass  # unknown/static confs are advisory in Pig too
        elif isinstance(stmt, G.Define):
            if stmt.args and stmt.args[0] == "__exec__":
                self.defines[stmt.alias] = self._parse_exec_define(stmt)
            else:
                self.defines[stmt.alias] = registry.define(stmt.func, [str(a) for a in stmt.args], self.defines, self.scripts)
        elif isinstance(stmt, G.AssertStmt):
            rel = self._rel(stmt.rel)
            self.aliases[stmt.rel] = RelInfo(rel.assert_by(self._expr(stmt.cond, rel), stmt.msg or ""))
        else:
            raise NotImplementedError(f"statement {type(stmt).__name__}")

    def _explain_stmt(self, stmt) -> None:
        """EXPLAIN with GruntParser.processExplain's surface
        (GruntParser.java:330): [-script f] [-param k=v] [-out target]
        [-dot|-xml] [-brief] [alias|@]. Bare explain = the last-defined
        alias (getLastAlias); '@' = the last relation. -dot/-xml render
        the CATALYST optimized plan (the artifact that matters on this
        engine) via plans.plan_dot/plan_xml; -out writes files
        (logical_plan-<n>.<fmt> inside a directory target, reference
        naming); -brief = Spark's 'simple' mode instead of 'formatted'."""
        import io
        import os as _os
        from contextlib import redirect_stdout

        targets: list[tuple[str, Relation]] = []
        if stmt.script is not None:
            from . import translator as _translator

            fresh = _translator(self.spark, params=dict(stmt.params or {}))
            fresh.execute_stores = False
            with open(stmt.script, encoding="utf-8") as fh:
                rels = fresh.run(fh.read())
            sinks = [a for i, a in enumerate(fresh.sink_aliases)
                     if a in rels and a not in fresh.sink_aliases[:i]]
            if not sinks and rels:
                sinks = [list(rels)[-1]]
            targets = [(a, rels[a]) for a in sinks]
        else:
            alias = stmt.rel
            if alias in (None, "@"):
                if not self.aliases:
                    raise SyntaxError(
                        "'explain' statement must be on an alias or on a script."
                    )
                alias = list(self.aliases)[-1]
            targets = [(alias, self._rel(alias))]

        def _render(rel: Relation) -> str:
            if stmt.fmt == "dot":
                from ..plans import plan_dot

                return plan_dot(rel.df)
            if stmt.fmt == "xml":
                from ..plans import plan_xml

                return plan_xml(rel.df)
            buf = io.StringIO()
            with redirect_stdout(buf):
                rel.explain("simple" if stmt.brief else "formatted")
            return buf.getvalue()

        for i, (alias, rel) in enumerate(targets):
            text = _render(rel)
            if stmt.out is None:
                print(f"# {alias}")
                print(text)
            elif _os.path.isdir(stmt.out):
                ext = {"text": "txt"}.get(stmt.fmt, stmt.fmt)
                suffix = "" if len(targets) == 1 else f"_{i + 1}"
                with open(_os.path.join(stmt.out, f"logical_plan{suffix}.{ext}"), "w") as fh:
                    fh.write(text)
            else:
                mode = "w" if i == 0 else "a"
                with open(stmt.out, mode) as fh:
                    fh.write(f"# {alias}\n{text}\n")

    def _rel(self, alias: str) -> Relation:
        if alias not in self.aliases:
            raise NameError(f"pig latin: unknown alias {alias!r}")
        return self.aliases[alias].rel

    def _parse_exec_define(self, stmt: "G.Define") -> dict:
        """DEFINE alias `cmd` [SHIP/CACHE(...)] [INPUT(stdin USING
        serde) OUTPUT(stdout USING serde)] (QueryParser.g command
        clause, PigStreamingBase.java, impl/streaming/PigStreaming.java).

        INPUT's serde SERIALIZES tuples onto the command's stdin;
        OUTPUT's serde DESERIALIZES its stdout lines. PigStreaming
        ['<delim>'] — the only serde shipped with Pig — maps to the
        delimiter-parameterized built-in contract (Column ops for ANY
        delimiter, so value formatting is Spark's cast-to-string
        regardless of delimiter). Any other class name raises with
        guidance: arbitrary Java PigStreamingBase classes cannot load
        here; Python callables go through
        ``Relation.stream_through(serialize=..., deserialize=...)``."""
        extras = stmt.args[1] if len(stmt.args) > 1 else []
        spec: dict = {
            "cmd": stmt.func, "ship": [], "in_sep": "\t", "out_sep": "\t",
            "in_file": None, "out_file": None,
            "serialize": None, "deserialize": None,
        }

        def parse_serde(items: list):
            toks = [(k, v) for k, v in items]
            idx = next(
                (i for i, (k, v) in enumerate(toks) if k == "tok" and v.lower() == "using"),
                None,
            )
            # INPUT('foo' ...) / OUTPUT('foo' ...): a quoted token
            # before USING names a FILE the command reads/writes in
            # its task cwd instead of stdin/stdout (QueryParser.g
            # stream_cmd input/output clauses, POStream file channels)
            target = next(
                (v for k, v in (toks if idx is None else toks[:idx]) if k == "str"),
                None,
            )
            if idx is None:
                return target, None, None  # INPUT(stdin) — default serde
            cls_parts: list[str] = []
            args: list[str] = []
            in_args = False
            for k, v in toks[idx + 1:]:
                if k == "tok" and v == "(":
                    in_args = True
                elif k == "tok" and v == ")":
                    in_args = False
                elif k == "str" and in_args:
                    args.append(v)
                elif k == "tok" and not in_args:
                    cls_parts.append(v)
            cls = "".join(cls_parts)
            base = cls.rsplit(".", 1)[-1]
            from ..functions.testudf import STREAM_SERDES

            if base.lower() in STREAM_SERDES:
                # the reference test-UDF serdes (StreamingDump =
                # PigToStream tuple-format writer, DumpStreamer =
                # StreamToPig paren-strip parser) run as the engine's
                # Python serialize/deserialize hooks
                return target, None, STREAM_SERDES[base.lower()]
            if base != "PigStreaming":
                raise NameError(
                    f"DEFINE {stmt.alias}: stream serde {cls!r} is a Java "
                    "PigStreamingBase class this engine cannot load; use "
                    "PigStreaming('<delim>') or pass Python callables via "
                    "Relation.stream_through(serialize=..., deserialize=...)"
                )
            return target, (args[0] if args else "\t"), None

        for kind, items in extras:
            if kind in ("ship", "cache"):
                spec["ship"].extend(v for k, v in items if k == "str")
            elif kind in ("input", "output"):
                target, d, serde = parse_serde(items)
                side = "in" if kind == "input" else "out"
                if target is not None:
                    spec[f"{side}_file"] = target
                if d is not None:
                    spec[f"{side}_sep"] = d
                if serde is not None:
                    role, fn = serde
                    want = "serialize" if kind == "input" else "deserialize"
                    if role != want:
                        raise NameError(
                            f"DEFINE {stmt.alias}: serde is a "
                            f"{'PigToStream' if role == 'serialize' else 'StreamToPig'} "
                            f"— wrong side for {kind.upper()}()"
                        )
                    spec[role] = fn
            # stderr('dir' [limit n]) is a task-log routing directive —
            # no dataflow effect (GruntParser handles it as logging)
        # SHIP is job-scoped in Pig (JobControlCompiler distributes
        # every shipped file to every task's cwd), so an inline
        # `stream X through \`perl script.pl\`` can rely on files
        # shipped by a DEFINE elsewhere in the same script.
        # Auto-ship candidates register FIRST, explicit SHIP paths
        # after (LogicalPlanBuilder.buildCommand: checkAutoShipSpecs
        # runs before addPathToShip) — on a basename collision the
        # EXPLICIT file is staged last and wins
        self._autoship(spec["cmd"])
        for p in spec["ship"]:
            self._add_job_ship(p)
        return spec

    def _add_job_ship(self, path: str) -> None:
        """Register a file for the job's task-cwd staging. Two
        DIFFERENT files sharing a basename cannot both land in one
        task cwd — Pig's DistributedCache rejects conflicting
        resources; identical copies (the autoship-found cwd copy of an
        explicitly shipped script) dedupe to the later registration."""
        import filecmp
        import os as _os

        path = _os.path.abspath(path)
        if path in self._job_ship:
            return
        base = _os.path.basename(path)
        for prev in list(self._job_ship):
            if _os.path.basename(prev) == base:
                if _os.path.isfile(prev) and _os.path.isfile(path) and filecmp.cmp(prev, path, shallow=False):
                    self._job_ship.remove(prev)  # identical: later wins
                    break
                raise ValueError(
                    f"pig latin: SHIP conflict — two different files named "
                    f"{base!r} ({prev} vs {path}) cannot both land in the "
                    "task working directory (DistributedCache contract)"
                )
        self._job_ship.append(path)

    def _autoship(self, cmd: str) -> None:
        """Auto-ship (StreamingCommandUtils.checkAutoShipSpecs): for
        `perl x.pl` / `python x.py` the candidate is the first
        non-option non-quoted argument, otherwise the command word
        itself; absolute paths are never auto-shipped, and a candidate
        the client environment can't find is silently skipped (the
        reference's which(1) miss). Found candidates resolve against
        the submitting process's cwd and join the job's ship list."""
        import os as _os
        import shlex as _shlex

        try:
            toks = _shlex.split(cmd)
        except ValueError:
            return
        if not toks:
            return
        cand = None
        if toks[0].lower() in ("perl", "python"):
            cand = next((a for a in toks[1:] if not a.startswith("-")), None)
        else:
            cand = toks[0]
        if cand and not _os.path.isabs(cand) and _os.path.isfile(cand):
            self._add_job_ship(cand)
        if toks[0].lower() == "perl" and cand and _os.path.isfile(cand):
            # a perl script's `use`d modules resolve from @INC '.' =
            # the task cwd, so sibling .pm files must travel WITH the
            # script (the reference harness ships
            # PigStreamingModule.pm explicitly for exactly this;
            # StreamingCommandUtils has no module scanner, so Pig
            # users ship by hand — the engine does it for them).
            # Applies to absolute script paths too: the script file
            # stays cluster-visible but the task cwd moves.
            import glob as _glob

            for pm in _glob.glob(_os.path.join(_os.path.dirname(_os.path.abspath(cand)), "*.pm")):
                self._add_job_ship(pm)

    # ------------------------------------------------------------------
    def _op(self, op, out_alias: str) -> RelInfo:
        self._current_alias = out_alias  # nested describe keys (C::D)
        if isinstance(op, G.Load):
            return RelInfo(self._load(op))
        if isinstance(op, G.Filter):
            rel = self._rel(op.rel)
            return RelInfo(rel.filter(self._bool_expr(op.cond, rel)))
        if isinstance(op, G.Foreach):
            return self._foreach(op)
        if isinstance(op, G.Group):
            return self._group(op)
        if isinstance(op, G.Join):
            return RelInfo(self._join(op))
        if isinstance(op, G.Order):
            rel = self._rel(op.rel)
            cols = [self._expr(e, rel).asc() if asc else self._expr(e, rel).desc() for e, asc in op.keys]
            return RelInfo(rel.order_by(*cols))
        if isinstance(op, G.Simple) and op.op == "distinct":
            return RelInfo(self._rel(op.rel).distinct())
        if isinstance(op, G.Limit):
            return RelInfo(self._rel(op.rel).limit(int(self._scalar_value(op.n))))
        if isinstance(op, G.Sample):
            return RelInfo(self._rel(op.rel).sample(float(self._scalar_value(op.p))))
        if isinstance(op, G.Union):
            rels = [self._rel(r) for r in op.rels]
            return RelInfo(rels[0].union(*rels[1:], onschema=op.onschema))
        if isinstance(op, G.Cross):
            rels = [self._rel(r) for r in op.rels]
            # Pig qualifies CROSS output fields with their input alias
            # (LogicalSchema: c::age, d::age) — prefix colliding names
            # so c::age / d::age resolve and bare refs stay unambiguous
            from collections import Counter

            counts = Counter(c for r in rels for c in r.df.columns)
            pref = []
            for alias, r in zip(op.rels, rels):
                df = r.df
                sel = [
                    df[c].alias(f"{alias}::{c}") if counts[c] > 1 else df[c]
                    for c in df.columns
                ]
                pref.append(Relation(df.select(*sel)))
            out = pref[0]
            for r in pref[1:]:
                out = out.cross(r)
            return RelInfo(out)
        if isinstance(op, G.CubeStmt):
            return self._cube_stmt(op)
        if isinstance(op, G.Rank):
            rel = self._rel(op.rel)
            # Pig names the prepended column rank_<input alias>
            # (LORank.java getSchema)
            rname = f"rank_{op.rel}"
            if not op.keys:
                return RelInfo(rel.rank(name=rname))
            cols = [self._expr(e, rel) for e, _ in op.keys]
            asc = [a for _, a in op.keys]
            return RelInfo(rel.rank(*cols, ascending=asc, dense=op.dense, name=rname))
        if isinstance(op, G.Stream):
            rel = self._rel(op.rel)
            cmd = op.cmd
            # the command's stdout is Pig TEXT: land every declared
            # field as a string, then bind the AS clause as LOAD does
            str_ddl = (
                ", ".join(f"{f.name} string" for f in op.schema)
                if op.schema is not None
                else None  # no AS: runtime-discovered arity, untyped
            )

            def typed(rel2: Relation) -> RelInfo:
                if op.schema is None:
                    return RelInfo(rel2)
                return RelInfo(Relation(_bind_as(rel2.df, op.schema)))

            if cmd.startswith("\x00alias:"):
                name = cmd[len("\x00alias:"):]
                if name not in self.defines:
                    raise NameError(f"STREAM THROUGH {name}: no such DEFINE")
                spec = self.defines[name]
                if not isinstance(spec, dict):
                    raise NameError(f"STREAM THROUGH {name}: DEFINEd as a function, not a command")
                return typed(rel.stream_through(
                    spec["cmd"], str_ddl, ship=self._job_ship or None,
                    in_sep=spec["in_sep"], out_sep=spec["out_sep"],
                    in_file=spec["in_file"], out_file=spec["out_file"],
                    serialize=spec.get("serialize"),
                    deserialize=spec.get("deserialize"),
                ))
            self._autoship(cmd)  # inline `stream X through \`perl x.pl\``
            return typed(rel.stream_through(cmd, str_ddl, ship=self._job_ship or None))
        raise NotImplementedError(f"operator {type(op).__name__}")

    # ------------------------------------------------------------------
    def _load(self, op: G.Load) -> Relation:
        df = self._load_df(op)
        return Relation(_bind_as(df, op.schema) if op.schema else df)

    def _load_df(self, op: G.Load) -> DataFrame:
        """The loader's frame, before the AS clause binds to it."""
        # a LOAD of a path some pending STORE will write is a job
        # dependency (Pig orders these jobs): flush the writes first
        if any(
            op.path.startswith(p) or p.startswith(op.path)
            for _, p, _ in self._pending_stores
        ):
            self._flush_stores()
        types = [f.type for f in op.schema] if op.schema else None
        fmt, _, opts = storage.bind(op.loader, "load", op.loader_args or [], types)
        # with -tagFile the filename is $0 and the user's AS clause
        # includes it (Pig semantics) — the positional binding covers both
        return sources.load(self.spark, op.path, fmt, **opts)

    # ------------------------------------------------------------------
    def _group(self, op: G.Group) -> RelInfo:
        if len(op.rels) == 1:
            alias = op.rels[0]
            child = self._rel(alias)
            keys = op.keys[0]
            if not keys:  # GROUP rel ALL
                info = GroupedInfo([], child, alias)
                bag = child.group_all().bag(alias)
                return RelInfo(bag, grouped=info)
            named = self._key_names(keys, child)
            bag_rel = Relation(
                child.df.groupBy(*[c.alias(n) for n, c in named]).agg(
                    F.collect_list(F.struct(*[child.df[x] for x in child.df.columns])).alias(alias)
                )
            )
            # single key → Pig names it 'group'
            if len(named) == 1:
                bag_rel = Relation(bag_rel.df.withColumnRenamed(named[0][0], "group"))
            return RelInfo(bag_rel, grouped=GroupedInfo(named, child, alias))
        # COGROUP: n-ary bags via operators.cogroup
        first = self._rel(op.rels[0])
        others = [self._rel(r) for r in op.rels[1:]]
        key_names = []
        dfs = []
        for rel_alias, keys in zip(op.rels, op.keys):
            rel = self._rel(rel_alias)
            named = self._key_names(keys, rel)
            key_names.append([n for n, _ in named])
            dfs.append(rel)
        out = first.cogroup(others, on=key_names, bag_names=list(op.rels), inner=op.inner)
        if len(key_names[0]) == 1:
            out = Relation(out.df.withColumnRenamed(key_names[0][0], "group"))
        return RelInfo(out)

    def _cube_stmt(self, op: G.CubeStmt) -> RelInfo:
        """CUBE rel BY CUBE(..)/ROLLUP(..) (QueryParser.g:595, LOCube.java:31-70).

        Grouping sets = the cross product of each clause's sets (CUBE →
        powerset, ROLLUP → prefixes), exactly Pig's CubeDimensions ×
        RollupDimensions expansion — but expressed as df.groupingSets
        so Catalyst plans Expand + partial agg instead of pre-shuffle
        row multiplication. Rolled-up dims are NULL (SQL-standard);
        Pig's 'ALL' string marker is available via Relation.cube(
        all_marker=...) for golden-output compat.
        """
        from itertools import combinations, product

        alias = op.rel
        child = self._rel(alias)
        named: list[tuple[str, Column]] = []
        clause_sets: list[list[list[str]]] = []
        for kind, dims in op.clauses:
            dn = self._key_names(dims, child)
            # offset default names so CUBE(a,b), ROLLUP(c,d) don't collide
            dn = [(n if not n.startswith("k") or not n[1:].isdigit() else f"k{len(named) + i}", c)
                  for i, (n, c) in enumerate(dn)]
            names = [n for n, _ in dn]
            named.extend(dn)
            if kind == "cube":
                sets = [list(c) for r in range(len(names), -1, -1) for c in combinations(names, r)]
            else:  # rollup: full prefix chain down to ()
                sets = [names[:i] for i in range(len(names), -1, -1)]
            clause_sets.append(sets)
        sets = [sum(combo, []) for combo in product(*clause_sets)]
        # materialize key exprs under their output names; keep every other
        # child column for downstream aggregates
        names = [n for n, _ in named]
        base = child.df.select(
            *[c.alias(n) for n, c in named],
            *[child.df[x] for x in child.df.columns if x not in names],
        )
        # Pig names the cubed relation's bag 'cube' (LOCube docs), so
        # downstream FOREACH writes COUNT(cube) / SUM(cube.x)
        info = GroupedInfo([(n, F.col(n)) for n in names], Relation(base), "cube", sets=sets)
        # literal bag form (FOREACH fallback): bag named 'cube' per Pig
        bag = base.groupingSets([[F.col(n) for n in s] for s in sets], *[F.col(n) for n in names]).agg(
            F.collect_list(F.struct(*[F.col(x) for x in base.columns])).alias("cube")
        )
        return RelInfo(Relation(bag), grouped=info)

    def _bag_pipe_expr(self, st, rel: Relation) -> Column:
        """One nested statement over a FLAT relation → a derived
        Column. ``expr`` aliases evaluate directly; pipe kinds
        (filter/order/limit/distinct) apply to a BAG COLUMN (array of
        structs — what COGROUP/GROUP rows carry) as higher-order array
        functions: map-only, no shuffle, the bag never explodes."""
        if st.kind == "expr":
            return self._expr(st.cond, rel)

        def bag_col(ref: str) -> tuple[str, Column, object]:
            nm = ref.split(".", 1)[0]
            if nm.startswith("$"):
                nm = rel.df.columns[int(nm[1:])]
            if nm not in rel.df.columns or not isinstance(
                rel.df.schema[nm].dataType, T.ArrayType
            ):
                raise SyntaxError(
                    f"nested FOREACH over a flat relation: {ref!r} must be a bag "
                    "column (or GROUP the relation first)"
                )
            return nm, rel.df[nm], rel.df.schema[nm].dataType.elementType

        if st.kind == "cross":
            # nested CROSS (QueryParser.g nested_op, Pig >= 0.10): the
            # per-row cross product of two+ bag columns — a COGROUP
            # row's bags crossed within the group. flatten(transform×
            # transform): element = concatenated tuple, fields
            # qualified <operand>::<field> (Pig's cross naming).
            # Map-only; the bags already live in the row.
            def fields_of(elem) -> list[str]:
                return list(elem.names) if isinstance(elem, T.StructType) else []

            acc_name, acc_col, acc_elem = bag_col(st.source)
            acc_fields = [
                (f, f if "::" in f else f"{acc_name}::{f}") for f in fields_of(acc_elem)
            ]
            for ref in st.cond:
                b_name, b_col, b_elem = bag_col(ref)
                b_fields = [
                    (f, f if "::" in f else f"{b_name}::{f}") for f in fields_of(b_elem)
                ]
                af, bf = list(acc_fields), list(b_fields)

                def make(x, y, af=af, bf=bf):
                    return F.struct(
                        *[x[sf].alias(qf) for sf, qf in af],
                        *[y[sf].alias(qf) for sf, qf in bf],
                    )

                def mk_outer(bc, mk):
                    # pyspark reads the HOF callback's own arity, so
                    # the callbacks must be strictly single-parameter —
                    # close over bc/mk via this factory, not defaults
                    def outer(x):
                        return F.transform(bc, lambda y: mk(x, y))

                    return outer

                acc_col = F.flatten(F.transform(acc_col, mk_outer(b_col, make)))
                acc_fields = [(qf, qf) for _, qf in af] + [(qf, qf) for _, qf in bf]
            return acc_col

        src, arr, elem = bag_col(st.source)
        fields = list(elem.names) if isinstance(elem, T.StructType) else []

        if st.kind == "nforeach":
            # inner FOREACH over a bag column: per-element projection —
            # transform(bag, t -> struct(items)) stays map-only
            def project(t):
                out = []
                for i, item in enumerate(st.cond):
                    nm = item.alias or _default_name(item.expr, i)
                    out.append(self._expr(item.expr, _Elem(t, fields, lambda: elem)).alias(nm))
                return F.struct(*out)

            return F.transform(arr, project)
        if st.kind in ("filter", "distinct", "order", "limit"):
            return self._apply_bag_ops(arr, [_bag_op(st, fields)], fields, elem=lambda: elem)
        if st.kind == "project":
            rest = st.source.partition(".")[2]
            if rest and fields:
                return F.transform(arr, lambda t: t[rest.split(".")[-1]])
            return arr
        raise NotImplementedError(
            f"nested {st.kind!r} over a flat relation's bag column is not supported"
        )

    def _key_names(self, keys, rel: Relation) -> list[tuple[str, Column]]:
        named = []
        for k in keys:
            col = self._expr(k, rel)
            if isinstance(k, G.Col):
                name = k.name.split(".")[-1].replace("::", "_")
                if name.startswith("$"):
                    # positional key ($0) → the real column name, so
                    # name-based consumers (COGROUP) resolve it
                    name = rel.df.columns[int(name[1:])]
            else:
                name = f"k{len(named)}"
            named.append((name, col))
        return named

    # ------------------------------------------------------------------
    def _foreach(self, op: G.Foreach) -> RelInfo:
        if not isinstance(op.rel, str):
            # inline relational clause: FOREACH (GROUP a ALL) GENERATE
            # — evaluate the parenthesized op as an anonymous relation
            info = self._op(op.rel, "__inline__")
        else:
            info = self.aliases.get(op.rel)
        if info is None:
            raise NameError(f"pig latin: unknown alias {op.rel!r}")
        if info.grouped is not None:
            # positional refs over a GROUP result (LogicalSchema:
            # field 0 = the group key tuple, field 1 = the bag named
            # after the child): $0 ≡ group, $1 ≡ <child alias> — the
            # reference tutorial's FOREACH ... GENERATE FLATTEN($0),
            # COUNT($1) shape
            sub = {"$0": "group", "$1": info.grouped.child_alias}
            op = G.Foreach(
                op.rel,
                [
                    G.GenItem(_sub_positional(it.expr, sub), it.alias, it.flatten)
                    for it in op.items
                ],
                nested=op.nested,
            )
        if op.nested:
            if info.grouped is None:
                # nested block over a FLAT relation: expression aliases
                # (x = expr) and pipes over BAG COLUMNS (the arrays a
                # COGROUP / union-of-groups row carries) — each lowers
                # to a derived column via array higher-order functions
                # (order → array_sort with a comparator, filter →
                # F.filter, limit → slice, distinct → array_distinct),
                # then the plain flat path consumes them (FLATTEN =
                # explode, COUNT/SUM = the array-aggregate lowering)
                rel0 = info.rel
                for st in op.nested:
                    rel0 = Relation(
                        rel0.df.withColumn(st.alias, self._bag_pipe_expr(st, rel0))
                    )
                info = RelInfo(rel0)
                op = G.Foreach(op.rel, op.items, nested=None)
            else:
                return RelInfo(self._foreach_nested(op, info))
        if info.grouped is not None and self._all_algebraic(op.items, info.grouped):
            return RelInfo(self._foreach_agg(op, info.grouped))
        rel = info.rel
        cols: list[Column] = []
        flatten_aliases: list[str] = []
        seen_flat_names: set[str] = set()
        for i, item in enumerate(op.items):
            if isinstance(item.expr, G.Star):
                cols.extend(rel.df[c] for c in rel.df.columns)
                continue
            if isinstance(item.expr, G.RangeProj):
                cols.extend(rel.df[c] for c in _range_span(rel, item.expr))
                continue
            c = self._expr(item.expr, rel)
            if isinstance(item.alias, list):
                # FLATTEN(...) AS (a:int, b:chararray): splat then
                # rename/cast the appended field columns positionally
                name = f"__flat{i}"
                if not item.flatten:
                    raise SyntaxError("pig latin: a multi-field AS schema requires FLATTEN")
                flatten_aliases.append((name, item.alias))
            else:
                name = item.alias or _default_name(item.expr, i)
                if (
                    item.alias is None
                    and isinstance(item.expr, G.Col)
                    and item.expr.name.startswith("$")
                    and int(item.expr.name[1:]) < len(rel.df.columns)
                ):
                    # generate $N keeps the SOURCE field's name
                    # (LogicalSchema: positional projection preserves
                    # the input schema's field name); $N beyond a
                    # schemaless load's width keeps the default name
                    # and resolves to null in _resolve
                    name = rel.df.columns[int(item.expr.name[1:])]
                if name in seen_flat_names and item.alias is None and isinstance(item.expr, G.Col):
                    # un-aliased collision (c::group, d::group): keep
                    # the qualified source name, as LogicalSchema does.
                    # Dotted sources (mt.$0 vs mb.$0 — both leaf $0)
                    # qualify with :: — a literal dot in a column name
                    # would read as struct access downstream
                    name = item.expr.name.replace(".", "::")
                seen_flat_names.add(name)
                if item.flatten:
                    # an explicit single-name AS names the (single)
                    # flattened field — FLATTEN({(1),(2)}) AS v yields
                    # column v, not the tuple's inner field name
                    flatten_aliases.append((name, [(name, None)] if item.alias else None))
            cols.append(c.alias(name))
        out = Relation(rel.df.select(*cols))
        for name, schema in flatten_aliases:
            from pyspark.sql import types as _T

            dtype = out.df.schema[name].dataType
            if (
                schema is not None
                and len(schema) > 1
                and isinstance(dtype, _T.ArrayType)
                and not isinstance(dtype.elementType, _T.StructType)
            ):
                # FLATTEN(STRSPLIT(...)) AS (a, b, c): Pig's STRSPLIT
                # returns a TUPLE whose arity the AS schema fixes —
                # splat the first n elements POSITIONALLY (missing →
                # null), don't explode rows
                df = out.df
                others = [c for c in df.columns if c != name]
                fields = _flatten_as([F.get(df[name], i) for i in range(len(schema))], schema)
                out = Relation(df.select(*others, *fields))
                continue
            before_cols = out.df.columns
            out = out.flatten(name)
            if schema is not None:
                df = out.df
                if df.columns == before_cols:
                    # identity flatten (scalar/passthrough): the
                    # column stays IN PLACE — the append-at-end splat
                    # arithmetic would mis-claim the following columns
                    splat = [name]
                else:
                    # flatten consumed `name`, appended its fields
                    splat = df.columns[len(before_cols) - 1:]
                if len(splat) != len(schema) and len(schema) == 1:
                    # UDFs whose declared output schema is an opaque
                    # BAG/MAP (CreateTupleBag/flatten(map) shapes):
                    # Pig's AS names the DECLARED single field, but
                    # runtime arity wins and the splat keeps its own
                    # names — schema is advisory (LogicalSchema merge),
                    # not an arity assertion. Warn and keep ours.
                    import warnings

                    warnings.warn(
                        f"FLATTEN AS names 1 field but the value splats into "
                        f"{len(splat)} columns — keeping generated names "
                        f"{splat} (Pig: runtime arity wins over the declared "
                        "schema)",
                        stacklevel=2,
                    )
                    schema = None
            if schema is not None:
                named = dict(zip(splat, _flatten_as(splat, schema)))
                out = Relation(df.select(*[named.get(c, df[c]) for c in df.columns]))
        return RelInfo(out)

    def _all_algebraic(self, items: list[G.GenItem], g: GroupedInfo) -> bool:
        return all(_is_group_ref(item.expr) or self._is_agg_expr(item.expr, g) for item in items)

    def _is_agg_expr(self, e, g: GroupedInfo) -> bool:
        # a HiveUDAF alias is algebraic too (HiveUDAF.java extends AlgebraicEvalFunc)
        if self._hive_udaf(e) is not None or _grouped_builtin(e, g.child_alias) is not None:
            return True
        if isinstance(e, G.Bin):
            return self._is_agg_expr(e.left, g) and self._is_agg_expr(e.right, g)
        return isinstance(e, (G.Num, G.Str))

    def _foreach_agg(self, op: G.Foreach, g: GroupedInfo) -> Relation:
        child = g.child
        key_cols = [c.alias(n) for n, c in g.key_exprs]
        aggs: list[Column] = []
        selects: list[Column] = []
        flat_aggs: list[tuple[int, str, G.GenItem]] = []  # FLATTEN(<aggregate>)
        seen_names: set[str] = set()
        for i, item in enumerate(op.items):
            e = item.expr
            name = item.alias if isinstance(item.alias, str) else _default_name(e, i)
            if name in seen_names:
                # un-aliased aggregates of the same function collide
                # (SUM(a.age), SUM(a.gpa) both default to 'sum'); Pig
                # leaves them nameless/positional — disambiguate
                name = f"{name}_{i}"
            seen_names.add(name)
            if _is_group_ref(e):
                selects.extend(c for _, c in _group_selects(g, item))
                continue
            aggs.append(self._agg_expr(e, g).alias(name))
            selects.append(F.col(name))
            if item.flatten:
                flat_aggs.append((len(selects) - 1, name, item))
        if g.sets is not None:
            names = [n for n, _ in g.key_exprs]
            grouped = child.df.groupingSets(
                [[F.col(n) for n in s] for s in g.sets], *[F.col(n) for n in names]
            )
        elif key_cols:
            grouped = child.df.groupBy(*key_cols)
        else:
            grouped = child.df.groupBy()
        out = grouped.agg(*aggs) if aggs else grouped.agg(aggregates.over_rows("count_star").alias("__n")).drop("__n")
        if flat_aggs:
            # FLATTEN(<bag-valued aggregate>) — e.g. FLATTEN(COR(A.x,
            # A.y)) in the reference corpus: explode the result bag
            # post-agg (POForEach flatten of UDF output; an empty/null
            # bag drops the record) and splat tuple elements' fields,
            # honoring an AS (name[:type], ...) list. Splices run in
            # reverse select order so recorded positions stay valid.
            for idx, nm, it in reversed(flat_aggs):
                dt = out.schema[nm].dataType
                if isinstance(dt, T.ArrayType):
                    out = out.withColumn(nm, F.explode(F.col(nm)))
                    dt = out.schema[nm].dataType
                if not isinstance(dt, T.StructType):
                    continue  # FLATTEN of a scalar aggregate: Pig no-op
                if isinstance(it.alias, list):
                    repl = _flatten_as([out[nm][f] for f in dt.names], it.alias)
                else:
                    repl = [out[nm][f].alias(f) for f in dt.names]
                selects[idx:idx + 1] = repl
        return Relation(out.select(*selects))

    # -- nested FOREACH { ... } blocks ---------------------------------
    def _foreach_nested(self, op: G.Foreach, info: RelInfo) -> Relation:
        """Lower a nested block over a GROUP: flat plans first, bags
        only where the statement needs them.

        Pig streams each group's bag through the inner pipeline
        (POForEach.java inner plans; SecondaryKeyOptimizer for nested
        order). Here the block is read once into per-pipe plans
        (_nested_plan: one _Pipe per inner alias — filter, distinct,
        order keys, limit, projection, ops after a LIMIT). GENERATE
        items are ``group`` refs, FLATTENs (of a pipe, or of
        Stitch/Over) and aggregates, lowered by one of two strategies:

          flat   every FLATTEN is one row frame (_pipe_rows: filter →
                 project → distinct → top-k window if LIMIT; else a
                 per-group sortWithinPartitions if ordered; Over/Stitch
                 add window columns), the aggregates one grouped frame
                 (_nested_aggregates: plain aggregates, LIMIT pipes over
                 their top-k survivors) joined back on the group keys
          bags   several FLATTENed pipes, or a FLATTENed array pipe or
                 pipe with ops after its LIMIT: each FLATTENed pipe
                 collects as a bag (_pipe_bag) beside the aggregates,
                 then the bags explode — their per-group cross product

        Both emit GENERATE through _nested_generate."""
        g, pipes = self._nested_plan(op.nested, info.grouped)
        for pname, p in pipes.items():  # describe C::D
            self.nested_schemas[f"{self._current_alias}::{pname}"] = self._pipe_schema(p, g)
        overs, flats = [], []
        for i, it in enumerate(op.items):
            if _is_group_ref(it.expr):
                continue
            if self._has_over_call(it.expr):
                overs.append(i)
            elif it.flatten and self._pipe_heads(it.expr) & set(pipes):
                if not isinstance(it.expr, G.Col):
                    raise NotImplementedError("FLATTEN of an inner pipe takes the pipe or pipe.column")
                flats.append(i)
        heads = self._nested_heads(op.items, g, set(overs + flats))
        flat_pipes = [pipes[op.items[i].expr.name.partition(".")[0]] for i in flats]
        if len(flats) > 1 or any(p.arr or p.post_ops for p in flat_pipes):
            if overs:
                raise NotImplementedError("Stitch/Over cannot mix with several FLATTENed pipes")
            frame, splats = self._nested_bags(op.items, g, pipes, heads, flats)
        else:
            frame, splats = self._nested_flat(op.items, g, pipes, heads, sorted(overs + flats))
        return self._nested_generate(op.items, frame, heads, splats)

    def _nested_plan(self, nested: list, g: GroupedInfo) -> tuple[GroupedInfo, dict[str, "_Pipe"]]:
        """Read a nested block's statements once: one _Pipe per inner
        alias, ORDER keys resolved to real field names when recorded.
        Expression aliases and inner-FOREACH projections materialize as
        pre-shuffle child columns (recorded in ``g.derived``)."""
        pipes: dict[str, _Pipe] = {}
        for st in nested:
            if st.kind == "expr":
                # nested expression alias (QueryParser.g nested_command
                # 'alias = expression'): a derived per-tuple value of
                # the child, consumed as a plain column pipe — the
                # projection runs in the scan stage, never in a bag
                g = G_replace(
                    g,
                    child=Relation(
                        g.child.df.withColumn(st.alias, self._expr(st.cond, g.child))
                    ),
                    derived=g.derived + (st.alias,),
                )
                pipes[st.alias] = _Pipe(col=st.alias)
                continue
            if st.kind == "nforeach":
                # inner FOREACH (nested_op since Pig 0.10): a per-tuple
                # projection of the source pipe. It commutes with
                # grouping, so each generated item materializes as a
                # pre-shuffle derived column (mangled name); the pipe's
                # tuple becomes exactly those fields (proj)
                base = self._resolve_pipe(st.source, g, pipes)
                if any(item.flatten for item in st.cond):
                    # FLATTEN inside the inner FOREACH: the pipe's
                    # tuples become the ELEMENTS of a per-row array
                    # column, so the child row count and every sibling
                    # pipe stay untouched (_nforeach_flatten_pipe)
                    g, pipes[st.alias] = self._nforeach_flatten_pipe(st, base, g)
                    continue
                ch = g.child
                proj: dict[str, str] = {}
                for i, item in enumerate(st.cond):
                    name = item.alias or _default_name(item.expr, i)
                    mangled = f"__nf_{st.alias}_{name}"
                    ch = Relation(ch.df.withColumn(mangled, self._expr(item.expr, ch)))
                    proj[name] = mangled
                g = G_replace(g, child=ch, derived=g.derived + tuple(proj.values()))
                base.proj = proj
                base.col = None
                pipes[st.alias] = base
                continue
            if st.kind == "cross":
                raise NotImplementedError(
                    "nested CROSS over a single-input GROUP is not supported; "
                    "COGROUP the inputs and cross the sibling bags"
                )
            base = self._resolve_pipe(st.source, g, pipes)
            pipes[st.alias] = base
            if st.kind == "project":
                continue  # x = p.col: _resolve_pipe already applied the column
            # ORDER keys resolve once, here, against the pipe's fields:
            # an array pipe's element fields, else real child columns
            fields = self._pipe_fields(base, g)
            scope, proj = (None, None) if base.arr else (g.child.df.columns, base.proj)
            if base.limited or base.post_ops:
                # op chained after a LIMIT: statement order is the
                # dataflow order, and the flags below apply in canonical
                # filter→distinct→order→limit order before the slice —
                # record it for replay on the sliced bag (_pipe_bag)
                base.post_ops = [*(base.post_ops or []), _bag_op(st, fields, scope, proj)]
            elif st.kind == "distinct":
                # Pig's nested DISTINCT (POSortedDistinct,
                # DistinctDataBag) iterates in full-tuple sorted order:
                # it drops a prior ORDER (_pipe_order)
                base.distinct, base.ordered, base.order_keys = True, False, None
            elif st.kind == "filter" and base.arr:
                # FILTER on an array pipe is exact per element: rewrite
                # the per-row array in place, no shuffle
                ch = g.child
                mangled = f"__nfa_{st.alias}"
                filtered = self._apply_bag_ops(
                    ch.df[base.arr], [("filter", st.cond)], fields,
                    elem=lambda: ch.df.schema[base.arr].dataType.elementType,
                )
                g = G_replace(
                    g,
                    child=Relation(ch.df.withColumn(mangled, filtered)),
                    derived=g.derived + (mangled,),
                )
                base.arr = mangled
            elif st.kind == "filter":
                base.cond = st.cond if base.cond is None else G.Bin("and", base.cond, st.cond)
            elif st.kind == "order":
                base.ordered = True
                base.order_keys = _order_keys(st.cond, fields, scope, proj)
            elif st.kind == "limit":
                base.limited = True
                base.limit_n = int(st.cond)
        return g, pipes

    def _nested_heads(self, items: list, g: GroupedInfo, splat: set[int]) -> list:
        """Each GENERATE item's output, named once before any frame is
        built: a ``group`` ref → its _group_selects (name, column)
        pairs; a FLATTEN splat → None (named by _nested_generate); an
        aggregate → its column name — the alias or the default name,
        ``<name>_<i>`` when an earlier item took it."""
        seen: set[str] = set()
        heads: list = []
        for i, it in enumerate(items):
            if i in splat:
                heads.append(None)
            elif _is_group_ref(it.expr):
                heads.append(_group_selects(g, it))
                seen.update(n for n, _ in heads[-1])
            else:
                name = it.alias if isinstance(it.alias, str) else _default_name(it.expr, i)
                if name in seen:
                    name = f"{name}_{i}"
                seen.add(name)
                heads.append(name)
        return heads

    def _nested_generate(self, items: list, frame: DataFrame, heads: list, splats: dict) -> Relation:
        """The one GENERATE layout of a nested block, in item order:
        ``group`` refs as _group_selects projects them, aggregates by
        their names, and each FLATTEN splatted once — AS (...) names
        and casts its fields by position, AS name renames a single
        field, otherwise the fields keep their names, qualified
        ``<pipe>::<field>`` when the name is taken."""
        seen = {n for h in heads if h is not None for n in ([h] if isinstance(h, str) else [n for n, _ in h])}
        selects: list[Column] = []
        for i, h in enumerate(heads):
            if isinstance(h, str):
                selects.append(F.col(h))
            elif h is not None:
                selects.extend(c for _, c in h)
            else:
                pipe, fields = splats[i]
                schema = items[i].alias
                if isinstance(schema, str) and len(fields) == 1:
                    schema = [(schema, None)]
                elif not isinstance(schema, list):
                    schema = []
                    for n, _ in fields:
                        schema.append((f"{pipe}::{n}" if n in seen else n, None))
                        seen.add(schema[-1][0])
                selects.extend(_flatten_as([c for _, c in fields], schema))
        return Relation(frame.select(*selects))

    def _nested_flat(self, items: list, g: GroupedInfo, pipes: dict, heads: list, rows_at: list[int]) -> tuple[DataFrame, dict]:
        """Flat strategy: one row frame per FLATTEN (_pipe_rows or
        _over_rows; several cross on the group keys), the aggregates as
        one grouped frame joined back on the keys — left from the rows,
        since FLATTEN of an empty bag drops the group. A FLATTENed
        ordered pipe without LIMIT then sorts within its group's
        partition after the join (SecondaryKeyOptimizer's secondary
        sort: one shuffle, no bags). Returns (frame, splats)."""
        keys = [n for n, _ in g.key_exprs]
        built: dict[str, tuple] = {}

        def pipe_rows(name: str) -> tuple:
            # once per pipe: one both aggregated and FLATTENed builds its
            # window-over-shuffle subtree once
            if name not in built:
                built[name] = self._pipe_rows(pipes[name], g)
            return built[name]

        frames, splats, sort = [], {}, None
        for i in rows_at:
            it = items[i]
            if self._has_over_call(it.expr):
                name, df, fields = self._over_rows(it, g, pipes, pipe_rows)
            else:
                name, _, rest = it.expr.name.partition(".")
                df, tup, order = pipe_rows(name)
                if rest:
                    tup = [_pick_field(tup, rest, name)]
                fields = tup
                sort = None if pipes[name].limited else order
            frames.append((i, df, fields))
            splats[i] = (name, fields)
        limited = {n for n, p in pipes.items() if p.limited and not p.arr and not p.post_ops}
        aggs = [(h, items[i].expr) for i, h in enumerate(heads) if isinstance(h, str)]
        agg, fill = None, {}
        if aggs or not frames:
            agg, fill = self._nested_aggregates(aggs, g, pipes, limited, pipe_rows, anchor=not frames)
        if not frames:
            return agg, splats
        if len(frames) == 1:
            frame = frames[0][1]
        else:
            frame, sort = self._cross_rows(frames, splats, keys), None
        if agg is not None:
            frame = _fill_empty(_key_join(frame, agg, keys, "left"), fill)
        if sort:
            order = [F.col(c).asc() if a else F.col(c).desc() for c, a in sort]
            if keys:
                frame = frame.repartition(*[F.col(n) for n in keys])
            frame = frame.sortWithinPartitions(*[F.col(n) for n in keys], *order)
        return frame, splats

    @staticmethod
    def _cross_rows(frames: list, splats: dict, keys: list[str]) -> DataFrame:
        """Several FLATTENs' row frames → their per-group CROSS PRODUCT
        (Pig's FLATTEN of several bags): a null-safe equi-join on the
        group keys, co-partitioned with the frames' own shuffles, never
        a global cartesian. Each frame's fields move to unique names
        first; ``splats`` is repointed at them."""
        out = None
        for i, df, fields in frames:
            tmp = [f"__x{i}_{m}" for m in range(len(fields))]
            df = df.select(
                *[F.col(k) for k in keys],
                *[(F.col(c) if isinstance(c, str) else c).alias(t) for (_, c), t in zip(fields, tmp)],
            )
            splats[i] = (splats[i][0], [(n, t) for (n, _), t in zip(fields, tmp)])
            out = df if out is None else _key_join(out, df, keys)
        return out

    def _nested_bags(self, items: list, g: GroupedInfo, pipes: dict, heads: list, flats: list[int]) -> tuple[DataFrame, dict]:
        """Bag strategy: each FLATTENed pipe collects as a bag
        (_pipe_bag: ordered, LIMIT-sliced, later ops replayed) beside the
        aggregates (_nested_agg) in ONE grouped frame; the bags then
        explode one after another — explode × explode is the per-group
        cross product, and FLATTEN of an empty bag drops the group, as
        in Pig. The collected bags are Pig's own reducer-bag footprint
        for these statements; LIMIT pipes slice before the explode."""
        cols: list[Column] = []
        for i, it in enumerate(items):
            if i in flats:
                head, _, rest = it.expr.name.partition(".")
                cols.append(self._pipe_bag(pipes[head], rest or None, g).alias(f"__mfb{i}"))
            elif isinstance(heads[i], str):
                cols.append(self._nested_agg(it.expr, g, pipes).alias(heads[i]))
        df = g.child.df.groupBy(*[c.alias(n) for n, c in g.key_exprs]).agg(*cols)
        elems = {i: df.schema[f"__mfb{i}"].dataType.elementType for i in flats}
        splats = {}
        for i in flats:
            bag = f"__mfb{i}"
            df = df.withColumn(bag, F.explode(bag))
            splats[i] = (items[i].expr.name.partition(".")[0], [(f, F.col(bag)[f]) for f in elems[i].names])
        return df, splats

    def _pipe_rows(self, pipe: "_Pipe", g: GroupedInfo) -> tuple[DataFrame, list[tuple[str, str]], list[tuple[str, bool]]]:
        """A pipe's tuples as rows beside the group keys: filter →
        project → distinct (dropDuplicates over keys + tuple) → if
        LIMIT, the per-group top-k window
        (operators.nested.topk_per_group: one shuffle, row_number ≤ n,
        no bags). Returns (frame, the tuple's (field, frame column)
        pairs, the bag order as [(frame column, asc)] — _pipe_order)."""
        child = g.child
        df = child.df
        if pipe.cond is not None:
            df = df.filter(self._expr(pipe.cond, child))
        keys = [n for n, _ in g.key_exprs]
        fields = self._pipe_tuple(pipe, g)
        cols = [c for _, c in fields]
        others = list(pipe.proj.values()) if pipe.proj else [c for c in df.columns if c not in g.derived]
        others += [c for c in cols if c not in others]
        kdf = df.select(
            *[c.alias(n) for n, c in g.key_exprs if n not in others],
            *[df[c] for c in others],
        )
        if pipe.distinct:
            kdf = kdf.select(*[F.col(n) for n in keys if n not in cols], *[F.col(c) for c in cols]).dropDuplicates()
            others = cols
        order = _pipe_order(pipe, others, lambda c: _orderable(kdf.schema[c].dataType))
        if pipe.limited:
            if not order:
                # an all-map tuple: a group key (constant within the
                # window — any n rows, as Pig allows, just not
                # retry-stable)
                order = [(k, True) for k in keys if _orderable(kdf.schema[k].dataType)][:1]
            if not order:
                raise NotImplementedError(
                    "unordered nested LIMIT over a tuple of only map-typed "
                    "fields has no orderable column; add an ORDER clause"
                )
            kdf = topk_per_group(
                kdf, keys, [c for c, _ in order], pipe.limit_n, ascending=[a for _, a in order]
            )
        return kdf, fields, order

    def _nested_aggregates(self, aggs: list, g: GroupedInfo, pipes: dict, limited: set, pipe_rows, anchor: bool) -> tuple[DataFrame, dict]:
        """A nested GENERATE's aggregates ``[(name, expr)]`` as one frame
        keyed on the group keys. An aggregate over a LIMIT pipe runs over
        that pipe's top-k survivors (one grouped frame per pipe,
        _topk_agg); COR/COV spanning LIMIT pipes zip their bounded bags
        (aggregates.over_bag); an expression combining aggregates splits
        into leaves (_split_agg_leaves) and recombines over the joined
        frame; every other aggregate runs over the child (_nested_agg).
        The frames stitch with null-safe full_outer joins on the keys
        (_key_join). Returns the frame and the ``_fill_empty`` map."""
        per_pipe: dict[str, list] = {}
        other, combos, pairs = [], [], []
        for name, e in aggs:
            heads = self._pipe_heads(e) & limited
            if not heads:
                other.append((name, e))
            elif isinstance(e, G.Col) or (
                isinstance(e, G.Call) and e.func.lower() in aggregates.ONE_BAG and len(self._pipe_heads(e)) == 1
            ):
                # one aggregate over one pipe, or GENERATE <pipe> (a bag)
                per_pipe.setdefault(next(iter(heads)), []).append((name, e))
            elif (
                isinstance(e, G.Call)
                and e.func.lower() in aggregates.PAIRWISE
                and len(e.args) >= 2
                and all(isinstance(a, G.Col) and a.name.partition(".")[0] in limited for a in e.args)
            ):
                # ONE call spanning LIMIT pipes (builtin/COR.java:66-101
                # computeAll walks the bags with paired iterators): each
                # argument collects as a bounded array in bag order
                refs = []
                for ai, a in enumerate(e.args):
                    ln, _, c = a.name.partition(".")
                    if not c:
                        raise SyntaxError(
                            f"{e.func.upper()} over a whole-tuple pipe needs a column (e.g. {ln}.field)"
                        )
                    refs.append(f"__mp{len(pairs)}_{ai}")
                    per_pipe.setdefault(ln, []).append((refs[-1], _SortedCollect(c)))
                pairs.append((name, refs, e.func.lower()))
            elif isinstance(e, G.Call) and e.func.lower() in aggregates.PAIRWISE:
                # COR/COV over a LIMIT pipe and another pipe: the bags
                # assemble over the group's rows and pair by position
                other.append((name, e))
            else:
                leaves: list = []
                rewritten = self._split_agg_leaves(e, limited, leaves, len(combos))
                for gen, head, call in leaves:
                    (per_pipe.setdefault(head, []) if head else other).append((gen, call))
                combos.append((name, rewritten))
        keys = [n for n, _ in g.key_exprs]
        child = g.child.df
        parts, fill = [], {}
        for ln, named in per_pipe.items():
            topk, fields, order = pipe_rows(ln)
            parts.append(
                topk.groupBy(*[F.col(n) for n in keys]).agg(
                    *[self._topk_agg(e, ln, topk, fields, order, g).alias(n) for n, e in named]
                )
            )
            for n, e in named:
                if isinstance(e, G.Col):
                    fill[n] = "bag"
                elif isinstance(e, G.Call) and aggregates.BUILTINS[e.func.lower()].empty is not None:
                    fill[n] = e.func.lower()
        grouped = child.groupBy(*[c.alias(n) for n, c in g.key_exprs])
        if other:
            parts.append(grouped.agg(*[self._nested_agg(e, g, pipes).alias(n) for n, e in other]))
        elif not parts:
            parts.append(grouped.agg(aggregates.over_rows("count_star").alias("__n")).drop("__n"))
        elif anchor and keys and any(pipes[ln].cond is not None for ln in per_pipe):
            # every frame comes from a FILTERed pipe: a group the FILTER
            # emptied is in none of them, yet Pig still emits it (empty
            # bag: COUNT 0, SUM null) — the group keys anchor the join
            parts.insert(0, child.select(*[c.alias(n) for n, c in g.key_exprs]).distinct())
        out = parts[0]
        for p in parts[1:]:
            # full_outer: a group a pipe's FILTER emptied is absent from
            # that pipe's frame but present in the others
            out = _key_join(out, p, keys, "full_outer")
        if len(parts) > 1 and keys:
            out = _fill_empty(out, fill)
        for name, rewritten in combos:
            out = out.withColumn(name, self._expr(rewritten, Relation(out)))
        for name, refs, fn in pairs:
            bags = [(F.col(r), out.schema[r].dataType.elementType, None) for r in refs]
            out = out.withColumn(name, aggregates.over_bag(fn, bags))
        return out, fill

    def _strip_pipe_prefix(self, e, lname: str):
        """Rewrite ``lname.x`` column refs to bare ``x`` so a scalar
        expression over a nested pipe's survivors can resolve against
        the top-k frame; any ref outside the pipe raises."""
        if isinstance(e, G.Col):
            head, _, rest = e.name.partition(".")
            if head == lname and rest:
                return G.Col(rest)
            raise NotImplementedError(
                f"aggregate over {e.name!r} mixed into the {lname!r} LIMIT-pipe expression"
            )
        if isinstance(e, G.Bin):
            return G.Bin(e.op, self._strip_pipe_prefix(e.left, lname), self._strip_pipe_prefix(e.right, lname))
        if isinstance(e, G.Cast):
            return G.Cast(e.type, self._strip_pipe_prefix(e.operand, lname))
        if isinstance(e, G.Call):
            return G.Call(e.func, [self._strip_pipe_prefix(a, lname) for a in e.args])
        if isinstance(e, G.BinCond):
            return G.BinCond(
                self._strip_pipe_prefix(e.cond, lname),
                self._strip_pipe_prefix(e.then, lname),
                self._strip_pipe_prefix(e.otherwise, lname),
            )
        if isinstance(e, (G.Num, G.Str, G.Bool)):
            return e
        raise NotImplementedError(
            f"unsupported expression {type(e).__name__} inside a LIMIT-pipe aggregate"
        )

    def _bag_agg(self, fname: str, e: G.Call, rel: Relation) -> Column | None:
        """A builtin aggregate over MATERIALIZED bag columns — FOREACH
        over a COGROUP alias (`GENERATE group, COUNT(c), MAX(o.price)`):
        the bag lowering (aggregates.over_bag), map-only — POForEach
        over a DataBag. None when an argument is no bag."""
        lfn = fname.lower()
        if not ((lfn in aggregates.ONE_BAG and len(e.args) == 1) or (lfn in aggregates.PAIRWISE and len(e.args) > 1)):
            return None
        bags = [self._bag_arg(a, rel) for a in e.args]
        if any(b is None for b in bags):
            return None
        return aggregates.over_bag(lfn, bags)

    def _bag_arg(self, arg, rel: Relation):
        """An aggregate argument as an aggregates.Bag when it is a bag:
        a bag column (``c``, ``$1``), its field (``c.f``, ``c.$N``), or a
        bag-valued expression (COUNT(TOKENIZE(text)) is Pig's per-tuple
        bag count; the type is probed, as SIZE does). Else None."""
        if not isinstance(arg, G.Col):
            if isinstance(arg, (G.Num, G.Str, G.Bool)):
                return None
            try:
                c = self._expr(arg, rel)
                dtype = rel.df.select(c.alias("__bag")).schema[0].dataType
            except Exception:
                return None
            return (c, dtype.elementType, None) if isinstance(dtype, T.ArrayType) else None
        head, _, rest = arg.name.partition(".")
        if head.startswith("$") and head[1:].isdigit() and int(head[1:]) < len(rel.df.columns):
            # positional bag ref: COUNT($1) over a COGROUP row
            head = rel.df.columns[int(head[1:])]
        if head not in rel.df.columns:
            return None
        dtype = rel.df.schema[head].dataType
        if not isinstance(dtype, T.ArrayType):
            return None
        elem = dtype.elementType
        if rest and isinstance(elem, T.StructType):
            # qualifier-chain history: Pig's LogicalSchema keeps the
            # full d::field name even where our flatten dropped the
            # prefix for a non-colliding field — match by leaf when
            # unique (_field_ref, the contract of _resolve's ::
            # handling); $N is positional
            rest = _field_ref(rest, elem.names) or rest
        return F.col(head), elem, rest or None

    def _split_agg_leaves(self, e, limited_names: set, leaves: list, combo_idx: int):
        """Decompose a combining expression into aggregate-call leaves:
        each leaf is replaced by a generated column ref and recorded as
        (gen_name, limited_pipe_or_None, call) so it can be computed in
        its pipe's top-k frame (or the flat-agg path) and stitched; the
        returned rewritten expression is pure scalar over those
        columns (plus group-key refs)."""
        if isinstance(e, G.Call) and e.func.lower() in aggregates.ONE_BAG:
            lheads = self._pipe_heads(e) & limited_names
            if len(lheads) > 1:
                # COUNT/SUM/AVG/MIN/MAX take ONE bag; an argument mixing
                # two pipes is bag arithmetic, which Pig's type checker
                # rejects too (TypeCheckingExpVisitor). The multi-bag
                # aggregates (COR/COV) are handled upstream.
                raise SyntaxError(
                    f"{e.func.upper()} argument mixes two nested pipes "
                    f"({', '.join(sorted(lheads))}); single-bag aggregates take one "
                    "pipe — use COR/COV for two-bag statistics"
                )
            gen = f"__agg{combo_idx}_{len(leaves)}"
            leaves.append((gen, next(iter(lheads)) if lheads else None, e))
            return G.Col(gen)
        if isinstance(e, G.Bin):
            return G.Bin(
                e.op,
                self._split_agg_leaves(e.left, limited_names, leaves, combo_idx),
                self._split_agg_leaves(e.right, limited_names, leaves, combo_idx),
            )
        if isinstance(e, G.Cast):
            return G.Cast(e.type, self._split_agg_leaves(e.operand, limited_names, leaves, combo_idx))
        if isinstance(e, G.BinCond):
            return G.BinCond(
                self._split_agg_leaves(e.cond, limited_names, leaves, combo_idx),
                self._split_agg_leaves(e.then, limited_names, leaves, combo_idx),
                self._split_agg_leaves(e.otherwise, limited_names, leaves, combo_idx),
            )
        if isinstance(e, G.Call):  # scalar function over combined aggs
            return G.Call(
                e.func,
                [self._split_agg_leaves(a, limited_names, leaves, combo_idx) for a in e.args],
            )
        if isinstance(e, (G.Num, G.Str, G.Bool)):
            return e
        if _is_group_ref(e):
            # group.<key> → the stitched frame's key column; a bare
            # single-key group ref is left to the caller's frame
            return G.Col(e.name.partition(".")[2]) if "." in e.name else e
        raise NotImplementedError(
            f"unaggregated pipe reference {getattr(e, 'name', type(e).__name__)!r} "
            "in an expression combining aggregates"
        )

    def _pipe_heads(self, e) -> set:
        """Inner-pipe aliases referenced anywhere in a GENERATE expr."""
        if isinstance(e, G.Bin):
            return self._pipe_heads(e.left) | self._pipe_heads(e.right)
        if isinstance(e, G.Cast):
            return self._pipe_heads(e.operand)
        if isinstance(e, G.Call):
            out: set = set()
            for a in e.args:
                out |= self._pipe_heads(a)
            return out
        if isinstance(e, G.Col):
            return {e.name.split(".", 1)[0]}
        if isinstance(e, G.MultiCol):
            return {e.rel.split(".", 1)[0]}
        return set()

    def _has_over_call(self, e) -> bool:
        """True when the expression contains a Stitch/Over call — the
        piggybank window idiom lowered by _over_rows."""
        if isinstance(e, G.Call):
            if e.func.lower() in ("stitch", "over"):
                return True
            return any(self._has_over_call(a) for a in e.args)
        if isinstance(e, G.Bin):
            return self._has_over_call(e.left) or self._has_over_call(e.right)
        if isinstance(e, G.Cast):
            return self._has_over_call(e.operand)
        return False

    # Over.java:112-119 frame constants: -1 = unbounded, 0 = current
    # row, k>0 = k rows away from current (before for start, after for
    # end); defaults (-1, 0) = unbounded preceding .. current row.
    _OVER_RANKING = {
        "row_number", "rank", "dense_rank", "percent_rank", "cume_dist",
    }
    _OVER_SUM_CAST = {
        "int": "long", "long": "long", "float": "double", "double": "double",
        "bytearray": "double", "bigdecimal": "decimal(38,18)",
    }
    _OVER_MINMAX_CAST = {
        "int": "int", "long": "long", "float": "float", "double": "double",
        "chararray": "string", "bytearray": "string", "bigdecimal": "decimal(38,18)",
    }

    def _over_rows(self, item, g: GroupedInfo, pipes: dict, pipe_rows) -> tuple[str, DataFrame, list]:
        """FLATTEN(Stitch(s, Over(s.f, 'sum(double)'), ...)) or
        FLATTEN(Over(s.f, ...)) — the piggybank window surface
        (Over.java:74-140: row_number/rank/dense_rank/ntile/
        percent_rank/cume_dist/lead/lag/first_value/last_value and
        windowed count/sum/avg/min/max with rows frames; Stitch.java
        zips the results back onto the ordered tuples). Pig runs the
        function over each group's ordered bag; here it is the native
        window ``partitionBy(group keys).orderBy(pipe order)`` over the
        pipe's rows, Over's (window_start, window_end) as
        ``rowsBetween`` — one shuffle, codegen, no bags. Returns (pipe,
        row frame, fields): the pipe's tuple when stitched, then one
        column per Over call (``result`` / ``result_i``, Over.java's
        default returnName)."""
        e = item.expr
        if not item.flatten:
            raise NotImplementedError(
                "Over/Stitch must be FLATTENed (bag-valued results are not materialized); "
                "write GENERATE FLATTEN(Stitch(s, Over(...)))"
            )
        fn = e.func.lower() if isinstance(e, G.Call) else None
        if fn == "stitch":
            if not (e.args and isinstance(e.args[0], G.Col)):
                raise SyntaxError("Stitch takes the ordered pipe as its first argument")
            overs = e.args[1:]
        elif fn == "over":
            if not (e.args and isinstance(e.args[0], G.Col)):
                raise SyntaxError("Over takes pipe[.column] as its first argument")
            overs = [e]
        else:
            raise NotImplementedError("Stitch/Over must be the whole FLATTEN expression")
        if not all(isinstance(oc, G.Call) and oc.func.lower() == "over" for oc in overs):
            raise SyntaxError("Stitch arguments after the pipe must be Over(...) calls")
        name = e.args[0].name.split(".", 1)[0]
        pipe = self._resolve_pipe(name, g, pipes)
        if pipe.distinct or pipe.limited:
            raise NotImplementedError("Over works on an ORDERed pipe (no nested DISTINCT/LIMIT)")
        if not pipe.ordered:
            raise SyntaxError(
                "Over requires the bag ordered first (Over.java contract): add s = ORDER x BY ...;"
            )
        df, tup, order = pipe_rows(name)
        w = SparkWindow.partitionBy(*[F.col(n) for n, _ in g.key_exprs]).orderBy(
            *[F.col(c).asc() if a else F.col(c).desc() for c, a in order]
        )
        over_cols = [self._over_column(oc, g, w) for oc in overs]
        names = ["result"] if len(over_cols) == 1 else [f"result_{i}" for i in range(len(over_cols))]
        base = tup if fn == "stitch" else []
        return name, df, base + list(zip(names, over_cols))

    def _over_column(self, oc: G.Call, g: GroupedInfo, w) -> Column:
        """One Over(...) call → a Spark window Column over ``w``."""
        if not oc.args or len(oc.args) < 2:
            raise SyntaxError("Over(pipe[.col], 'function'[, window_start, window_end[, args]])")
        ref = oc.args[0]
        if not isinstance(ref, G.Col):
            raise SyntaxError("Over's first argument must be pipe[.column]")
        _, _, colname = ref.name.partition(".")
        col = F.col(colname) if colname else None
        spec_node = oc.args[1]
        if not isinstance(spec_node, G.Str):
            raise SyntaxError("Over's second argument must be the function name string")
        spec = spec_node.value.lower()
        fn, _, typ = spec.partition("(")
        typ = typ.rstrip(")")
        def as_int(a) -> int | None:
            if isinstance(a, G.Num):
                try:
                    return int(a.value)
                except ValueError:
                    return None
            if isinstance(a, G.Un) and a.op == "neg":
                inner = as_int(a.operand)
                return -inner if inner is not None else None
            return None

        nums: list[int] = []
        extras: list[object] = []
        for a in oc.args[2:]:
            iv = as_int(a)
            if iv is not None and not extras:
                nums.append(iv)
            else:
                extras.append(a.value if isinstance(a, (G.Num, G.Str, G.Bool)) else a)
        # Over.java:310-356 is strictly positional: args[2] is ALWAYS
        # window_start (default -1 = unbounded preceding), args[3]
        # window_end (default 0 = current row), args[4+] the function-
        # specific arguments — even for lead/lag/ntile. A lone number
        # is therefore window_start for every function; ntile's bucket
        # count requires the full -1,-1,k form, and lead/lag offsets
        # the full -1,-1,offset[,default] form.
        if len(nums) >= 2:
            frame = (nums[0], nums[1])
            extras = nums[2:] + extras
        elif len(nums) == 1:
            frame = (nums[0], 0)
        else:
            frame = (-1, 0)

        def lo(v: int):
            return SparkWindow.unboundedPreceding if v == -1 else (SparkWindow.currentRow if v == 0 else -v)

        def hi(v: int):
            return SparkWindow.unboundedFollowing if v == -1 else (SparkWindow.currentRow if v == 0 else v)

        framed = w.rowsBetween(lo(frame[0]), hi(frame[1]))
        if fn in self._OVER_RANKING:
            # ranking functions take Pig's ordered-field-number arg —
            # redundant here (order comes from the ORDER pipe); frames
            # are meaningless for them in SQL and rejected by Spark
            return getattr(F, fn)().over(w)
        if fn == "ntile":
            if not extras:
                raise SyntaxError(
                    "Over(..., 'ntile') needs the bucket count as the function-"
                    "specific argument AFTER window_start/window_end, e.g. "
                    "Over(p, 'ntile', -1, -1, 4) (Over.java:310-356 — a lone "
                    "number is window_start, not the bucket count)"
                )
            return F.ntile(int(extras[0])).over(w)
        if fn in ("lead", "lag"):
            if col is None:
                raise SyntaxError(f"Over(..., '{fn}') needs pipe.column")
            offset = int(extras[0]) if extras else 1
            default = extras[1] if len(extras) > 1 else None
            return getattr(F, fn)(col, offset, default).over(w)
        if fn == "first_value":
            return F.first(col if col is not None else F.lit(1)).over(framed)
        if fn == "last_value":
            return F.last(col if col is not None else F.lit(1)).over(framed)
        if fn == "count":
            # builtin.COUNT semantics: non-null first field of each tuple
            return (F.count(col) if col is not None else F.count(F.lit(1))).over(framed).cast("long")
        if fn in ("sum", "avg", "min", "max"):
            if col is None:
                raise SyntaxError(f"Over(..., '{fn}(type)') needs pipe.column")
            if fn == "sum":
                cast_t = self._OVER_SUM_CAST.get(typ or "double", "double")
                return F.sum(col.cast(cast_t)).over(framed)
            if fn == "avg":
                cast_t = "decimal(38,18)" if typ == "bigdecimal" else "double"
                return F.avg(col.cast(cast_t)).over(framed)
            cast_t = self._OVER_MINMAX_CAST.get(typ) if typ else None
            c = col.cast(cast_t) if cast_t else col
            return (F.min(c) if fn == "min" else F.max(c)).over(framed)
        raise NameError(
            f"Over: unknown function {spec!r} (Over.java supports count/sum/avg/min/max/"
            f"row_number/rank/dense_rank/ntile/percent_rank/cume_dist/lead/lag/first_value/last_value)"
        )

    def _topk_agg(self, e, lname: str, topk: DataFrame, fields: list, order: list, g: GroupedInfo) -> Column:
        """Aggregate expression over a LIMIT pipe's top-k survivors
        (_pipe_rows: ``fields`` its tuple as (field, frame column),
        ``order`` its bag order)."""
        if isinstance(e, _SortedCollect):
            # bag-value array for a multi-bag aggregate (COR/COV):
            # collect (order keys, value), sort in bag order, strip to
            # the values — bounded by limit_n, pure codegen
            bag = F.collect_list(
                F.struct(
                    *[topk[c].alias(f"__o{i}") for i, (c, _) in enumerate(order)],
                    topk[_pick_field(fields, e.col, lname)[1]].alias("__v"),
                )
            )
            if order:
                bag = bag_sort(bag, [(f"__o{i}", a) for i, (_, a) in enumerate(order)])
            return F.transform(bag, lambda t: t["__v"])
        if isinstance(e, G.Col) and e.name.partition(".")[0] == lname:
            # GENERATE <limit-pipe>[.field] — the survivors as a BAG in
            # bag order; ≤ limit_n elements, so the state is bounded
            rest = e.name.partition(".")[2]
            sel = [_pick_field(fields, rest, lname)] if rest else fields
            sel = [(n.split("::")[-1], c) for n, c in sel]
            bag = F.collect_list(F.struct(*[topk[c].alias(n) for n, c in sel]))
            keys = _bag_keys(order, [n for n, _ in sel], {c: n for n, c in sel})
            keys = [(f, a) for f, a in keys if f is not None]
            return bag_sort(bag, keys) if keys else bag
        if isinstance(e, G.Bin):
            return _binop(
                e.op,
                self._topk_agg(e.left, lname, topk, fields, order, g),
                self._topk_agg(e.right, lname, topk, fields, order, g),
            )
        if isinstance(e, (G.Num, G.Str)):
            return self._expr(e, g.child)
        if isinstance(e, G.Cast):
            return self._topk_agg(e.operand, lname, topk, fields, order, g).cast(pigtypes.ddl(e.type))
        if isinstance(e, G.Call) and e.func.lower() in aggregates.ONE_BAG:
            fn = e.func.lower()
            if fn == "count_star" or not e.args:
                return aggregates.over_rows("count_star")
            arg = e.args[0]
            if not isinstance(arg, G.Col):
                # SUM(l.a * l.b + 2): evaluate the scalar over the top-k
                # frame, then aggregate (QueryParser.g lets nested
                # aggregates take arbitrary projections)
                return aggregates.over_rows(fn, [self._expr(self._strip_pipe_prefix(arg, lname), Relation(topk))])
            head, _, rest = arg.name.partition(".")
            if head != lname:
                raise NotImplementedError(f"aggregate over {head!r} mixed into the LIMIT-pipe expression")
            if rest:
                return aggregates.over_rows(fn, [topk[_pick_field(fields, rest, lname)[1]]])
            if fn == "count":
                # COUNT(bag) reads the first field (COUNT.java:40)
                return aggregates.over_rows(fn, [topk[fields[0][1]]])
            raise SyntaxError(f"{fn.upper()} over a whole-tuple pipe needs a column (e.g. {lname}.field)")
        raise NotImplementedError(f"unsupported expression over LIMIT pipe: {e}")

    def _scalar_value(self, e):
        """LIMIT/SAMPLE argument: a constant expression, optionally
        referencing single-row relation scalars (``LIMIT r c.total /
        100`` — ScalarVisitor.java / QueryParser.g:975 scalar
        projection). The scalar relation is materialized at plan time
        (1 row — Pig's runtime contract, enforced here too) and folded
        into the constant."""
        try:
            return _const(e)
        except ValueError:
            pass
        if isinstance(e, G.Col) and "." in e.name:
            head, _, rest = e.name.partition(".")
            info = self.aliases.get(head)
            if info is not None:
                rows = info.rel.df.limit(2).collect()
                if len(rows) != 1:
                    raise ValueError(
                        f"pig latin: scalar reference {e.name!r} requires exactly one row "
                        f"(got {'multiple' if len(rows) > 1 else 'none'}) — ScalarVisitor contract"
                    )
                return rows[0][int(rest[1:])] if rest.startswith("$") else rows[0][rest]
        if isinstance(e, G.Bin):
            import operator as _o

            ops = {"+": _o.add, "-": _o.sub, "*": _o.mul, "/": _o.truediv, "%": _o.mod}
            return ops[e.op](self._scalar_value(e.left), self._scalar_value(e.right))
        if isinstance(e, G.Cast):
            return self._scalar_value(e.operand)
        raise ValueError("pig latin: LIMIT/SAMPLE takes a constant or single-row scalar expression")

    def _pipe_schema(self, p: "_Pipe", g: GroupedInfo) -> str:
        """Pig-style schema string for a nested pipe's tuple — DESCRIBE
        of an inner alias (describe C::D) — read off the tuple the
        lowerings build (_pipe_tuple, or an array pipe's elements)."""
        ch = g.child.df
        if p.arr:
            elem = ch.schema[p.arr].dataType.elementType
            fields = [(n, elem[n].dataType) for n in self._pipe_fields(p, g)]
        else:
            fields = [
                (n, ch.schema[c].dataType if c in ch.columns
                 else ch.select(self._expr(G.Col(c), g.child)).schema[0].dataType)
                for n, c in self._pipe_tuple(p, g)
            ]
        return "{(" + ", ".join(f"{n}: {pigtypes.pig_type_name(t)}" for n, t in fields) + ")}"

    def _pipe_tuple(self, p: "_Pipe", g: GroupedInfo) -> list[tuple[str, str]]:
        """A non-array pipe's tuple as (field name, child column): one
        projected column, an inner FOREACH's fields, or the whole child
        tuple — every original field, the key's source columns included
        (LogicalSchema), the block's derived columns excluded."""
        if p.col is not None:
            name = next((k for k, v in (p.proj or {}).items() if v == p.col), p.col)
            return [(name.split("::")[-1], p.col)]
        if p.proj:
            return list(p.proj.items())
        return [(c, c) for c in g.child.df.columns if c not in g.derived]

    def _pipe_fields(self, p: "_Pipe", g: GroupedInfo) -> list[str]:
        """The fields of a nested pipe's tuple, as real names: element
        fields for an array pipe, else child columns (inner-FOREACH
        projections by their materialized names)."""
        if p.arr:
            if p.col is not None:
                return [p.col.split("::")[-1]]
            return list(g.child.df.schema[p.arr].dataType.elementType.names)
        return [c for _, c in self._pipe_tuple(p, g)]

    def _resolve_pipe(self, source: str, g: GroupedInfo, pipes: dict[str, "_Pipe"]) -> "_Pipe":
        head, _, rest = source.partition(".")
        if head in pipes:
            p = G_replace(pipes[head])
            if rest:
                if p.col is not None:
                    raise SyntaxError(f"nested ref {source!r}: {head!r} is already a column pipe")
                if p.proj is not None:
                    if rest not in p.proj:
                        raise NameError(
                            f"nested FOREACH {head!r} has no field {rest!r} "
                            f"(fields: {sorted(p.proj)})"
                        )
                    p.col = p.proj[rest]
                else:
                    p.col = rest
            return p
        if head == g.child_alias or head == "$1":
            # $1 after GROUP = the bag field (LogicalSchema positional);
            # a field ref ($N, a qualified name's leaf) names its child
            # column
            fields = [c for c in g.child.df.columns if c not in g.derived]
            if rest and "." not in rest and not (rest.startswith("$") and int(rest[1:]) >= len(fields)):
                rest = _field_ref(rest, fields) or rest
            return _Pipe(col=rest or None)
        raise NameError(f"nested FOREACH: unknown inner source {source!r}")

    def _nforeach_flatten_pipe(self, st, base: "_Pipe", g: GroupedInfo) -> tuple[GroupedInfo, "_Pipe"]:
        """Build the array-pipe for an inner FOREACH containing
        FLATTEN: one FLATTEN item over an array-typed expression, plus
        any per-row scalar items (replicated per element — Pig's
        flatten × scalar cross within the tuple)."""
        flat_items = [(i, it) for i, it in enumerate(st.cond) if it.flatten]
        if len(flat_items) != 1:
            raise NotImplementedError("exactly one FLATTEN per inner FOREACH is supported")
        if base.distinct or base.ordered or base.limited or base.proj or base.arr:
            raise NotImplementedError(
                "FLATTEN inside an inner FOREACH over an already-transformed pipe; "
                "restructure as FOREACH first, then the pipe ops"
            )
        fi, fitem = flat_items[0]
        ch = g.child
        arr_expr = self._expr(fitem.expr, ch)
        dtype = ch.df.select(arr_expr.alias("__nfa")).schema[0].dataType
        if not isinstance(dtype, T.ArrayType):
            raise NotImplementedError(
                "FLATTEN inside an inner FOREACH needs a bag-typed expression "
                f"(got {dtype.simpleString()})"
            )
        elem = dtype.elementType
        scalars = [
            (it.alias or _default_name(it.expr, i), self._expr(it.expr, ch))
            for i, it in enumerate(st.cond)
            if not it.flatten
        ]

        def make(el):
            if isinstance(elem, T.StructType):
                if isinstance(fitem.alias, list):
                    cols = _flatten_as([el[f] for f in elem.names], fitem.alias)
                elif isinstance(fitem.alias, str) and len(elem.names) == 1:
                    # FLATTEN(<bag of 1-field tuples>) AS name — the AS
                    # renames the single flattened field (LogicalSchema;
                    # r6 fuzzer find: the rename was dropped for
                    # struct-element bags, breaking downstream refs)
                    cols = [el[elem.names[0]].alias(fitem.alias)]
                else:
                    cols = [el[f].alias(f) for f in elem.names]
            else:
                aname, atype = _single_alias(fitem.alias)
                cols = [_typed(el, atype).alias(aname or _default_name(fitem.expr, fi))]
            return F.struct(*cols, *[c.alias(n) for n, c in scalars])

        build = F.transform(arr_expr, make)
        if base.cond is not None:
            build = F.when(self._expr(base.cond, ch), build)
        mangled = f"__nfa_{st.alias}"
        g = G_replace(
            g,
            child=Relation(ch.df.withColumn(mangled, build)),
            derived=g.derived + (mangled,),
        )
        return g, _Pipe(arr=mangled)

    def _apply_bag_ops(self, bag: Column, ops: list, fields: list[str], rename: dict | None = None, elem=None) -> Column:
        """Replay recorded nested ops — ("filter", predicate),
        ("distinct", None), ("order", [(field, asc)]), ("limit", n) —
        over a collected bag in the given order (Pig's dataflow order):
        pure array functions (operators.nested), the bag never explodes.
        ``fields`` are the element fields ([] for a scalar-element bag);
        ORDER keys name child or element fields and resolve against them
        through ``rename`` (child column → bag field). ``elem`` gives the
        element's Spark type (``_Elem``)."""
        for kind, payload in ops:
            if kind == "filter":
                bag = bag_filter(bag, lambda el: self._expr(payload, _Elem(el, fields, elem)))
            elif kind == "distinct":
                # DistinctDataBag iterates in full-tuple sorted order
                bag = bag_sort(bag_distinct(bag), [(f, True) for f in fields] or [("*", True)])
            elif kind == "order":
                order = _bag_keys(payload, fields, rename or {})
                missing = [c for (c, _), (f, _) in zip(payload, order) if f is None]
                if missing:
                    raise NameError(
                        f"nested ORDER: no field {missing[0]!r} in the bag (fields: {fields})"
                    )
                bag = bag_sort(bag, order)
            elif kind == "limit":
                bag = bag_limit(bag, payload)
        return bag

    def _pipe_bag(self, pipe: "_Pipe", rest: str | None, g: GroupedInfo, ordered: bool = True) -> Column:
        """A pipe as a BAG column (Pig emits the inner relation as a bag
        of tuples; POForEach inner-plan output): collect_list of its
        tuple structs (FILTER → when(cond); an array pipe's per-row
        arrays concatenate), then its flags in Pig's stage order —
        DISTINCT, the bag order (_pipe_order; ``ordered=False`` skips it
        for order-blind consumers), LIMIT — then the ops recorded after
        the LIMIT in statement order (_apply_bag_ops), and last the
        consumption-time projection ``rest``. Scale note: the bag is
        the WHOLE group in executor memory — Pig's reducer-bag
        footprint for the same statement."""
        child = g.child
        df = child.df
        hidden: list[tuple[str, Column]] = []
        if pipe.arr:
            bag = F.flatten(F.collect_list(df[pipe.arr]))
            names = self._pipe_fields(pipe, g)
            if pipe.col is not None:
                bag = F.transform(bag, lambda t: F.struct(t[names[0]].alias(names[0])))
            elem = df.schema[pipe.arr].dataType.elementType
            keys = _pipe_order(pipe, names, lambda f: _orderable(elem[f].dataType))
            rename: dict[str, str] = {}
        else:
            fields = self._pipe_tuple(pipe, g)
            names = [n for n, _ in fields]
            rename = {c: n for n, c in fields}
            keys = _pipe_order(pipe, [c for _, c in fields], lambda c: _orderable(df.schema[c].dataType))
            cols = [(n, df[c] if c in df.columns else self._expr(G.Col(c), child)) for n, c in fields]
        order = []
        for i, ((c, a), (f, _)) in enumerate(zip(keys if ordered else [], _bag_keys(keys, names, rename))):
            if f is None and not pipe.distinct:
                # an ORDER key outside the projected fields (ORDER by
                # acctbal, project custkey) rides along as a hidden
                # field, so the sort and LIMIT see it, stripped after
                f = f"__ok{i}"
                hidden.append((f, self._expr(G.Col(c), child)))
            if f is not None:
                order.append((f, a))
        if not pipe.arr:
            el = F.struct(*[c.alias(n) for n, c in cols + hidden])
            if pipe.cond is not None:
                el = F.when(self._expr(pipe.cond, child), el)  # collect_list skips nulls
            bag = F.collect_list(el)
        if pipe.distinct:
            bag = bag_distinct(bag)
        if order:
            bag = bag_sort(bag, order)
        if pipe.limited:
            bag = bag_limit(bag, pipe.limit_n)
        if hidden:
            bag = F.transform(bag, lambda t: F.struct(*[t[n].alias(n) for n in names]))
        if pipe.post_ops:
            bag = self._apply_bag_ops(bag, pipe.post_ops, names, rename, elem=lambda b=bag: self._bag_elem(b, g))
        if rest:
            leaf = _field_ref(rest, names) or rest
            bag = F.transform(bag, lambda t: F.struct(t[leaf].alias(leaf.split("::")[-1])))
        return bag

    def _nested_agg(self, e, g: GroupedInfo, pipes: dict[str, "_Pipe"]) -> Column:
        if isinstance(e, G.Col) and not _is_group_ref(e):
            head, _, rest = e.name.partition(".")
            if head in pipes:
                return self._pipe_bag(pipes[head], rest or None, g)
        if isinstance(e, G.Bin):
            return _binop(e.op, self._nested_agg(e.left, g, pipes), self._nested_agg(e.right, g, pipes))
        if isinstance(e, (G.Num, G.Str)):
            return self._expr(e, g.child)
        if isinstance(e, G.Cast):
            return self._nested_agg(e.operand, g, pipes).cast(pigtypes.ddl(e.type))
        fn = e.func.lower() if isinstance(e, G.Call) else None
        args = e.args if fn in aggregates.BUILTINS else []
        heads = {a.name.partition(".")[0] if isinstance(a, G.Col) else None for a in args}
        if not args or (fn in aggregates.ONE_BAG) != (len(args) == 1) or not heads <= {*pipes, g.child_alias}:
            # not a builtin over pipes: a bag UDF, else the plain
            # grouped path
            hooked = self._bag_udf(e, g, pipes)
            return hooked if hooked is not None else self._agg_expr(e, g)
        base = pipes.get(next(iter(heads))) if len(heads) == 1 else None
        if (
            len(heads) > 1
            or (base is not None and (base.limited or (base.distinct and (base.arr or base.col is None))))
            or (fn in aggregates.PAIRWISE and base is not None and (base.distinct or base.arr))
        ):
            # the aggregate must see the bags themselves: a LIMIT slice
            # (and the ops replayed after it), a group-level DISTINCT
            # over an array pipe or over whole tuples (distinct
            # aggregates would dedupe one field's values, not the
            # tuples), COR/COV pairing two bags by position. Aggregate
            # over the assembled group bags — the reducer-bag footprint
            # Pig uses for these statements; order matters only to a
            # LIMIT and to the pairing.
            bags, out = {}, []
            for a in args:
                head, _, rest = a.name.partition(".")
                if head not in bags:
                    pipe = self._resolve_pipe(head, g, pipes)
                    bag = self._pipe_bag(pipe, None, g, ordered=pipe.limited or fn in aggregates.PAIRWISE)
                    bags[head] = bag, self._bag_elem(bag, g)
                bag, elem = bags[head]
                out.append((bag, elem, rest and (_field_ref(rest, elem.names) or rest)))
            return aggregates.over_bag(fn, out)
        if base is not None and base.arr:
            # per-row partials over the array pipe, merged across rows
            elem = g.child.df.schema[base.arr].dataType.elementType
            return aggregates.over_row_arrays(fn, (g.child.df[base.arr], elem, args[0].name.partition(".")[2] or None))
        # one pipe's rows, under its FILTER and DISTINCT
        pipe = self._resolve_pipe(next(iter(heads)), g, pipes)
        cond = self._expr(pipe.cond, g.child) if pipe.cond is not None else None
        vals = []
        for a in args:
            col = self._resolve_pipe(a.name, g, pipes).col
            if col is None:
                # a whole-tuple pipe: COUNT reads the first field (COUNT.java:40)
                if fn not in ("count", "count_star"):
                    raise SyntaxError(f"{fn.upper()} over a whole-tuple pipe needs a column (e.g. x.field)")
                col = self._pipe_fields(pipe, g)[0]
            vals.append(self._expr(G.Col(col), g.child))
        return aggregates.over_rows(fn, vals, cond, pipe.distinct)

    def _bag_elem(self, bag: Column, g: GroupedInfo):
        """The element type of a bag assembled over the group's rows."""
        return g.child.df.limit(0).groupBy().agg(bag.alias("__pb")).schema["__pb"].dataType.elementType

    def _hive_udaf(self, e) -> str | None:
        """The Hive function a call of a DEFINEd HiveUDAF alias names,
        else None. A DEFINE shadows a builtin (``define avg
        HiveUDAF('percentile')``), as in Pig."""
        if not isinstance(e, G.Call):
            return None
        fn = registry.find(e.func, self.defines, self.scripts)
        return fn.udaf if fn is not None else None

    # Hive UDAFs whose trailing arguments must be compile-time
    # constants (Hive's GenericUDAFPercentile* reject non-constant
    # fractions); Spark's matching aggregates require them foldable
    _HIVE_CONST_TAIL = {"percentile", "percentile_approx", "approx_percentile"}

    def _hive_agg(self, hname: str, e: G.Call, g: GroupedInfo) -> Column:
        """A HiveUDAF call over a grouped relation as the Spark
        aggregate of the same name (Spark implements Hive's builtin
        aggregates: avg, percentile, collect_set, …), with map-side
        partials. Each field of an n-field tuple bag argument
        (``percentile(B.(age, perc))``) is one Spark argument; the
        percentile family's trailing arguments fold to literals
        (:meth:`_fold_constant`), as Hive requires constants there."""
        child = g.child
        if "." in hname or not self.spark.catalog.functionExists(hname):
            # custom-jar GenericUDAFEvaluator classes (HiveUDAF.java's
            # PARTIAL1/FINAL bridge) are out of scope (COVERAGE.md §2.4)
            raise NotImplementedError(
                f"HiveUDAF({hname!r}): only Hive BUILTIN aggregates resolve "
                "(Spark's Hive-compatible registry); custom-jar evaluator "
                "classes are out of scope — re-express with builtin "
                "aggregates or a pandas agg_func UDF"
            )

        def resolve(a) -> list[Column]:
            if isinstance(a, G.MultiCol):
                base = a.rel
                if base != g.child_alias:
                    # base is a COLUMN of the child (r5 review finding:
                    # falling through projected same-named top-level
                    # columns instead): resolve tuple fields through
                    # the struct; bag columns need a row-per-element
                    # shape first
                    if base not in child.df.columns:
                        raise SyntaxError(f"{hname}: unknown bag {base!r} in UDAF argument")
                    dt = child.df.schema[base].dataType
                    if isinstance(dt, T.StructType):
                        names = dt.fieldNames()
                        return [
                            child.df[base][names[int(c[1:])] if c.startswith("$") else c]
                            for c in a.cols
                        ]
                    raise NotImplementedError(
                        f"HiveUDAF {hname} over the nested bag column {base!r}; "
                        "FLATTEN the bag into rows first, then GROUP and call the UDAF"
                    )
                return [self._expr(G.Col(c), child) for c in a.cols]
            return [self._group_arg(a, g, f"HiveUDAF {hname}")]

        cols: list[Column] = []
        for a in e.args:
            cols.extend(resolve(a))
        if hname.lower() in self._HIVE_CONST_TAIL and len(cols) > 1:
            cols = [cols[0]] + [self._fold_constant(c, child, hname) for c in cols[1:]]
        return F.call_function(hname, *cols)

    def _fold_constant(self, c: Column, child: Relation, ctx: str) -> Column:
        """Fold a column the callee requires to be a constant into a
        literal. Fast path: Catalyst's optimized plan of a 1-column
        projection — a constant column folds to a Literal node with
        zero data scanned; primitive/UTF8String/Decimal literal values
        convert natively, other internal literal encodings (dates,
        timestamps eval to raw ints) fall through to the probe.
        Fallback (plan introspection unavailable or non-primitive
        literal): a 2-row distinct probe — note this runs an EAGER
        Spark job at translation time — that raises on genuinely
        non-constant input (the same contract violation Hive reports)
        and on an empty relation (the fraction would otherwise surface
        later as an opaque 'percentage must not be null' error)."""
        try:
            jplan = child.df.select(c.alias("__v"))._jdf.queryExecution().optimizedPlan()
            exprs = jplan.expressions()
            if exprs.size() == 1:
                je = exprs.apply(0)
                while je.getClass().getSimpleName() == "Alias":
                    je = je.child()
                if je.getClass().getSimpleName() == "Literal":
                    v = je.eval(None)
                    if v is None or isinstance(v, (int, float, bool, str)):
                        return F.lit(v)
                    cls = v.getClass().getSimpleName() if hasattr(v, "getClass") else ""
                    if cls == "UTF8String":
                        return F.lit(v.toString())
                    if cls == "Decimal":  # e.g. a 0.5 fraction typed decimal
                        return F.lit(float(v.toJavaBigDecimal().doubleValue()))
                    # other internal encodings: let the probe handle it
        except Exception:
            pass
        rows = child.df.select(c.alias("__v")).distinct().limit(2).collect()
        if len(rows) > 1:
            raise ValueError(
                f"{ctx}: argument must be constant across all rows "
                f"(Hive constant-argument contract); found ≥2 values"
            )
        if not rows:
            raise ValueError(
                f"{ctx}: constant argument cannot be derived from an EMPTY "
                "relation (the aggregate's fraction/parameter would be null)"
            )
        return F.lit(rows[0][0])

    def _agg_expr(self, e, g: GroupedInfo) -> Column:
        """An algebraic GENERATE item over a plain GROUP as a Spark
        aggregate: builtins take the row lowering (aggregates.over_rows)
        over the child's columns — map-side partials, no bag."""
        hname = self._hive_udaf(e)
        if hname is not None:
            return self._hive_agg(hname, e, g)
        fn = _grouped_builtin(e, g.child_alias)
        if fn in aggregates.PAIRWISE:
            # same-bag projections pair by row
            return aggregates.over_rows(fn, [self._group_arg(a, g, fn.upper()) for a in e.args])
        if fn == "count_star" or (fn is not None and not e.args):
            return aggregates.over_rows("count_star")
        if fn is not None:
            # COUNT(rel) reads the first field (COUNT.java:40)
            return aggregates.over_rows(fn, [self._group_arg(e.args[0], g, fn.upper(), single=fn != "count")])
        if isinstance(e, G.Bin):
            return _binop(e.op, self._agg_expr(e.left, g), self._agg_expr(e.right, g))
        if isinstance(e, (G.Num, G.Str)):
            return self._expr(e, g.child)
        hooked = self._bag_udf(e, g, {})
        if hooked is not None:
            return hooked
        raise NotImplementedError(f"aggregate expression {e}")

    def _group_arg(self, a, g: GroupedInfo, what: str, single: bool = True) -> Column:
        """An aggregate argument over a plain GROUP's rows: a field of
        the grouped bag (``rel.f``), an expression over the child, or
        the bag itself, which reads its first field (a bag of
        single-field tuples when ``single``: SUM.java:58)."""
        child = g.child
        if isinstance(a, G.Col) and a.name == g.child_alias:
            if single and len(child.df.columns) != 1:
                raise SyntaxError(
                    f"{what}({a.name}) needs a single-field bag (got {len(child.df.columns)} fields); "
                    f"project the field first or use {a.name}.field"
                )
            return child.df[child.df.columns[0]]
        if isinstance(a, G.Col) and a.name.startswith(g.child_alias + "."):
            a = G.Col(a.name.split(".", 1)[1])
        return self._expr(a, child)

    def _bag_udf(self, e, g: GroupedInfo, pipes: dict) -> Column | None:
        """A function taking a bag (``registry.BAG``: AllFirstLetter(d),
        a DEFINEd TestingAccumulatorHelper) over a pipe or the grouped
        relation: the bag assembles in pipe order (a nested ORDER feeds
        a sorted bag) and the function evaluates over it in-row, with
        the probed element type, as an EvalFunc over a DataBag."""
        if not (isinstance(e, G.Call) and e.args and isinstance(e.args[0], G.Col)):
            return None
        fn = registry.find(e.func, self.defines, self.scripts)
        if fn is None or fn.args != registry.BAG:
            return None
        head, _, rest = e.args[0].name.partition(".")
        if head not in pipes and head != g.child_alias:
            return None
        bag = self._pipe_bag(self._resolve_pipe(head, g, pipes), rest or None, g)
        return fn.lower(registry.Call([registry.Arg(bag)], probe=lambda: [T.ArrayType(self._bag_elem(bag, g))]))

    # ------------------------------------------------------------------
    def _join(self, op: G.Join) -> Relation:
        if len(op.rels) < 2:
            raise SyntaxError("JOIN needs ≥2 inputs")
        if op.how != "inner" and len(op.rels) != 2:
            raise SyntaxError("outer JOIN is 2-way only (Pig restriction)")
        strategy = None
        if op.strategy in ("replicated", "repl"):
            strategy = "replicated"
        elif op.strategy in ("merge", "merge-sparse"):
            strategy = "merge"
        elif op.strategy == "auto":
            # size-statistics broadcast decision (advise_join_strategy);
            # the join condition is a Column here, so the skew probe is
            # skipped — skew falls to AQE either way
            strategy = "auto"
        # qualify columns alias::col (Pig join output naming)
        sides = []
        for rel_alias, keys in zip(op.rels, op.keys):
            rel = self._rel(rel_alias)
            qdf = rel.df.select(*[rel.df[c].alias(f"{rel_alias}::{c}") for c in rel.df.columns])
            ginfo = self.aliases.get(rel_alias)
            if (
                ginfo is not None
                and ginfo.grouped is not None
                and len(ginfo.grouped.key_exprs) > 1
                and "group" not in rel.df.columns
                and all(n in rel.df.columns for n, _ in ginfo.grouped.key_exprs)
            ):
                # tuple-key grouped side: Pig's field 0 is the 'group'
                # TUPLE (LogicalSchema), which our bag-form lays out as
                # flattened key columns — synthesize the struct so
                # `join c by $0` keys on the whole tuple and
                # `c::group` resolves downstream
                kn = [n for n, _ in ginfo.grouped.key_exprs]
                qdf = qdf.select(
                    F.struct(*[qdf[f"{rel_alias}::{k}"].alias(k) for k in kn]).alias(
                        f"{rel_alias}::group"
                    ),
                    "*",
                )
            qrel = Relation(qdf)
            key_cols = [self._expr(k, qrel) for k in keys]
            sides.append((qrel, key_cols))
        out, out_keys = sides[0]
        for qrel, key_cols in sides[1:]:
            if op.strategy == "bloom":
                # Tez bloom join (BuildBloom.java): broadcast a bloom of
                # one side's keys and pre-filter the other before the
                # shuffle — exact semantics, only the probe side shrinks.
                from pig_spark.functions.bloom import bloom_filter

                def _bkey(cols):
                    return cols[0] if len(cols) == 1 else F.concat_ws(
                        "\x1f", *[c.cast("string") for c in cols]
                    )

                if op.how in ("inner", "right"):
                    out = Relation(bloom_filter(out.df, qrel.df, _bkey(out_keys), _bkey(key_cols)))
                elif op.how == "left":
                    qrel = Relation(bloom_filter(qrel.df, out.df, _bkey(key_cols), _bkey(out_keys)))
            cond = None
            for a, b in zip(out_keys, key_cols):
                c = a == b
                cond = c if cond is None else (cond & c)
            out = out.join(qrel, on=cond, how=op.how, strategy=strategy)
        return out

    # ------------------------------------------------------------------
    # expressions
    # ------------------------------------------------------------------
    def _bool_expr(self, e, rel: Relation) -> Column:
        """A FILTER condition. An untyped (string-backed bytearray)
        operand in boolean position gets Pig's implicit
        bytearray→boolean cast (POCast.java / FILTER BY boolcol),
        null/garbage → null → row dropped. Recurses through not/and/or
        so the coercion lands on the leaves BEFORE the boolean op —
        probing after NOT(stringcol) would already be an analysis
        error."""
        if isinstance(e, G.Un) and e.op == "not":
            return ~self._bool_expr(e.operand, rel)
        if isinstance(e, G.Bin) and e.op in ("and", "or"):
            lc, rc = self._bool_expr(e.left, rel), self._bool_expr(e.right, rel)
            return (lc & rc) if e.op == "and" else (lc | rc)
        c = self._expr(e, rel)
        if isinstance(e, (G.Col, G.Call)):
            try:
                dtype = rel.df.select(c.alias("__b")).schema[0].dataType
            except Exception:
                return c
            if isinstance(dtype, T.StringType):
                return c.try_cast("boolean")
        return c

    def _expr(self, e, rel: "Relation | _Elem") -> Column:
        """``e`` over a relation's row, or over one bag element inside a
        higher-order function's lambda (``_Elem``: no relation there, so
        aggregates, relation scalars and ``*`` raise)."""
        if isinstance(rel, _Elem) and isinstance(e, (G.Star, G.MultiCol)):
            raise NotImplementedError(
                f"unsupported expression {type(e).__name__} inside a nested bag pipe; "
                "move the FILTER before the inner FOREACH for the full expression surface"
            )
        if isinstance(e, (G.Num, G.Str)):
            return F.lit(_const(e))
        if isinstance(e, G.Bool):
            return F.lit(e.value)
        if isinstance(e, G.Null):
            return F.lit(None)
        if isinstance(e, G.Col):
            if isinstance(rel, _Elem):
                return rel.field(e.name)
            head, _, scalar_field = e.name.partition(".")
            if (
                scalar_field
                and head in self.aliases
                and head not in rel.df.columns
                and not any(c == head or c.startswith(head + "::") for c in rel.df.columns)
            ):
                # scalar projection other_rel.field (ScalarVisitor.java
                # / ReadScalars.java): the referenced relation must
                # have exactly ONE row — Pig materializes it as its own
                # job and reads the value; we fold it at plan time
                # (same O(1) driver contract, runtime >1-row error
                # becomes a plan-time error)
                rows = self.aliases[head].rel.df.limit(2).collect()
                if len(rows) != 1:
                    raise ValueError(
                        f"pig latin: scalar reference {e.name!r} requires exactly one "
                        f"row (got {'multiple' if len(rows) > 1 else 'none'}) — "
                        "ScalarVisitor contract"
                    )
                if scalar_field.startswith("$"):  # positional scalar deref
                    return F.lit(rows[0][int(scalar_field[1:])])
                return F.lit(rows[0][scalar_field])
            return self._resolve(e.name, rel)
        if isinstance(e, G.Bin):
            if e.op == "and":
                return self._expr(e.left, rel) & self._expr(e.right, rel)
            if e.op == "or":
                return self._expr(e.left, rel) | self._expr(e.right, rel)
            return _binop(e.op, self._expr(e.left, rel), self._expr(e.right, rel))
        if isinstance(e, G.Un):
            if e.op == "not":
                return ~self._expr(e.operand, rel)
            return -self._expr(e.operand, rel)
        if isinstance(e, G.IsNull):
            c = self._expr(e.operand, rel)
            return c.isNotNull() if e.negated else c.isNull()
        if isinstance(e, G.Matches):
            return PF.MATCHES(self._expr(e.operand, rel), e.pattern)
        if isinstance(e, G.InList):
            return self._expr(e.operand, rel).isin(*[_const(o) for o in e.options])
        if isinstance(e, G.BinCond):
            then_c = self._expr(e.then, rel)
            else_c = self._expr(e.otherwise, rel)
            try:
                if isinstance(rel, _Elem) or not any(
                    isinstance(b, (G.Col, G.Call, G.Cast, G.MultiCol))
                    for b in (e.then, e.otherwise)
                ):
                    raise ValueError  # scalar-literal branches: no probe needed
                sch = rel.df.select(then_c.alias("__t"), else_c.alias("__e")).schema
                tt, et = sch[0].dataType, sch[1].dataType
                if (
                    isinstance(tt, (T.ArrayType, T.StructType))
                    and isinstance(et, (T.ArrayType, T.StructType))
                    and tt.simpleString() != et.simpleString()
                ):
                    # complex branches reconcile POSITIONALLY (Pig's
                    # bincond branch unification — the empty-bag-default
                    # idiom's (bag{tuple(...)}) cast names fields f0..fn,
                    # the other branch carries real names; Spark CaseWhen
                    # requires identical types, Pig matches by position).
                    # The explicitly-CAST branch converges on the other
                    # side's names, so real field names survive.
                    def _complex_cast(b) -> bool:
                        return isinstance(b, G.Cast) and isinstance(
                            pigtypes.parse(b.type), (T.StructType, T.ArrayType, T.MapType)
                        )

                    if _complex_cast(e.then) and not _complex_cast(e.otherwise):
                        then_c = then_c.try_cast(et.simpleString())
                    else:
                        else_c = else_c.try_cast(tt.simpleString())
            except Exception:
                pass
            return F.when(self._expr(e.cond, rel), then_c).otherwise(else_c)
        if isinstance(e, G.CaseWhen):
            out = None
            for w, t in e.whens:
                cond = self._expr(w, rel) if e.subject is None else (self._expr(e.subject, rel) == self._expr(w, rel))
                out = F.when(cond, self._expr(t, rel)) if out is None else out.when(cond, self._expr(t, rel))
            return out.otherwise(self._expr(e.otherwise, rel)) if e.otherwise is not None else out
        if isinstance(e, G.Cast):
            # try_cast: Pig casts garbage to null (POCast.java), on any
            # session — must not depend on spark.sql.ansi.enabled.
            return self._expr(e.operand, rel).try_cast(pigtypes.ddl(e.type))
        if isinstance(e, G.MapLookup):
            # try_element_at: missing map key → null even under ANSI
            # (POMapLookUp.java returns null, never throws).
            return F.try_element_at(self._expr(e.operand, rel), F.lit(e.key))
        if isinstance(e, G.Call):
            return self._call(e, rel)
        if isinstance(e, G.Star):
            return F.struct(*[rel.df[c] for c in rel.df.columns])
        if isinstance(e, G.MultiCol):
            return self._multicol(e, rel)
        raise NotImplementedError(f"expression {e}")

    def _multicol(self, e: "G.MultiCol", rel: Relation) -> Column:
        """rel.(c1, c2): project a bag of structs to a bag of narrower
        tuples (POProject over inner plans) — F.transform keeps it
        JVM-side; a plain struct (tuple) projects directly."""
        head = self._resolve(e.rel, rel)
        name = e.rel if e.rel in rel.df.columns else None
        dtype = rel.df.schema[name].dataType if name else None

        def field(t, c, names):
            if c.startswith("$"):
                return t[names[int(c[1:])]].alias(names[int(c[1:])])
            return t[c].alias(c)

        if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.StructType):
            names = dtype.elementType.fieldNames()
            return F.transform(head, lambda t: F.struct(*[field(t, c, names) for c in e.cols]))
        if isinstance(dtype, T.StructType):
            names = dtype.fieldNames()
            return F.struct(*[field(head, c, names) for c in e.cols])
        raise TypeError(f"pig latin: {e.rel}.({', '.join(e.cols)}) needs a bag or tuple column")

    def _resolve(self, name: str, rel: Relation) -> Column:
        cols = rel.df.columns
        if name.startswith("$"):
            idx = int(name[1:])
            if idx >= len(cols) and all(c.startswith("_c") for c in cols):
                # schemaless load (PigStorage() with no AS): rows may
                # have ANY arity, so $N beyond the sampled width is a
                # null field, not an error (Pig's untyped-tuple access)
                return F.lit(None)
            return rel.df[cols[idx]]
        if name in cols:
            return rel.df[name]
        # alias::col written with dots or ::; also bare suffix match
        if "." in name:
            head, rest = name.split(".", 1)
            q = f"{head}::{rest}"
            if q in cols:
                return rel.df[q]
            if head in cols:  # struct/bag field access
                if rest.startswith("$"):
                    # positional deref — tuple fields by index (t.$0),
                    # and bag-element projection by index (b.$0 over
                    # array<struct>: field 0 of every element, Pig's
                    # positional bag projection)
                    dtype = rel.df.schema[head].dataType
                    if isinstance(dtype, T.StructType):
                        return rel.df[head].getField(dtype.names[int(rest[1:])])
                    if isinstance(dtype, T.ArrayType) and isinstance(
                        dtype.elementType, T.StructType
                    ):
                        return rel.df[head].getField(
                            dtype.elementType.names[int(rest[1:])]
                        )
                return rel.df[head].getField(rest)
        suffix = [c for c in cols if c.endswith("::" + name)]
        if len(suffix) == 1:
            return rel.df[suffix[0]]
        if len(suffix) > 1:
            raise ValueError(f"pig latin: ambiguous field {name!r}: {suffix}")
        if "::" in name:
            # full qualifier-chain match: Pig's LogicalSchema names can
            # carry MORE history than ours (hourA::group::ngram when our
            # flatten stored hourA::ngram) — a column whose ::-chain is
            # an order-preserving subsequence of the requested chain,
            # sharing the leaf, is the same field
            segs = name.split("::")

            def _subseq(short: list[str]) -> bool:
                it = iter(segs)
                return all(s in it for s in short)

            chain = [
                c for c in cols
                if c.split("::")[-1] == segs[-1] and _subseq(c.split("::"))
            ]
            if len(chain) == 1:
                return rel.df[chain[0]]
            # qualified alias::field where flatten kept the bare name
            # (no collision) — Pig resolves either form (LogicalSchema
            # disambiguation); strip qualifiers left-to-right
            rest = name.split("::", 1)[1]
            if rest in cols or "::" in rest:
                return self._resolve(rest, rel)
            raise NameError(
                f"pig latin: unknown field {name!r}{registry.suggest(name, cols)} (columns: {cols})"
            )
        return F.expr(name)

    def _call(self, e: G.Call, rel: "Relation | _Elem") -> Column:
        fn = registry.resolve(e.func, self.defines, self.scripts)
        args = _call_args(e, lambda a: self._expr(a, rel))
        if isinstance(rel, _Elem):
            if fn.aggregate is not None:
                raise NotImplementedError(
                    f"aggregate {e.func.upper()} inside a nested bag pipe; aggregate in the outer GENERATE instead"
                )
            probe = rel.type and (lambda: self._elem_types(e.args, rel))
            return fn.lower(registry.Call(args, probe=probe, in_lambda=True))
        if fn.aggregate is not None:
            bag_agg = self._bag_agg(fn.aggregate, e, rel)
            if bag_agg is not None:
                return bag_agg
        return fn.lower(registry.Call(args, rel))

    def _elem_types(self, args: list, scope: "_Elem") -> list:
        """The Spark types of ``args`` over a typed stand-in for the element."""
        frame = self.spark.range(0).select(F.lit(None).cast(scope.type()).alias("__el"))
        stand_in = _Elem(frame["__el"], scope.names, scope.type)
        return [f.dataType for f in frame.select(*[self._expr(a, stand_in) for a in args]).schema.fields]


def _range_span(rel: Relation, rp) -> list[str]:
    """Expand ``a .. c`` to the positional column span (QueryParser.g
    col_range; open ends cover to the schema edge)."""
    names = rel.df.columns

    def idx(ref: str | None, default: int) -> int:
        if ref is None:
            return default
        if ref.startswith("$"):
            return int(ref[1:])
        if ref not in names:
            raise NameError(f"pig latin: range endpoint {ref!r} not in schema {names}")
        return names.index(ref)

    lo = idx(rp.start, 0)
    hi = idx(rp.end, len(names) - 1)
    if lo > hi:
        raise SyntaxError(f"pig latin: range projection {rp.start}..{rp.end} is reversed")
    return names[lo : hi + 1]


def _single_alias(alias) -> tuple[str | None, str | None]:
    """(name, pig_type) for a single-field AS schema ([('f','int')]);
    (alias, None) for a bare-name or absent alias."""
    if isinstance(alias, list) and len(alias) == 1:
        return alias[0]
    if isinstance(alias, str) or alias is None:
        return alias, None
    return None, None  # multi-field schema — caller splats positionally


def _field_ref(name: str, fields: list[str]) -> str | None:
    """The element field a nested reference names: ``$N`` positional,
    an exact name, its ``a::f`` leaf, or the unique field whose leaf it
    is (qualified cross-product fields — LogicalSchema
    disambiguation); ``'*'`` for a scalar-element bag (no fields),
    None when nothing matches."""
    nm = name.split(".")[-1]
    if not fields or nm == "*":
        return "*"
    if nm.startswith("$"):
        return fields[int(nm[1:])]
    leaf = nm.split("::")[-1]
    if nm in fields or leaf in fields:
        return nm if nm in fields else leaf
    hit = [f for f in fields if f.split("::")[-1] == leaf]
    if len(hit) > 1:
        raise ValueError(f"pig latin: ambiguous field {nm!r}: {hit}")
    return hit[0] if hit else None


def _order_keys(keys, fields: list[str], scope=None, proj=None) -> list[tuple[str, bool]]:
    """A nested ORDER's ``[(ref, asc)]`` resolved once, when recorded,
    to real field names: ``*`` expands to the pipe's ``fields`` (the
    element itself for a scalar-element bag), ``$N`` indexes them,
    inner-FOREACH names map through ``proj`` to their materialized
    child columns, and other names resolve against ``scope`` (the
    child's columns; kept as written when absent — a key outside the
    projection) or, without a scope, strictly against ``fields``."""
    out: list[tuple[str, bool]] = []
    for ref, asc in keys:
        nm = ref.split(".")[-1]
        if nm == "*":
            out.extend((f, asc) for f in fields or ["*"])
        elif nm.startswith("$"):
            out.append((_field_ref(nm, fields), asc))
        elif proj and nm in proj:
            out.append((proj[nm], asc))
        else:
            fld = _field_ref(nm, scope if scope is not None else fields)
            if fld is None and scope is None:
                raise NameError(f"nested ORDER: no field {nm!r} (fields: {fields})")
            out.append((fld or nm, asc))
    return out


def _bag_op(st, fields: list[str], scope=None, proj=None) -> tuple[str, object]:
    """One nested filter/distinct/order/limit statement as the op
    _apply_bag_ops replays, its ORDER keys resolved (_order_keys)."""
    if st.kind == "order":
        return "order", _order_keys(st.cond, fields, scope, proj)
    return st.kind, st.cond


def _bag_keys(keys, fields: list[str], rename: dict[str, str]) -> list[tuple[str | None, bool]]:
    """Recorded ORDER keys (child or element field names) mapped onto a
    projected bag's element ``fields`` (``rename``: materialized child
    column → bag field); None where the projection dropped the key."""
    return [(_field_ref(rename.get(c, c), fields), a) for c, a in keys]


def _binop(op: str, a: Column, b: Column) -> Column:
    return {
        "+": lambda: a + b,
        "-": lambda: a - b,
        "*": lambda: a * b,
        "/": lambda: a / b,
        "%": lambda: a % b,
        "==": lambda: a == b,
        "!=": lambda: a != b,
        "<": lambda: a < b,
        "<=": lambda: a <= b,
        ">": lambda: a > b,
        ">=": lambda: a >= b,
    }[op]()


def _const(e):
    if isinstance(e, G.Num):
        t = e.value.lower().rstrip("lf")
        return float(t) if "." in t or "e" in t else int(t)
    if isinstance(e, G.Str):
        return e.value
    if isinstance(e, G.Bin) and e.op in ("+", "-", "*", "/", "%"):
        # LIMIT/SAMPLE take scalar expressions (QueryParser.g rel_op
        # integer expr); fold constant arithmetic here
        l, r = _const(e.left), _const(e.right)
        if e.op == "/":
            return l / r
        import operator as _o

        return {"+": _o.add, "-": _o.sub, "*": _o.mul, "%": _o.mod}[e.op](l, r)
    raise ValueError("pig latin: constant expected")


def _call_args(e: G.Call, lower) -> list[registry.Arg]:
    """A call's arguments for its function-table entry; ``lower`` makes
    an argument's column."""
    return [
        registry.Arg(
            lambda a=a: lower(a), _const(a) if isinstance(a, (G.Num, G.Str)) else registry.NOT_LITERAL,
            name=_default_name(a, i), null=isinstance(a, G.Null), field=a.name if isinstance(a, G.Col) else None,
        )
        for i, a in enumerate(e.args)
    ]


def _default_name(e, i: int) -> str:
    if isinstance(e, G.Col):
        return e.name.split(".")[-1].split("::")[-1]
    if isinstance(e, G.Call):
        # namespace UDF calls: the dot would read as struct access in
        # later projections — keep the leaf name only
        return e.func.lower().split(".")[-1]
    return f"c{i}"
