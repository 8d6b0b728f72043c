"""Pig's callable functions: one table, one entry per function.

Every function a Latin script calls (a builtin or piggybank class, a
test-jar class, a Hive or Invoker wrapper, a ``DEFINE`` alias, a
``REGISTER``ed scripting UDF) resolves through :func:`resolve` to one
:class:`Func`, as Pig's ``PigContext.resolveClassName`` and Spark SQL's
``FunctionRegistry`` do. An entry states

- its names: ``name`` (the class leaf) and ``aliases``. A bare name
  matches as spelled or upper-cased; a class path matches by its leaf
  the same way, then in any case (the lexer lowercases a leaf that is a
  keyword: ``…string.Split`` arrives as ``split``). DEFINE aliases and
  scripting UDFs match first, as spelled.
- its argument kind ``args``: VALUES (a column per argument, or the
  Python value of a number or string literal, the DSL's convention),
  COLUMNS, RELATION (columns, and the relation read as ``_rel``) or BAG
  (one bag, and its element type as ``_elem``).
- its constructor ``ctor``, which binds ``DEFINE f F('arg', …)``'s
  strings into a new entry; an entry without one refuses arguments.
- its lowering: ``fn`` over the arguments by kind, unless ``typed`` (a
  lowering that may read the arguments' Spark types) gives a column.
  ``aggregate`` is a builtin's :data:`pig_spark.aggregates.BUILTINS`
  key, ``udaf`` a HiveUDAF's Spark aggregate for a grouped FOREACH.

The plain entries are the public functions of ``pig_spark.functions``
(its modules, classes and constants are no functions); the DSL calls
those directly.
"""

from __future__ import annotations

import difflib
import types as _types
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, replace
from functools import cached_property, partial

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import aggregates, pigtypes
from .. import functions as PF
from . import testudf

VALUES, COLUMNS, RELATION, BAG = "values", "columns", "relation", "bag"
NOT_LITERAL = object()  # Arg.value of an argument that is no literal


def suggest(name: str, candidates: Sequence[str]) -> str:
    """' — did you mean X?' fragment for unknown-name errors."""
    close = difflib.get_close_matches(name, candidates, n=2, cutoff=0.6)
    if not close and name.upper() != name:
        close = difflib.get_close_matches(name.upper(), candidates, n=2, cutoff=0.6)
    return f" — did you mean {' or '.join(repr(c) for c in close)}?" if close else ""


class Arg:
    """One argument: its column (a Column, or a thunk lowering it on
    first use), the Python value of a number or string literal, the
    field name it gives a tuple, whether it is an untyped null, and the
    relation column it names."""

    def __init__(self, col, value=NOT_LITERAL, name: str = "", null: bool = False, field: str | None = None):
        self._lower = (lambda: col) if isinstance(col, Column) else col
        self.value, self.name, self.null, self.field = value, name, null, field

    @cached_property
    def col(self) -> Column:
        return self._lower()

    @property
    def literal(self) -> bool:
        return self.value is not NOT_LITERAL


class Call:
    """One call as its lowering reads it: the arguments, the relation
    they read (None outside one) and, inside a higher-order function's
    lambda (``in_lambda``: a nested bag pipe), a ``probe`` of their types."""

    def __init__(self, args: Sequence[Arg], rel=None, probe: Callable[[], list] | None = None, in_lambda: bool = False):
        self.args, self.rel, self._probe, self.in_lambda = list(args), rel, probe, in_lambda

    def cols(self) -> list[Column]:
        return [a.col for a in self.args]

    @cached_property
    def types(self) -> list[T.DataType] | None:
        """The arguments' Spark types, or None when they are unknown."""
        try:
            if self._probe is not None:
                return self._probe()
            if self.rel is None:
                return None
            df = self.rel.df
            if all(a.field in df.columns for a in self.args):
                return [df.schema[a.field].dataType for a in self.args]
            return [f.dataType for f in df.select(*[c.alias(f"__a{i}") for i, c in enumerate(self.cols())]).schema]
        except Exception:  # an argument that does not resolve: the lowering reports it
            return None


@dataclass(frozen=True)
class Func:
    """One Pig-callable function (module docstring)."""

    name: str
    fn: Callable | None = None
    args: str = VALUES
    typed: Callable[[Call], Column | None] | None = None
    ctor: Callable[..., "Func"] | None = None
    aliases: tuple[str, ...] = ()
    aggregate: str | None = None
    udaf: str | None = None

    def lower(self, call: Call) -> Column:
        """The call as a Spark column."""
        out = self.typed(call) if self.typed is not None else None
        if out is not None:
            return out
        if self.fn is None:
            raise ValueError(f"pig latin: {self.name} takes constructor arguments: DEFINE f {self.name}(...)")
        if self.args == COLUMNS:
            return self.fn(*call.cols())
        if self.args == RELATION:
            return self.fn(*call.cols(), _rel=call.rel)
        if self.args == BAG:
            t = (call.types or [None])[0]
            return self.fn(call.args[0].col, _elem=t.elementType if isinstance(t, T.ArrayType) else None)
        return self.fn(*[a.value if a.literal else a.col for a in call.args])

    def bind(self, args: Sequence[str]) -> "Func":
        """The entry ``DEFINE f <name>(args)`` adds: Pig instantiates the
        class with the constructor strings."""
        if not args:
            return self
        try:
            if self.ctor is None:
                raise TypeError("it takes no constructor arguments")
            return self.ctor(*args)
        except TypeError as exc:
            raise ValueError(f"pig latin: could not instantiate {self.name!r} with arguments {list(args)}: {exc}") from exc


# ---------------------------------------------------------------------
# lowerings typed by the arguments
# ---------------------------------------------------------------------
def _common_type(ts):
    """Widest common Spark type for TOBAG element unification
    (TOBAG.java's merged-or-bytearray output schema): identical →
    itself, all-numeric → the widest, else string. Nulls/voids defer to
    the other elements."""
    nn = [t for t in ts if t is not None and not isinstance(t, T.NullType)]
    if not nn:
        return T.StringType()
    if all(t.simpleString() == nn[0].simpleString() for t in nn):
        return nn[0]
    order = [T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType]
    ranks = [next((i for i, cls in enumerate(order) if isinstance(t, cls)), None) for t in nn]
    return order[max(ranks)]() if None not in ranks else T.StringType()


def _totuple(call: Call) -> Column | None:
    """TOTUPLE.java: fields take the argument names; repeated columns
    (TOTUPLE($0,$0,$0)) and expressions get positional names, so later
    field access and storage aren't ambiguous. An untyped null is a
    chararray null."""
    if not call.args:
        return None
    cols, used = [], set()
    for i, a in enumerate(call.args):
        nm = a.name if a.name and not a.name.startswith("$") and a.name.replace("_", "a").isalnum() else f"col{i}"
        nm = f"{nm}_{i}" if nm in used else nm
        used.add(nm)
        cols.append((a.col.cast("string") if a.null else a.col).alias(nm))
    return F.struct(*cols)


def _tobag(call: Call) -> Column | None:
    """TOBAG.java: tuple arguments insert as they are, scalars wrap into
    one-field tuples. A Spark array has ONE element type, so tuples
    unify by position — names from the widest, numeric widening, a
    chararray fallback, null padding — and scalars the same way."""
    if not call.args:
        return None
    cols = [a.col.cast("string") if a.null else a.col for a in call.args]
    types = [T.StringType() if a.null else t for a, t in zip(call.args, call.types or [])]
    if types and all(isinstance(t, T.StructType) for t in types):
        arity = max(len(t.fields) for t in types)
        names = next(t for t in types if len(t.fields) == arity).names
        targets = [_common_type([t[i].dataType if i < len(t.fields) else None for t in types]) for i in range(arity)]
        return F.array(*[
            F.struct(*[
                (c[t.names[i]] if i < len(t.fields) else F.lit(None)).cast(targets[i].simpleString()).alias(names[i])
                for i in range(arity)
            ])
            for c, t in zip(cols, types)
        ])
    if types and not any(isinstance(t, T.StructType) for t in types):
        target = _common_type(types).simpleString()
        return F.array(*[F.struct(c.cast(target).alias("t")) for c in cols])
    return F.array(*cols)  # types unknown or mixed


def _size(call: Call) -> Column | None:
    """SIZE is type-polymorphic in Pig (StringSize/TupleSize/BagSize/
    MapSize, picked by the argument's type). ARITY(a, b, c): the
    arguments form a tuple, its SIZE is the field count."""
    if len(call.args) > 1:
        return F.lit(len(call.args)).cast("long")
    if not call.types:
        return None
    c, dtype = call.args[0].col, call.types[0]
    if isinstance(dtype, T.StringType):
        return F.length(c).cast("long")
    if isinstance(dtype, T.BinaryType):
        return F.octet_length(c).cast("long")
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return F.size(c).cast("long")
    if isinstance(dtype, T.StructType):
        return F.lit(len(dtype.fields)).cast("long")
    # a numeric/bool/datetime scalar has SIZE 1 (SIZE.java:52), null for null
    return F.when(c.isNotNull(), F.lit(1).cast("long"))


def _top(call: Call) -> Column | None:
    """TOP(n, column_INDEX, bag) (TOP.java): the index names a field of
    the bag's element tuple."""
    a = call.args
    if len(a) < 3 or not isinstance(a[0].value, int) or not isinstance(a[1].value, int) or not call.types:
        return None
    t = call.types[2]
    if not (isinstance(t, T.ArrayType) and isinstance(t.elementType, T.StructType)):
        return None
    return PF.TOP(a[0].value, t.elementType.fieldNames()[a[1].value], a[2].col)


# ---------------------------------------------------------------------
# the HiveUDF family, Invoker, constructor classes
# ---------------------------------------------------------------------
def _hive(kind: str) -> Func:
    """DEFINE f HiveUDF('name') (builtin/HiveUDF.java). Spark's function
    registry is Hive-compatible, so the call is F.call_function(name,
    args), JVM-side. HiveUDTF: 'explode' over an array gives a bag of
    one-field tuples, which FLATTEN turns into rows. HiveUDAF lowers to
    the Spark aggregate of that name in a grouped FOREACH (the
    translator's ``_hive_agg``) and is an error per row, as in Pig."""

    def ctor(hname: str, *params: str) -> Func:
        if params:  # Hive-side constructor parameters: no Spark twin
            raise NotImplementedError(f"{kind}({hname!r}, ...): constructor parameters beyond the function "
                                      "name need the Hive bridge; inline the parameters into the call instead")

        def lower(call: Call) -> Column:
            if kind == "HiveUDF":
                return F.call_function(hname, *call.cols())
            if kind == "HiveUDTF" and hname.lower() == "explode" and len(call.args) == 1:
                return F.transform(call.args[0].col, lambda x: F.struct(x.alias("x")))
            if kind == "HiveUDTF":
                raise NotImplementedError(f"HiveUDTF({hname!r}): only 'explode' over a bag maps to a Spark-side "
                                          "bag; other UDTFs need the Hive bridge")
            raise SyntaxError(
                f"HiveUDAF({hname!r}) is an aggregate — call it in a FOREACH over a plain GROUP alias whose "
                "GENERATE holds only aggregate calls and group keys (it lowers to the Spark aggregate of the "
                "same name); for COGROUP bags or GENERATEs mixing per-row expressions, aggregate in a "
                "separate FOREACH first"
            )

        return Func(kind, typed=lower, udaf=hname if kind == "HiveUDAF" else None)

    return Func(kind, ctor=ctor)


def _invoker(name: str, ret: str) -> Func:
    """builtin/Invoker.java (InvokeForInt … InvokeForString): call a
    STATIC Java method by reflection — Spark's java_method, JVM-side.
    Constructor: (class.method, paramSpecs?, isStatic?="true"); the
    space-separated paramSpecs cast the arguments (which picks the Java
    overload). The string result casts to the return type losslessly."""

    def ctor(full: str, params: str = "", is_static: str = "true") -> Func:
        if is_static.lower() not in ("true", "static"):
            raise NotImplementedError(f"{name}('{full}', ..., 'false'): instance-method invocation needs per-row "
                                      "JVM object construction (Invoker.java non-static path); only STATIC "
                                      "methods are supported — use the static equivalent or a scripting UDF")
        cls, _, method = full.rpartition(".")

        def ddl(pt: str) -> str:
            try:
                return pigtypes.ddl(pt)
            except ValueError:  # a Java class name ('String', arrays): passes as string
                return "string"

        def lower(call: Call) -> Column:
            args = [c.cast(ddl(pt)) for c, pt in zip(call.cols(), params.split())] + call.cols()[len(params.split()):]
            return F.java_method(F.lit(cls), F.lit(method), *args).cast(ret)

        return Func(name, typed=lower)

    return Func(name, ctor=ctor)


def _factory(name: str, factory: Callable, kind: str) -> Func:
    """A test-jar class whose constructor strings bind at DEFINE
    (Udfcachetest('path#link'), TestingAccumulatorHelper('true')):
    ``factory(*args)`` returns the column function. Called without a
    DEFINE, the class takes its no-argument constructor."""

    def ctor(*args: str) -> Func:
        return Func(name, factory(*args), args=kind)

    return Func(name, factory, args=kind, ctor=ctor, typed=lambda call: ctor().lower(call))


# ---------------------------------------------------------------------
# the table
# ---------------------------------------------------------------------
def _plain() -> list[Func]:
    """An entry per public function of ``pig_spark.functions``; names
    bound to one function are one entry's aliases."""
    by_fn: dict[int, list[str]] = {}
    for n in dir(PF):
        obj = getattr(PF, n)
        if not n.startswith("_") and callable(obj) and not isinstance(obj, (type, _types.ModuleType)):
            by_fn.setdefault(id(obj), []).append(n)
    out = []
    for names in by_fn.values():
        fn = getattr(PF, names[0])
        name = fn.__name__ if getattr(fn, "__name__", None) in names else names[0]
        out.append(Func(name, fn, aliases=tuple(n for n in names if n != name)))
    return out


_PLAIN = _plain()
_BY_HAND = [
    Func("TOTUPLE", PF.TOTUPLE, typed=_totuple),
    Func("TOBAG", PF.TOBAG, typed=_tobag),
    replace(next(f for f in _PLAIN if f.fn is PF.SIZE), typed=_size),  # and ARITY, BagSize, …
    Func("TOP", PF.TOP, typed=_top),
    Func("RANDOM", PF.RANDOM, ctor=lambda seed: Func("RANDOM", partial(F.rand, int(seed)))),  # RANDOM(String seed)
    *[Func(k.upper(), getattr(PF, k.upper()), aggregate=k) for k in aggregates.BUILTINS],
    *[_hive(k) for k in ("HiveUDF", "HiveUDTF", "HiveUDAF")],
    *[
        _invoker(f"InvokeFor{n}", r)
        for n, r in (("Int", "int"), ("Long", "bigint"), ("Float", "float"), ("Double", "double"), ("String", "string"))
    ],
    Func("UDFContextTestUDF", testudf.UDFContextTestUDF, args=RELATION),
    Func("DumpJVMArgsUDF", testudf.DumpJVMArgsUDF, args=RELATION),
    *[
        Func(n, getattr(testudf, n), args=BAG)
        for n in ("AllFirstLetter", "NonAlgNonAccCount", "IteratingAccumulatorCount",
                  "IteratingAccumulatorSum", "IteratingAccumulatorIsEmpty")
    ],
    _factory("Udfcachetest", testudf.Udfcachetest, COLUMNS),
    _factory("UdfContextFrontend", testudf.UdfContextFrontend, COLUMNS),
    _factory("TestingAccumulatorHelper", testudf.TestingAccumulatorHelper, BAG),
]
#: every name a builtin is called by → its entry
BUILTINS: dict[str, Func] = {n: f for f in _PLAIN + _BY_HAND for n in (f.name, *f.aliases)}
_FOLDED = {n.lower(): f for n, f in sorted(BUILTINS.items(), reverse=True)}  # first in name order wins

Scripts = Mapping[str, Mapping[str, Func]]


def resolve(name: str, defines: Mapping[str, object] = {}, scripts: Scripts = {}) -> Func:
    """The entry a call of ``name`` lowers through: a DEFINE alias
    (``defines``), a scripting UDF (``scripts``: namespace → name →
    entry, ``""`` for a REGISTER without AS), else a builtin. An unknown
    name raises NameError with suggestions."""
    spec = defines.get(name)
    if spec is not None:
        if not isinstance(spec, Func):
            raise NameError(f"{name!r} is DEFINEd as a stream command; it can only follow STREAM ... THROUGH")
        return spec
    if "." in name:
        ns, _, leaf = name.partition(".")
        if ns in scripts:
            if leaf not in scripts[ns]:
                raise NameError(f"pig latin: no function {leaf!r} in namespace {ns!r}{suggest(leaf, sorted(scripts[ns]))}")
            return scripts[ns][leaf]
        if name.count(".") < 2:
            raise NameError(f"pig latin: unknown UDF namespace {ns!r} — REGISTER 'file.py' USING jython AS {ns};")
        leaf = name.rsplit(".", 1)[-1]  # a class path: its leaf names the builtin
        fn = BUILTINS.get(leaf) or BUILTINS.get(leaf.upper()) or _FOLDED.get(leaf.lower())
        if fn is None:
            raise NameError(
                f"pig latin: {name!r} is a Java UDF class — this engine cannot load JVM classes; "
                f"no builtin named {leaf!r} matches. Port it as a scripting UDF "
                "(REGISTER 'x.py' USING jython AS ns) or use a builtin."
            )
        return fn
    fn = scripts.get("", {}).get(name) or BUILTINS.get(name) or BUILTINS.get(name.upper())
    if fn is None:
        known = sorted({*BUILTINS, *defines, *scripts.get("", {})})
        raise NameError(f"pig latin: unknown function {name!r}{suggest(name, known)}")
    return fn


def find(name: str, defines: Mapping[str, object] = {}, scripts: Scripts = {}) -> Func | None:
    """:func:`resolve`, or None for a name without an entry."""
    try:
        return resolve(name, defines, scripts)
    except NameError:
        return None


def define(name: str, args: Sequence[str], defines: Mapping[str, object] = {}, scripts: Scripts = {}) -> Func:
    """The entry ``DEFINE alias name(args)`` adds, its constructor
    strings bound now. A name without an entry fails where the alias is
    called, as Pig resolves the class then."""
    try:
        return resolve(name, defines, scripts).bind(args)
    except NameError as exc:
        unknown = exc

    def lower(call: Call) -> Column:
        raise unknown

    return Func(name, typed=lower)
