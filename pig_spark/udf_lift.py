"""Pure scripting UDFs as Catalyst expressions.

A Pig scripting UDF (``REGISTER 'f.py' USING jython`` or ``USING
streaming_python``) runs here as a Python UDF: a Python worker, a batch
round trip and an ``ArrowEvalPython`` node for every row. A function
that stays inside a small pure subset is the same function as a Spark
expression — a four-branch ``if`` chain is one ``CASE WHEN`` that
Catalyst compiles inside the stage (Froid, VLDB 2018, does this for SQL
Server's scalar UDFs). :func:`lift` lowers one call of such a function
to a :class:`~pyspark.sql.Column`, or returns None and the caller keeps
the Python UDF.

The subset:

- one top-level ``def`` with positional parameters, no defaults, and
  no decorator but Pig's ``outputSchema``/``outputSchemaFunction``;
- ``if``/``elif``/``else`` (and ``a if c else b``) whose paths end in
  ``return`` (falling off the end returns None);
- returns of literals, parameters and ``+ - *`` over floats;
- comparisons of a parameter or expression against a literal;
- ``is None`` / ``is not None`` on a parameter, and ``and``/``or``/
  ``not`` over booleans;
- ``str.upper()`` and ``str.lower()``.

Anything else — loops, assignments, globals, imports, calls, truthiness
of a non-boolean, int arithmetic, ``/ // %``, a return whose type is not
the declared one — stays in Python. The lowering keeps CPython's
answer wherever the two differ:

- ``None >= 3.0`` raises, so a comparison, arithmetic or a ``str``
  method is lifted only on a parameter that an ``is None`` test has
  already excluded on every path that reaches it;
- ``nan >= 3.0`` is False in Python and true in Spark (NaN sorts
  last), so a float comparison is ``c >= 3.0 AND NOT isnan(c)``;
- Python ints do not wrap and compare exactly with floats, so an int
  literal outside 64 bits, a float compared with an int beyond 2**53
  and a long compared with a float are not lifted.

Spark may evaluate branches Python never reaches; a value it computes
from a null parameter there only ever meets ``false AND``, ``true OR``
or a ``CASE`` arm already taken, so it never reaches the result.
"""

from __future__ import annotations

import ast
from dataclasses import dataclass, replace

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_INT_RANGE = {"tinyint": 7, "smallint": 15, "int": 31, "bigint": 63}
_EXACT_FLOAT_INT = 2**53
_COMPARE = {ast.Lt: "__lt__", ast.LtE: "__le__", ast.Gt: "__gt__", ast.GtE: "__ge__", ast.Eq: "__eq__"}
_FLIP = {ast.Lt: ast.Gt, ast.LtE: ast.GtE, ast.Gt: ast.Lt, ast.GtE: ast.LtE, ast.Eq: ast.Eq, ast.NotEq: ast.NotEq}
_ARITH = {ast.Add: "__add__", ast.Sub: "__sub__", ast.Mult: "__mul__"}
_STR_METHODS = {"upper": F.upper, "lower": F.lower}
_PIG_DECORATORS = {"outputSchema", "outputSchemaFunction"}
# bound on the CASE arms a function may unfold to (each non-returning
# `if` duplicates the statements after it into both branches)
_MAX_ARMS = 64
_NO_LITERAL = object()


class _Refuse(Exception):
    """The function leaves the liftable subset."""


@dataclass(frozen=True)
class _Value:
    """A lowered expression: its column, its Python kind (``int``,
    ``float``, ``str``, ``bool``, ``none``, or ``other`` for a parameter
    of another Spark type), its Spark type, whether it is known to be
    non-null, and its value when it is a literal."""

    col: Column | None  # None for the literal None
    kind: str
    dtype: str | None
    nonnull: bool
    literal: object = _NO_LITERAL


_NONE = _Value(None, "none", None, False, None)


def find_def(tree: ast.Module, fn, filename: str) -> ast.FunctionDef | None:
    """The top-level ``def`` of ``tree`` (compiled as ``filename``) that
    made the function object ``fn``; None for anything else (a helper
    module's function, a wrapper from another decorator, a lambda)."""
    code = getattr(fn, "__code__", None)
    if code is None or code.co_filename != filename:
        return None
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == code.co_name:
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            if first == code.co_firstlineno:
                return node
    return None


def lift(node: ast.FunctionDef | None, ddl: str, cols: list[Column], types: list[T.DataType]) -> Column | None:
    """The call ``fn(*cols)`` as a Spark expression of type ``ddl``, for
    the function whose definition is ``node`` over arguments of Spark
    ``types``; None when the function is outside the subset."""
    if node is None:
        return None
    try:
        return _Lowering(node, ddl, cols, types).run()
    except _Refuse:
        return None


class _Lowering:
    def __init__(self, node: ast.FunctionDef, ddl: str, cols: list[Column], types: list[T.DataType]):
        a = node.args
        if a.posonlyargs or a.vararg or a.kwonlyargs or a.kwarg or a.defaults or len(a.args) != len(cols):
            raise _Refuse("signature")
        for d in node.decorator_list:
            if not (isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id in _PIG_DECORATORS):
                raise _Refuse("decorator")
        if ddl not in _INT_RANGE and ddl not in ("double", "string", "boolean"):
            raise _Refuse("return type")
        self.node, self.ddl, self.arms = node, ddl, 0
        self.params = {p.arg: _param(c, t) for p, c, t in zip(a.args, cols, types)}

    def run(self) -> Column:
        return self._col(self._block(self.node.body, frozenset()))

    # -- statements -----------------------------------------------------
    def _block(self, stmts: list[ast.stmt], known: frozenset) -> tuple[list, _Value]:
        """A statement list as (CASE arms, default) under the parameters
        ``known`` to be non-null."""
        for i, s in enumerate(stmts):
            if isinstance(s, ast.Pass) or (
                isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant) and isinstance(s.value.value, str)
            ):
                continue  # docstring / pass
            if isinstance(s, ast.Return):
                out = self._returned(s.value, known)
                return out if isinstance(out, tuple) else ([], out)
            if not isinstance(s, ast.If):
                raise _Refuse(type(s).__name__)
            self.arms += 1
            if self.arms > _MAX_ARMS:
                raise _Refuse("too many branches")
            rest = stmts[i + 1:]
            cond = self._test(s.test, known)
            then = self._block(s.body + rest, known | _facts(s.test, True))
            other_arms, default = self._block(s.orelse + rest, known | _facts(s.test, False))
            return [(cond, then)] + other_arms, default
        return [], _NONE

    def _returned(self, node: ast.expr | None, known: frozenset):
        if isinstance(node, ast.IfExp):  # `return a if c else b` is an if statement
            return self._block([ast.If(node.test, [ast.Return(node.body)], [ast.Return(node.orelse)])], known)
        v = _NONE if node is None else self._expr(node, known)
        self._check_return(v)
        return v

    def _check_return(self, v: _Value) -> None:
        """A returned value must already have the declared type: Spark
        converts a Python result of another type by its own rules."""
        ddl = self.ddl
        if v.kind == "none":
            return
        if v.literal is not _NO_LITERAL and v.kind == "int" and ddl in _INT_RANGE:
            if not -(2 ** _INT_RANGE[ddl]) <= v.literal < 2 ** _INT_RANGE[ddl]:
                raise _Refuse("int literal out of range")
            return
        if v.dtype != ddl:
            raise _Refuse("return type")

    def _col(self, branch) -> Column:
        """A (arms, default) pair or a value as a column of the declared type."""
        if isinstance(branch, _Value):
            if branch.col is None:
                return F.lit(None).cast(self.ddl)
            return branch.col if branch.dtype == self.ddl else branch.col.cast(self.ddl)
        arms, default = branch
        if not arms:
            return self._col(default)
        out = F.when(arms[0][0], self._col(arms[0][1]))
        for cond, then in arms[1:]:
            out = out.when(cond, self._col(then))
        return out.otherwise(self._col(default))

    # -- expressions ----------------------------------------------------
    def _test(self, node: ast.expr, known: frozenset) -> Column:
        v = self._expr(node, known)
        if v.kind != "bool" or not v.nonnull:
            raise _Refuse("truthiness of a non-boolean")
        return v.col

    def _expr(self, node: ast.expr, known: frozenset) -> _Value:
        if isinstance(node, ast.Constant):
            return _literal(node.value)
        if isinstance(node, ast.Name):
            if node.id not in self.params:
                raise _Refuse("global")
            return replace(self.params[node.id], nonnull=node.id in known)
        if isinstance(node, ast.UnaryOp):
            return self._unary(node, known)
        if isinstance(node, ast.BoolOp):
            cols = []
            for operand in node.values:
                cols.append(self._test(operand, known))
                known = known | _facts(operand, isinstance(node.op, ast.And))
            out = cols[0]
            for c in cols[1:]:
                out = (out & c) if isinstance(node.op, ast.And) else (out | c)
            return _Value(out, "bool", "boolean", True)
        if isinstance(node, ast.Compare):
            return self._compare(node, known)
        if isinstance(node, ast.BinOp) and type(node.op) in _ARITH:
            a, b = self._expr(node.left, known), self._expr(node.right, known)
            a, b = _as_float(a), _as_float(b)
            return _Value(getattr(a.col, _ARITH[type(node.op)])(b.col), "float", "double", True)
        if isinstance(node, ast.Call):
            f = node.func
            if not (isinstance(f, ast.Attribute) and f.attr in _STR_METHODS and not node.args and not node.keywords):
                raise _Refuse("call")
            recv = self._expr(f.value, known)
            if recv.kind != "str" or not recv.nonnull:
                raise _Refuse("str method on a value that may be None")
            return _Value(_STR_METHODS[f.attr](recv.col), "str", "string", True)
        raise _Refuse(type(node).__name__)

    def _unary(self, node: ast.UnaryOp, known: frozenset) -> _Value:
        v = self._expr(node.operand, known)
        if isinstance(node.op, ast.Not):
            if v.kind != "bool" or not v.nonnull:
                raise _Refuse("truthiness of a non-boolean")
            return _Value(~v.col, "bool", "boolean", True)
        if isinstance(node.op, ast.USub) and v.literal is not _NO_LITERAL and v.kind in ("int", "float"):
            return _literal(-v.literal)
        if isinstance(node.op, ast.USub) and v.kind == "float" and v.nonnull:
            return _Value(-v.col, "float", "double", True)
        raise _Refuse("unary operator")

    def _compare(self, node: ast.Compare, known: frozenset) -> _Value:
        if len(node.ops) == 1 and isinstance(node.ops[0], (ast.Is, ast.IsNot)):
            left, right = node.left, node.comparators[0]
            if not (isinstance(left, ast.Name) and left.id in self.params
                    and isinstance(right, ast.Constant) and right.value is None):
                raise _Refuse("identity test other than `param is None`")
            col = self.params[left.id].col
            return _Value(col.isNull() if isinstance(node.ops[0], ast.Is) else col.isNotNull(), "bool", "boolean", True)
        out = None
        operands = [node.left, *node.comparators]
        for i, op in enumerate(node.ops):
            if type(op) not in _FLIP:
                raise _Refuse("comparison operator")
            a, b = self._expr(operands[i], known), self._expr(operands[i + 1], known)
            if a.literal is not _NO_LITERAL and b.literal is _NO_LITERAL:
                a, b, op = b, a, _FLIP[type(op)]()
            c = _compare_literal(a, op, b)
            out = c if out is None else (out & c)
        return _Value(out, "bool", "boolean", True)


def _param(col: Column, t: T.DataType) -> _Value:
    """A parameter's lowering, not yet known to be non-null. A type
    with no Python kind here is ``other``: it may only be tested with
    ``is None``."""
    if isinstance(t, _INT_TYPES):
        return _Value(col, "int", t.simpleString(), False)
    if isinstance(t, T.FloatType):
        return _Value(col.cast("double"), "float", "double", False)  # Python sees the widened double
    if isinstance(t, T.DoubleType):
        return _Value(col, "float", "double", False)
    if isinstance(t, T.StringType) and t.simpleString() == "string":  # no collation
        return _Value(col, "str", "string", False)
    if isinstance(t, T.BooleanType):
        return _Value(col, "bool", "boolean", False)
    return _Value(col, "other", t.simpleString(), False)


def _literal(v) -> _Value:
    if v is None:
        return _NONE
    if isinstance(v, bool):
        return _Value(F.lit(v), "bool", "boolean", True, v)
    if isinstance(v, int):
        if not -(2**63) <= v < 2**63:
            raise _Refuse("int literal beyond 64 bits")
        return _Value(F.lit(v), "int", "bigint" if not -(2**31) <= v < 2**31 else "int", True, v)
    if isinstance(v, float):
        return _Value(F.lit(v), "float", "double", True, v)
    if isinstance(v, str):
        return _Value(F.lit(v), "str", "string", True, v)
    raise _Refuse("literal type")


def _as_float(v: _Value) -> _Value:
    """An arithmetic operand: a non-null float, or an int literal that
    converts to a float exactly."""
    if v.kind == "int" and v.literal is not _NO_LITERAL and abs(v.literal) <= _EXACT_FLOAT_INT:
        return _literal(float(v.literal))
    if v.kind != "float" or not v.nonnull:
        raise _Refuse("arithmetic outside non-null floats")
    return v


def _compare_literal(a: _Value, op: ast.cmpop, lit: _Value) -> Column:
    """``a op lit`` with Python's answer: ``a`` non-null, ``lit`` a
    literal of a kind Python compares with ``a`` without raising and
    Spark compares exactly."""
    if lit.literal is _NO_LITERAL or a.literal is not _NO_LITERAL:
        raise _Refuse("comparison not against a literal")
    if not a.nonnull or a.kind not in ("int", "float", "str"):
        raise _Refuse("comparison of a value that may be None")
    if a.kind == "str" and lit.kind != "str":
        raise _Refuse("comparison of str with another kind")
    if a.kind == "int":
        if lit.kind == "float" and a.dtype == "bigint":
            raise _Refuse("long against float")  # Spark rounds the long to double
        if lit.kind not in ("int", "float"):
            raise _Refuse("comparison of a number with another kind")
    if a.kind == "float":
        if lit.kind == "int" and abs(lit.literal) <= _EXACT_FLOAT_INT:
            lit = _literal(float(lit.literal))
        if lit.kind != "float":
            raise _Refuse("float against an inexact int")
    if isinstance(op, ast.NotEq):
        return a.col != lit.col  # NaN != x holds in both
    c = getattr(a.col, _COMPARE[type(op)])(lit.col)
    return c & ~F.isnan(a.col) if a.kind == "float" else c


def _facts(test: ast.expr, truth: bool) -> frozenset:
    """The parameters known to be non-null once ``test`` evaluated to
    ``truth``."""
    if isinstance(test, ast.UnaryOp) and isinstance(test.op, ast.Not):
        return _facts(test.operand, not truth)
    if isinstance(test, ast.BoolOp):
        # every operand of an `and` that held was true; every operand of
        # an `or` that failed was false
        if isinstance(test.op, ast.And) == truth:
            return frozenset().union(*(_facts(v, truth) for v in test.values))
        return frozenset()
    if (
        isinstance(test, ast.Compare) and len(test.ops) == 1 and isinstance(test.left, ast.Name)
        and isinstance(test.comparators[0], ast.Constant) and test.comparators[0].value is None
    ):
        if isinstance(test.ops[0], ast.IsNot) == truth and isinstance(test.ops[0], (ast.Is, ast.IsNot)):
            return frozenset([test.left.id])
    return frozenset()
