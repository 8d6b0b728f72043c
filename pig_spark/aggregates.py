"""Pig's builtin aggregates: one rule per builtin, two lowerings.

COUNT, COUNT_STAR, SUM, AVG, MIN, MAX, COR and COV (builtin/*.java) have
one meaning each, stated here and read by the Latin translator and the
DSL's ``functions.COUNT`` … ``COV``:

- SUM over int or long gives long, over float or double double; SUM and
  AVG cast an untyped (string) field to double; AVG gives double; MIN
  and MAX keep the field's type (an untyped field compares as a string).
- COUNT skips a tuple whose first field is null (COUNT.java:40),
  COUNT_STAR counts every tuple; the others skip nulls (COR/COV a pair
  with a null side) and are null over a bag without a value.
- Over an empty bag COUNT and COUNT_STAR are 0, the others null.
- COR and COV take two or more bags and give, per argument pair i < j,
  the tuple (var<i>, var<j>, stat): Pearson's r, or the population
  covariance (n·Σxy − Σx·Σy)/n² (COV.java); bags of different sizes
  give null (COR.java's misaligned iterators).

Each has two lowerings. Over rows (``over_rows``): a Spark aggregate
under ``groupBy``, with an optional filter condition and DISTINCT;
Spark's Sum/Average result types are the rule above, and Spark
aggregates partially on the map side (Pig's combiner). Over a bag
(``over_bag``): array higher-order functions over an assembled bag; an
array pipe, one array per row, merges the same per-row partials with a
row aggregate (``over_row_arrays``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# a bag argument: (array column, element type, field read — None: the first)
Bag = tuple[Column, T.DataType, "str | None"]


@dataclass(frozen=True)
class Builtin:
    """``rows``/``distinct``: the Spark aggregate over a value column
    (COR/COV: over a pair). ``final`` combines the per-bag partials
    named in ``parts`` (COR/COV: the statistic over a pair's moments)."""

    empty: int | None
    rows: Callable[..., Column]
    final: Callable[..., Column]
    parts: tuple[str, ...] = ()
    distinct: Callable[[Column], Column] | None = None
    tuples: bool = False  # counts tuples, not values (COUNT_STAR)
    pairwise: bool = False


def _cor(n, sx, sy, sxx, syy, sxy) -> Column:
    return (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))


def _cov(n, sx, sy, sxx, syy, sxy) -> Column:
    return (n * sxy - sx * sy) / (n * n)


BUILTINS: dict[str, Builtin] = {
    "count": Builtin(0, F.count, lambda n: n.cast("long"), ("n",), F.countDistinct),
    "count_star": Builtin(0, F.count, lambda n: n.cast("long"), ("rows",), F.countDistinct, tuples=True),
    "sum": Builtin(None, F.sum, lambda s: s, ("sum",), F.sum_distinct),
    "avg": Builtin(
        None, F.avg, lambda s, n: F.when(n > 0, s.cast("double") / n), ("sum", "num"),
        lambda v: F.sum_distinct(v).cast("double") / F.countDistinct(v),
    ),
    "min": Builtin(None, F.min, lambda m: m, ("min",), F.min),
    "max": Builtin(None, F.max, lambda m: m, ("max",), F.max),
    "cor": Builtin(None, F.corr, _cor, pairwise=True),
    "cov": Builtin(None, F.covar_pop, _cov, pairwise=True),
}
ONE_BAG = frozenset(n for n, b in BUILTINS.items() if not b.pairwise)
PAIRWISE = frozenset(n for n, b in BUILTINS.items() if b.pairwise)


def empty(name: str) -> Column | None:
    """The builtin over an empty bag; None when that is null."""
    v = BUILTINS[name].empty
    return None if v is None else F.lit(v).cast("long")


def _pairs(name: str, stat: Callable[[int, int], Column], k: int) -> Column:
    return F.array(*[
        F.struct(F.lit(f"var{i}").alias("var_x"), F.lit(f"var{j}").alias("var_y"), stat(i, j).alias(name))
        for i in range(k) for j in range(i + 1, k)
    ])


def over_rows(name: str, args=(), cond: Column | None = None, distinct: bool = False) -> Column:
    """The builtin over a group's rows: ``args`` its argument columns
    (COUNT_STAR reads them only under a DISTINCT), ``cond`` a nested
    FILTER's condition, ``distinct`` a nested DISTINCT over the one
    argument."""
    b = BUILTINS[name]
    if b.tuples:
        # a tuple is never null, so COUNT_STAR over a DISTINCT counts
        # the distinct one-field tuples, the one holding null included
        args = [F.array(*args)] if distinct else [F.lit(1)]
    if cond is not None:
        args = [F.when(cond, a) for a in args]
    if distinct:
        if b.distinct is None:
            raise NotImplementedError(f"{name.upper()} over a DISTINCT pipe")
        return b.distinct(args[0])
    if b.pairwise:
        return _pairs(name, lambda i, j: b.rows(args[i], args[j]), len(args))
    return b.rows(args[0])


def _values(bag: Bag) -> tuple[Column, T.DataType]:
    """A bag's values: the named (or ``$N``) field of each tuple, else
    the first field, else a scalar bag's elements."""
    arr, elem, field = bag
    if not isinstance(elem, T.StructType):
        return arr, elem
    field = field or elem.names[0]
    if field.startswith("$"):
        field = elem.names[int(field[1:])]
    return F.transform(arr, lambda t: t[field]), elem[field].dataType


def _partial(kind: str, bag: Bag) -> Column:
    """One partial of a bag: ``rows`` (tuples), ``n`` (non-null values),
    ``sum``/``num`` (sum — null without a value — and count of the
    numeric values), ``min``, ``max``. A null bag (an array pipe's
    FILTERed-out row) has no tuple."""
    if kind == "rows":
        return F.array_size(bag[0])
    vals, dt = _values(bag)
    if kind in ("sum", "num") and isinstance(dt, (T.StringType, T.BinaryType)):
        vals, dt = F.transform(vals, lambda x: x.try_cast("double")), T.DoubleType()
    nn = F.filter(vals, lambda x: x.isNotNull())
    if kind in ("n", "num"):
        return F.array_size(nn)
    if kind in ("min", "max"):
        return F.array_min(nn) if kind == "min" else F.array_max(nn)
    if isinstance(dt, T.DecimalType):
        t = T.DecimalType(min(38, dt.precision + 10), dt.scale)
    else:
        t = T.LongType() if isinstance(dt, T.IntegralType) else T.DoubleType()
    return F.when(F.size(nn) > 0, F.aggregate(nn, F.lit(0).cast(t), lambda acc, x: (acc + x).cast(t)))


# how an array pipe's per-row partials merge across the group's rows
_MERGE = {"num": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
_MERGE["rows"] = _MERGE["n"] = lambda p: F.coalesce(F.sum(p), F.lit(0))


def _moments(xb: Bag, yb: Bag) -> list[Column]:
    """(n, Σx, Σy, Σx², Σy², Σxy) in double over two bags' positional
    pairs with both sides non-null."""
    (xs, _), (ys, _) = _values(xb), _values(yb)
    pairs = F.filter(
        F.zip_with(xs, ys, lambda x, y: F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))),
        lambda p: p["x"].isNotNull() & p["y"].isNotNull(),
    )

    def total(term) -> Column:
        return F.aggregate(pairs, F.lit(0.0), lambda acc, p: acc + term(p["x"], p["y"]))

    terms = [lambda x, y: x, lambda x, y: y, lambda x, y: x * x, lambda x, y: y * y, lambda x, y: x * y]
    return [F.size(pairs).cast("double"), *map(total, terms)]


def over_bag(name: str, bags: list[Bag]) -> Column:
    """The builtin over assembled bags (COR/COV: two or more)."""
    b = BUILTINS[name]
    if not b.pairwise:
        return b.final(*[_partial(k, bags[0]) for k in b.parts])
    aligned = F.lit(True)
    for other in bags[1:]:
        aligned = aligned & (F.size(bags[0][0]) == F.size(other[0]))
    return F.when(aligned, _pairs(name, lambda i, j: b.final(*_moments(bags[i], bags[j])), len(bags)))


def over_row_arrays(name: str, bag: Bag) -> Column:
    """A one-bag builtin over an array pipe, whose bag concatenates the
    group's per-row arrays: per-row partials merged across the rows."""
    b = BUILTINS[name]
    return b.final(*[_MERGE[k](_partial(k, bag)) for k in b.parts])
