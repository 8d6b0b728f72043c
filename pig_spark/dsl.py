"""Relation — the Pig-Latin dataflow surface as a lazy DataFrame wrapper.

A Pig Latin script is a sequence of ``alias = OPERATOR other ...;``
statements building a DAG that executes only at STORE/DUMP
(reference: PigServer.java:111-117, README.txt:3-14). That is exactly
the lazy DataFrame model, so ``Relation`` is a *thin* wrapper: every
operator constructs a DataFrame transformation and Catalyst does the
planning (predicate pushdown, column pruning, join selection — the
rewrites Pig implements in newplan/logical/rules/ come free).

Operator surface mirrors QueryParser.g:370-386 (op_clause):
load/filter/foreach/group/cogroup/join/cross/order/distinct/limit/
sample/rank/cube/union/split/stream/store, plus assert, flatten and
nested-foreach helpers.

Scale design: no ``collect()`` in any operator; every method returns a
new Relation over a transformed DataFrame. Pig's blocking operators
(sort, group shuffles) map to Spark shuffles sized by AQE.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DOLLAR = re.compile(r"^\$(\d+)$")


class Relation:
    """A Pig relation: an unordered bag of tuples (DataBag.java:81),
    modeled as a DataFrame."""

    def __init__(self, df: DataFrame):
        self.df = df

    # ------------------------------------------------------------------
    # column-reference resolution: names, Columns, and Pig positional $N
    # (QueryParser.g:878-881 col_ref / DOLLARVAR)
    # ------------------------------------------------------------------
    def _c(self, ref: str | Column) -> Column:
        if isinstance(ref, Column):
            return ref
        m = _DOLLAR.match(ref)
        if m:
            return self.df[self.df.columns[int(m.group(1))]]
        return self.df[ref] if ref in self.df.columns else F.expr(ref)

    def _cols(self, refs: Sequence[str | Column]) -> list[Column]:
        return [self._c(r) for r in refs]

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    @property
    def schema(self) -> T.StructType:
        return self.df.schema

    # ------------------------------------------------------------------
    # LOAD / STORE / DUMP — see sources package for format handling
    # ------------------------------------------------------------------
    @staticmethod
    def load(spark: SparkSession, path: str, format: str = "parquet", **options) -> "Relation":
        """LOAD 'path' [USING loader] (QueryParser.g:406, LOLoad.java)."""
        from .sources import load as _load

        return Relation(_load(spark, path, format=format, **options))

    def store(self, path: str, format: str = "parquet", mode: str = "overwrite", **options) -> None:
        """STORE rel INTO 'path' (LOStore.java / POStore.java)."""
        from .sources import store as _store

        _store(self.df, path, format=format, mode=mode, **options)

    def dump(self, n: int = 20) -> list:
        """DUMP rel (GruntParser.java:768) — driver-side materialize."""
        return self.df.limit(n).collect() if n is not None else self.df.collect()

    def iterator(self) -> "_RowIterator":
        """PigServer.openIterator parity (PigServer.java:111-117 —
        "retrieves results using openIterator()"): a Java-style
        hasNext/next iterator of tuples with positional ``get(i)``.
        Streams one partition at a time (toLocalIterator), never the
        whole relation into driver memory — the sanctioned driver-side
        read path, same class as DUMP."""
        return _RowIterator(self.df.toLocalIterator())

    # ------------------------------------------------------------------
    # row-level operators
    # ------------------------------------------------------------------
    def filter(self, cond: str | Column) -> "Relation":
        """FILTER rel BY cond (QueryParser.g:484, LOFilter.java)."""
        return Relation(self.df.filter(self._c(cond)))

    def foreach(self, *exprs: str | Column, **named: str | Column) -> "Relation":
        """FOREACH rel GENERATE ... (QueryParser.g:256, LOForEach.java:34).

        Positional args project as-is; keyword args are aliased
        (``sum_qty=F.sum(...)`` ≅ ``expr AS sum_qty``). ``"*"`` expands
        to all columns (ProjectStarExpander.java).
        """
        cols: list[Column] = []
        for e in exprs:
            if isinstance(e, str) and e == "*":
                cols.extend(self.df[c] for c in self.df.columns)
            else:
                cols.append(self._c(e))
        cols.extend(self._c(e).alias(name) for name, e in named.items())
        return Relation(self.df.select(*cols))

    generate = foreach

    def flatten(self, *bag_cols: str, keep: Sequence[str] | None = None, outer: bool = False) -> "Relation":
        """FLATTEN(col) inside FOREACH (POForEach.java).

        bag{tuple} → inline (cross-product row with each tuple, splat
        fields); tuple → splat; map → (key,value) rows; array<scalar> →
        explode. Pig drops rows whose bag is empty (inner semantics);
        ``outer=True`` keeps them with nulls (≅ FLATTEN on possibly-empty
        bag guarded by IsEmpty). Splat fields that collide with an
        existing column are disambiguated as ``bag::field`` — Pig's
        `::` prefix scheme (LogicalSchema.java merge rules).
        """
        rel = self
        for name in bag_cols:
            df = rel.df
            dtype = df.schema[name].dataType
            others = [c for c in df.columns if c != name]
            if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.StructType):
                fields = dtype.elementType.fieldNames()
                out_names = [f"{name}::{f}" if f in others else f for f in fields]
                fn = F.inline_outer if outer else F.inline
                df = df.select(*others, fn(F.col(name)))
                if out_names != list(fields):
                    df = df.toDF(*others, *out_names)
            elif isinstance(dtype, T.ArrayType):
                fn = F.explode_outer if outer else F.explode
                df = df.select(*others, fn(F.col(name)).alias(name))
            elif isinstance(dtype, T.MapType):
                fn = F.explode_outer if outer else F.explode
                df = df.select(*others, fn(F.col(name)).alias("key", "value"))
            elif isinstance(dtype, T.StructType):
                fields = dtype.fieldNames()
                out_names = [f"{name}::{f}" if f in others else f for f in fields]
                df = df.select(*others, F.col(name + ".*"))
                if out_names != list(fields):
                    df = df.toDF(*others, *out_names)
            else:
                # Pig: FLATTEN of a non-bag/non-tuple field is a no-op
                # (LogicalPlanBuilder flatten of a scalar) — e.g.
                # FLATTEN(group) over a single-key GROUP
                pass
            rel = Relation(df)
        return rel

    def assert_by(self, cond: str | Column, msg: str = "assertion failed") -> "Relation":
        """ASSERT rel BY cond, 'msg' (QueryParser.g:481, builtin/Assert.java:30).

        Lazily raises at execution time on the first violating row.
        """
        c = self._c(cond)
        guard = F.when(c, F.lit(True)).otherwise(
            F.raise_error(F.lit(f"ASSERT failed: {msg}")).cast("boolean")
        )
        return Relation(self.df.filter(guard))

    # ------------------------------------------------------------------
    # grouping
    # ------------------------------------------------------------------
    def group_by(self, *keys: str | Column) -> "GroupedRelation":
        """GROUP rel BY keys (QueryParser.g:429, LOCogroup.java:39).

        Followed by ``.agg(...)`` (the common FOREACH-over-group shape —
        partial aggregation comes free from Catalyst, replacing Pig's
        CombinerOptimizer.java / POPartialAgg.java) or ``.bag()`` for the
        literal (group, bag) output. Null keys form their own group,
        matching Pig (PigNullableWritable.java).
        """
        return GroupedRelation(self, list(keys))

    def group_all(self) -> "GroupedRelation":
        """GROUP rel ALL — single global group (GroupByConstParallelSetter)."""
        return GroupedRelation(self, [])

    def cogroup(self, others: "Sequence[Relation]", on: Sequence[Sequence[str]], bag_names: Sequence[str] | None = None, inner: Sequence[bool] | None = None) -> "Relation":
        """COGROUP — see operators.cogroup for null-key semantics."""
        from .operators.cogroup import cogroup as _cogroup

        return Relation(_cogroup([self.df] + [o.df for o in others], on, bag_names, inner))

    def cube(self, *dims: str, agg: dict[str, Column], all_marker: str | None = None) -> "Relation":
        """CUBE rel BY CUBE(dims) (QueryParser.g:595, LOCube.java)."""
        from .operators.cube import cube as _cube

        return Relation(_cube(self.df, list(dims), agg, all_marker=all_marker, rollup=False))

    def rollup(self, *dims: str, agg: dict[str, Column], all_marker: str | None = None) -> "Relation":
        from .operators.cube import cube as _cube

        return Relation(_cube(self.df, list(dims), agg, all_marker=all_marker, rollup=True))

    # ------------------------------------------------------------------
    # joins (LOJoin.java:39-46 JOINTYPE {HASH, REPLICATED, SKEWED,
    # MERGE, MERGESPARSE}) — Catalyst+AQE picks the physical strategy;
    # `strategy` maps Pig's USING clause onto join hints.
    # ------------------------------------------------------------------
    def join(
        self,
        other: "Relation",
        on: str | Sequence[str] | Column,
        how: str = "inner",
        strategy: str | None = None,
    ) -> "Relation":
        """JOIN ... [USING 'hash'|'replicated'|'skewed'|'merge'].

        'replicated' → broadcast hint (POFRJoin.java:69);
        'merge' → merge-join hint over sorted inputs (POMergeJoin.java:68);
        'skewed' → AQE skew handling is always on (POSkewedJoin.java);
        'bloom' → pre-filter the probe side with a broadcast bloom of
        the other side's keys before the shuffle (Pig's Tez bloom join,
        builtin/BuildBloom.java) — exact semantics, fewer shuffled rows.
        Non-equi conditions (theta/range joins) pass a Column for `on`.
        """
        left = self.df
        right = other.df
        if strategy == "auto":
            # size + skew probe → 'replicated'/'skewed'/'hash'
            # (operators.skew.advise_join_strategy; one bounded sample
            # job on the larger side — plan-authoring-time cost). For a
            # Column condition (theta join) only the size check runs.
            from pig_spark.operators.skew import advise_join_strategy

            adv = advise_join_strategy(left, right, on)
            if adv["strategy"] == "replicated":
                if adv["build_side"] == "left":
                    left = F.broadcast(left)
                else:
                    right = F.broadcast(right)
            strategy = None  # skewed/hash → AQE handles at runtime
        if strategy == "bloom":
            from pig_spark.functions.bloom import bloom_filter

            if isinstance(on, Column):
                raise ValueError("bloom join needs named equi-keys")
            keys = [on] if isinstance(on, str) else list(on)
            key = (
                keys[0]
                if len(keys) == 1
                else F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
            )
            # filter only the side whose rows can't survive unmatched:
            # inner/right → probe=left; left outer → probe=right; full → none
            if how in ("inner", "right", "right_outer"):
                left = bloom_filter(left, right, key, key)
            elif how in ("left", "left_outer", "left_semi"):
                right = bloom_filter(right, left, key, key)
            return Relation(left.join(right, on=keys, how=how))
        if strategy in ("replicated", "broadcast"):
            right = F.broadcast(right)
        elif strategy in ("merge", "merge-sparse"):
            right = right.hint("merge")
        elif strategy == "shuffle_hash":
            right = right.hint("shuffle_hash")
        if isinstance(on, str):
            on = [on]
        return Relation(left.join(right, on=on, how=how))

    def semi_join(self, other: "Relation", on: str | Sequence[str] | Column) -> "Relation":
        """Pig idiom COGROUP + IsEmpty-filter (builtin/IsEmpty.java) → left_semi."""
        return self.join(other, on, how="left_semi")

    def anti_join(self, other: "Relation", on: str | Sequence[str] | Column) -> "Relation":
        return self.join(other, on, how="left_anti")

    def cross(self, other: "Relation") -> "Relation":
        """CROSS rel, rel2 (QueryParser.g:555, LOCross.java).

        Pig parallelizes via GFCross synthetic keys (GFCross.java:38);
        Spark's CartesianProduct/BroadcastNestedLoop already distributes.
        """
        return Relation(self.df.crossJoin(other.df))

    # ------------------------------------------------------------------
    # ordering / dedup / set ops / sampling
    # ------------------------------------------------------------------
    def order_by(self, *cols: str | Column, ascending: bool | Sequence[bool] = True) -> "Relation":
        """ORDER rel BY ... (QueryParser.g:530, LOSort.java:37) — total
        order via range partitioning (same sample→quantiles scheme as
        Pig's WeightedRangePartitioner.java:56)."""
        cs = self._cols(cols)
        if ascending is not True:  # plain Columns may already carry asc()/desc()
            if isinstance(ascending, bool):
                ascending = [ascending] * len(cs)
            cs = [c.asc() if a else c.desc() for c, a in zip(cs, ascending)]
        return Relation(self.df.orderBy(*cs))

    def limit(self, n: int) -> "Relation":
        """LIMIT rel n (LOLimit.java; LimitAdjuster.java ≅ CollectLimitExec)."""
        return Relation(self.df.limit(n))

    def distinct(self) -> "Relation":
        """DISTINCT rel (LODistinct.java) — whole-row dedup."""
        return Relation(self.df.distinct())

    def union(self, *others: "Relation", onschema: bool = False) -> "Relation":
        """UNION [ONSCHEMA] (QueryParser.g:592, LOUnion.java:35).

        Bag union, no dedup. ONSCHEMA merges by name with null-fill
        (UnionOnSchemaSetter.java) → unionByName(allowMissingColumns).
        """
        def _dequalify(d):
            # ONSCHEMA matches by ALIAS, treating a::name ≡ name when
            # the leaf is unambiguous within its input (Schema.merge
            # alias matching) — strip qualifiers so unionByName lines
            # the fields up the way Pig's schema merge does
            if not onschema or not any("::" in c for c in d.columns):
                return d
            leaves = [c.split("::")[-1] for c in d.columns]
            new = [
                leaf if "::" in c and leaves.count(leaf) == 1 else c
                for c, leaf in zip(d.columns, leaves)
            ]
            return d.toDF(*new)

        df = _dequalify(self.df)
        for o in others:
            if onschema:
                df = df.unionByName(_dequalify(o.df), allowMissingColumns=True)
                continue
            od = o.df
            if len(od.columns) != len(df.columns):
                # arity mismatch: Pig's UNION schema becomes null and
                # tuples keep their own arity (LOUnion mergeSchema →
                # null). A DataFrame needs one width, so the narrower
                # side pads with nulls — documented divergence: a
                # store of the padded rows writes trailing empty
                # fields where Pig writes short tuples.
                w = max(len(od.columns), len(df.columns))

                def pad(d, w=w):
                    ext = [
                        F.lit(None).alias(f"__u{j}") for j in range(w - len(d.columns))
                    ]
                    return d.select("*", *ext) if ext else d

                df, od = pad(df), pad(od)
            df = df.union(od)
        return Relation(df)

    def intersect(self, other: "Relation") -> "Relation":
        return Relation(self.df.intersect(other.df))

    def except_(self, other: "Relation") -> "Relation":
        return Relation(self.df.exceptAll(other.df))

    def sample(self, fraction: float, seed: int | None = None) -> "Relation":
        """SAMPLE rel p — sugar for FILTER BY RANDOM() < p
        (LogicalPlanBuilder.java:251-256)."""
        return Relation(self.df.sample(fraction=fraction, seed=seed))

    def split(self, *conds: str | Column, otherwise: bool = False) -> tuple["Relation", ...]:
        """SPLIT rel INTO a IF c1, b IF c2 [, z OTHERWISE]
        (QueryParser.g:493-504, LOSplit.java)."""
        from .operators.split import split as _split

        return tuple(Relation(d) for d in _split(self.df, [self._c(c) for c in conds], otherwise=otherwise))

    def rank(self, *by: str | Column, ascending: bool | Sequence[bool] = True, dense: bool = False, name: str = "rank") -> "Relation":
        """RANK rel [BY cols [DENSE]] (QueryParser.g:512, LORank.java:35)."""
        from .operators.rank import rank as _rank

        return Relation(_rank(self.df, [c if isinstance(c, Column) else self._c(c) for c in by], ascending=ascending, dense=dense, name=name))

    # ------------------------------------------------------------------
    # external transforms / scalars
    # ------------------------------------------------------------------
    def stream_through(self, cmd: str, schema: str | T.StructType | None = None, **kwargs) -> "Relation":
        """STREAM rel THROUGH 'cmd' AS schema (QueryParser.g:487,
        POStream.java:43-127). ``ship=``, ``serialize=``,
        ``deserialize=`` forward to operators.stream.stream_through
        (the PigStreamingBase custom-serde hooks)."""
        from .operators.stream import stream_through as _stream

        return Relation(_stream(self.df, cmd, schema, **kwargs))

    def with_scalar(self, name: str, other: "Relation", expr: str | Column) -> "Relation":
        """Scalar projection rel.field (ScalarVisitor.java): attach
        ``other``'s single-row value of ``expr`` as column ``name`` via
        a broadcast cross join — lazy and distributed, no driver
        collect. Pig's runtime error "scalar has more than one row"
        (ReadScalars.java:40) is enforced inside the plan: the scalar
        side aggregates to exactly one row carrying its input count and
        raises lazily when that count exceeds 1. An empty relation
        yields null, as in Pig."""
        src = other.df.select(other._c(expr).alias(name))
        dtype = src.schema[0].dataType.simpleString()
        one = src.groupBy().agg(
            F.first(name).alias(name), F.count(F.lit(1)).alias("__n")
        )
        checked = one.select(
            F.when(
                F.col("__n") <= 1, F.col(name)
            ).otherwise(
                F.raise_error(
                    F.lit("scalar has more than one row in the output (ReadScalars)")
                ).cast(dtype)
            ).alias(name)
        )
        return Relation(self.df.crossJoin(F.broadcast(checked)))

    # ------------------------------------------------------------------
    # diagnostics
    # ------------------------------------------------------------------
    def describe(self) -> str:
        """DESCRIBE rel (GruntParser.java:296) — the schema in Pig's
        Schema.toString format: ``{name: type,...}`` with Pig type
        names (chararray/long/bag/tuple/map), r8 — was Spark
        ``struct<...>`` DDL before."""
        from .render import pig_schema_str

        return pig_schema_str(self.df.schema)

    def explain(self, mode: str = "formatted") -> None:
        """EXPLAIN rel (GruntParser.java:330) — Catalyst plan."""
        self.df.explain(mode=mode)

    def illustrate(self, n: int = 5) -> list[str]:
        """ILLUSTRATE on a single relation: n exemplar rows in Pig's
        DUMP tuple syntax (GruntParser.java:802). The full per-operator
        generator — hit-and-miss rows for FILTER, unmatched rows for
        JOIN, per-alias walk of a whole script (ExampleGenerator.java)
        — is ``pig_spark.latin.illustrate.illustrate(spark, script)``."""
        from .render import render_rows

        lines = render_rows(self.df.limit(n).collect())
        for s in lines:
            print(s)
        return lines

    def persist(self, level: str = "MEMORY_AND_DISK") -> "Relation":
        from pyspark import StorageLevel

        self.df.persist(getattr(StorageLevel, level))
        return self

    def unpersist(self) -> "Relation":
        self.df.unpersist()
        return self

    def repartition(self, n: int, *cols: str | Column) -> "Relation":
        """PARALLEL n clause ≅ explicit repartition hint."""
        return Relation(self.df.repartition(n, *self._cols(cols)) if cols else self.df.repartition(n))


class GroupedRelation:
    """Result of GROUP/COGROUP BY before the consuming FOREACH.

    Two consumption modes mirroring how Pig plans it:

    - ``.agg(...)``: the FOREACH applies algebraic functions → direct
      groupBy().agg() with map-side partial aggregation (what Pig's
      CombinerOptimizer achieves).
    - ``.bag()``: materialize (group, bag{tuple}) via
      collect_list(struct(*)) — faithful Pig output shape. At 100 TB use
      only when group cardinality is bounded (SURVEY §7.4 hard part #1);
      prefer .agg or nested-op lowering (operators.nested).
    """

    def __init__(self, rel: Relation, keys: list[str | Column]):
        self.rel = rel
        self.keys = keys

    def _grouped(self):
        df = self.rel.df
        if not self.keys:
            return df.groupBy()
        return df.groupBy(*[self.rel._c(k) for k in self.keys])

    def agg(self, **named: Column) -> Relation:
        aggs = [c.alias(name) for name, c in named.items()]
        return Relation(self._grouped().agg(*aggs))

    def bag(self, bag_name: str = "bag", columns: Sequence[str] | None = None) -> Relation:
        df = self.rel.df
        key_names = {k if isinstance(k, str) else "" for k in self.keys}
        cols = columns or [c for c in df.columns if c not in key_names]
        bag = F.collect_list(F.struct(*[df[c] for c in cols])).alias(bag_name)
        return Relation(self._grouped().agg(bag))


class _JTuple:
    """Pig Tuple facade over a Row (data/Tuple.java: get(int),
    getAll(), size()) — what openIterator hands to control scripts."""

    def __init__(self, row):
        self._row = row

    def get(self, i: int):
        return self._row[i]

    def getAll(self):  # noqa: N802
        return list(self._row)

    def size(self) -> int:
        return len(self._row)

    def __repr__(self) -> str:
        return "(" + ",".join(str(v) for v in self._row) + ")"


class _RowIterator:
    """Java-style iterator over rows (hasNext/next — the shape
    reference jython control scripts drive; also a Python iterable)."""

    def __init__(self, it):
        self._it = it
        self._peeked = None
        self._done = False

    def hasNext(self) -> bool:  # noqa: N802
        if self._peeked is not None:
            return True
        try:
            self._peeked = next(self._it)
            return True
        except StopIteration:
            self._done = True
            return False

    def next(self) -> _JTuple:
        if self._peeked is not None:
            row, self._peeked = self._peeked, None
            return _JTuple(row)
        return _JTuple(next(self._it))

    def __iter__(self):
        while self.hasNext():
            yield self.next()
