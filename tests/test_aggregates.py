"""Pig's builtin aggregates through every lowering, against DuckDB.

``pig_spark/aggregates.py`` gives each builtin one rule and two
lowerings: over rows (GROUP, a nested FILTER or DISTINCT column pipe, a
LIMIT pipe's top-k survivors) and over a bag (a COGROUP bag, a bag
expression in a plain FOREACH, a nested whole-tuple DISTINCT, an array
pipe's per-row partials). Each case below runs COUNT, COUNT_STAR, SUM,
AVG, MIN, MAX, COR and COV through one lowering and compares values and
result types with a DuckDB twin that states Pig's rule: SUM over int is
long (the inputs sit near 2³¹, so an int sum wraps), AVG is double, an
untyped (string) field sums as double, COUNT skips a null first field,
an empty bag counts 0 and sums null, positional ``$n`` fields resolve.
The inputs are a few in-memory rows, written once per module.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from pig_spark.latin import run

# (id, k, v, x, y, u): v near 2³¹ with nulls, x/y paired with nulls, u
# untyped numeric text ('x' reads null as a number); k = 3 has no
# non-null v, and k is null for two rows
A = [
    (1, 1, 2_000_000_000, 1.0, 2.0, "1.5"),
    (2, 1, 2_000_000_000, 2.0, 5.0, "2"),
    (3, 1, None, 3.0, None, None),
    (4, 2, -7, 4.0, 1.0, "x"),
    (5, 2, 2_147_483_647, None, 3.0, "0.25"),
    (9, 2, 11, 6.0, 2.5, "3"),
    (6, 3, None, None, None, None),
    (7, None, 5, 1.0, 1.0, "4"),
    (8, None, 6, 2.0, 3.0, "5"),
]
# COGROUP's second input: k = 4 only here (an empty bag of a), and its
# own null key, which meets a's null group in no row
B = [(1, 1), (2, 4), (3, None)]

# output column → (Latin aggregate over bag ``{b}``, SQL over rows)
AGGS = {
    "n": ("COUNT({b}.v)", "COUNT(v)::BIGINT"),
    "nt": ("COUNT({b})", "COUNT(id)::BIGINT"),
    "ns": ("COUNT_STAR({b})", "COUNT(id)::BIGINT"),
    "s": ("SUM({b}.v)", "SUM(v)::BIGINT"),
    "sp": ("SUM({b}.$2)", "SUM(v)::BIGINT"),
    "m": ("AVG({b}.v)", "AVG(v)::DOUBLE"),
    "su": ("SUM({b}.u)", "SUM(TRY_CAST(u AS DOUBLE))"),
    "mu": ("AVG({b}.u)", "AVG(TRY_CAST(u AS DOUBLE))"),
    "lo": ("MIN({b}.v)", "MIN(v)"),
    "hi": ("MAX({b}.v)", "MAX(v)"),
    "cr": ("COR({b}.x, {b}.y)", "corr(x, y)"),
    "cv": ("COV({b}.x, {b}.y)", "covar_pop(x, y)"),
}
COUNTS = ("n", "nt", "ns")
PAIRWISE = ("cr", "cv")


def _gen(bag: str) -> str:
    return ", ".join(f"{lat.format(b=bag)} AS {c}" for c, (lat, _) in AGGS.items())


def _sql(rows: str, counts: str = "") -> str:
    """The twin aggregates over ``rows`` (a relation with a's columns);
    COUNTs over a bag emptied by an outer join read 0."""
    return ", ".join(
        f"COALESCE({sql}, 0) AS {c}" if counts and c in COUNTS else f"{sql} AS {c}"
        for c, (_, sql) in AGGS.items()
    )


def _per_group(src: str) -> str:
    """Twin of GENERATE group AS k, <AGGS> over the bag ``src`` of each
    group of a (including groups ``src`` leaves empty)."""
    return (
        f"SELECT gk.k, {_sql('t', counts='y')} FROM (SELECT DISTINCT k FROM a) gk "
        f"LEFT JOIN ({src}) t ON gk.k IS NOT DISTINCT FROM t.k GROUP BY gk.k"
    )


LOAD = "a = LOAD '{a}' USING ParquetLoader(); b = LOAD '{b}' USING ParquetLoader();\n"

CASES = {
    # over rows
    "group": (
        "g = GROUP a BY k; out = FOREACH g GENERATE group AS k, AGGS(a);",
        f"SELECT k, {_sql('a')} FROM a GROUP BY k",
    ),
    "nested_filter": (
        "g = GROUP a BY k; out = FOREACH g { f = FILTER a BY id != 6 AND id != 2; GENERATE group AS k, AGGS(f); };",
        _per_group("SELECT * FROM a WHERE id <> 6 AND id <> 2"),
    ),
    "nested_limit": (
        "g = GROUP a BY k; out = FOREACH g { o = ORDER a BY id DESC; l = LIMIT o 2; GENERATE group AS k, AGGS(l); };",
        _per_group("SELECT * FROM a QUALIFY row_number() OVER (PARTITION BY k ORDER BY id DESC) <= 2"),
    ),
    # over a bag
    "cogroup": (
        "c = COGROUP a BY k, b BY k; out = FOREACH c GENERATE group AS k, AGGS(a);",
        f"SELECT COALESCE(ag.k, bk.k) AS k, {', '.join(f'COALESCE({c}, 0) AS {c}' if c in COUNTS else c for c in AGGS)} "
        f"FROM (SELECT k, {_sql('a')} FROM a GROUP BY k) ag FULL OUTER JOIN (SELECT DISTINCT k FROM b) bk ON ag.k = bk.k",
    ),
    "foreach_bag": (
        "out = FOREACH a GENERATE id AS k, COUNT(TOBAG(v, v)) AS n, COUNT_STAR(TOBAG(v, v)) AS ns, "
        "SUM(TOBAG(v, v)) AS s, AVG(TOBAG(v, v)) AS m, SUM(TOBAG(u, u)) AS su, AVG(TOBAG(u, u)) AS mu, MIN(TOBAG(v, v)) AS lo, "
        "MAX(TOBAG(v, v)) AS hi, COR(TOBAG(x, y, x), TOBAG(y, x, x)) AS cr, COV(TOBAG(x, y, x), TOBAG(y, x, x)) AS cv;",
        "SELECT s.*, c.cr, c.cv FROM (SELECT id AS k, COUNT(e)::BIGINT AS n, COUNT(*)::BIGINT AS ns, "
        "SUM(e)::BIGINT AS s, AVG(e)::DOUBLE AS m, SUM(TRY_CAST(ue AS DOUBLE)) AS su, "
        "AVG(TRY_CAST(ue AS DOUBLE)) AS mu, MIN(e) AS lo, MAX(e) AS hi "
        "FROM (SELECT id, UNNEST([v, v]) AS e, UNNEST([u, u]) AS ue FROM a) GROUP BY id) s "
        "JOIN (SELECT id, corr(p, q) AS cr, covar_pop(p, q) AS cv "
        "FROM (SELECT id, UNNEST([x, y, x]) AS p, UNNEST([y, x, x]) AS q FROM a) GROUP BY id) c ON s.k = c.id",
    ),
    "nested_distinct": (
        "g = GROUP a BY k; out = FOREACH g { d = DISTINCT a; GENERATE group AS k, AGGS(d); };",
        _per_group("SELECT DISTINCT * FROM a"),
    ),
    "array_pipe": (
        "g = GROUP a BY k; out = FOREACH g { f = FILTER a BY id != 6 AND id != 2; "
        "w = FOREACH f GENERATE FLATTEN(TOBAG(v, v)) AS v, id, x, y, u; "
        "GENERATE group AS k, COUNT(w) AS n, COUNT_STAR(w) AS ns, SUM(w.v) AS s, SUM(w.$0) AS sp, "
        "AVG(w.v) AS m, SUM(w.u) AS su, AVG(w.u) AS mu, MIN(w.v) AS lo, MAX(w.v) AS hi, COR(w.x, w.y) AS cr, COV(w.x, w.y) AS cv; };",
        "SELECT gk.k, COALESCE(COUNT(t.v), 0)::BIGINT AS n, COUNT(t.id)::BIGINT AS ns, SUM(t.v)::BIGINT AS s, "
        "SUM(t.v)::BIGINT AS sp, AVG(t.v)::DOUBLE AS m, SUM(TRY_CAST(t.u AS DOUBLE)) AS su, "
        "AVG(TRY_CAST(t.u AS DOUBLE)) AS mu, MIN(t.v) AS lo, "
        "MAX(t.v) AS hi, corr(t.x, t.y) AS cr, covar_pop(t.x, t.y) AS cv FROM (SELECT DISTINCT k FROM a) gk "
        "LEFT JOIN (SELECT k, UNNEST([v, v]) AS v, id, x, y, u FROM a WHERE id <> 6 AND id <> 2) t "
        "ON gk.k IS NOT DISTINCT FROM t.k GROUP BY gk.k",
    ),
}

_TYPES = {"bigint": "BIGINT", "int": "INTEGER", "double": "DOUBLE", "string": "VARCHAR"}


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    d = tmp_path_factory.mktemp("aggregates")
    con = duckdb.connect()
    con.execute("CREATE TABLE a (id INTEGER, k INTEGER, v INTEGER, x DOUBLE, y DOUBLE, u VARCHAR)")
    con.executemany("INSERT INTO a VALUES (?, ?, ?, ?, ?, ?)", A)
    con.execute("CREATE TABLE b (id INTEGER, k INTEGER)")
    con.executemany("INSERT INTO b VALUES (?, ?)", B)
    paths = {t: str(d / f"{t}.parquet") for t in ("a", "b")}
    for t, p in paths.items():
        con.execute(f"COPY {t} TO '{p}' (FORMAT PARQUET)")
    yield con, paths
    con.close()


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else float(f"{v:.9g}")
    return v


@pytest.mark.parametrize("case", list(CASES))
def test_builtin_aggregates_per_lowering(spark, tables, case):
    """Values and result types of each builtin through one lowering
    equal the DuckDB twin's."""
    con, paths = tables
    script, sql = CASES[case]
    for bag in "afld":
        script = script.replace(f"AGGS({bag})", _gen(bag))
    df = run(spark, LOAD.format(**paths) + script)["out"].df
    spark_types, pick = {}, {}
    for f in df.schema.fields:
        t = f.dataType
        if f.name in PAIRWISE:
            # COR/COV return the bag {(var0, var1, stat)}: compare the stat
            t = t.elementType.fields[2].dataType
            pick[f.name] = lambda bag: None if bag is None else bag[0][2]
        spark_types[f.name] = _TYPES.get(t.simpleString(), t.simpleString())
    rel = con.sql(sql)
    assert spark_types == dict(zip(rel.columns, map(str, rel.types)))
    got = sorted(
        (tuple(_norm(pick.get(c, lambda v: v)(r[c])) for c in rel.columns) for r in df.collect()),
        key=repr,
    )
    want = sorted((tuple(_norm(v) for v in r) for r in rel.fetchall()), key=repr)
    assert got == want


def test_null_group_keys_in_flat_nested_strategy(spark, tables):
    """The flat nested strategy joins its row frame and its LIMIT pipes'
    aggregate frames on the group keys null-safely: the null group is
    one group, as GROUP makes it."""
    con, paths = tables
    rels = run(spark, LOAD.format(**paths) + """
        g = GROUP a BY k;
        mixed = FOREACH g { f = FILTER a BY id > 0; GENERATE group AS k, COUNT(a) AS n, FLATTEN(f.id) AS id; };
        limits = FOREACH g {
            o1 = ORDER a BY id; l1 = LIMIT o1 1;
            o2 = ORDER a BY id DESC; l2 = LIMIT o2 1;
            GENERATE group AS k, SUM(l1.id) AS s1, SUM(l2.id) AS s2;
        };
    """)
    twins = {
        "mixed": "SELECT a.k, c.n, a.id FROM a JOIN (SELECT k, COUNT(id)::BIGINT AS n FROM a GROUP BY k) c "
        "ON a.k IS NOT DISTINCT FROM c.k",
        "limits": "SELECT k, MIN(id)::BIGINT AS s1, MAX(id)::BIGINT AS s2 FROM a GROUP BY k",
    }
    for name, sql in twins.items():
        got = sorted((tuple(r) for r in rels[name].df.collect()), key=repr)
        assert got == sorted(con.sql(sql).fetchall(), key=repr), name


def test_pairwise_over_limit_and_plain_pipes(spark, tables):
    """COR/COV with one argument over a LIMIT pipe and one over a pipe
    without LIMIT pair the two bags by position: null when their sizes
    differ (k = 1, 2: two tuples against three), the statistic of the
    non-null pairs otherwise (k = null: x of ids 7, 8 against y of ids
    8, 7 → covar_pop((1, 3), (2, 1)) = -0.5; k = 3: no non-null pair)."""
    _, paths = tables
    df = run(spark, LOAD.format(**paths) + """
        g = GROUP a BY k;
        out = FOREACH g {
            o = ORDER a BY id; l = LIMIT o 2;
            p = ORDER a BY id DESC;
            GENERATE group AS k, COV(l.x, p.y) AS cv;
        };
    """)["out"].df
    got = {r["k"]: None if r["cv"] is None else [tuple(t) for t in r["cv"]] for r in df.collect()}
    assert got == {1: None, 2: None, 3: [("var0", "var1", None)], None: [("var0", "var1", -0.5)]}


@pytest.mark.parametrize("pred", [None, "id != 6 AND id != 2"])
def test_count_star_over_distinct_pipe(spark, tables, pred):
    """COUNT_STAR over a DISTINCT column pipe counts the distinct
    one-field tuples, the one holding null included (a tuple is never
    null), and COUNT skips it; under a nested FILTER a row the filter
    drops counts in neither (k = 3's one row, id 6, holds a null v)."""
    con, paths = tables
    pipe = f"f = FILTER a BY {pred}; x = f.v;" if pred else "x = a.v;"
    df = run(spark, LOAD.format(**paths) + f"""
        g = GROUP a BY k;
        out = FOREACH g {{ {pipe} d = DISTINCT x; GENERATE group AS k, COUNT_STAR(d) AS ns, COUNT(d) AS n; }};
    """)["out"].df
    sql = (
        "SELECT gk.k, COUNT(t.one)::BIGINT AS ns, COUNT(t.v)::BIGINT AS n "
        "FROM (SELECT DISTINCT k FROM a) gk "
        f"LEFT JOIN (SELECT DISTINCT k, v, 1 AS one FROM a{' WHERE ' + pred.replace('!=', '<>') if pred else ''}) t "
        "ON gk.k IS NOT DISTINCT FROM t.k GROUP BY gk.k"
    )
    assert dict(df.dtypes) == {"k": "int", "ns": "bigint", "n": "bigint"}
    got = sorted((tuple(r) for r in df.collect()), key=repr)
    assert got == sorted(con.sql(sql).fetchall(), key=repr)
