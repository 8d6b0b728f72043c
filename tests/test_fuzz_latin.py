"""Seeded randomized differential testing of the LATIN FRONT-END:
generate whole Pig Latin scripts (FILTER / FOREACH expr / bincond /
GROUP+aggs chains), run them through grammar→translate→Spark, and the
equivalent SQL on DuckDB; compare exact multisets.

Complements test_fuzz_differential (which fuzzes the DSL): here the
*parser and translator* are inside the loop, so an expression-
precedence or name-resolution bug anywhere in latin/ shows up as a
value diff. Aggregates are restricted to COUNT/MIN/MAX and integer
SUM so both engines are IEEE-exact.
"""

import math
import os
import random

import duckdb
import pytest

from pig_spark.latin import run

N_SCRIPTS = 24
SEED = 20260813

NUM = ["l_quantity", "l_extendedprice", "l_discount"]
STR = ["l_returnflag", "l_linestatus"]
FLAGS = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]}


def _filter_clause(rng):
    """Returns (latin_pred, sql_pred)."""
    parts = []
    for _ in range(rng.randint(1, 2)):
        roll = rng.random()
        if roll < 0.4:
            c = rng.choice(NUM)
            op = rng.choice([">", "<", ">=", "<="])
            v = round(rng.uniform(0.0, 40.0), 2) if c == "l_quantity" else round(rng.uniform(0.0, 0.09), 3)
            parts.append((f"{c} {op} {v}", f"{c} {op} {v}"))
        elif roll < 0.6:
            c = rng.choice(STR)
            v = rng.choice(FLAGS[c])
            neg = rng.random() < 0.5
            op = "!=" if neg else "=="
            sop = "<>" if neg else "="
            parts.append((f"{c} {op} '{v}'", f"{c} {sop} '{v}'"))
        elif roll < 0.8:
            c = rng.choice(STR)
            vals = rng.sample(FLAGS[c], 2)
            q = ", ".join(f"'{v}'" for v in vals)
            parts.append((f"{c} IN ({q})", f"{c} IN ({q})"))
        else:
            c = rng.choice(STR)
            v = rng.choice(FLAGS[c])
            parts.append((f"{c} MATCHES '{v}.*'", f"regexp_full_match({c}, '{v}.*')"))
    joiner = " AND " if rng.random() < 0.7 else " OR "
    latin = joiner.join(p[0] for p in parts)
    sql = joiner.join(p[1] for p in parts)
    return latin, sql


def _proj_items(rng):
    """Returns (latin_items, sql_items, out_cols) for a FOREACH."""
    items_l, items_s, cols = [], [], []
    # always carry the group-able strings through
    for c in STR:
        items_l.append(c)
        items_s.append(c)
        cols.append(c)
    # one arithmetic expr: integer cents, exact in both engines
    items_l.append("(long)(l_extendedprice * 100.0) AS cents")
    # Spark/Java (long) cast truncates; DuckDB CAST rounds — FLOOR on
    # the oracle side (prices are positive, so floor ≡ truncate)
    items_s.append("CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS cents")
    cols.append("cents")
    if rng.random() < 0.5:
        v = rng.randint(10, 40)
        items_l.append(f"(l_quantity > {v} ? 'big' : 'small') AS bucket")
        items_s.append(f"CASE WHEN l_quantity > {v} THEN 'big' ELSE 'small' END AS bucket")
        cols.append("bucket")
    return ", ".join(items_l), ", ".join(items_s), cols


def _gen(rng, sf_dir, shape=None):
    fl, fs = _filter_clause(rng)
    pl, ps, cols = _proj_items(rng)
    lines = [
        f"li = LOAD '{sf_dir}/lineitem.parquet' USING ParquetLoader();",
        f"f = FILTER li BY {fl};",
        f"p = FOREACH f GENERATE {pl};",
    ]
    sql_base = f"SELECT {ps} FROM lineitem WHERE {fs}"
    if shape is None:
        shape = rng.random()
    if shape < 0.15:
        # JOIN tail: carry the key through the projection, join orders,
        # aggregate per status (join + qualified-name resolution fuzz)
        lines[2] = f"p = FOREACH f GENERATE l_orderkey, {pl};"
        sql_p = f"SELECT l_orderkey, {ps} FROM lineitem WHERE {fs}"
        lines.append("j = JOIN p BY l_orderkey, o BY o_orderkey;")
        lines.insert(1, f"o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();")
        lines.append("g = GROUP j BY o_orderstatus;")
        lines.append("out = FOREACH g GENERATE group AS st, COUNT(j) AS n, MAX(j.cents) AS mx;")
        sql = (
            f"SELECT o_orderstatus AS st, COUNT(*) AS n, MAX(cents) AS mx "
            f"FROM ({sql_p}) p JOIN orders o ON p.l_orderkey = o.o_orderkey "
            f"GROUP BY o_orderstatus"
        )
        return "\n".join(lines), sql
    if shape < 0.32:
        # nested ORDER+LIMIT tail (topk lowering fuzz): unique tiebreak
        # makes the top-k set — and MIN/MAX/COUNT over it — exact
        k = rng.randint(1, 4)
        desc = rng.random() < 0.5
        lines[2] = f"p = FOREACH f GENERATE l_orderkey, l_linenumber, {pl};"
        sql_p = f"SELECT l_orderkey, l_linenumber, {ps} FROM lineitem WHERE {fs}"
        key = rng.choice(STR)
        d = "DESC" if desc else "ASC"
        lines.append(f"g = GROUP p BY {key};")
        roll = rng.random()
        if roll < 0.25:
            # r3: one expression COMBINING a pipe aggregate with a
            # full-bag aggregate (leaf decomposition + stitch)
            gen = "GENERATE group AS k, COUNT(l) AS n, MAX(l.cents) AS mx, MAX(l.cents) - COUNT(p) AS dx;"
            final = (
                f"SELECT k, COUNT(*) FILTER (WHERE rn <= {k}) AS n, "
                f"MAX(cents) FILTER (WHERE rn <= {k}) AS mx, "
                f"MAX(cents) FILTER (WHERE rn <= {k}) - COUNT(*) AS dx FROM r GROUP BY k"
            )
        elif roll < 0.5:
            # r3: aggregate over a scalar EXPRESSION of the survivors
            gen = "GENERATE group AS k, COUNT(l) AS n, MAX(l.cents) AS mx, SUM(l.cents * 2 + 1) AS sx;"
            final = (
                f"SELECT k, COUNT(*) AS n, MAX(cents) AS mx, SUM(cents * 2 + 1) AS sx "
                f"FROM r WHERE rn <= {k} GROUP BY k"
            )
        elif roll < 0.72:
            gen = "GENERATE group AS k, COUNT(l) AS n, MAX(l.cents) AS mx;"
            final = f"SELECT k, COUNT(*) AS n, MAX(cents) AS mx FROM r WHERE rn <= {k} GROUP BY k"
        else:
            # r4: FLATTEN of the survivors MIXED with aggregates (Pig
            # bag×scalar cross product — q110's shape): every top-k
            # row carries the group's full-bag count
            gen = "GENERATE group AS k, COUNT(p) AS n, FLATTEN(l.cents) AS c;"
            final = (
                f"SELECT r.k, a.n, r.cents AS c FROM r "
                f"JOIN (SELECT k, COUNT(*) AS n FROM r GROUP BY k) a ON r.k = a.k "
                f"WHERE r.rn <= {k}"
            )
        lines.append(
            "out = FOREACH g { s = ORDER p BY cents "
            + d
            + ", l_orderkey ASC, l_linenumber ASC; l = LIMIT s "
            + str(k)
            + "; "
            + gen
            + " };"
        )
        sql = (
            f"WITH p AS ({sql_p}), r AS ("
            f"SELECT {key} AS k, cents, row_number() OVER (PARTITION BY {key} "
            f"ORDER BY cents {d}, l_orderkey ASC, l_linenumber ASC) AS rn FROM p) "
            + final
        )
        return "\n".join(lines), sql
    if shape < 0.42:
        lines[2] = f"p = FOREACH f GENERATE l_orderkey, l_linenumber, {pl};"
        sql_p = f"SELECT l_orderkey, l_linenumber, {ps} FROM lineitem WHERE {fs}"
        if shape < 0.37:
            # r4: TWO Stitch bags in one GENERATE — Pig FLATTEN cross
            # product per group (q107's shape). Grouped by l_orderkey
            # so groups stay ≤7 rows and n² is small; SQL twin is the
            # join of two windowed CTEs on the group key.
            ncols = 2 + len(cols)
            a = [f"a{i}" for i in range(ncols)] + ["rs1"]
            b = [f"b{i}" for i in range(ncols)] + ["rn2"]
            lines.append("g = GROUP p BY l_orderkey;")
            lines.append(
                "out = FOREACH g { s = ORDER p BY cents ASC, l_linenumber ASC; "
                "t = ORDER p BY cents DESC, l_linenumber DESC; "
                "GENERATE FLATTEN(Stitch(s, Over(s.cents, 'sum(long)'))) AS (" + ", ".join(a) + "), "
                "FLATTEN(Stitch(t, Over(t.l_linenumber, 'row_number'))) AS (" + ", ".join(b) + "); };"
            )
            src = ["l_orderkey", "l_linenumber"] + list(cols)
            sel1 = ", ".join(f"{c} AS {n}" for c, n in zip(src, a))
            sel2 = ", ".join(f"{c} AS {n}" for c, n in zip(src, b))
            sql = (
                f"WITH p AS ({sql_p}), "
                f"s1 AS (SELECT {sel1}, SUM(cents) OVER (PARTITION BY l_orderkey "
                f"ORDER BY cents ASC, l_linenumber ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs1 FROM p), "
                f"s2 AS (SELECT {sel2}, CAST(row_number() OVER (PARTITION BY l_orderkey "
                f"ORDER BY cents DESC, l_linenumber DESC) AS BIGINT) AS rn2 FROM p) "
                f"SELECT {', '.join(a + b)} FROM s1 JOIN s2 ON s1.a0 = s2.b0"
            )
            return "\n".join(lines), sql
        # r3: Over/Stitch windows in a nested block (piggybank Over.java
        # lowering) — running/framed sum + row_number + lag vs the SQL
        # window twin; unique (cents, orderkey, linenumber) order makes
        # every window value exact
        key = rng.choice(STR)
        d = "DESC" if rng.random() < 0.5 else "ASC"
        frame_l, frame_sql = rng.choice(
            [
                ("", "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"),
                (", -1, -1", "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"),
                (", 1, 1", "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"),
                (", 0, -1", "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"),
            ]
        )
        lines.append(f"g = GROUP p BY {key};")
        lines.append(
            "out = FOREACH g { s = ORDER p BY cents " + d
            + ", l_orderkey ASC, l_linenumber ASC; GENERATE FLATTEN(Stitch(s, "
            + f"Over(s.cents, 'sum(long)'{frame_l}), Over(s.l_orderkey, 'row_number'), Over(s.cents, 'lag'))); }};"
        )
        w = f"PARTITION BY {key} ORDER BY cents {d}, l_orderkey ASC, l_linenumber ASC"
        sql = (
            f"WITH p AS ({sql_p}) SELECT p.*, "
            f"SUM(cents) OVER ({w} {frame_sql}) AS result_0, "
            f"row_number() OVER ({w}) AS result_1, "
            f"lag(cents) OVER ({w}) AS result_2 "
            f"FROM p"
        )
        return "\n".join(lines), sql
    if shape < 0.47:
        # r3: COGROUP + bag aggregates (array-function lowering):
        # union of keys from both inputs, 0-count for empty bags,
        # NULL max over an empty bag — vs SQL FULL OUTER of group-bys
        lines[2] = f"p = FOREACH f GENERATE l_orderkey, {pl};"
        sql_p = f"SELECT l_orderkey, {ps} FROM lineitem WHERE {fs}"
        lines.insert(1, f"o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();")
        lines.append("cg = COGROUP p BY l_orderkey, o BY o_orderkey;")
        lines.append(
            "out = FOREACH cg GENERATE group AS k, COUNT(p) AS np, COUNT(o) AS no, MAX(o.o_totalprice) AS mx;"
        )
        sql = (
            f"WITH p AS ({sql_p}), "
            f"a AS (SELECT l_orderkey AS k, COUNT(*) AS np FROM p GROUP BY 1), "
            f"b AS (SELECT o_orderkey AS k, COUNT(*) AS no, MAX(o_totalprice) AS mx FROM orders GROUP BY 1) "
            f"SELECT COALESCE(a.k, b.k) AS k, COALESCE(np, 0) AS np, COALESCE(no, 0) AS no, mx "
            f"FROM a FULL OUTER JOIN b ON a.k = b.k"
        )
        return "\n".join(lines), sql
    if shape < 0.64:
        keys = rng.sample([c for c in cols if c != "cents"], rng.randint(1, 2))
        aggs_l, aggs_s = ["COUNT(p) AS n"], ["COUNT(*) AS n"]
        if rng.random() < 0.7:
            aggs_l.append("MAX(p.cents) AS mx")
            aggs_s.append("MAX(cents) AS mx")
        if rng.random() < 0.5:
            aggs_l.append("SUM(p.cents) AS s")
            aggs_s.append("SUM(cents) AS s")
        if len(keys) == 1:
            lines.append(f"g = GROUP p BY {keys[0]};")
            lines.append(f"out = FOREACH g GENERATE group AS {keys[0]}, {', '.join(aggs_l)};")
        else:
            lines.append(f"g = GROUP p BY ({', '.join(keys)});")
            gen_keys = ", ".join(f"gk.${i} AS {k}" for i, k in enumerate(keys))
            lines.append(f"h = FOREACH g GENERATE group AS gk, {', '.join(aggs_l)};")
            lines.append(f"out = FOREACH h GENERATE {gen_keys}, {', '.join(aggs_l and [a.split(' AS ')[1] for a in aggs_l])};")
        key_sql = ", ".join(keys)
        sql = f"SELECT {key_sql}, {', '.join(aggs_s)} FROM ({sql_base}) GROUP BY {key_sql}"
    elif shape < 0.72:
        # r3: scripting UDFs (REGISTER ... USING jython AS ns) applied
        # to the projection — typed @outputSchema returns vs SQL twins
        k = rng.randint(1, 99)
        c = rng.randint(100, 5000)
        lines.insert(0, f"REGISTER '{_udf_file()}' USING jython AS fz;")
        lines.append(
            f"out = FOREACH p GENERATE l_returnflag, fz.addk(cents, {k}) AS ck, "
            f"fz.tag(cents, {c}) AS tg;"
        )
        sql = (
            f"SELECT l_returnflag, cents + {k} AS ck, "
            f"CASE WHEN cents > {c} THEN 'hi' ELSE 'lo' END AS tg FROM ({sql_base})"
        )
    elif shape < 0.80:
        lines.append("out = DISTINCT p;")
        sql = f"SELECT DISTINCT * FROM ({sql_base})"
    elif shape < 0.88:
        # r6: pipe ops chained onto a FLATTENed inner-FOREACH pipe
        # (q120's corner): per-element FILTER, group-bag DISTINCT,
        # ORDER+LIMIT slice, with aggregate + FLATTEN consumers
        k = rng.randint(1, 3)
        ban = rng.choice(FLAGS["l_returnflag"])
        lines[2] = f"p = FOREACH f GENERATE l_orderkey, {pl};"
        sql_p = f"SELECT l_orderkey, {ps} FROM lineitem WHERE {fs}"
        lines.append("g = GROUP p BY l_orderkey;")
        lines.append(
            "out = FOREACH g { "
            "w = FOREACH p GENERATE FLATTEN(TOBAG(l_returnflag, l_linestatus)) AS v; "
            f"fw = FILTER w BY v != '{ban}'; "
            "d = DISTINCT fw; "
            "o2 = ORDER d BY v DESC; "
            f"l = LIMIT o2 {k}; "
            "GENERATE group AS kk, COUNT(fw) AS nf, COUNT(d) AS nd, FLATTEN(l.v) AS tv; };"
        )
        sql = (
            f"WITH p AS ({sql_p}), "
            "w AS (SELECT l_orderkey AS kk, u.v FROM "
            "(SELECT l_orderkey, [l_returnflag, l_linestatus] AS arr FROM p) t, "
            "unnest(t.arr) AS u(v)), "
            f"fw AS (SELECT kk, v FROM w WHERE v <> '{ban}'), "
            "agg AS (SELECT kk, CAST(COUNT(*) AS BIGINT) AS nf, "
            "CAST(COUNT(DISTINCT v) AS BIGINT) AS nd FROM fw GROUP BY kk), "
            "r AS (SELECT kk, v, row_number() OVER (PARTITION BY kk ORDER BY v DESC) AS rn "
            "FROM (SELECT DISTINCT kk, v FROM fw) d) "
            f"SELECT agg.kk, nf, nd, r.v AS tv FROM agg JOIN r ON agg.kk = r.kk "
            f"WHERE r.rn <= {k}"
        )
    elif shape < 0.96:
        # r6: ONE aggregate call spanning two LIMIT pipes (q119's
        # corner) — COV, not COR: its (n·Σxy−ΣxΣy)/n² is finite for
        # every bag (COR's variance denominator can hit 0/0 on
        # constant slices), and over small-int l_quantity both engines
        # are exact to well past 6 decimals
        k = rng.randint(2, 4)
        key = rng.choice(STR)
        lines[2] = f"p = FOREACH f GENERATE l_orderkey, l_linenumber, l_quantity, {pl};"
        sql_p = f"SELECT l_orderkey, l_linenumber, l_quantity, {ps} FROM lineitem WHERE {fs}"
        lines.append(f"g = GROUP p BY {key};")
        lines.append(
            "c0 = FOREACH g { "
            "s1 = ORDER p BY cents ASC, l_orderkey ASC, l_linenumber ASC; "
            f"l1 = LIMIT s1 {k}; "
            "s2 = ORDER p BY cents DESC, l_orderkey DESC, l_linenumber DESC; "
            f"l2 = LIMIT s2 {k}; "
            "GENERATE group AS kk, COV(l1.l_quantity, l2.l_quantity) AS cb, COUNT(l1) AS n; };"
        )
        lines.append("c1 = FOREACH c0 GENERATE kk, n, FLATTEN(cb) AS (vx, vy, cv);")
        lines.append("out = FOREACH c1 GENERATE kk, n, vx, vy, ROUND_TO(cv, 6) AS cv;")
        sql = (
            f"WITH p AS ({sql_p}), "
            f"a AS (SELECT {key} AS kk, l_quantity AS x, row_number() OVER "
            f"(PARTITION BY {key} ORDER BY cents ASC, l_orderkey ASC, l_linenumber ASC) AS rn FROM p), "
            f"b AS (SELECT {key} AS kk, l_quantity AS y, row_number() OVER "
            f"(PARTITION BY {key} ORDER BY cents DESC, l_orderkey DESC, l_linenumber DESC) AS rn FROM p), "
            f"j AS (SELECT a.kk, a.x, b.y FROM a JOIN b ON a.kk = b.kk AND a.rn = b.rn "
            f"WHERE a.rn <= {k}) "
            f"SELECT kk, CAST(COUNT(*) AS BIGINT) AS n, 'var0' AS vx, 'var1' AS vy, "
            f"round(covar_pop(x, y), 6) AS cv FROM j GROUP BY kk"
        )
    else:
        lines.append("out = FOREACH p GENERATE *;")
        sql = f"SELECT * FROM ({sql_base})"
    return "\n".join(lines), sql


_UDF_FILE = None


def _udf_file() -> str:
    """One shared scripting-UDF file per test module (removed by
    ``_remove_udf_file``)."""
    global _UDF_FILE
    if _UDF_FILE is None:
        import tempfile

        fd, path = tempfile.mkstemp(suffix=".py", prefix="fuzz_udfs_")
        with open(fd, "w") as fh:
            fh.write(
                '@outputSchema("ck:long")\n'
                "def addk(x, k):\n"
                "    return None if x is None else x + k\n\n"
                '@outputSchema("tg:chararray")\n'
                "def tag(x, c):\n"
                "    return 'hi' if (x or 0) > c else 'lo'\n"
            )
        _UDF_FILE = path
    return _UDF_FILE


@pytest.fixture(scope="module", autouse=True)
def _remove_udf_file():
    yield
    global _UDF_FILE
    if _UDF_FILE is not None:
        os.remove(_UDF_FILE)
        _UDF_FILE = None


def _norm(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, tuple):  # a struct: Spark Row, DuckDB row
        return str(tuple(_norm(x) for x in v))
    return str(v)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("ansi_start", [False, True], ids=["pig-session", "ansi-on-session"])
def test_latin_fuzz_differential(spark, sf_dir, duck, ansi_start):
    """ansi_start=True is driver parity (VERDICT r2 #7): the session
    begins with spark.sql.ansi.enabled=true — as a vanilla Spark 4
    session does — before EVERY script, and the engine must still
    produce Pig semantics because sources.load re-asserts them at each
    LOAD (ensure_pig_session_semantics). A regression that makes
    results conf-dependent fails this battery, not a driver round."""
    rng = random.Random(SEED)
    failures = []
    prior = spark.conf.get("spark.sql.ansi.enabled")
    try:
        _fuzz_loop(spark, sf_dir, duck, rng, failures, ansi_start)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert not failures, "\n\n".join(failures)


def _fuzz_loop(spark, sf_dir, duck, rng, failures, ansi_start):
    for i in range(N_SCRIPTS):
        spark.conf.set("spark.sql.ansi.enabled", str(ansi_start).lower())
        # stratified shape draw: case i lands in slice [i/N, (i+1)/N),
        # so EVERY generator branch fires every run — a pure-random
        # draw can miss a 4%-wide slice for dozens of seeds
        shape = (i + rng.random()) / N_SCRIPTS
        script, sql = _gen(rng, sf_dir, shape=shape)
        try:
            got_rows = run(spark, script)["out"].df
            cols = got_rows.columns
            got = sorted(tuple(_norm(v) for v in r) for r in got_rows.collect())
            duck_rel = duck.execute(sql)
            dcols = [d[0] for d in duck_rel.description]
            # align DuckDB column order to Spark's output order
            order = [dcols.index(c) for c in cols]
            want = sorted(tuple(_norm(r[j]) for j in order) for r in duck_rel.fetchall())
        except Exception as ex:  # pragma: no cover - diagnostic path
            failures.append(f"case {i} raised {type(ex).__name__}: {ex}\n{script}\n{sql}")
            continue
        if got != want:
            failures.append(
                f"case {i} diff: spark {len(got)} rows vs duckdb {len(want)}\n{script}\n{sql}"
                f"\nfirst spark: {got[:2]}\nfirst duck: {want[:2]}"
            )


# ----------------------------------------------------------------------
# nested FOREACH: GROUP, then a chain of FILTER / ORDER / LIMIT /
# DISTINCT over the inner bag (ops after a LIMIT included), consumed by
# aggregates, the bag itself or FLATTEN — vs the SQL window twin
# ----------------------------------------------------------------------

N_NESTED = 24
NESTED_SEED = 20261017

# (latin, sql) predicates over the nullable columns: a null operand
# drops the tuple in both engines
_NESTED_PREDS = [
    ("a > {v}", "a > {v}"),
    ("a IS NULL", "a IS NULL"),
    ("b == '{s}'", "b = '{s}'"),
    ("a IN (1, 3, 5, 7)", "a IN (1, 3, 5, 7)"),
    ("b IS NOT NULL AND a < {v}", "b IS NOT NULL AND a < {v}"),
    ("NOT (a == {v})", "NOT (a = {v})"),
]


def _nested_rows(rng):
    """(k, id, a, b): a and b nullable; some tuples repeat exactly, so
    DISTINCT has work while an ORDER ending in ``id`` still orders
    distinct tuples totally (LIMIT survivors are a fixed multiset).
    Group 5 is all-null, so most FILTERs empty its bag."""
    rows = []
    for i in range(48):
        k = rng.randint(1, 4)
        a = None if rng.random() < 0.2 else rng.randint(0, 9)
        b = None if rng.random() < 0.2 else rng.choice("xyz")
        rows.append((k, i, a, b))
        if rng.random() < 0.25:
            rows.append((k, i, a, b))
    rows.append((5, 48, None, None))
    return rows


def _nested_order(rng):
    """A random ORDER key list ending in the unique ``id``: (latin, sql)
    with Pig's null ordering (null smallest)."""
    keys = rng.sample(["a", "b"], rng.randint(0, 2)) + ["id"]
    lat, sql = [], []
    for c in keys:
        asc = rng.random() < 0.5
        lat.append(f"{c} {'ASC' if asc else 'DESC'}")
        sql.append(f"{c} {'ASC NULLS FIRST' if asc else 'DESC NULLS LAST'}")
    return ", ".join(lat), ", ".join(sql)


def _nested_chain(rng, i, cols, part, keys):
    """A random FILTER / ORDER / LIMIT / DISTINCT chain over ``r`` and
    its SQL twin as CTEs over the ``cols`` tuple (``part`` is the
    window's PARTITION BY clause, ``keys`` the group key columns).
    Returns (statements, ctes, last pipe, SQL order of its bag or
    None). Even cases lead with ORDER + LIMIT, so the random ops after
    it replay on the sliced bag."""
    kinds = ["FILTER", "ORDER", "LIMIT", "DISTINCT"]
    plan = [rng.choices(kinds, weights=[4, 3, 3, 1])[0] for _ in range(rng.randint(1, 3))]
    if i % 2 == 0:
        plan = ["FILTER"] * rng.randint(0, 1) + ["ORDER", "LIMIT"] + plan
    else:
        plan = [rng.choice(["FILTER", "ORDER", "DISTINCT"])] + plan
    stmts, ctes = [], [f"s0 AS (SELECT {cols} FROM r)"]
    src, order = "r", None
    for step, kind in enumerate(plan, 1):
        if kind == "LIMIT" and order is None:
            kind = "ORDER"  # LIMIT survivors need a total order
        if kind == "LIMIT":
            n = rng.randint(1, 4)
            stmts.append(f"s{step} = LIMIT {src} {n};")
            ctes.append(
                f"s{step} AS (SELECT {cols} FROM s{step - 1} QUALIFY "
                f"row_number() OVER ({part}ORDER BY {order}) <= {n})"
            )
        elif kind == "ORDER":
            lat, sql = _nested_order(rng)
            stmts.append(f"s{step} = ORDER {src} BY {lat};")
            ctes.append(f"s{step} AS (SELECT * FROM s{step - 1})")
            order = sql
        elif kind == "FILTER":
            lp, sp = rng.choice(_NESTED_PREDS)
            v, s = rng.randint(1, 8), rng.choice("xyz")
            stmts.append(f"s{step} = FILTER {src} BY {lp.format(v=v, s=s)};")
            ctes.append(f"s{step} AS (SELECT * FROM s{step - 1} WHERE {sp.format(v=v, s=s)})")
        else:
            # the distinct bag iterates in full-tuple order (Pig's
            # DistinctDataBag); the group keys are constant within it
            stmts.append(f"s{step} = DISTINCT {src};")
            ctes.append(f"s{step} AS (SELECT DISTINCT * FROM s{step - 1})")
            order = ", ".join(f"{c} ASC NULLS FIRST" for c in cols.split(", ") if c not in keys)
        src = f"s{step}"
    return stmts, ctes, src, order


def _gen_nested(rng, path, i):
    """One nested-FOREACH script and its SQL twin. Returns (script,
    sql, ordered): ``ordered`` is true when a GENERATEd bag has a
    defined order (its SQL twin carries the position). The consumer
    cycles through aggregates, the bag and FLATTEN."""
    stmts, ctes, last, order = _nested_chain(rng, i, "k, id, a, b", "PARTITION BY k ", ("k",))
    groups = "gk AS (SELECT DISTINCT k FROM r)"
    consumer = i % 3
    if consumer == 0:
        gen = f"COUNT({last}) AS n, SUM({last}.a) AS sa, MIN({last}.b) AS mb, MAX({last}.a) AS xa"
        tail = (
            f"SELECT gk.k AS kk, COUNT(t.k) AS n, SUM(t.a) AS sa, MIN(t.b) AS mb, "
            f"MAX(t.a) AS xa FROM gk LEFT JOIN {last} t ON gk.k = t.k GROUP BY gk.k"
        )
        ordered = False
    elif consumer == 1:
        gen = f"{last} AS bag"
        pos = f"row_number() OVER (PARTITION BY gk.k ORDER BY {order})" if order else "0"
        tail = (
            f"SELECT gk.k AS kk, t.k, t.id, t.a, t.b, {pos} AS pos "
            f"FROM gk LEFT JOIN {last} t ON gk.k = t.k"
        )
        ordered = order is not None
    else:
        gen = f"FLATTEN({last})"
        tail = f"SELECT k AS kk, k, id, a, b FROM {last}"
        ordered = False
    script = (
        f"r = LOAD '{path}' USING ParquetLoader();\n"
        "g = GROUP r BY k;\n"
        "out = FOREACH g {\n    " + "\n    ".join(stmts) + f"\n    GENERATE group AS kk, {gen};\n}};"
    )
    sql = "WITH " + ", ".join([groups, *ctes]) + " " + tail
    return script, sql, ordered


# two-key and GROUP ALL groupings of the (k, k2, id, a, b) table, and
# the GENERATE heads over them: (latin, SQL twin over the gk groups)
N_NESTED_GROUPS = 15
_NESTED_HEADS = {
    ("k", "k2"): [
        ("group", '(gk.k, gk.k2) AS "group"'),
        ("FLATTEN(group) AS (p, q:long)", "gk.k AS p, CAST(gk.k2 AS BIGINT) AS q"),
        ("group.$0 AS g0", "gk.k AS g0"),
    ],
    (): [
        ("group", "'all' AS \"group\""),
        ("FLATTEN(group) AS (p)", "'all' AS p"),
    ],
}


def _gen_nested_group(rng, path, i):
    """One nested-FOREACH case over GROUP r BY (k, k2) or GROUP r ALL,
    its head one of ``group``, ``FLATTEN(group) AS (...)`` and
    ``group.$0``, its consumer aggregates, the bag, FLATTEN, an
    aggregate beside a FLATTEN, or ORDER + Stitch(s, Over(s.a,
    'sum(long)')) twinned with a SQL window. Returns (script, sql,
    ordered, number of head columns)."""
    keys = [("k", "k2"), ()][i % 2]
    head, head_sql = rng.choice(_NESTED_HEADS[keys])
    cols = "k, k2, id, a, b"
    on = " AND ".join(f"gk.{c} = t.{c}" for c in keys) or "TRUE"
    tup = "t.k, t.k2, t.id, t.a, t.b"
    consumer = ["agg", "bag", "flatten", "mixed", "over"][i % 5]
    if consumer == "over":
        stmts, ctes, last = [], [f"s0 AS (SELECT {cols} FROM r)"], "r"
        if rng.random() < 0.5:
            lp, sp = rng.choice(_NESTED_PREDS)
            v, s = rng.randint(1, 8), rng.choice("xyz")
            stmts.append(f"s1 = FILTER r BY {lp.format(v=v, s=s)};")
            ctes.append(f"s1 AS (SELECT * FROM s0 WHERE {sp.format(v=v, s=s)})")
            last = "s1"
        lat, order = _nested_order(rng)
        stmts.append(f"s9 = ORDER {last} BY {lat};")
        ctes.append(f"s9 AS (SELECT * FROM {'s0' if last == 'r' else last})")
        last = "s9"
    else:
        part = f"PARTITION BY {', '.join(keys)} " if keys else ""
        stmts, ctes, last, order = _nested_chain(rng, i, cols, part, keys)
    ordered = False
    if consumer == "agg":
        gen = f"COUNT({last}) AS n, SUM({last}.a) AS sa, MIN({last}.b) AS mb, MAX({last}.a) AS xa"
        group_by = f" GROUP BY {', '.join('gk.' + c for c in keys)}" if keys else ""
        tail = (
            f"SELECT {head_sql}, COUNT(t.k) AS n, SUM(t.a) AS sa, MIN(t.b) AS mb, MAX(t.a) AS xa "
            f"FROM gk LEFT JOIN {last} t ON {on}{group_by}"
        )
    elif consumer == "bag":
        gen = f"{last} AS bag"
        gpart = f"PARTITION BY {', '.join('gk.' + c for c in keys)} " if keys else ""
        pos = f"row_number() OVER ({gpart}ORDER BY {order})" if order else "0"
        tail = f"SELECT {head_sql}, {tup}, {pos} AS pos FROM gk LEFT JOIN {last} t ON {on}"
        ordered = order is not None
    elif consumer == "flatten":
        gen = f"FLATTEN({last})"
        tail = f"SELECT {head_sql}, {tup} FROM gk JOIN {last} t ON {on}"
    elif consumer == "mixed":
        gen = f"COUNT({last}) AS n, FLATTEN({last})"
        counts = (
            f"JOIN (SELECT {', '.join(keys)}, COUNT(*) AS n FROM {last} GROUP BY {', '.join(keys)}) c "
            f"ON {' AND '.join(f'c.{k} = t.{k}' for k in keys)}"
            if keys else f"CROSS JOIN (SELECT COUNT(*) AS n FROM {last}) c"
        )
        tail = f"SELECT {head_sql}, c.n, {tup} FROM gk JOIN {last} t ON {on} {counts}"
    else:
        gen = f"FLATTEN(Stitch({last}, Over({last}.a, 'sum(long)')))"
        opart = f"PARTITION BY {', '.join('t.' + c for c in keys)} " if keys else ""
        tail = (
            f"SELECT {head_sql}, {tup}, SUM(t.a) OVER ({opart}ORDER BY {order} ROWS BETWEEN "
            f"UNBOUNDED PRECEDING AND CURRENT ROW) AS result FROM gk JOIN {last} t ON {on}"
        )
    grp = f"GROUP r BY ({', '.join(keys)})" if keys else "GROUP r ALL"
    script = (
        f"r = LOAD '{path}' USING ParquetLoader();\n"
        f"g = {grp};\n"
        "out = FOREACH g {\n    " + "\n    ".join(stmts) + f"\n    GENERATE {head}, {gen};\n}};"
    )
    groups = f"gk AS (SELECT DISTINCT {', '.join(keys)} FROM r)" if keys else "gk AS (SELECT 1 AS one)"
    sql = "WITH " + ", ".join(["r AS (SELECT * FROM r2)", groups, *ctes]) + " " + tail
    return script, sql, ordered, 2 if head.endswith("(p, q:long)") else 1


def _nested_bag_rows(got, want_rows, ordered, nh=1):
    """Bag consumer: Spark's (head, bag) rows vs the SQL twin's one row
    per element — the ``nh`` head columns, the tuple, its position (an
    element-less LEFT JOIN row for an empty bag) — sequences when the
    bag is ordered, sorted multisets otherwise."""
    import collections

    want = collections.defaultdict(list)
    for r in want_rows:
        if r[nh] is None:
            want[tuple(r[:nh])]
        else:
            want[tuple(r[:nh])].append((r[-1], tuple(_norm(v) for v in r[nh:-1])))
    want = {
        kk: [t for _, t in sorted(els)] if ordered else sorted(t for _, t in els)
        for kk, els in want.items()
    }
    have = {}
    for kk, bag in got:
        tuples = [tuple(_norm(v) for v in t) for t in bag]
        have[kk] = tuples if ordered else sorted(tuples)
    return have, want


def _nested_case_diff(spark, con, script, sql, ordered, nh=1):
    """Run one nested case on Spark and its twin on DuckDB: None when
    their column names and rows agree, else the difference."""
    try:
        df = run(spark, script)["out"].df
        cols = df.columns
        got_rows = df.collect()
        duck_rel = con.execute(sql)
        dcols = [d[0] for d in duck_rel.description]
        want_rows = duck_rel.fetchall()
        if "bag" in cols:
            got, want = _nested_bag_rows(
                [(tuple(r[:nh]), r["bag"]) for r in got_rows], want_rows, ordered, nh
            )
            got, want = (cols[:nh], got), (dcols[:nh], want)
        else:
            got = (cols, sorted(tuple(_norm(v) for v in r) for r in got_rows))
            want = (dcols, sorted(tuple(_norm(v) for v in r) for r in want_rows))
    except Exception as ex:  # pragma: no cover - diagnostic path
        return f"raised {type(ex).__name__}: {ex}\n{script}\n{sql}"
    if got != want:
        return f"diff\n{script}\n{sql}\nspark: {got}\nduck:  {want}"
    return None


def test_latin_nested_fuzz_differential(spark, tmp_path):
    """Nested FOREACH scripts over nullable columns: each statement
    chain runs through the nested lowerings (flat aggregates, top-k
    window, collected bags with ops replayed after the LIMIT) and must
    equal the SQL twin built from FILTER clauses and row_number
    windows. Then the same chains under GROUP BY (k, k2) and GROUP
    ALL, with ``group`` heads, mixed consumers and Over windows."""
    rng = random.Random(NESTED_SEED)
    path = str(tmp_path / "nested.parquet")
    path2 = str(tmp_path / "nested2.parquet")
    con = duckdb.connect()
    rows = _nested_rows(rng)
    con.execute("CREATE TABLE r (k INTEGER, id INTEGER, a INTEGER, b VARCHAR)")
    con.executemany("INSERT INTO r VALUES (?, ?, ?, ?)", rows)
    con.execute(f"COPY r TO '{path}' (FORMAT PARQUET)")
    con.execute("CREATE TABLE r2 AS SELECT k, id % 2 AS k2, id, a, b FROM r")
    con.execute(f"COPY r2 TO '{path2}' (FORMAT PARQUET)")
    failures = []
    for i in range(N_NESTED):
        diff = _nested_case_diff(spark, con, *_gen_nested(rng, path, i))
        if diff:
            failures.append(f"case {i} {diff}")
    for i in range(N_NESTED_GROUPS):
        diff = _nested_case_diff(spark, con, *_gen_nested_group(rng, path2, i))
        if diff:
            failures.append(f"group case {i} {diff}")
    con.close()
    assert not failures, "\n\n".join(failures)


# ----------------------------------------------------------------------
# COGROUP of two inputs with null keys on both sides, every builtin
# aggregate over the COGROUP bags (the bag lowering of
# pig_spark/aggregates.py), fields by name or position — vs per-input
# SQL GROUP BYs joined FULL OUTER on plain equality (a null key groups
# within its input and matches no other input's, operators/cogroup.py)
# ----------------------------------------------------------------------

N_COGROUP = 12
COGROUP_SEED = 20261019

# per input: its columns (name, SQL type) — the key first, so COUNT of
# the bag skips the null-key tuples (COUNT.java:40)
_CG_COLS = {
    "a": [("k", "INTEGER"), ("id", "INTEGER"), ("v", "INTEGER"), ("s", "INTEGER"), ("x", "DOUBLE")],
    "b": [("k", "INTEGER"), ("w", "INTEGER"), ("t", "INTEGER"), ("z", "DOUBLE")],
}
# COR/COV read the small columns: exact sums, so both engines agree
_CG_PAIR = {"a": ("s", "x"), "b": ("t", "z")}
_CG_BUILTINS = ["COUNT", "COUNT_STAR", "COUNT.f", "SUM", "AVG", "MIN", "MAX", "COR", "COV"]


def _cogroup_rows(rng, name):
    """A few rows per input: keys 1..4 or null on both sides, ints near
    2³¹ (an int SUM overflows), nullable small ints and small-integer
    doubles."""
    rows = []
    for i in range(rng.randint(6, 12)):
        k = rng.choice([None, 1, 2, 3, 4])
        big = None if rng.random() < 0.2 else rng.choice([2_000_000_000, 2_147_483_647, -7, 3])
        small = None if rng.random() < 0.2 else rng.randint(-3, 3)
        dbl = None if rng.random() < 0.2 else float(rng.randint(-4, 6))
        rows.append((k, i, big, small, dbl) if name == "a" else (k, big, small, dbl))
    return rows


def _cogroup_agg(rng, side, alias, pos):
    """One builtin over the bag of input ``side`` (COGROUPed as
    ``alias``): (latin, sql, pairwise). ``pos`` names the bag ($1/$2)
    and most fields ($n) by position."""
    cols = [c for c, _ in _CG_COLS[side]]
    bag = f"${1 + 'ab'.index(side)}" if pos else alias

    def field(c):
        return f"{bag}.${cols.index(c)}" if pos and rng.random() < 0.7 else f"{bag}.{c}"

    num = [c for c in cols if c not in ("k", "id")]
    fn = rng.choice(_CG_BUILTINS)
    if fn == "COUNT":
        return f"COUNT({bag})", "COUNT(k)::BIGINT", False
    if fn == "COUNT_STAR":
        return f"COUNT_STAR({bag})", "COUNT(*)::BIGINT", False
    if fn == "COUNT.f":
        c = rng.choice(num)
        return f"COUNT({field(c)})", f"COUNT({c})::BIGINT", False
    if fn in ("COR", "COV"):
        c1, c2 = _CG_PAIR[side]
        sql = "corr" if fn == "COR" else "covar_pop"
        return f"{fn}({field(c1)}, {field(c2)})", f"{sql}({c1}, {c2})", True
    c = rng.choice(num)
    typ = dict(_CG_COLS[side])[c]
    sql = {
        "SUM": f"SUM({c})::{'BIGINT' if typ == 'INTEGER' else 'DOUBLE'}",
        "AVG": f"AVG({c})::DOUBLE",
        "MIN": f"MIN({c})",
        "MAX": f"MAX({c})",
    }[fn]
    return f"{fn}({field(c)})", sql, False


def _gen_cogroup(rng, paths):
    """One COGROUP script (an optional FILTER on the first input) and
    its SQL twin; returns (script, sql, pairwise output columns)."""
    pos = rng.random() < 0.4
    pred = rng.choice([None, ("x > 0", "x > 0"), ("v IS NOT NULL", "v IS NOT NULL"), ("k != 2", "k <> 2")])
    items, parts, pairwise = [], {"a": [], "b": []}, set()
    for j in range(rng.randint(3, 6)):
        side = rng.choice("ab")
        lat, sql, pw = _cogroup_agg(rng, side, "fa" if pred and side == "a" else side, pos)
        items.append(f"{lat} AS c{j}")
        parts[side].append((f"c{j}", sql, "COUNT" in sql))
        if pw:
            pairwise.add(f"c{j}")
    first = "fa" if pred else "a"
    script = (
        f"a = LOAD '{paths['a']}' USING ParquetLoader();\n"
        f"b = LOAD '{paths['b']}' USING ParquetLoader();\n"
        + (f"fa = FILTER a BY {pred[0]};\n" if pred else "")
        + f"c = COGROUP {first} BY k, b BY k;\n"
        + f"out = FOREACH c GENERATE group AS kk, {', '.join(items)};"
    )
    src = {"a": f"(SELECT * FROM a WHERE {pred[1]})" if pred else "a", "b": "b"}
    ctes = [
        f"g{s} AS (SELECT k{''.join(f', {sql} AS {n}' for n, sql, _ in parts[s])} FROM {src[s]} GROUP BY k)"
        for s in "ab"
    ]
    outs = [
        f"COALESCE({n}, 0) AS {n}" if cnt else n
        for j in range(len(items))
        for s in "ab"
        for n, _, cnt in parts[s]
        if n == f"c{j}"
    ]
    sql = (
        "WITH " + ", ".join(ctes)
        + f" SELECT COALESCE(ga.k, gb.k) AS kk, {', '.join(outs)} FROM ga FULL OUTER JOIN gb ON ga.k = gb.k"
    )
    return script, sql, pairwise


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def test_latin_cogroup_fuzz_differential(spark, tmp_path):
    """Two-input COGROUP with null keys on both sides, each builtin over
    the COGROUP bags by name or position, against DuckDB: values
    (floats to 1e-9) and result types."""
    rng = random.Random(COGROUP_SEED)
    con = duckdb.connect()
    paths = {}
    for name, cols in _CG_COLS.items():
        con.execute(f"CREATE TABLE {name} ({', '.join(f'{c} {t}' for c, t in cols)})")
        con.executemany(f"INSERT INTO {name} VALUES ({', '.join('?' * len(cols))})", _cogroup_rows(rng, name))
        paths[name] = str(tmp_path / f"{name}.parquet")
        con.execute(f"COPY {name} TO '{paths[name]}' (FORMAT PARQUET)")
    types = {"bigint": "BIGINT", "int": "INTEGER", "double": "DOUBLE"}
    failures = []
    for i in range(N_COGROUP):
        script, sql, pairwise = _gen_cogroup(rng, paths)
        try:
            df = run(spark, script)["out"].df
            rel = con.sql(sql)
            got_types = {}
            for f in df.schema.fields:
                t = f.dataType.elementType.fields[2].dataType if f.name in pairwise else f.dataType
                got_types[f.name] = types.get(t.simpleString(), t.simpleString())
            want_types = dict(zip(rel.columns, map(str, rel.types)))

            def row(r):
                return tuple(
                    (None if r[c] is None else r[c][0][2]) if c in pairwise else r[c] for c in rel.columns
                )

            got = sorted((row(r) for r in df.collect()), key=repr)
            want = sorted(rel.fetchall(), key=repr)
        except Exception as ex:  # pragma: no cover - diagnostic path
            failures.append(f"case {i} raised {type(ex).__name__}: {ex}\n{script}\n{sql}")
            continue
        same = len(got) == len(want) and all(
            len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
        )
        if got_types != want_types or not same:
            failures.append(
                f"case {i} diff\n{script}\n{sql}\ntypes {got_types} vs {want_types}\nspark {got}\nduck  {want}"
            )
    con.close()
    assert not failures, "\n\n".join(failures)


# ----------------------------------------------------------------------
# multi-STORE then re-LOAD: one script STOREs two or three aliases
# through PigStorage, a '-schema' PigStorage, BinStorage or
# ParquetStorer; after an exec boundary it LOADs each back through the
# matching loader — every scalar type, with nulls, against DuckDB
# ----------------------------------------------------------------------

N_STORE = 10
STORE_SEED = 20261020

# (name, Pig type, DuckDB type): every Pig scalar, k the group key
_ST_COLS = [
    ("k", "int", "INTEGER"), ("l", "long", "BIGINT"), ("f", "float", "FLOAT"),
    ("d", "double", "DOUBLE"), ("s", "chararray", "VARCHAR"), ("b", "boolean", "BOOLEAN"),
    ("t", "datetime", "TIMESTAMP"), ("bd", "bigdecimal", "DECIMAL(38,18)"),
    ("bi", "biginteger", "DECIMAL(38,0)"),
]
_ST_STORERS = ["PigStorage", "PigStorage-schema", "BinStorage", "ParquetStorer"]


def _store_rows(rng):
    """A few rows, each field null one time in five; strings of letters
    and spaces (no delimiter), datetimes to the millisecond, doubles
    and floats across exponents."""
    import datetime
    from decimal import Decimal

    def maybe(v):
        return None if rng.random() < 0.2 else v

    rows = []
    for _ in range(rng.randint(6, 12)):
        rows.append((
            maybe(rng.randint(1, 3)),
            maybe(rng.choice([0, -1, 2**31 + 5, -(2**62), rng.randint(-99, 99)])),
            maybe(rng.choice([0.5, -2.25, 1.0e10, rng.randint(-9, 9) / 4])),
            maybe(rng.choice([0.1, -1.0e-300, 1.0e20, 123456789.123, rng.random()])),
            maybe("".join(rng.choice("ab xyz") for _ in range(rng.randint(1, 6))).strip() or "q"),
            maybe(rng.random() < 0.5),
            maybe(datetime.datetime(2000 + rng.randint(0, 30), rng.randint(1, 12), rng.randint(1, 28),
                                    rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59),
                                    rng.randint(0, 999) * 1000)),
            maybe(Decimal(rng.randint(-10**6, 10**6)) / Decimal(10**rng.randint(0, 6))),
            maybe(Decimal(rng.choice([0, -7, 12345678901234567890, rng.randint(-99, 99)]))),
        ))
    return rows


def _gen_store(rng, src, out):
    """One script: a FILTER, a projection and a grouped aggregate of the
    input, two or three of them STOREd, then re-LOADed after ``exec``.
    Returns (script, {re-loaded alias: (stored alias, SQL twin)})."""
    preds = [
        None, ("k IS NOT NULL", "k IS NOT NULL"), ("l > 0", "l > 0"),
        ("d < 1.0 OR d IS NULL", "d < 1.0 OR d IS NULL"), ("s MATCHES 'a.*'", "regexp_full_match(s, 'a.*')"),
    ]
    pred = rng.choice(preds)
    names = [c for c, _, _ in _ST_COLS]
    keep = sorted(rng.sample(range(len(names)), rng.randint(2, len(names))))
    proj = [names[i] for i in keep]
    where = f" WHERE {pred[1]}" if pred else ""
    aliases = {
        "f": (names, f"SELECT * FROM a{where}"),
        "p": (proj, f"SELECT {', '.join(proj)} FROM a{where}"),
        "s": (
            ["k", "n", "mx", "tmin"],
            f"SELECT k, COUNT(*)::BIGINT AS n, MAX(l) AS mx, MIN(t) AS tmin FROM a{where} GROUP BY k",
        ),
    }
    lines = [
        f"a = LOAD '{src}' USING ParquetLoader();",
        f"f = FILTER a BY {pred[0]};" if pred else "f = FOREACH a GENERATE *;",
        f"p = FOREACH f GENERATE {', '.join(proj)};",
        "g = GROUP f BY k;",
        "s = FOREACH g GENERATE group AS k, COUNT_STAR(f) AS n, MAX(f.l) AS mx, MIN(f.t) AS tmin;",
    ]
    types = dict((c, t) for c, t, _ in _ST_COLS) | {"n": "long", "mx": "long", "tmin": "datetime"}
    sep = rng.choice(["\\t", ",", "|", ";"])
    stored = rng.sample(sorted(aliases), rng.randint(2, 3))
    reloads, loads = {}, []
    for alias in stored:
        storer = rng.choice(_ST_STORERS)
        path = f"{out}/{alias}"
        if storer.startswith("PigStorage"):
            flag = ", '-schema'" if storer.endswith("-schema") else ""
            lines.append(f"STORE {alias} INTO '{path}' USING PigStorage('{sep}'{flag});")
            if flag:
                loads.append(f"{alias}2 = LOAD '{path}' USING PigStorage('{sep}'{flag});")
            else:
                cols, _ = aliases[alias]
                schema = ", ".join(f"{c}:{types[c]}" for c in cols)
                loads.append(f"{alias}2 = LOAD '{path}' USING PigStorage('{sep}') AS ({schema});")
        else:
            lines.append(f"STORE {alias} INTO '{path}' USING {storer}();")
            loader = "BinStorage" if storer == "BinStorage" else "ParquetLoader"
            loads.append(f"{alias}2 = LOAD '{path}' USING {loader}();")
        reloads[f"{alias}2"] = (alias, aliases[alias][1])
    return "\n".join(lines + ["exec;"] + loads), reloads


def test_latin_multi_store_reload_differential(spark, tmp_path):
    """Several STOREs in one script share the input's subplan; after
    ``exec`` each output reads back through its loader with the values
    (floats to 1e-9) and Pig types of the alias it stored, and those
    values equal DuckDB's over the same input."""
    from pig_spark.pigtypes import pig_type_name

    rng = random.Random(STORE_SEED)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE a ({', '.join(f'{c} {t}' for c, _, t in _ST_COLS)})")
    con.executemany(f"INSERT INTO a VALUES ({', '.join('?' * len(_ST_COLS))})", _store_rows(rng))
    src = str(tmp_path / "a.parquet")
    con.execute(f"COPY a TO '{src}' (FORMAT PARQUET)")
    failures = []
    for i in range(N_STORE):
        script, reloads = _gen_store(rng, src, tmp_path / f"case{i}")
        try:
            rels = run(spark, script)
            for alias, (stored, sql) in reloads.items():
                df, before = rels[alias].df, rels[stored].df
                got_types = [pig_type_name(f.dataType) for f in df.schema.fields]
                want_types = [pig_type_name(f.dataType) for f in before.schema.fields]
                rel = con.sql(sql)
                got = sorted((tuple(r) for r in df.collect()), key=repr)
                want = sorted(rel.fetchall(), key=repr)
                same = len(got) == len(want) and all(
                    len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
                )
                if df.columns != rel.columns or got_types != want_types or not same:
                    failures.append(
                        f"case {i} {alias} diff\n{script}\n{sql}\ncolumns {df.columns} vs {rel.columns}"
                        f"\ntypes {got_types} vs {want_types}\nspark {got}\nduck  {want}"
                    )
        except Exception as ex:  # pragma: no cover - diagnostic path
            failures.append(f"case {i} raised {type(ex).__name__}: {ex}\n{script}")
    con.close()
    assert not failures, "\n\n".join(failures)


# ----------------------------------------------------------------------
# function names in every spelling a script may use — the bare name,
# lower case, the org.apache.pig.builtin class path, a DEFINE alias —
# at the top level and in a nested FILTER after a LIMIT (the call runs
# inside a higher-order function's lambda there), vs DuckDB
# ----------------------------------------------------------------------

N_SPELL = 16
SPELL_SEED = 20261020
_SPELLINGS = ("bare", "lower", "class path", "define")

# (builtin, Latin arguments, SQL twin, a value it gives for the letter c)
_SCALAR_CALLS = [
    ("UPPER", "b", "upper(b)", lambda c: f"'{c.upper()}'"),
    ("LOWER", "b", "lower(b)", lambda c: f"'{c}'"),
    ("TRIM", "b", "trim(b)", lambda c: f"'{c}'"),
    ("CONCAT", "b, '!'", "(b || '!')", lambda c: f"'{c}!'"),
    ("SUBSTRING", "b, 0, 1", "substr(b, 1, 1)", lambda c: f"'{c}'"),
    ("SIZE", "b", "length(b)", lambda c: "1"),
    ("ABS", "a - 5", "abs(a - 5)", lambda c: "3"),
]


def _spell(form, name, defines):
    if form == "bare":
        return name
    if form == "lower":
        return name.lower()
    if form == "class path":
        return f"org.apache.pig.builtin.{name}"
    alias = f"Fn{len(defines)}"
    defines.append(f"DEFINE {alias} {name}();")
    return alias


def _gen_spelled(rng, path, i):
    """One script with a top-level FOREACH of two builtin calls and a
    nested FILTER on a third after ORDER + LIMIT, each name spelled one
    of the four ways (case i spells its first call the i-th way), and
    the SQL twins of both outputs."""
    defines = []
    calls = [rng.choice(_SCALAR_CALLS) for _ in range(3)]
    forms = [_SPELLINGS[i % 4], rng.choice(_SPELLINGS), _SPELLINGS[(i // 4) % 4]]
    lat = [f"{_spell(f, name, defines)}({args})" for f, (name, args, _, _) in zip(forms, calls)]
    c = rng.choice("xyz")
    n = rng.randint(1, 4)
    name, _, sql, value = calls[2]
    script = "\n".join([
        *defines,
        f"r = LOAD '{path}' USING ParquetLoader();",
        f"top = FOREACH r GENERATE id, {lat[0]} AS c1, {lat[1]} AS c2;",
        "g = GROUP r BY k;",
        f"out = FOREACH g {{ s1 = ORDER r BY id; s2 = LIMIT s1 {n}; s3 = FILTER s2 BY {lat[2]} == {value(c)}; "
        "GENERATE group AS kk, COUNT(s3) AS n, SUM(s3.id) AS si; };",
    ])
    top_sql = f"SELECT id, {calls[0][2]} AS c1, {calls[1][2]} AS c2 FROM r"
    out_sql = (
        "WITH gk AS (SELECT DISTINCT k FROM r), "
        f"s2 AS (SELECT * FROM r QUALIFY row_number() OVER (PARTITION BY k ORDER BY id) <= {n}), "
        f"s3 AS (SELECT * FROM s2 WHERE {sql} = {value(c)}) "
        "SELECT gk.k AS kk, COUNT(t.k) AS n, SUM(t.id) AS si FROM gk LEFT JOIN s3 t ON gk.k = t.k GROUP BY gk.k"
    )
    return script, {"top": top_sql, "out": out_sql}


def test_latin_function_spelling_differential(spark, tmp_path):
    """Scalar builtins called by the bare name, in lower case, by class
    path or through a DEFINE alias give DuckDB's values, at the top
    level and inside a nested pipe."""
    rng = random.Random(SPELL_SEED)
    path = str(tmp_path / "spell.parquet")
    con = duckdb.connect()
    con.execute("CREATE TABLE r (k INTEGER, id INTEGER, a INTEGER, b VARCHAR)")
    con.executemany("INSERT INTO r VALUES (?, ?, ?, ?)", _nested_rows(rng))
    con.execute(f"COPY r TO '{path}' (FORMAT PARQUET)")
    failures = []
    for i in range(N_SPELL):
        script, sqls = _gen_spelled(rng, path, i)
        try:
            rels = run(spark, script)
            for alias, sql in sqls.items():
                df, rel = rels[alias].df, con.execute(sql)
                got = (df.columns, sorted(tuple(_norm(v) for v in r) for r in df.collect()))
                want = ([d[0] for d in rel.description], sorted(tuple(_norm(v) for v in r) for r in rel.fetchall()))
                if got != want:
                    failures.append(f"case {i} {alias} diff\n{script}\n{sql}\nspark: {got}\nduck:  {want}")
        except Exception as ex:  # pragma: no cover - diagnostic path
            failures.append(f"case {i} raised {type(ex).__name__}: {ex}\n{script}")
    con.close()
    assert not failures, "\n\n".join(failures)
