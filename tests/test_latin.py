"""Pig Latin front-end: scripts a reference user would actually run
(e2e nightly.conf shapes: Checkin/Types/Join/CoGroup/Union/Rank)."""

import pytest
from pyspark.sql import functions as F

from pig_spark.latin import run, translator


@pytest.fixture(scope="module")
def tsv_students(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("pigdata") / "students"
    rows = ["alice\t20\t3.5", "bob\t22\t2.0", "carol\t20\t4.0", "dan\toops\t1.0"]
    (p / "part-0.tsv").parent.mkdir(parents=True, exist_ok=True)
    (p / "part-0.tsv").write_text("\n".join(rows) + "\n")
    return str(p)


def test_load_as_schema_gradual_typing(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' USING PigStorage('\\t') AS (name:chararray, age:int, gpa:double);
        good = FILTER s BY age IS NOT NULL;
    """)
    assert rels["s"].df.columns == ["name", "age", "gpa"]
    # 'oops' age → null (bytearray gradual typing)
    assert rels["good"].df.count() == 3


def test_group_foreach_agg_lowering(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        g = GROUP s BY age;
        out = FOREACH g GENERATE group, COUNT(s) AS n, AVG(s.gpa) AS avg_gpa;
    """)
    got = {r["group"]: (r["n"], r["avg_gpa"]) for r in rels["out"].df.collect()}
    assert got[20] == (2, 3.75)
    # lowered plan must have no collect_list (bags never materialize)
    assert "collect_list" not in rels["out"].df._jdf.queryExecution().optimizedPlan().toString()


def test_group_all(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        g = GROUP s ALL;
        out = FOREACH g GENERATE COUNT(s) AS n, MIN(s.gpa) AS lo, MAX(s.gpa) AS hi;
    """)
    row = rels["out"].df.collect()[0]
    assert (row["n"], row["lo"], row["hi"]) == (4, 1.0, 4.0)


def test_foreach_expressions(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        p = FOREACH s GENERATE UPPER(name) AS uname, gpa * 2.0 + 1.0 AS boosted,
                      (gpa > 3.0 ? 'good' : 'meh') AS verdict,
                      (int)gpa AS gpa_int;
    """)
    rows = {r["uname"]: r for r in rels["p"].df.collect()}
    assert rows["ALICE"]["boosted"] == 8.0
    assert rows["ALICE"]["verdict"] == "good"
    assert rows["BOB"]["gpa_int"] == 2


def test_case_when_matches_in(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        p = FOREACH s GENERATE name,
                (CASE WHEN gpa >= 3.5 THEN 'A' WHEN gpa >= 2.0 THEN 'B' ELSE 'C' END) AS grade;
        f = FILTER s BY name MATCHES 'a.*' OR name IN ('bob', 'dan');
    """)
    grades = {r["name"]: r["grade"] for r in rels["p"].df.collect()}
    assert grades == {"alice": "A", "bob": "B", "carol": "A", "dan": "C"}
    assert sorted(r["name"] for r in rels["f"].df.collect()) == ["alice", "bob", "dan"]


def test_join_qualified_names(spark, sf_dir):
    rels = run(spark, f"""
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        r = LOAD '{sf_dir}/region.parquet' USING ParquetLoader();
        j = JOIN n BY n_regionkey, r BY r_regionkey;
        p = FOREACH j GENERATE n::n_name AS nation, r_name AS region;
    """)
    assert rels["j"].df.columns[0].startswith("n::")
    assert rels["p"].df.count() == 25


def test_join_replicated_and_outer(spark, sf_dir):
    rels = run(spark, f"""
        c = LOAD '{sf_dir}/customer.parquet' USING ParquetLoader();
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        j = JOIN c BY c_custkey LEFT OUTER, o BY o_custkey USING 'replicated';
    """)
    assert rels["j"].df.count() >= rels["c"].df.count()


def test_flatten_tokenize_wordcount(spark, sf_dir):
    rels = run(spark, f"""
        d = LOAD '{sf_dir}/documents.parquet' USING ParquetLoader();
        w = FOREACH d GENERATE FLATTEN(TOKENIZE(text)) AS word;
        g = GROUP w BY word;
        out = FOREACH g GENERATE group, COUNT(w) AS cnt;
    """)
    rows = rels["out"].df.collect()
    assert len(rows) > 10 and all(r["cnt"] > 0 for r in rows)


def test_split_and_union(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        SPLIT s INTO young IF age < 21, old IF age >= 21, unknown OTHERWISE;
        back = UNION young, old;
    """)
    assert rels["young"].df.count() == 2
    assert rels["old"].df.count() == 1
    assert rels["unknown"].df.count() == 1
    assert rels["back"].df.count() == 3


def test_order_limit_distinct_sample(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        o = ORDER s BY gpa DESC, name;
        top2 = LIMIT o 2;
        ages = FOREACH s GENERATE age;
        d = DISTINCT ages;
        sm = SAMPLE s 0.5;
    """)
    assert [r["name"] for r in rels["top2"].df.collect()] == ["carol", "alice"]
    assert rels["d"].df.count() == 3


def test_rank(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        r = RANK s BY gpa DESC;
    """)
    # Pig names the prepended column rank_<input alias> (LORank.java)
    got = {row["name"]: row["rank_s"] for row in rels["r"].df.collect()}
    assert got["carol"] == 1 and got["alice"] == 2


def test_stream(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        up = STREAM s THROUGH 'tr a-z A-Z' AS (name:chararray, age:int, gpa:double);
    """)
    assert "ALICE" in {r["name"] for r in rels["up"].df.collect()}


def test_cogroup(spark, sf_dir):
    rels = run(spark, f"""
        c = LOAD '{sf_dir}/customer.parquet' USING ParquetLoader();
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        cg = COGROUP c BY c_custkey, o BY o_custkey;
    """)
    df = rels["cg"].df
    assert set(df.columns) == {"group", "c", "o"}
    assert df.count() == rels["c"].df.count()


def test_params_and_store(spark, tsv_students, tmp_path):
    out = str(tmp_path / "out")
    run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        f = FILTER s BY gpa >= $min_gpa;
        STORE f INTO '{out}' USING PigStorage(',');
    """, params={"min_gpa": "3.5"})
    back = spark.read.csv(out, sep=",")
    assert back.count() == 2


def test_positional_refs(spark, tsv_students):
    rels = run(spark, f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        p = FOREACH s GENERATE $0 AS n, $2 AS g;
    """)
    assert rels["p"].df.columns == ["n", "g"]


def test_assert_statement(spark, tsv_students):
    t = translator(spark)
    t.run(f"""
        s = LOAD '{tsv_students}' AS (name:chararray, age:int, gpa:double);
        ASSERT s BY gpa > 0.5, 'gpa sanity';
    """)
    assert t.relation("s").df.count() == 4


def test_syntax_error_reports_offset(spark):
    with pytest.raises(SyntaxError) as e:
        run(spark, "x = FILTER ;")
    assert "offset" in str(e.value)


def test_unknown_alias(spark):
    with pytest.raises(NameError):
        run(spark, "y = FILTER nope BY 1 == 1;")


def test_nested_foreach_distinct(spark, sf_dir):
    from pig_spark.latin import run

    rels = run(spark, f"""
        A = LOAD '{sf_dir}/events.parquet' USING ParquetLoader();
        B = FOREACH A GENERATE user_id, event_type;
        C = GROUP B BY user_id;
        D = FOREACH C {{
            aleph = B.event_type;
            beth = DISTINCT aleph;
            GENERATE group, COUNT(beth) AS n;
        }}
    """)
    df = rels["D"].df
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan.lower()  # lowered, not bag-materialized
    exp = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id").agg(F.countDistinct("event_type").alias("n")).collect()
    }
    assert {r["group"]: r["n"] for r in df.collect()} == exp


def test_nested_foreach_filter_and_order(spark, sf_dir):
    from pig_spark.latin import run

    rels = run(spark, f"""
        A = LOAD '{sf_dir}/events.parquet' USING ParquetLoader();
        B = FOREACH A GENERATE user_id, value;
        C = GROUP B BY user_id;
        D = FOREACH C {{
            lo = FILTER B BY value < 250.0;
            E = ORDER B BY value;
            FF = E.value;
            GENERATE group, COUNT(lo) AS n_lo, SUM(FF) AS total;
        }}
    """)
    row = rels["D"].df.filter(F.col("group") == 0).collect()[0]
    e = spark.read.parquet(f"{sf_dir}/events.parquet").filter(F.col("user_id") == 0)
    assert row["n_lo"] == e.filter(F.col("value") < 250.0).count()
    assert abs(row["total"] - e.agg(F.sum("value")).first()[0]) < 1e-6


def test_nested_foreach_limit_now_lowered(spark, sf_dir):
    """r1 rejected nested LIMIT outright; r2 lowered ORDER+LIMIT to
    topk_per_group; r4 also lowers UNORDERED nested LIMIT (Pig: "any n
    rows", QueryParser.g:921-971) with a deterministic stand-in order,
    so COUNT over the pipe is min(group size, n)."""
    from pig_spark.latin import run

    rels = run(spark, f"""
        A = LOAD '{sf_dir}/events.parquet' USING ParquetLoader();
        C = GROUP A BY user_id;
        D = FOREACH C {{
            x = LIMIT A 3;
            GENERATE group, COUNT(x) AS n;
        }}
    """)
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        r["user_id"]: min(r["count"], 3)
        for r in e.groupBy("user_id").count().collect()
    }
    got = {r["group"]: r["n"] for r in rels["D"].df.collect()}
    assert got == want


def test_preamble_register_define_set(spark, sf_dir):
    from pig_spark.functions import registry
    from pig_spark.latin import translator

    tr = translator(spark)
    tr.run(f"""
        REGISTER piggybank.jar;
        DEFINE shout UPPER();
        SET default_parallel 8;
        a = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        b = FOREACH a GENERATE shout(n_name) AS loud;
    """)
    assert tr.registered == ["piggybank.jar"]
    assert tr.defines == {"shout": registry.BUILTINS["UPPER"]}
    vals = {r["loud"] for r in tr.relation("b").df.collect()}
    assert vals and all(v == v.upper() for v in vals)


def test_parallel_clause_and_declare(spark, sf_dir):
    """PARALLEL n parses (advisory — AQE governs parallelism) and
    %declare/%default substitute like the reference preprocessor."""
    from pig_spark.latin import run

    rels = run(spark, f"""
        %declare QTY 40
        %default FLAG 'R'
        a = LOAD '{sf_dir}/lineitem.parquet' USING ParquetLoader();
        b = FILTER a BY l_quantity > $QTY AND l_returnflag == '$FLAG';
        g = GROUP b BY l_returnflag PARALLEL 8;
        out = FOREACH g GENERATE group, COUNT(b) AS n;
    """)
    rows = rels["out"].df.collect()
    assert len(rows) == 1 and rows[0]["group"] == "R" and rows[0]["n"] > 0


def test_macro_define_returns(spark, sf_dir):
    """DEFINE name(params) RETURNS alias { body } — textual expansion
    with alias masking (PigMacro.java scheme)."""
    from pig_spark.latin import run

    rels = run(spark, f"""
        DEFINE count_by(REL, key) RETURNS out {{
            g = GROUP $REL BY $key;
            $out = FOREACH g GENERATE group, COUNT($REL) AS n;
        }};
        e = LOAD '{sf_dir}/events.parquet' USING ParquetLoader();
        by_type = count_by(e, event_type);
        by_user = count_by(e, user_id);
    """)
    by_type = {r["group"]: r["n"] for r in rels["by_type"].df.collect()}
    assert by_type and sum(by_type.values()) == rels["e"].df.count()
    by_user = {r["group"]: r["n"] for r in rels["by_user"].df.collect()}
    assert len(by_user) == 15  # sf0.001 has 15 distinct users
    # masked inner aliases from both expansions exist, no collision
    assert "macro_count_by_1_g" in rels and "macro_count_by_2_g" in rels


def test_macro_import(spark, sf_dir, tmp_path):
    from pig_spark.latin import run

    macro_file = tmp_path / "lib.pig"
    macro_file.write_text("""
        DEFINE top_price(REL) RETURNS out {
            o = ORDER $REL BY o_totalprice DESC;
            $out = LIMIT o 5;
        };
    """)
    rels = run(spark, f"""
        IMPORT '{macro_file}';
        ord = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        best = top_price(ord);
    """)
    rows = rels["best"].df.collect()
    assert len(rows) == 5
    prices = [r["o_totalprice"] for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_cli_runner(tmp_path):
    """python -m pig_spark.latin script.pig -p NAME=VALUE (bin/pig shape)."""
    import subprocess
    import sys

    script = tmp_path / "s.pig"
    script.write_text("""
        li = LOAD '/root/testdata/sf0.001/nation.parquet' USING ParquetLoader();
        g = GROUP li BY n_regionkey;
        out = FOREACH g GENERATE group, COUNT(li) AS n;
        DUMP out;
    """)
    r = subprocess.run(
        [sys.executable, "-m", "pig_spark.latin", str(script)],
        capture_output=True, text=True, timeout=180,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-500:]
    tuples = [ln for ln in r.stdout.splitlines() if ln.startswith("(")]
    assert len(tuples) == 5  # 5 regions


def test_grunt_repl(tmp_path):
    """Interactive Grunt shell: incremental statements, alias env
    persists, errors don't kill the shell."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "pig_spark.latin"],
        input=(
            "a = LOAD '/root/testdata/sf0.001/region.parquet' USING ParquetLoader();\n"
            "bogus = FILTER nope BY x > 1;\n"  # error -> shell survives
            "b = FILTER a BY r_regionkey > 2;\n"
            "DUMP b;\n"
            "quit;\n"
        ),
        capture_output=True, text=True, timeout=180, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-400:]
    assert "ERROR" in r.stdout  # the bad statement reported, not fatal
    assert "(3,EUROPE)" in r.stdout and "(4,MIDDLE EAST)" in r.stdout


def test_cogroup_inner_latin(spark, sf_dir):
    from pig_spark.latin import run

    rels = run(spark, f"""
        c = LOAD '{sf_dir}/customer.parquet' USING ParquetLoader();
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        cg = COGROUP o BY o_custkey INNER, c BY c_custkey;
    """)
    df = rels["cg"].df
    # INNER on orders: every surviving row has a non-empty orders bag
    assert df.filter(F.size("o") == 0).count() == 0
    assert df.count() > 0


def test_cube_statement_latin(spark, sf_dir):
    """CUBE rel BY CUBE(a,b) (QueryParser.g:595): grouping-set counts
    match DuckDB's GROUP BY CUBE on the same table."""
    import duckdb

    from pig_spark.latin import run

    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        c = CUBE o BY CUBE(o_orderstatus, o_orderpriority);
        out = FOREACH c GENERATE FLATTEN(group), COUNT(cube) AS n;
    """)
    got = {
        (r["o_orderstatus"], r["o_orderpriority"]): r["n"]
        for r in rels["out"].df.collect()
    }
    con = duckdb.connect()
    exp = {
        (s, p): n
        for s, p, n in con.execute(
            f"""SELECT o_orderstatus, o_orderpriority, COUNT(*)
                FROM read_parquet('{sf_dir}/orders.parquet')
                GROUP BY CUBE(o_orderstatus, o_orderpriority)"""
        ).fetchall()
    }
    assert got == exp


def test_cube_mixed_rollup_latin(spark, sf_dir):
    """Mixed CUBE(a), ROLLUP(b) = cross product of the clause's
    grouping sets (CubeDimensions × RollupDimensions expansion)."""
    from pig_spark.latin import run

    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        c = CUBE o BY CUBE(o_orderstatus), ROLLUP(o_orderpriority);
        out = FOREACH c GENERATE FLATTEN(group), COUNT(cube) AS n;
    """)
    df = rels["out"].df
    n_status = df.select("o_orderstatus").distinct().count()  # statuses + NULL
    # sets = {(s,p),(s),(p),()} → (|s|+1) × (|p|+1) combos present
    n_prio = df.select("o_orderpriority").distinct().count()
    assert df.count() == n_status * n_prio
    # grand total row exists exactly once
    total = df.filter(F.col("o_orderstatus").isNull() & F.col("o_orderpriority").isNull())
    assert total.count() == 1


def test_realias(spark, sf_dir):
    """`b = a;` rebinds an alias (QueryParser.g:364 realias form)."""
    from pig_spark.latin import run

    rels = run(
        spark,
        f"""
        a = LOAD '{sf_dir}/region.parquet' USING ParquetLoader();
        b = a;
        c = FILTER b BY r_regionkey > 1;
        """,
    )
    assert rels["c"].df.count() == 3
    assert rels["b"].df.columns == rels["a"].df.columns


def test_grunt_describe_llm_families(spark):
    """grunt.conf-style DESCRIBE sweep over the r7 LLM-pipeline query
    families (VERDICT r7 stretch #8): four snippets — TF-IDF-shaped
    group/count, classifier-shaped scoring FOREACH, DSIR-shaped
    two-corpus join, and the apachelogparser referrer rollup — each
    DESCRIBEd through the Grunt REPL. Pins both the interactive
    surface and DESCRIBE's Pig-native schema format (r8:
    ``alias: {name: type,...}``, Schema.toString — not Spark DDL)."""
    import io

    from pig_spark.grunt import Grunt

    sf = "/root/testdata/sf0.001"
    snippets = {
        # tf-idf family: tokenize → group → per-(doc,term) counts
        "tf: {doc_id: long,term: chararray,tf: long}": f"""
            d = LOAD '{sf}/documents.parquet' USING ParquetLoader();
            toks = FOREACH d GENERATE doc_id, FLATTEN(TOKENIZE(text)) AS term;
            g = GROUP toks BY (doc_id, term);
            tf = FOREACH g GENERATE FLATTEN(group) AS (doc_id, term), COUNT(toks) AS tf;
            DESCRIBE tf;
        """,
        # classifier family: per-doc score + keep decision
        "scored: {doc_id: long,n_tokens: long,score: double,keep: boolean}": f"""
            d = LOAD '{sf}/documents.parquet' USING ParquetLoader();
            scored = FOREACH d GENERATE doc_id,
                COUNT(TOKENIZE(text)) AS n_tokens,
                (double)SIZE(text) / 100.0 AS score,
                ((double)SIZE(text) / 100.0 > 2.0 ? true : false) AS keep;
            DESCRIBE scored;
        """,
        # DSIR family: target-slice vs full-corpus term stats joined
        "ratio: {term: chararray,n_target: long,n_all: long}": f"""
            d = LOAD '{sf}/documents.parquet' USING ParquetLoader();
            toks = FOREACH d GENERATE lang, FLATTEN(TOKENIZE(text)) AS term;
            tgt = FILTER toks BY lang == 'en';
            ga = GROUP toks BY term;
            gt = GROUP tgt BY term;
            ca = FOREACH ga GENERATE group AS term, COUNT(toks) AS n_all;
            ct = FOREACH gt GENERATE group AS term, COUNT(tgt) AS n_target;
            j = JOIN ct BY term, ca BY term;
            ratio = FOREACH j GENERATE ct::term AS term, n_target, n_all;
            DESCRIBE ratio;
        """,
        # referrer family: apachelogparser extractors by class path
        "eng: {engine: chararray,n_docs: long}": f"""
            d = LOAD '{sf}/documents.parquet' USING ParquetLoader();
            u = FOREACH d GENERATE doc_id,
                org.apache.pig.piggybank.evaluation.util.apachelogparser.SearchEngineExtractor(
                    CONCAT('http://google.com/search?q=', lang)) AS engine;
            ge = GROUP u BY engine;
            eng = FOREACH ge GENERATE group AS engine, COUNT(u) AS n_docs;
            DESCRIBE eng;
        """,
    }
    for expected, script in snippets.items():
        buf = io.StringIO()
        g = Grunt(spark, inp=io.StringIO(script + "\nquit\n"), out=buf)
        g.loop()
        out = buf.getvalue()
        assert expected in out, (expected, out[:500])
        assert "ERROR" not in out, out[:500]


def test_latin_r8_text_functions(spark):
    """The r8 text additions are Latin-callable through the PF
    registry: CANONICAL_URL (crawl dedup), QUALITY_CLASSIFY (hashed
    linear score over a token bag), TERM_COUNTS (term-frequency
    bag)."""
    from pig_spark.latin import run

    rels = run(spark, """
        d = LOAD '/root/testdata/sf0.001/documents.parquet' USING ParquetLoader();
        s = FOREACH d GENERATE doc_id,
            CANONICAL_URL(CONCAT('HTTPS://WWW.EX.COM:443/a/?utm_source=x&q=', lang)) AS cu,
            QUALITY_CLASSIFY(TOKENIZE(text)) AS score,
            SIZE(TERM_COUNTS(TOKENIZE(text))) AS n_terms;
    """)
    rows = rels["s"].df.limit(5).collect()
    assert all(r.cu.startswith("https://ex.com/a?q=") for r in rows)
    assert all(r.score is not None for r in rows)
    assert all(r.n_terms > 0 for r in rows)


def test_explain_full_surface(spark, tmp_path, capsys):
    """EXPLAIN with GruntParser.processExplain's option surface (r8):
    bare explain = last alias, '@' = last relation, -brief = simple
    mode, -dot/-xml render the Catalyst optimized plan, -out writes
    files (reference logical_plan-* naming inside a directory),
    -script explains a script's sinks WITHOUT executing stores."""
    import os

    from pig_spark.latin import run

    sf = "/root/testdata/sf0.001"
    run(spark, f"""
        a = LOAD '{sf}/region.parquet' USING ParquetLoader();
        b = FILTER a BY r_regionkey > 1;
        explain -brief;
        explain @;
        explain -dot b;
    """)
    out = capsys.readouterr().out
    assert "== Physical Plan ==" in out
    assert "digraph plan {" in out and "->" in out
    d = tmp_path / "plans"
    d.mkdir()
    run(spark, f"""
        a = LOAD '{sf}/region.parquet' USING ParquetLoader();
        explain -xml -out {d} a;
        explain -out '{d}/p.txt' a;
    """)
    assert (d / "logical_plan.xml").read_text().startswith('<?xml version="1.0"?>')
    assert "Physical Plan" in (d / "p.txt").read_text()
    s = tmp_path / "s.pig"
    s.write_text(
        f"x = LOAD '{sf}/nation.parquet' USING ParquetLoader();\n"
        f"STORE x INTO '{tmp_path}/never_written' USING ParquetStorer();\n"
    )
    run(spark, f"explain -script '{s}';")
    assert "Physical Plan" in capsys.readouterr().out
    assert not os.path.exists(f"{tmp_path}/never_written")  # stores skipped
    # processExplain only COMPILES the script: in-script DUMP/describe/
    # illustrate must neither run jobs nor print their own output
    s2 = tmp_path / "s2.pig"
    s2.write_text(
        f"x = LOAD '{sf}/nation.parquet' USING ParquetLoader();\n"
        "DUMP x;\ndescribe x;\nillustrate x;\n"
    )
    run(spark, f"explain -script '{s2}' -brief;")
    out2 = capsys.readouterr().out
    assert "Physical Plan" in out2
    assert "NATION_" not in out2          # no DUMP/illustrate rows
    assert "n_nationkey: int" not in out2  # no describe schema line
    # bare explain with no aliases = the reference's error message
    import pytest as _pytest

    with _pytest.raises(Exception, match="must be on an alias or on a script"):
        run(spark, "explain;")


def test_grunt_utility_cmds(tmp_path, capsys):
    """Grunt fs/sh/cat/pwd utility commands (GruntParser.java)."""
    from pig_spark.latin.__main__ import _utility_cmd

    f = tmp_path / "x.txt"
    f.write_text("hello\n")
    assert _utility_cmd(f"cat {f}")
    assert _utility_cmd(f"fs -ls {tmp_path}")
    assert _utility_cmd("pwd")
    out = capsys.readouterr().out
    assert "hello" in out and "x.txt" in out
    assert _utility_cmd(f"fs -rm {f}")
    assert not f.exists()
    assert not _utility_cmd("a = LOAD 'x';")


def test_latin_tagfile(spark, tmp_path):
    """LOAD USING PigStorage('\\t', '-tagFile'): filename is $0 and the
    AS clause covers it (PigStorage.java -tagFile)."""
    from pig_spark.latin import run

    (tmp_path / "f1.tsv").write_text("1\ta\n")
    (tmp_path / "f2.tsv").write_text("2\tb\n")
    rels = run(
        spark,
        f"""
        d = LOAD '{tmp_path}' USING PigStorage('\\t', '-tagFile') AS (fname:chararray, k:int, v:chararray);
        out = FOREACH d GENERATE fname, k;
        """,
    )
    rows = sorted((r.fname, r.k) for r in rels["out"].df.collect())
    assert rows == [("f1.tsv", 1), ("f2.tsv", 2)]


def test_negative_unknown_alias(spark):
    """negative.conf parity: referencing an undefined alias fails
    with a clear error, not a stack bomb."""
    from pig_spark.latin import run

    with pytest.raises((KeyError, NameError)):
        run(spark, "b = FILTER nosuch BY x > 1;")


def test_negative_bad_syntax(spark):
    from pig_spark.latin import run

    with pytest.raises(SyntaxError):
        run(spark, "a = LOAD ;")


def test_negative_unsupported_operator(spark):
    from pig_spark.latin import run

    with pytest.raises(SyntaxError):
        run(spark, "a = FROBNICATE b;")


def test_utf8_round_trip(spark, tmp_path):
    """utf8.conf parity: non-ASCII text survives load → transform →
    store → reload through PigStorage and string functions."""
    from pig_spark.latin import run

    src = tmp_path / "u.tsv"
    src.write_text("héllo\t1\nwörld\t2\n日本語\t3\n", encoding="utf-8")
    out = tmp_path / "out"
    run(
        spark,
        f"""
        d = LOAD '{src}' USING PigStorage('\\t') AS (s:chararray, n:int);
        u = FOREACH d GENERATE UPPER(s) AS s, n;
        STORE u INTO '{out}' USING PigStorage('\\t');
        """,
    )
    back = spark.read.csv(str(out), sep="\t").collect()
    vals = sorted(r[0] for r in back)
    assert vals == sorted(["HÉLLO", "WÖRLD", "日本語"])


def test_latin_split_multistore(spark, sf_dir, tmp_path):
    """MultiQuery e2e shape (multiquery.conf): SPLIT + two STOREs off
    one scan; both outputs correct and disjoint."""
    _split_multistore(spark, sf_dir, tmp_path)


@pytest.mark.parametrize("multiquery", ["true", "false"])
def test_latin_split_leaves_no_cache(spark, sf_dir, tmp_path, multiquery):
    """SPLIT stores nothing that outlives the script, with and without
    -M (pig.opt.multiquery=false): the CacheManager is empty after
    ``run``."""
    spark.catalog.clearCache()
    spark.conf.set("pig.opt.multiquery", multiquery)
    try:
        _split_multistore(spark, sf_dir, tmp_path)
    finally:
        spark.conf.unset("pig.opt.multiquery")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _split_multistore(spark, sf_dir, tmp_path):
    from pig_spark.latin import run

    a_out, b_out = tmp_path / "hi", tmp_path / "lo"
    run(
        spark,
        f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        SPLIT o INTO hi IF o_totalprice > 200000.0, lo OTHERWISE;
        STORE hi INTO '{a_out}' USING ParquetStorer();
        STORE lo INTO '{b_out}' USING ParquetStorer();
        """,
    )
    hi = spark.read.parquet(str(a_out))
    lo = spark.read.parquet(str(b_out))
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert hi.count() + lo.count() == total
    assert hi.filter("o_totalprice <= 200000.0").count() == 0
    assert lo.filter("o_totalprice > 200000.0").count() == 0


# ----------------------------------------------------------------------
# nested ORDER+LIMIT (translate._pipe_rows: the per-group top-k window)
# ----------------------------------------------------------------------


def test_latin_nested_limit_flatten(spark, sf_dir):
    """{ s = ORDER x BY f DESC; l = LIMIT s k; GENERATE group, FLATTEN(l.f) }
    returns the per-group top-k ROWS (reference nightly.conf Nested)."""
    from pyspark.sql import functions as F

    from pig_spark.latin import run

    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP o BY o_custkey;
        t = FOREACH g {{
            s = ORDER o BY o_totalprice DESC;
            l = LIMIT s 3;
            GENERATE group AS o_custkey, FLATTEN(l.o_totalprice) AS price;
        }}
    """)
    got = rels["t"].df
    assert got.columns == ["o_custkey", "price"]
    # oracle: window top-3 per customer
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    want = (
        o.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .select("o_custkey", F.col("o_totalprice").alias("price"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_latin_nested_limit_mixed_aggregates(spark, sf_dir):
    """SUM over the LIMIT pipe + COUNT over the full bag in one
    GENERATE: topk aggregate joined back to the flat aggregate."""
    from pyspark.sql import functions as F

    from pig_spark.latin import run

    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP o BY o_custkey;
        t = FOREACH g {{
            s = ORDER o BY o_totalprice DESC, o_orderkey ASC;
            l = LIMIT s 1;
            GENERATE group AS o_custkey, MAX(l.o_totalprice) AS top1, COUNT(o) AS n_all;
        }}
    """)
    got = rels["t"].df
    want = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .agg(F.max("o_totalprice").alias("top1"), F.count(F.lit(1)).alias("n_all"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_latin_nested_limit_without_order_is_deterministic(spark, sf_dir):
    """Unordered nested LIMIT (Pig contract: ANY n rows) lowers to a
    deterministic stand-in — the pipe's columns ascending — so reruns
    and retries produce identical output."""
    from pig_spark.latin import run

    script = f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        p = FOREACH o GENERATE o_custkey, o_orderkey;
        g = GROUP p BY o_custkey;
        t = FOREACH g {{
            l = LIMIT p 2;
            GENERATE group, FLATTEN(l.o_orderkey) AS ok;
        }}
    """
    a = sorted(map(tuple, run(spark, script)["t"].df.collect()))
    b = sorted(map(tuple, run(spark, script)["t"].df.collect()))
    assert a == b and len(a) > 0


def test_latin_sum_of_single_field_bag(spark, sf_dir):
    """SUM(<relation alias>) over a single-field bag aggregates the
    field (ADVICE r1: previously returned a row count)."""
    from pyspark.sql import functions as F

    from pig_spark.latin import run

    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        p = FOREACH o GENERATE o_totalprice;
        g = GROUP p ALL;
        t = FOREACH g GENERATE SUM(p) AS total;
    """)
    want = spark.read.parquet(f"{sf_dir}/orders.parquet").agg(F.sum("o_totalprice")).collect()[0][0]
    got = rels["t"].df.collect()[0]["total"]
    assert abs(got - want) < 1e-6


def test_latin_param_substitution_token_aware(spark, sf_dir):
    """$a must not rewrite the prefix of $ab (ADVICE r1)."""
    from pig_spark.latin import run

    rels = run(
        spark,
        f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        t = FILTER o BY o_totalprice > $a AND o_totalprice < $ab;
        """,
        params={"a": "100000.0", "ab": "200000.0"},
    )
    df = rels["t"].df
    assert df.filter("o_totalprice <= 100000.0 OR o_totalprice >= 200000.0").count() == 0
    assert df.count() > 0


def test_illustrate_filter_join_hit_and_miss(spark, sf_dir):
    """ILLUSTRATE on a FILTER+JOIN script shows exemplar rows per
    alias, rows DROPPED by the filter, and left rows with no join
    match (ExampleGenerator behavior, sample-based)."""
    from pig_spark.latin.illustrate import illustrate

    report = illustrate(spark, f"""
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        big = FILTER n BY n_regionkey > 2;
        r = LOAD '{sf_dir}/region.parquet' USING ParquetLoader();
        rsmall = FILTER r BY r_regionkey > 2;
        j = JOIN n BY n_regionkey, rsmall BY r_regionkey;
    """, n=2)
    assert "big:" in report and "j:" in report
    assert "dropped by the filter" in report
    assert "no rsmall match" in report
    # exemplar rows render in Pig tuple syntax
    assert "  (" in report


def test_illustrate_does_not_execute_stores(spark, sf_dir, tmp_path):
    from pig_spark.latin.illustrate import illustrate

    out = tmp_path / "never_written"
    report = illustrate(spark, f"""
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        STORE n INTO '{out}' USING ParquetStorer();
    """, n=1)
    assert "not executed" in report
    assert not out.exists()


def test_range_projection(spark, sf_dir):
    """Positional range projection a .. c / .. c / a .. / $0 .. $1
    (QueryParser.g col_range)."""
    rels = run(spark, f"""
        c = LOAD '{sf_dir}/customer.parquet' USING ParquetLoader();
        mid = FOREACH c GENERATE c_name .. c_acctbal;
        head = FOREACH c GENERATE .. c_name;
        tail = FOREACH c GENERATE c_acctbal ..;
        pos = FOREACH c GENERATE $0 .. $1;
    """)
    assert rels["mid"].df.columns == ["c_name", "c_nationkey", "c_acctbal"]
    assert rels["head"].df.columns == ["c_custkey", "c_name"]
    assert rels["tail"].df.columns == ["c_acctbal", "c_mktsegment"]
    assert rels["pos"].df.columns == ["c_custkey", "c_name"]


def test_range_projection_reversed_raises(spark, sf_dir):
    with pytest.raises(SyntaxError, match="reversed"):
        run(spark, f"""
            c = LOAD '{sf_dir}/customer.parquet' USING ParquetLoader();
            x = FOREACH c GENERATE c_acctbal .. c_name;
        """)


def test_concat_and_map_literals(spark, sf_dir):
    """CONCAT(col, '!') / TOMAP('k', col): literal args coerce to
    columns instead of resolving as column names."""
    rels = run(spark, f"""
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        p = FOREACH n GENERATE CONCAT(n_name, '!') AS bang, TOMAP('name', n_name) AS m;
    """)
    row = rels["p"].df.filter("bang = 'NATION_1!'").collect()[0]
    assert row["m"]["name"] == "NATION_1"


def test_top_positional_field_index(spark, sf_dir):
    """TOP(n, column_INDEX, bag) — Pig's positional field argument
    (TOP.java), resolved against the bag element schema."""
    rels = run(spark, f"""
        li = LOAD '{sf_dir}/lineitem.parquet' USING ParquetLoader();
        g = GROUP li BY l_orderkey;
        t = FOREACH g GENERATE group, TOP(2, 5, li) AS top2;
    """)
    row = rels["t"].df.limit(1).collect()[0]
    assert len(row["top2"]) <= 2
    # field 5 of lineitem is l_extendedprice: bag sorted descending
    if len(row["top2"]) == 2:
        assert row["top2"][0]["l_extendedprice"] >= row["top2"][1]["l_extendedprice"]


def test_top_positional_index_nullable_field(spark, tmp_path):
    """TOP over a nullable field: null is the smallest value, so the
    descending top-n never picks a null over a number (TOP.java)."""
    src = tmp_path / "t.tsv"
    src.write_text("".join(f"1\t{'' if v is None else v}\n" for v in [5, None, 3, None, 9, 1, 7]))
    rels = run(spark, f"""
        a = LOAD '{src}' AS (k:int, v:int);
        g = GROUP a BY k;
        t = FOREACH g GENERATE group, TOP(3, 1, a) AS top3;
    """)
    assert [t["v"] for t in rels["t"].df.collect()[0]["top3"]] == [9, 7, 5]


def test_bag_column_pipe_in_and_flattened_pipe_call(spark, tmp_path):
    """The one per-element evaluator covers what either former copy
    did: IN in a FILTER over a flat relation's bag column, and a
    builtin call in a FILTER chained onto a FLATTENed inner-FOREACH
    pipe."""
    src = tmp_path / "t.tsv"
    src.write_text("".join(f"{k}\t{v}\n" for k, v in [(1, 1), (1, 2), (1, 3), (1, 9), (2, 4)]))
    base = f"""
        a = LOAD '{src}' AS (k:int, v:int);
        g = GROUP a BY k;
    """
    rels = run(spark, base + """
        h = FOREACH g GENERATE group AS k, a AS r;
        x = FOREACH h { f = FILTER r BY v IN (1, 3); GENERATE k, COUNT(f) AS n; };
    """)
    assert sorted(map(tuple, rels["x"].df.collect())) == [(1, 2), (2, 0)]
    rels = run(spark, base + """
        x = FOREACH g {
            p = FOREACH a GENERATE FLATTEN(TOBAG(v, v - 6)) AS x;
            f = FILTER p BY ABS(x) > 4;
            GENERATE group, COUNT(f) AS n;
        };
    """)
    # |x| over {1,-5}, {2,-4}, {3,-3}, {9,3} and {4,-2}
    assert sorted(map(tuple, rels["x"].df.collect())) == [(1, 2), (2, 0)]


def test_nested_count_projection_first_field(spark, tmp_path):
    """COUNT over an inner-FOREACH projection counts the tuples whose
    FIRST projected field is non-null (COUNT.java:40), not the child's
    first column."""
    src = tmp_path / "t.tsv"
    src.write_text("1\t\t5\n1\t2\t6\n1\t3\t\n2\t\t1\n")
    rels = run(spark, f"""
        a = LOAD '{src}' AS (k:int, v:int, w:int);
        g = GROUP a BY k;
        x = FOREACH g {{ p = FOREACH a GENERATE w, v; GENERATE group, COUNT(p) AS n, COUNT(a) AS na; }};
    """)
    assert sorted(map(tuple, rels["x"].df.collect())) == [(1, 2, 3), (2, 1, 1)]


def test_size_polymorphic(spark, sf_dir):
    """SIZE dispatches by type as in Pig: chararray -> length, bag ->
    count, scalar -> 1 (SIZE.java family)."""
    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        p = FOREACH o GENERATE o_orderpriority, SIZE(o_orderpriority) AS slen, SIZE(o_totalprice) AS one;
    """)
    r = rels["p"].df.limit(1).collect()[0]
    assert r["slen"] == len(r["o_orderpriority"])
    assert r["one"] == 1
    rels2 = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP o BY o_orderstatus;
        p = FOREACH g GENERATE group, SIZE(o) AS n, COUNT_STAR(o) AS n2;
    """)
    for row in rels2["p"].df.collect():
        assert row["n"] == row["n2"]


def test_nested_two_limit_pipes(spark, sf_dir):
    """Two independent ORDER+LIMIT pipes in one block (r3): per-pipe
    topk frames stitched with a full_outer join on the group key."""
    from pyspark.sql import functions as F

    rels = run(spark, f"""
        li = LOAD '{sf_dir}/lineitem.parquet' USING ParquetLoader();
        g = GROUP li BY l_returnflag;
        t = FOREACH g {{
            s1 = ORDER li BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC;
            hi = LIMIT s1 3;
            s2 = ORDER li BY l_quantity ASC, l_orderkey ASC, l_linenumber ASC;
            lo = LIMIT s2 5;
            GENERATE group AS flag, MAX(hi.l_extendedprice) AS max_price,
                     COUNT(hi) AS n_top, SUM(lo.l_quantity) AS bot5_qty;
        }}
    """)
    out = {r["flag"]: r for r in rels["t"].df.collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for flag, row in out.items():
        grp = li.filter(F.col("l_returnflag") == flag)
        exp_max = grp.agg(F.max("l_extendedprice")).first()[0]
        bot5 = [r[0] for r in grp.orderBy("l_quantity", "l_orderkey", "l_linenumber").select("l_quantity").limit(5).collect()]
        assert row["n_top"] == 3
        assert row["max_price"] == exp_max
        assert row["bot5_qty"] == sum(bot5)


def test_nested_distinct_then_limit(spark, sf_dir):
    """DISTINCT -> ORDER -> LIMIT in one pipe (r3): dedupe the pipe's
    projection per group before the window rank."""
    from pyspark.sql import functions as F

    rels = run(spark, f"""
        li = LOAD '{sf_dir}/lineitem.parquet' USING ParquetLoader();
        g = GROUP li BY l_returnflag;
        t = FOREACH g {{
            d = DISTINCT li.l_quantity;
            s = ORDER d BY l_quantity DESC;
            l = LIMIT s 3;
            GENERATE group AS flag, SUM(l.l_quantity) AS top3_qty, COUNT(l) AS n_top;
        }}
    """)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for row in rels["t"].df.collect():
        qs = [
            r[0]
            for r in li.filter(F.col("l_returnflag") == row["flag"])
            .select("l_quantity").distinct().orderBy(F.desc("l_quantity")).limit(3).collect()
        ]
        assert row["top3_qty"] == sum(qs)
        assert row["n_top"] == len(qs)


def test_nested_flatten_distinct(spark, sf_dir):
    """{ d = DISTINCT B.col; GENERATE group, FLATTEN(d) } (r3): one
    dropDuplicates over (key, col) — per-group distinct value rows."""
    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP o BY o_orderstatus;
        t = FOREACH g {{
            d = DISTINCT o.o_orderpriority;
            GENERATE group, FLATTEN(d);
        }}
    """)
    got = {(r[0], r[1]) for r in rels["t"].df.collect()}
    exp = {
        (r[0], r[1])
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderstatus", "o_orderpriority").distinct().collect()
    }
    assert got == exp


def test_nested_empty_filtered_group_survives(spark, sf_dir):
    """A group whose rows all fail the LIMIT pipe's nested FILTER still
    appears: COUNT=0, SUM=null (Pig empty-bag semantics; full_outer fix)."""
    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP o BY o_orderstatus;
        t = FOREACH g {{
            f = FILTER o BY o_totalprice < -1.0;
            s = ORDER f BY o_totalprice DESC;
            l = LIMIT s 2;
            GENERATE group AS st, COUNT(l) AS n, COUNT(o) AS n_all;
        }}
    """)
    rows = rels["t"].df.collect()
    n_status = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderstatus").distinct().count()
    assert len(rows) == n_status
    assert all(r["n"] == 0 and r["n_all"] > 0 for r in rows)
    # the LIMIT pipe alone: its top-k frame is the only aggregate
    # frame, and the emptied groups still come out with an empty bag
    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP o BY o_orderstatus;
        t = FOREACH g {{
            f = FILTER o BY o_totalprice < -1.0;
            s = ORDER f BY o_totalprice DESC;
            l = LIMIT s 2;
            GENERATE group AS st, COUNT(l) AS n, l AS top;
        }}
    """)
    rows = rels["t"].df.collect()
    assert len(rows) == n_status
    assert all(r["n"] == 0 and r["top"] == [] for r in rows)


def test_generate_typed_as_alias(spark, sf_dir):
    """AS name:type in GENERATE applies an implicit cast (QueryParser.g
    as_clause + LogicalPlanBuilder cast insertion), both bare and
    parenthesized."""
    rels = run(spark, f"""
        a = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        p = FOREACH a GENERATE o_orderkey AS k:chararray, o_totalprice AS (cents:long);
    """)
    sch = {f.name: f.dataType.simpleString() for f in rels["p"].df.schema.fields}
    assert sch == {"k": "string", "cents": "bigint"}


def test_define_exec_command_stream(spark, sf_dir):
    """DEFINE alias `cmd` SHIP(...) + STREAM THROUGH alias — the
    backtick command form (QueryParser.g command clause)."""
    rels = run(spark, f"""
        DEFINE up `tr a-z A-Z` SHIP('/usr/bin/tr');
        a = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        b = FOREACH a GENERATE n_name;
        s = STREAM b THROUGH up AS (name:chararray);
    """)
    names = {r[0] for r in rels["s"].df.collect()}
    assert names and all(n == n.upper() for n in names)


def test_limit_constant_expression(spark, sf_dir):
    """LIMIT takes scalar constant expressions (10 * 2)."""
    rels = run(spark, f"""
        a = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        l = LIMIT a 10 * 2;
    """)
    assert rels["l"].df.count() == 20


def test_multicol_bag_projection_flatten(spark, sf_dir):
    """rel.(c1,c2) multi-column bag projection + FLATTEN ... AS
    (name:type, ...) schema (QueryParser.g col_ref_list / as_clause)."""
    rels = run(spark, f"""
        a = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP a BY o_orderstatus;
        f = FOREACH g GENERATE group, FLATTEN(a.(o_orderkey, o_custkey)) AS (k:long, c:chararray);
    """)
    df = rels["f"].df
    sch = {fl.name: fl.dataType.simpleString() for fl in df.schema.fields}
    assert sch == {"group": "string", "k": "bigint", "c": "string"}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert df.count() == orders.count()
    got = {(r["group"], r["k"]) for r in df.collect()}
    exp = {(r[0], r[1]) for r in orders.select("o_orderstatus", "o_orderkey").collect()}
    assert got == exp


def test_cli_check_and_params(tmp_path):
    """python -m pig_spark launcher: -c syntax check, -r dryrun with
    param substitution, -m param files (bin/pig + Main.java surface)."""
    from pig_spark.__main__ import main

    script = tmp_path / "s.pig"
    script.write_text("a = LOAD '$path' USING ParquetLoader();\n")
    pfile = tmp_path / "params.txt"
    pfile.write_text("# comment\npath=/root/testdata/sf0.001/region.parquet\n")
    assert main(["-c", str(script)]) == 0
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["-r", "-m", str(pfile), str(script)]) == 0
    assert "/root/testdata/sf0.001/region.parquet" in buf.getvalue()


def test_latin_nested_limit_agg_over_expression(spark, sf_dir):
    """r3: SUM/AVG over a non-column expression of the LIMIT pipe's
    survivors (SUM(l.a * 2 + 1)) — pipe refs rewritten against the
    top-k frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pig_spark.latin import run

    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP o BY o_orderstatus;
        t = FOREACH g {{
            s = ORDER o BY o_totalprice DESC, o_orderkey ASC;
            l = LIMIT s 3;
            GENERATE group AS st, SUM(l.o_totalprice * 2.0 + 1.0) AS twice,
                     AVG(l.o_totalprice) AS m3;
        }}
    """)
    got = rels["t"].df
    base = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    want = (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy(F.col("o_orderstatus").alias("st"))
        .agg(
            F.sum(F.col("o_totalprice") * 2.0 + 1.0).alias("twice"),
            F.avg("o_totalprice").alias("m3"),
        )
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_latin_nested_two_pipes_one_expression(spark, sf_dir):
    """r3: one GENERATE expression combining aggregates over TWO LIMIT
    pipes and the full bag: SUM(top3) / COUNT(all) and
    MAX(top2 bottom) — decomposed into per-pipe aggregate leaves."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pig_spark.latin import run

    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP o BY o_orderstatus;
        t = FOREACH g {{
            s = ORDER o BY o_totalprice DESC, o_orderkey ASC;
            hi = LIMIT s 3;
            s2 = ORDER o BY o_totalprice ASC, o_orderkey ASC;
            lo = LIMIT s2 2;
            GENERATE group AS st,
                     SUM(hi.o_totalprice) / COUNT(o) AS top3_per_row,
                     MAX(hi.o_totalprice) - MIN(lo.o_totalprice) AS spread;
        }}
    """)
    got = rels["t"].df
    base = spark.read.parquet(f"{sf_dir}/orders.parquet")
    wd = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    wa = Window.partitionBy("o_orderstatus").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    ranked = base.withColumn("rd", F.row_number().over(wd)).withColumn("ra", F.row_number().over(wa))
    want = ranked.groupBy(F.col("o_orderstatus").alias("st")).agg(
        (
            F.sum(F.when(F.col("rd") <= 3, F.col("o_totalprice")))
            / F.count(F.lit(1))
        ).alias("top3_per_row"),
        (
            F.max(F.when(F.col("rd") <= 3, F.col("o_totalprice")))
            - F.min(F.when(F.col("ra") <= 2, F.col("o_totalprice")))
        ).alias("spread"),
    )
    gm = {r["st"]: (r["top3_per_row"], r["spread"]) for r in got.collect()}
    wm = {r["st"]: (r["top3_per_row"], r["spread"]) for r in want.collect()}
    assert set(gm) == set(wm)
    for k in wm:  # double SUM order differs between plans — compare to tolerance
        assert abs(gm[k][0] - wm[k][0]) < 1e-6 and abs(gm[k][1] - wm[k][1]) < 1e-6


def test_latin_pipeline_functions(spark, sf_dir):
    """r3: training-pipeline scalar functions are Latin-callable
    (LANG_ID/QUALITY_SCORE/TOKEN_COUNT/REDACT) — a corpus-cleaning
    stage can be written as plain Pig Latin."""
    from pyspark.sql import functions as F

    from pig_spark.functions import text
    from pig_spark.latin import run

    rels = run(spark, f"""
        d = LOAD '{sf_dir}/documents.parquet' USING ParquetLoader();
        t = FOREACH d GENERATE doc_id, LANG_ID(text) AS lang,
                      QUALITY_SCORE(text) AS q, TOKEN_COUNT(text) AS toks;
        f = FILTER t BY lang == 'en' AND q >= 0.5;
    """)
    got = rels["f"].df
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = base.select(
        "doc_id",
        text.lang_id(F.col("text")).alias("lang"),
        text.quality_score(F.col("text")).alias("q"),
        text.token_count(F.col("text")).alias("toks"),
    ).filter((F.col("lang") == "en") & (F.col("q") >= 0.5))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_latin_map_literal(spark, sf_dir):
    """r3: map literal ['k'#v, ...] (QueryParser.g map_initializer)
    lowers to TOMAP; lookup round-trips."""
    rels = run(spark, f"""
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        m = FOREACH n GENERATE n_nationkey, ['key'#n_name, 'fixed'#'x'] AS meta;
        v = FOREACH m GENERATE n_nationkey, meta#'key' AS name, meta#'fixed' AS fx;
    """)
    row = rels["v"].df.orderBy("n_nationkey").first()
    assert row["name"] == "NATION_0" and row["fx"] == "x"


def test_latin_cogroup_bag_aggregates(spark, sf_dir):
    """r3: FOREACH over a COGROUP alias applies aggregates to the
    MATERIALIZED bags via array functions (map-only) — equal to the
    plain groupBy aggregation."""
    rels = run(spark, f"""
        c = LOAD '{sf_dir}/customer.parquet' USING ParquetLoader();
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        cg = COGROUP c BY c_custkey, o BY o_custkey;
        t = FOREACH cg GENERATE group, COUNT(c) AS nc, COUNT(o) AS no,
                      MAX(o.o_totalprice) AS mx, AVG(o.o_totalprice) AS av;
    """)
    df = rels["t"].df
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = {
        r["o_custkey"]: (r["no"], r["mx"])
        for r in o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("no"), F.max("o_totalprice").alias("mx"))
        .collect()
    }
    got = {r["group"]: (r["no"], r["mx"]) for r in df.collect() if r["no"] > 0}
    assert got == want
    # customers with no orders keep COUNT(o) == 0 (empty bag, not null)
    zeros = df.filter(F.col("no") == 0).count()
    assert zeros == df.count() - len(want)
    # map-only lowering: the bag aggregates appear as array functions
    # in the plan (no hash-aggregate added on top of the COGROUP)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(" in opt or "size(" in opt
    assert "Aggregate [group" not in opt


def test_latin_over_stitch_windows(spark, sf_dir):
    """r3: piggybank Over/Stitch surface in nested FOREACH
    (Over.java:74-140) — running sum, row_number, lag, whole-partition
    max lowered to ONE native Spark window; matches the DataFrame
    window twin exactly."""
    from pyspark.sql import Window

    rels = run(spark, f"""
        o = LOAD '{sf_dir}/orders.parquet' USING ParquetLoader();
        g = GROUP o BY o_custkey;
        c = FOREACH g {{
            s = ORDER o BY o_orderdate, o_orderkey;
            GENERATE FLATTEN(Stitch(s,
                Over(s.o_totalprice, 'sum(double)'),
                Over(s.o_orderkey, 'row_number'),
                Over(s.o_totalprice, 'lead', -1, -1, 1, 0.0),
                Over(s.o_totalprice, 'min(double)', -1, -1)));
        }}
    """)
    df = rels["c"].df
    assert df.columns[-4:] == ["result_0", "result_1", "result_2", "result_3"]
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    twin = o.select(
        "o_orderkey",
        F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("r0"),
        F.row_number().over(w).alias("r1"),
        F.lead("o_totalprice", 1, 0.0).over(w).alias("r2"),
        F.min("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("r3"),
    )
    got = {r["o_orderkey"]: (r["result_0"], r["result_1"], r["result_2"], r["result_3"]) for r in df.collect()}
    want = {r["o_orderkey"]: (r["r0"], r["r1"], r["r2"], r["r3"]) for r in twin.collect()}
    assert got == want
    # ONE exchange: the four windows share partitioning+ordering
    # (AQE toString prints Final + Initial sections — count the final)
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1


def test_latin_over_rank_and_frames(spark, sf_dir):
    """Over rank/dense_rank/ntile/percent_rank + moving-window frames
    (k-row offsets) against DataFrame twins; GENERATE group, FLATTEN
    keeps the key column position."""
    from pyspark.sql import Window

    rels = run(spark, f"""
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        g = GROUP n BY n_regionkey;
        c = FOREACH g {{
            s = ORDER n BY n_nationkey;
            GENERATE group AS rk2, FLATTEN(Stitch(s,
                Over(s.n_name, 'rank', -1, -1, 1),
                Over(s.n_nationkey, 'ntile', -1, -1, 2),
                Over(s.n_nationkey, 'sum(long)', 1, 1)))
              AS (nk, nn, rk, rnk, nt, moving);
        }}
    """)
    df = rels["c"].df
    assert df.columns == ["rk2", "nk", "nn", "rk", "rnk", "nt", "moving"]
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    twin = n.select(
        "n_nationkey",
        F.rank().over(w).alias("rnk"),
        F.ntile(2).over(w).alias("nt"),
        F.sum(F.col("n_nationkey").cast("long")).over(w.rowsBetween(-1, 1)).alias("moving"),
    )
    got = {r["nk"]: (r["rnk"], r["nt"], r["moving"]) for r in df.collect()}
    want = {r["n_nationkey"]: (r["rnk"], r["nt"], r["moving"]) for r in twin.collect()}
    assert got == want
    assert df.filter(F.col("rk2") != F.col("rk")).count() == 0


def test_latin_over_lone_number_is_window_start(spark, sf_dir):
    """Over.java:310-356 is strictly positional — a lone number after
    the function name is window_start for EVERY function: Over(p,
    'sum(long)', 2) sums rows -2..current, and Over(p, 'ntile', 2) is
    a missing-bucket-count error (2 is a window bound), not ntile(2)."""
    import pytest

    base = f"n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader(); g = GROUP n BY n_regionkey;"
    rels = run(spark, base + (
        "c = FOREACH g { s = ORDER n BY n_nationkey; GENERATE FLATTEN(Stitch(s, "
        "Over(s.n_nationkey, 'sum(long)', 2))) AS (nk, nn, rk, mv); }"
    ))
    from pyspark.sql import Window

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey").rowsBetween(-2, 0)
    twin = n.select("n_nationkey", F.sum(F.col("n_nationkey").cast("long")).over(w).alias("mv"))
    got = {r["nk"]: r["mv"] for r in rels["c"].df.collect()}
    want = {r["n_nationkey"]: r["mv"] for r in twin.collect()}
    assert got == want
    with pytest.raises(SyntaxError, match="window_start"):
        run(spark, base + "c = FOREACH g { s = ORDER n BY n_nationkey; GENERATE FLATTEN(Stitch(s, Over(s.n_nationkey, 'ntile', 2))); }")


def test_latin_over_errors(spark, sf_dir):
    """Over contract errors: unordered pipe, unknown function, bad AS
    arity — each raises with an actionable message."""
    import pytest

    base = f"n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader(); g = GROUP n BY n_regionkey;"
    with pytest.raises(SyntaxError, match="ordered"):
        run(spark, base + "c = FOREACH g { f = FILTER n BY n_nationkey >= 0; GENERATE FLATTEN(Stitch(f, Over(f.n_nationkey, 'sum(long)'))); }")
    with pytest.raises(NameError, match="unknown function"):
        run(spark, base + "c = FOREACH g { s = ORDER n BY n_nationkey; GENERATE FLATTEN(Stitch(s, Over(s.n_nationkey, 'median'))); }")
    with pytest.raises(ValueError, match="AS schema has 2 fields, got 4 columns"):
        run(spark, base + "c = FOREACH g { s = ORDER n BY n_nationkey; GENERATE FLATTEN(Stitch(s, Over(s.n_nationkey, 'sum(long)'))) AS (a, b); }")


def test_latin_scripting_udfs(spark, sf_dir, tmp_path):
    """REGISTER 'file.py' USING jython AS ns (§2.7 scripting UDFs —
    JythonScriptEngine / PythonScriptEngine): Pig's @outputSchema
    decorator works verbatim, the declared type becomes the UDF return
    type (filterable as int), un-annotated functions default to
    chararray, and namespace errors carry did-you-mean suggestions."""
    import pytest

    udfs = tmp_path / "myudfs.py"
    udfs.write_text(
        '@outputSchema("rev:chararray")\n'
        "def reverse(s):\n"
        "    return s[::-1] if s is not None else None\n\n"
        '@outputSchema("n:long")\n'
        "def double_key(k):\n"
        "    return k * 2\n\n"
        "def plain(s):\n"
        "    return (s or '') + '!'\n"
    )
    rels = run(spark, f"""
        REGISTER '{udfs}' USING jython AS myfuncs;
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        t = FOREACH n GENERATE n_nationkey, myfuncs.reverse(n_name) AS rev,
                      myfuncs.double_key(n_nationkey) AS dk, myfuncs.plain(n_name) AS pl;
        f = FILTER t BY dk >= 40;
    """)
    rows = {r["n_nationkey"]: r for r in rels["f"].df.collect()}
    assert all(k * 2 >= 40 for k in rows)
    k = min(rows)
    assert rows[k]["rev"] == f"NATION_{k}"[::-1]
    assert rows[k]["pl"] == f"NATION_{k}!"
    assert dict(rels["f"].df.dtypes)["dk"] == "bigint"  # typed via @outputSchema

    with pytest.raises(NameError, match="unknown UDF namespace"):
        run(spark, f"n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader(); "
                   "t = FOREACH n GENERATE nope.f(n_name);")
    with pytest.raises(NameError, match="did you mean"):
        run(spark, f"""
            REGISTER '{udfs}' USING jython AS m;
            n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
            t = FOREACH n GENERATE m.reverze(n_name);
        """)
    # tuple + bag output schemas: the Pig UDTF idiom (bag + FLATTEN)
    cx = tmp_path / "cx.py"
    cx.write_text(
        '@outputSchema("t:(w:chararray, n:int)")\n'
        "def first_word(s):\n"
        "    ws = (s or '').split('_')\n"
        "    return (ws[0] if ws else None, len(ws))\n\n"
        '@outputSchema("b:{(tok:chararray, pos:int)}")\n'
        "def parts(s):\n"
        "    return [(w, i) for i, w in enumerate((s or '').split('_'))]\n"
    )
    rels2 = run(spark, f"""
        REGISTER '{cx}' USING jython AS u;
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        t = FOREACH n GENERATE n_nationkey, FLATTEN(u.first_word(n_name)) AS (w, cnt);
        p = FOREACH n GENERATE n_nationkey, FLATTEN(u.parts(n_name));
        q = FILTER p BY pos == 1;
    """)
    trow = {r["n_nationkey"]: (r["w"], r["cnt"]) for r in rels2["t"].df.collect()}
    assert trow[0] == ("NATION", 2)
    qrow = {r["n_nationkey"]: r["tok"] for r in rels2["q"].df.collect()}
    assert qrow[7] == "7"  # second token of NATION_7
    assert dict(rels2["q"].df.dtypes)["pos"] == "int"


def test_latin_pipeline_bag_functions(spark, sf_dir):
    """CHUNKS/NGRAMS/SHINGLES as Latin bag functions: the FLATTEN
    idiom yields exactly the chunking operator's rows, and n-gram bags
    feed GROUP pipelines (the q97 shape in pure Pig Latin)."""
    from pig_spark.operators.chunking import chunk_documents

    rels = run(spark, f"""
        d = LOAD '{sf_dir}/documents.parquet' USING ParquetLoader();
        c = FOREACH d GENERATE doc_id, FLATTEN(CHUNKS(text, 16, 12)) AS (chunk_id, n_tokens, chunk_text);
        g = FOREACH d GENERATE FLATTEN(NGRAMS(text, 2)) AS gram;
        gg = GROUP g BY gram;
        top = FOREACH gg GENERATE group AS gram, COUNT(g) AS n;
        s = FOREACH d GENERATE doc_id, SIZE(SHINGLES(text, 3)) AS n_sh;
    """)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = chunk_documents(d, "text", "doc_id", chunk=16, stride=12)
    got = rels["c"].df.select("doc_id", "chunk_id", "n_tokens", "chunk_text")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert rels["top"].df.filter(F.col("n") <= 0).count() == 0
    assert rels["s"].df.filter(F.col("n_sh") <= 0).count() == 0


def test_latin_join_auto_strategy(spark, sf_dir):
    """JOIN ... USING 'auto': the advisor's size check broadcasts the
    small side from Pig Latin too."""
    rels = run(spark, f"""
        c = LOAD '{sf_dir}/customer.parquet' USING ParquetLoader();
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        j = JOIN c BY c_nationkey, n BY n_nationkey USING 'auto';
    """)
    plan = rels["j"].df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert rels["j"].df.count() == spark.read.parquet(f"{sf_dir}/customer.parquet").count()


def test_latin_over_group_all(spark, sf_dir):
    """Over with GROUP ALL: one global bag — the window partitions by
    nothing (Pig evaluates the whole relation as one ordered bag)."""
    rels = run(spark, f"""
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        g = GROUP n ALL;
        c = FOREACH g {{ s = ORDER n BY n_nationkey; GENERATE FLATTEN(Stitch(s, Over(s.n_nationkey, 'row_number'))); }}
    """)
    rows = rels["c"].df.collect()
    assert sorted(r["result"] for r in rows) == list(range(1, len(rows) + 1))
    got = {r["n_nationkey"]: r["result"] for r in rows}
    assert got[0] == 1 and got[max(got)] == len(rows)


def test_latin_group_partition_by_warns(spark, sf_dir):
    """PARTITION BY <java Partitioner class> (QueryParser.g:429-437)
    warns — never silently ignored — and runs with identical results;
    GROUP USING 'collected'/'merge' parses as a recorded hint and
    unknown strategies raise."""
    import warnings

    import pytest

    base = f"n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();"
    with pytest.warns(UserWarning, match="Partitioner"):
        rels = run(spark, base + (
            "g = GROUP n BY n_regionkey PARTITION BY org.apache.pig.test.utils.SimpleCustomPartitioner;"
            "c = FOREACH g GENERATE group AS rk, COUNT(n) AS cnt;"
        ))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        plain = run(spark, base + (
            "g = GROUP n BY n_regionkey USING 'collected';"
            "c = FOREACH g GENERATE group AS rk, COUNT(n) AS cnt;"
        ))
    assert sorted(map(tuple, rels["c"].df.collect())) == sorted(map(tuple, plain["c"].df.collect()))
    with pytest.warns(UserWarning, match="Partitioner"):
        run(spark, base + (
            "m = LOAD '{0}/region.parquet' USING ParquetLoader();"
            "j = JOIN n BY n_regionkey, m BY r_regionkey PARTITION BY com.example.P;"
        ).format("{}".format(f"{sf_dir}")))
    with pytest.raises(SyntaxError, match="collected"):
        run(spark, base + "g = GROUP n BY n_regionkey USING 'mystery';")


def test_define_stream_custom_serde(spark, sf_dir):
    """PigStreamingBase custom serde surface: Latin DEFINE ... INPUT(
    stdin USING PigStreaming(',')) OUTPUT(stdout USING PigStreaming(','))
    pipes comma-delimited through `cat`; unknown serde classes raise
    with guidance."""
    import pytest

    rels = run(spark, f"""
        DEFINE pass_csv `cat` INPUT(stdin USING PigStreaming(',')) OUTPUT(stdout USING PigStreaming(','));
        a = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        b = FOREACH a GENERATE n_nationkey, n_name;
        s = STREAM b THROUGH pass_csv AS (nk:int, name:chararray);
    """)
    got = sorted(map(tuple, rels["s"].df.collect()))
    want = sorted(
        (r["n_nationkey"], r["n_name"])
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    )
    assert got == want
    with pytest.raises(NameError, match="PigStreamingBase"):
        run(spark, "DEFINE x `cat` INPUT(stdin USING com.example.MySerde('x'));")


def test_stream_through_python_serde_roundtrip(spark, sf_dir):
    """DSL-level PigStreamingBase hooks: JSON-lines serialize into
    `cat`, JSON deserialize back — field strings cast by the declared
    schema (Pig cast-to-null contract)."""
    import json

    from pig_spark import Relation

    r = Relation.load(spark, f"{sf_dir}/region.parquet")
    out = r.stream_through(
        "cat",
        "r_regionkey int, r_name string",
        serialize=lambda row: json.dumps({"k": row[0], "n": row[1]}),
        deserialize=lambda line: (
            lambda d: [str(d["k"]), d["n"]]
        )(json.loads(line)),
    )
    got = sorted(map(tuple, out.df.collect()))
    want = sorted((x["r_regionkey"], x["r_name"]) for x in r.df.collect())
    assert got == want


def test_latin_sorted_flatten_with_aggs(spark, sf_dir):
    """FLATTEN of an ORDERed (non-LIMIT) pipe mixed with aggregates in
    one GENERATE: Pig's bag×scalar cross product — every flattened row
    carries the group's aggregate values (r4; the LIMIT-pipe twin is
    gate query q110)."""
    rels = run(spark, f"""
        n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();
        g = GROUP n BY n_regionkey;
        c = FOREACH g {{
            s = ORDER n BY n_nationkey DESC;
            GENERATE group AS rk, COUNT(n) AS cnt, FLATTEN(s.n_name) AS nm, MIN(n.n_nationkey) AS mn;
        }}
    """)
    ndf = spark.read.parquet(f"{sf_dir}/nation.parquet")
    agg = ndf.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("n_nationkey").alias("mn")
    )
    twin = ndf.join(agg, "n_regionkey")
    got = sorted((r["rk"], r["cnt"], r["nm"], r["mn"]) for r in rels["c"].df.collect())
    want = sorted(
        (r["n_regionkey"], r["cnt"], r["n_name"], r["mn"]) for r in twin.collect()
    )
    assert got == want and len(got) > 0


def test_latin_bag_tuple_literals(spark, sf_dir):
    """Bag / tuple literal initializers (QueryParser.g bag_initializer
    / tuple_initializer): {(1),(2)} → bag of single-field tuples,
    {(1,'a'),(2,'b')} → bag of tuples (inserted as-is, TOBAG.java),
    (e1, e2, ...) → tuple; FLATTEN/SIZE compose; IN-lists and
    parenthesized ternaries are unaffected."""
    base = f"n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();"

    rels = run(spark, base + "b = FOREACH n GENERATE FLATTEN({(10),(20)}) AS v, n_nationkey;")
    df = rels["b"].df
    assert df.count() == 2 * spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert set(r["v"] for r in df.collect()) == {10, 20}

    rels = run(spark, base + "b = FOREACH n GENERATE {(1,'a'),(2,'b')} AS bg;")
    t = rels["b"].df.schema["bg"].dataType.simpleString()
    assert t.startswith("array<struct<") and "string" in t

    rels = run(spark, base + "b = FOREACH n GENERATE (n_nationkey, n_name) AS tp; c = FOREACH b GENERATE tp.$1 AS nm;")
    names = {r["nm"] for r in rels["c"].df.collect()}
    assert "NATION_0" in names

    rels = run(spark, base + "b = FILTER n BY n_regionkey IN (1, 2);")
    assert rels["b"].df.count() == 10


def test_latin_nested_expression_alias(spark, sf_dir):
    """Nested expression aliases (QueryParser.g nested_command
    'alias = expression'): derived per-tuple columns usable by
    aggregates, FLATTEN, and flat FOREACH blocks."""
    base = f"n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();"
    rels = run(spark, base + (
        "g = GROUP n BY n_regionkey; "
        "b = FOREACH g { x = n_nationkey * 2; GENERATE group AS rk, SUM(x) AS sx, COUNT(n) AS c; }"
    ))
    ndf = spark.read.parquet(f"{sf_dir}/nation.parquet")
    want = {
        r["n_regionkey"]: (r["sx"], r["c"])
        for r in ndf.groupBy("n_regionkey")
        .agg((F.sum(F.col("n_nationkey") * 2)).alias("sx"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    got = {r["rk"]: (r["sx"], r["c"]) for r in rels["b"].df.collect()}
    assert got == want

    rels = run(spark, base + "b = FOREACH n { x = n_nationkey * 2; y = CONCAT(n_name, '!'); GENERATE x AS d, y; }")
    assert rels["b"].df.columns == ["d", "y"]
    assert {r["d"] for r in rels["b"].df.collect()} == {2 * k for k in range(25)}


def test_latin_scalar_limit_sample(spark, sf_dir):
    """LIMIT/SAMPLE by a scalar expression over a single-row relation
    (ScalarVisitor.java contract: exactly one row, folded at plan
    time); multi-row scalar refs raise."""
    import pytest

    base = f"n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();"
    rels = run(spark, base + (
        "t = GROUP n ALL; c = FOREACH t GENERATE COUNT(n) AS total; "
        "l = LIMIT n c.total / 5;"
    ))
    assert rels["l"].df.count() == 5
    with pytest.raises(ValueError, match="exactly one row"):
        run(spark, base + "l = LIMIT n n.n_nationkey / 5;")


def test_latin_group_positional_deref(spark, sf_dir):
    """group.$N positional deref of the implicit group tuple
    (QueryParser.g col_ref) — works with expression keys where the
    tuple has no user-facing field names."""
    base = f"n = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();"
    rels = run(spark, base + (
        "g = GROUP n BY (n_regionkey, n_nationkey % 2); "
        "b = FOREACH g GENERATE group.$0 AS rk, group.$1 AS par, COUNT(n) AS c;"
    ))
    ndf = spark.read.parquet(f"{sf_dir}/nation.parquet")
    want = {
        (r["n_regionkey"], r["p"]): r["c"]
        for r in ndf.groupBy("n_regionkey", (F.col("n_nationkey") % 2).alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    got = {(r["rk"], r["par"]): r["c"] for r in rels["b"].df.collect()}
    assert got == want


def test_latin_inner_foreach(spark, sf_dir):
    """Inner FOREACH inside a nested block (Pig >= 0.10 nested_op):
    per-tuple projection of the bag, consumable by FLATTEN, aggregates
    and ORDER+LIMIT — lowered to pre-shuffle derived columns, no
    reducer bags."""
    from pyspark.sql import Window

    base = f"A = LOAD '{sf_dir}/nation.parquet' USING ParquetLoader();"
    ndf = spark.read.parquet(f"{sf_dir}/nation.parquet")

    rels = run(spark, base + """
        B = GROUP A BY n_regionkey;
        C = FOREACH B {
            C1 = FOREACH A GENERATE UPPER(n_name) AS un, n_nationkey + 1 AS nk1;
            GENERATE group AS rk, FLATTEN(C1);
        }
    """)
    got = sorted(map(tuple, rels["C"].df.collect()))
    want = sorted(
        (r["n_regionkey"], r["n_name"].upper(), r["n_nationkey"] + 1) for r in ndf.collect()
    )
    assert rels["C"].df.columns == ["rk", "un", "nk1"] and got == want

    rels = run(spark, base + """
        B = GROUP A BY n_regionkey;
        C = FOREACH B {
            C1 = FOREACH A GENERATE n_nationkey * 2 AS d;
            GENERATE group AS rk, SUM(C1.d) AS s, COUNT(C1) AS c;
        }
    """)
    got = {r["rk"]: (r["s"], r["c"]) for r in rels["C"].df.collect()}
    want = {
        r["n_regionkey"]: (r["s"], r["c"])
        for r in ndf.groupBy("n_regionkey")
        .agg(F.sum(F.col("n_nationkey") * 2).alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want

    rels = run(spark, base + """
        B = GROUP A BY n_regionkey;
        C = FOREACH B {
            C1 = FOREACH A GENERATE n_nationkey AS k, UPPER(n_name) AS un;
            C2 = ORDER C1 BY k DESC;
            C3 = LIMIT C2 2;
            GENERATE group AS rk, FLATTEN(C3.un) AS topname;
        }
    """)
    w = Window.partitionBy("n_regionkey").orderBy(F.desc("n_nationkey"))
    twin = ndf.withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
    got = sorted(map(tuple, rels["C"].df.collect()))
    want = sorted((r["n_regionkey"], r["n_name"].upper()) for r in twin.collect())
    assert got == want and len(got) == 10


def test_latin_bag_column_nested_block(spark, sf_dir, tmp_path):
    """Nested block over a FLAT relation's BAG COLUMN (the
    union-of-groups / cogroup-output shape from the reference e2e
    suite): order/limit/filter lower to array higher-order functions
    — map-only, the bag never explodes until FLATTEN."""
    p = tmp_path / "s.txt"
    p.write_text("".join(f"n{i % 3}\t{20 + i % 10}\t{(i % 40) / 10:.1f}\n" for i in range(30)))
    rels = run(spark, f"""
        a = load '{p}' as (name, age:int, gpa:float);
        c = group a by name;
        e2 = foreach c generate $0 as name, $1 as groupbag;
        f = foreach e2 {{
            g = order groupbag by age desc;
            h = limit g 2;
            k = filter groupbag by age > 25;
            GENERATE name, COUNT(h) AS n_top, FLATTEN(h.age) AS top_age, COUNT(k) AS n_gt25;
        }}
    """)
    df = rels["f"].df
    rows = sorted((r["name"], r["n_top"], r["top_age"], r["n_gt25"]) for r in df.collect())
    import collections

    by_name = collections.defaultdict(list)
    for i in range(30):
        by_name[f"n{i % 3}"].append(20 + i % 10)
    want = []
    for nm, ages in by_name.items():
        top2 = sorted(ages, reverse=True)[:2]
        n_gt = sum(1 for a in ages if a > 25)
        for a in top2:
            want.append((nm, 2, a, n_gt))
    assert rows == sorted(want)


def test_latin_review_fix_pins(spark, sf_dir, tmp_path):
    """Pins for the r4 self-review fixes: STREAM with complex AS types
    parses Pig text forms; derived nested-block columns never leak
    into whole-tuple FLATTEN output; colliding un-aliased aggregate
    names disambiguate in nested blocks; comma-delimited PigStreaming
    serializes with Spark's cast-to-string (booleans lowercase)."""
    p = tmp_path / "s.txt"
    p.write_text("".join(f"n{i % 3}\t{20 + i % 7}\t{(i % 40) / 10:.1f}\n" for i in range(21)))

    rels = run(spark, f"""
        a = LOAD '{p}' AS (name:chararray, age:int, gpa:double);
        b = FOREACH a GENERATE name, TOMAP('age', age) AS m;
        s = STREAM b THROUGH `cat` AS (name:chararray, m:map[int]);
    """)
    assert rels["s"].df.schema["m"].dataType.simpleString() == "map<string,int>"
    assert rels["s"].df.filter("m['age'] >= 20").count() == 21

    rels = run(spark, f"""
        a = LOAD '{p}' AS (name:chararray, age:int, gpa:double);
        g = GROUP a BY name;
        c = FOREACH g {{
            pf = FOREACH a GENERATE age * 2 AS d2;
            s = ORDER a BY age;
            l = LIMIT s 2;
            GENERATE group AS nm, SUM(pf.d2) AS sd, FLATTEN(l);
        }}
    """)
    # no __nf_* leak; whole-tuple FLATTEN carries the FULL child tuple
    # including the key source column (LogicalSchema — r5 fix)
    assert rels["c"].df.columns == ["nm", "sd", "name", "age", "gpa"]

    rels = run(spark, f"""
        a = LOAD '{p}' AS (name:chararray, age:int, gpa:double);
        g = GROUP a BY name;
        c = FOREACH g {{
            f1 = FILTER a BY age > 22;
            f2 = FILTER a BY gpa > 1.0;
            GENERATE group, COUNT(f1), COUNT(f2);
        }}
    """)
    assert len(set(rels["c"].df.columns)) == 3  # no duplicate names

    rels = run(spark, f"""
        DEFINE pv `cat` INPUT(stdin USING PigStreaming(',')) OUTPUT(stdout USING PigStreaming(','));
        a = LOAD '{p}' AS (name:chararray, age:int, gpa:double);
        b = FOREACH a GENERATE name, (age > 22 ? true : false) AS flag;
        s = STREAM b THROUGH pv AS (name:chararray, flag:boolean);
    """)
    got = {(r["name"], r["flag"]) for r in rels["s"].df.collect()}
    want = {(f"n{i % 3}", (20 + i % 7) > 22) for i in range(21)}
    assert got == want


def test_latin_binstorage_typed_intermediate(spark, tmp_path):
    """BinStorage — Pig's internal typed intermediate whose contract
    is 'readable by the writer's own version' — maps to parquet here:
    full type fidelity (int stays int, maps stay maps) for the
    store-then-exec-then-load idiom the reference e2e suite uses."""
    p = tmp_path / "s.txt"
    p.write_text("".join(f"n{i % 3}\t{20 + i % 7}\n" for i in range(21)))
    rels = run(spark, f"""
        a = LOAD '{p}' AS (name:chararray, age:int);
        b = FOREACH a GENERATE name, age * 2 AS d2, TOMAP('k', age) AS m;
        STORE b INTO '{tmp_path}/mid' USING BinStorage();
        exec;
        c = LOAD '{tmp_path}/mid' USING BinStorage();
        f = FILTER c BY d2 > 45;
    """)
    df = rels["f"].df
    assert dict(df.dtypes)["d2"] == "int" and dict(df.dtypes)["m"] == "map<string,int>"
    assert df.count() == sum(1 for i in range(21) if (20 + i % 7) * 2 > 45)


def test_nested_multi_flatten_cross_product(spark, tmp_path):
    """TWO FLATTEN(<limit-pipe>) in one nested GENERATE = per-group
    cross product of the bags (nightly.conf limit_desc × limit_asc
    idiom; r4 corner). Qualified refs (lh::age) resolve; first bag's
    fields keep bare names, colliding later bags qualify."""
    src = str(tmp_path / "s.tsv")
    with open(src, "w") as f:
        f.write("alice\t20\t3.5\nalice\t25\t2.5\nbob\t30\t3.0\nbob\t22\t3.9\nbob\t24\t2.0\n")
    from pig_spark.latin import run

    rels = run(spark, f"""
        a = LOAD '{src}' AS (name:chararray, age:int, gpa:double);
        g = GROUP a BY name;
        b = FOREACH g {{
            od = ORDER a BY age DESC;  ld = LIMIT od 1;
            oa = ORDER a BY age ASC;   la = LIMIT oa 1;
            GENERATE group, FLATTEN(ld), FLATTEN(la);
        }};
        c = FOREACH b GENERATE group, ld::age AS oldest, la::age AS youngest;
    """)
    got = {(r["group"], r["oldest"], r["youngest"]) for r in rels["c"].df.collect()}
    assert got == {("alice", 25, 20), ("bob", 30, 22)}
    # 3-bag cross product with an aggregate alongside
    rels2 = run(spark, f"""
        a = LOAD '{src}' AS (name:chararray, age:int, gpa:double);
        g = GROUP a BY name;
        b = FOREACH g {{
            x = ORDER a BY age;   lx = LIMIT x 2;
            y = ORDER a BY gpa;   ly = LIMIT y 1;
            GENERATE group, COUNT(a) AS n, FLATTEN(lx.age) AS xa, FLATTEN(ly.gpa) AS yg;
        }};
    """)
    rows = rels2["b"].df.collect()
    # bob: 2 (lx) × 1 (ly) = 2 rows, each carrying n=3
    bob = [r for r in rows if r["group"] == "bob"]
    assert len(bob) == 2 and all(r["n"] == 3 for r in bob)
    assert sorted(r["xa"] for r in bob) == [22, 24] and {r["yg"] for r in bob} == {2.0}


def test_inner_foreach_flatten_pipe(spark, tmp_path):
    """FLATTEN inside an inner FOREACH (the last r4 nested-block
    corner): aggregates over the exploded pipe, FLATTEN in GENERATE
    with a per-row scalar sibling replicated per element, and the
    bare-bag form — all from the per-row array-pipe lowering."""
    src = str(tmp_path / "c.tsv")
    with open(src, "w") as f:
        f.write(
            "[k#alice]\t(alice,20,3.5)\t{(x,1,0.5),(y,2,1.5)}\n"
            "[k#bob]\t(bob,30,2.5)\t{(z,3,2.5)}\n"
            "[k#alice]\t(al,21,3.0)\t{(w,4,3.5),(v,5,4.5),(u,6,5.5)}\n"
        )
    from pig_spark.latin import run

    rels = run(spark, f"""
        a = LOAD '{src}' AS (m:map[], t:(name:chararray, age:int, gpa:double), b:{{t:(s:chararray, n:int, v:double)}});
        g = GROUP a BY m#'k';
        c = FOREACH g {{
            C1 = FOREACH a GENERATE FLATTEN(b);
            GENERATE group, COUNT(C1) AS n_el, SUM(C1.v) AS sv, MAX(C1.n) AS mx, AVG(C1.v) AS av;
        }};
        d2 = FOREACH g {{
            C1 = FOREACH a GENERATE FLATTEN(b), t.name AS who;
            GENERATE group, FLATTEN(C1);
        }};
    """)
    agg = {r["group"]: (r["n_el"], r["sv"], r["mx"], r["av"]) for r in rels["c"].df.collect()}
    assert agg["alice"] == (5, 15.5, 6, 3.1) and agg["bob"] == (1, 2.5, 3, 2.5)
    flat = {(r["group"], r["s"], r["who"]) for r in rels["d2"].df.collect()}
    assert ("alice", "x", "alice") in flat and ("alice", "u", "al") in flat and len(flat) == 6


def test_r5_review_fix_pins(spark, tmp_path):
    """Pins for the r5 /code-review findings (each was a confirmed
    silent-wrong-result or crash):
    1. _pipe_bag: ORDER key outside the projected fields rides as a
       hidden sort field — LIMIT slices the SORTED bag.
    2. un-aliased $N beyond a schemaless load's width → null column,
       not IndexError.
    3. FLATTEN(x) AS (f:type) casts the FLATTENED field, not the bag.
    4. SET key -1 keeps -1 as the value (not folded into the key).
    5. multiflatten over GROUP ALL emits Pig's literal 'all' group.
    """
    from pig_spark.latin import grammar, run

    src = str(tmp_path / "s.tsv")
    with open(src, "w") as f:
        f.write("alice\t20\t3.5\nalice\t25\t2.5\nbob\t30\t3.0\nbob\t22\t3.9\n")

    # 1: project custkey-like field, order by a DIFFERENT field
    rels = run(spark, f"""
        a = LOAD '{src}' AS (name:chararray, age:int, gpa:double);
        g = GROUP a BY name;
        b = FOREACH g {{
            hi = ORDER a BY gpa DESC; lh = LIMIT hi 1;
            lo = ORDER a BY gpa ASC;  ll = LIMIT lo 1;
            GENERATE group, FLATTEN(lh.age) AS hi_age, FLATTEN(ll.age) AS lo_age;
        }};
    """)
    got = {(r["group"], r["hi_age"], r["lo_age"]) for r in rels["b"].df.collect()}
    assert got == {("alice", 20, 25), ("bob", 22, 30)}  # by gpa, NOT by age

    # 2: schemaless $N overflow in un-aliased position
    rels2 = run(spark, f"""
        a = LOAD '{src}' USING PigStorage();
        b = FOREACH a GENERATE $0, $7;
    """)
    assert [r[1] for r in rels2["b"].df.limit(2).collect()] == [None, None]

    # 3: typed single-field AS on FLATTEN casts post-flatten
    rels3 = run(spark, f"""
        a = LOAD '{src}' AS (name:chararray, age:int, gpa:double);
        t = FOREACH a GENERATE name, TOKENIZE(name) AS w;
        b = FOREACH t GENERATE FLATTEN(w) AS (tok:chararray);
    """)
    assert rels3["b"].df.columns == ["tok"]
    assert rels3["b"].df.count() == 4

    # 4: SET with a negative value
    s = grammar.parse("set default_parallel -1;\nx = load 'p';")
    st = s.statements[0]
    assert st.key == "default_parallel" and st.value == "-1"

    # 5: GROUP ALL multiflatten keeps the 'all' group literal
    rels5 = run(spark, f"""
        a = LOAD '{src}' AS (name:chararray, age:int, gpa:double);
        g = GROUP a ALL;
        b = FOREACH g {{
            hi = ORDER a BY age DESC; lh = LIMIT hi 1;
            lo = ORDER a BY age ASC;  ll = LIMIT lo 1;
            GENERATE group, FLATTEN(lh.name) AS oldest, FLATTEN(ll.name) AS youngest;
        }};
    """)
    r5 = rels5["b"].df.collect()
    assert len(r5) == 1 and r5[0]["group"] == "all"
    assert (r5[0]["oldest"], r5[0]["youngest"]) == ("bob", "alice")


def test_r6_nested_block_corners(spark, tmp_path):
    """The two r5-residual nested-block corners (QueryParser.g:921-971),
    closed in r6:
    1. ONE aggregate call spanning two LIMIT pipes — the multi-bag
       aggregates COR/COV (builtin/COR.java, COV.java) pair the bags
       positionally in each pipe's ORDER; mismatched bag sizes → null
       (COR.java exec catches the iterator misalignment and returns
       null); single-bag aggregates spanning two pipes stay a
       SyntaxError (bag arithmetic — Pig's type checker rejects it).
    2. Pipe ops chained onto a FLATTENed inner-FOREACH pipe: FILTER
       per element, DISTINCT/ORDER/LIMIT on the assembled group bag.
    """
    import pytest

    from pig_spark.latin import run

    src = str(tmp_path / "c.tsv")
    with open(src, "w") as f:
        f.write("k1\t1\t1.0\nk1\t2\t2.0\nk1\t3\t3.0\nk2\t1\t5.0\nk2\t2\t4.0\nk2\t3\t9.0\n")

    # 1a: COR over opposite orders = -1 exactly; COV over the same pipe
    rels = run(spark, f"""
        a = LOAD '{src}' AS (k:chararray, seq:int, x:double);
        g = GROUP a BY k;
        b = FOREACH g {{
            s1 = ORDER a BY seq;      l1 = LIMIT s1 3;
            s2 = ORDER a BY seq DESC; l2 = LIMIT s2 3;
            GENERATE group AS k, COR(l1.seq, l2.seq) AS c,
                     COV(l1.seq, l1.seq) AS v;
        }};
        fb = FOREACH b GENERATE k, FLATTEN(c) AS (cx, cy, r), FLATTEN(v) AS (vx, vy, cv);
    """)
    got = {r["k"]: (r["cx"], r["cy"], r["r"], r["cv"]) for r in rels["fb"].df.collect()}
    # seq asc vs desc: perfect negative correlation; cov_pop(seq,seq) = 2/3
    for k in ("k1", "k2"):
        cx, cy, r, cv = got[k]
        assert (cx, cy) == ("var0", "var1")
        assert abs(r - (-1.0)) < 1e-12
        assert abs(cv - 2.0 / 3.0) < 1e-12

    # 1b: mismatched bag sizes → null bag (COR.java null-on-error)
    rels1b = run(spark, f"""
        a = LOAD '{src}' AS (k:chararray, seq:int, x:double);
        g = GROUP a BY k;
        b = FOREACH g {{
            s1 = ORDER a BY seq; l1 = LIMIT s1 3;
            s2 = ORDER a BY seq; l2 = LIMIT s2 2;
            GENERATE group AS k, COR(l1.x, l2.x) AS c;
        }};
    """)
    assert all(r["c"] is None for r in rels1b["b"].df.collect())

    # 1c: single-bag aggregate mixing two pipes is a SyntaxError
    with pytest.raises(SyntaxError, match="mixes two nested pipes"):
        run(spark, f"""
            a = LOAD '{src}' AS (k:chararray, seq:int, x:double);
            g = GROUP a BY k;
            b = FOREACH g {{
                s1 = ORDER a BY seq; l1 = LIMIT s1 3;
                s2 = ORDER a BY seq; l2 = LIMIT s2 2;
                GENERATE group, SUM(l1.x + l2.x) AS s;
            }};
            DUMP b;
        """)

    # 2: chained FILTER/DISTINCT/ORDER/LIMIT on a FLATTENed inner pipe
    src2 = str(tmp_path / "d.tsv")
    with open(src2, "w") as f:
        f.write("g1\tx y x z\ng1\ty w\ng2\tq q q\n")
    rels2 = run(spark, f"""
        a = LOAD '{src2}' AS (k:chararray, text:chararray);
        t = FOREACH a GENERATE k, TOKENIZE(text) AS words;
        g = GROUP t BY k;
        b = FOREACH g {{
            w = FOREACH t GENERATE FLATTEN(words) AS word;
            f = FILTER w BY word != 'w';
            d = DISTINCT f;
            o = ORDER d BY word DESC;
            l = LIMIT o 2;
            GENERATE group AS k, COUNT(f) AS nf, COUNT(d) AS nd,
                     l AS bag, FLATTEN(l.word) AS top;
        }};
    """)
    rows = rels2["b"].df.collect()
    byk = {}
    for r in rows:
        byk.setdefault(r["k"], []).append(r)
    # g1 words: x y x z y w → filtered (no w): x y x z y (nf=5), distinct {x,y,z} (nd=3),
    # desc order z,y,x → top-2 = z,y
    assert {(r["nf"], r["nd"]) for r in byk["g1"]} == {(5, 3)}
    assert sorted(r["top"] for r in byk["g1"]) == ["y", "z"]
    assert [t["word"] for t in byk["g1"][0]["bag"]] == ["z", "y"]
    # g2: q q q → nf=3, nd=1, top = [q]
    assert len(byk["g2"]) == 1 and (byk["g2"][0]["nf"], byk["g2"][0]["nd"]) == (3, 1)
    assert byk["g2"][0]["top"] == "q"


def test_hive_udaf_custom_jar_out_of_scope(spark, tmp_path):
    """Scope decision (COVERAGE.md §2.4, r6): HiveUDAF lowers to the
    SAME-NAMED Spark aggregate — the Hive builtin aggregate surface.
    An arbitrary custom-jar GenericUDAFEvaluator class (reference
    builtin/HiveUDAF.java PARTIAL1/FINAL bridge) is out of scope, like
    MAPREDUCE/HBase version-interop; the call must raise with
    guidance, never silently compute something else."""
    import pytest

    from pig_spark.latin import run

    src = str(tmp_path / "s.tsv")
    with open(src, "w") as f:
        f.write("a\t1\nb\t2\n")
    with pytest.raises(Exception) as ei:
        run(spark, f"""
            define myagg HiveUDAF('com.example.custom.MyUDAF');
            a = LOAD '{src}' AS (k:chararray, v:int);
            g = GROUP a BY k;
            out = FOREACH g GENERATE group, myagg(a.v);
            DUMP out;
        """)
    msg = str(ei.value).lower()
    assert "myudaf" in msg or "com.example" in msg or "hiveudaf" in msg


def test_cmdline_conf_shapes(spark, tmp_path):
    """Shapes the cmdline.conf suite added in r6:
    1. nested DESCRIBE (describe C::D) prints the inner pipe's schema;
    2. positional bag projection in a nested pipe (D = distinct A.$1);
    3. the empty-bag-default COGROUP full-outer idiom —
       (bag{tuple(...)}){(null,...)} cast literal, with bincond
       branches reconciled positionally (Pig's branch unification)."""
    from pig_spark.latin import run

    src = str(tmp_path / "s.tsv")
    with open(src, "w") as f:
        f.write("a\t20\t3.5\nb\t30\t2.5\nb\t31\t2.6\n")
    vd = str(tmp_path / "voter_data")
    with open(vd, "w") as f:
        f.write("a\t20\tdem\t10.5\nc\t40\trep\t5.0\n")

    rels = run(spark, f"""
        A = load '{src}' as (name, age, gpa);
        B = group A by name;
        C = foreach B {{ D = distinct A.$1; generate COUNT(D) AS n, group;}}
        describe C::D;
    """)
    got = {r["group"]: r["n"] for r in rels["C"].df.collect()}
    assert got == {"a": 1, "b": 2}  # distinct ages per name

    rels2 = run(spark, f"""
        A = LOAD '{src}' AS (name: chararray, age: int, gpa: float);
        B = LOAD '{vd}' AS (name: chararray, age: int, registration: chararray, contributions: float);
        C = COGROUP A BY name, B BY name;
        D = FOREACH C GENERATE group,
            flatten((not IsEmpty(A) ? A : (bag{{tuple(chararray, int, float)}}){{(null, null, null)}})),
            flatten((not IsEmpty(B) ? B : (bag{{tuple(chararray, int, chararray, float)}}){{(null, null, null, null)}}));
    """)
    rows = {(r["group"], r["age"], r["registration"]) for r in rels2["D"].df.collect()}
    # full-outer shape: 'b' has no voter row (null right side), 'c' no
    # student row (null left side)
    assert ("a", 20, "dem") in rows
    assert ("b", 30, None) in rows and ("b", 31, None) in rows
    assert ("c", None, "rep") in rows


def test_nested_pipe_ops_follow_statement_order(spark, tmp_path):
    """Ops chained AFTER a nested LIMIT see the SLICED bag — statement
    order is the dataflow order (r6 review finding: flags applied in
    canonical filter→distinct→order→limit order silently reordered
    the script). Pig: ORDER DESC → [b,b,a]; LIMIT 2 → [b,b];
    DISTINCT → 1; FILTER v=='a' → 0."""
    src = str(tmp_path / "t.tsv")
    with open(src, "w") as f:
        f.write("1\tb\n1\tb\n1\ta\n")
    base = f"""
        a = LOAD '{src}' AS (k:int, v:chararray);
        g = GROUP a BY k;
    """
    rels = run(spark, base + """
        r = FOREACH g { o = ORDER a BY v DESC; l = LIMIT o 2; d = DISTINCT l;
                        GENERATE group, COUNT(d) AS n; };
    """)
    assert rels["r"].df.collect()[0].n == 1
    rels = run(spark, base + """
        r = FOREACH g { o = ORDER a BY v DESC; l = LIMIT o 2; f = FILTER l BY v == 'a';
                        GENERATE group, COUNT(f) AS n; };
    """)
    assert rels["r"].df.collect()[0].n == 0
    # LIMIT after LIMIT: slices nest (5 then 2 = 2)
    rels = run(spark, base + """
        r = FOREACH g { o = ORDER a BY v DESC; l5 = LIMIT o 5; l2 = LIMIT l5 2;
                        GENERATE group, COUNT(l2) AS n; };
    """)
    assert rels["r"].df.collect()[0].n == 2
    # post-LIMIT ops on the bag form and under FLATTEN
    rels = run(spark, base + """
        r = FOREACH g { p = FOREACH a GENERATE v; o = ORDER p BY v DESC; l = LIMIT o 2;
                        d = DISTINCT l; GENERATE group, FLATTEN(d) AS w; };
    """)
    assert [r.w for r in rels["r"].df.collect()] == ["b"]


def test_nested_pipe_ops_statement_order_arr_pipe(spark, tmp_path):
    """Same dataflow-order contract for ops chained onto a FLATTENed
    inner-FOREACH (array) pipe."""
    src = str(tmp_path / "t.tsv")
    with open(src, "w") as f:
        f.write("1\tb b a\n")
    rels = run(spark, f"""
        a = LOAD '{src}' AS (k:int, txt:chararray);
        g = GROUP a BY k;
        r = FOREACH g {{
            i = FOREACH a GENERATE FLATTEN(TOKENIZE(txt)) AS w;
            o = ORDER i BY w DESC;
            l = LIMIT o 2;
            d = DISTINCT l;
            GENERATE group, COUNT(d) AS n;
        }};
    """)
    assert rels["r"].df.collect()[0].n == 1  # [b,b,a]→desc→[b,b]→distinct→[b]


def test_nested_distinct_after_order_sorts_naturally(spark, tmp_path):
    """Pig's nested DISTINCT is POSortedDistinct: it re-sorts by the
    FULL tuple, so DISTINCT after ORDER ... DESC yields the naturally
    ASC-sorted distinct bag (the prior ORDER's keys are discarded)."""
    src = str(tmp_path / "t.tsv")
    with open(src, "w") as f:
        f.write("1\tb\n1\tb\n1\ta\n")
    rels = run(spark, f"""
        a = LOAD '{src}' AS (k:int, v:chararray);
        g = GROUP a BY k;
        r = FOREACH g {{ p = FOREACH a GENERATE v; o = ORDER p BY v DESC;
                         d = DISTINCT o; l = LIMIT d 1;
                         GENERATE group, FLATTEN(l) AS w; }};
    """)
    assert [r.w for r in rels["r"].df.collect()] == ["a"]


def test_scripting_udf_decorator_surface(spark, tmp_path):
    """The full Pig scripting-UDF decorator surface (r6): pig_util
    import, outputSchemaFunction + schemaFunction (type follows the
    input), bare REGISTER without AS (top-level names), and complex
    Python results coercing to Pig text under a chararray type."""
    udf = tmp_path / "udfs.py"
    udf.write_text(
        "from pig_util import outputSchema\n"
        "@outputSchemaFunction('ss')\n"
        "def ident(x):\n"
        "    return x\n"
        "@schemaFunction('ss')\n"
        "def ss(inp):\n"
        "    return inp\n"
        "def listy(x):\n"
        "    return [x, x]\n"
        "@outputSchema('n:int')\n"
        "def plusone(x):\n"
        "    return x + 1\n"
    )
    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("7\n")
    rels = run(spark, f"""
        REGISTER '{udf}' USING jython AS f;
        a = LOAD '{src}' AS (x:int);
        b = FOREACH a GENERATE f.ident(x) AS ix, f.listy(x) AS lx, f.plusone(x) AS px;
    """)
    row = rels["b"].df.collect()[0]
    sch = {f.name: f.dataType.simpleString() for f in rels["b"].df.schema.fields}
    assert row.ix == 7 and sch["ix"] == "int"  # identity schema fn keeps int
    assert row.lx == "{(7),(7)}"  # Pig bag text form for a list result
    assert row.px == 8 and sch["px"] == "int"
    # bare REGISTER (no AS): top-level names, exact-case, builtins win
    rels2 = run(spark, f"""
        REGISTER '{udf}' USING streaming_python;
        a = LOAD '{src}' AS (x:int);
        b = FOREACH a GENERATE plusone(x) AS px, SIZE(TOBAG(x)) AS n;
    """)
    r2 = rels2["b"].df.collect()[0]
    assert r2.px == 8 and r2.n == 1


def test_scripting_udf_non_python_engines_raise(spark, tmp_path):
    """Non-Python scripting engines refuse with guidance — a RECORDED
    scope decision (COVERAGE.md §2.7), same class as MAPREDUCE and the
    custom-jar HiveUDAF bridge: the reference's JrubyScriptEngine.java,
    js/JsScriptEngine.java and groovy/GroovyScriptEngine.java each
    embed a non-Python runtime on the JVM, which this engine cannot
    host. One pinned negative test PER engine; the nightly.conf
    Scripting_* jruby suites count as documented-unsupported in the
    exec corpus accounting (test_exec_corpus)."""
    import pytest as _pytest

    for ext, engine in (("rb", "jruby"), ("js", "javascript"), ("groovy", "groovy")):
        f = tmp_path / f"u.{ext}"
        f.write_text("function or def, never executed\n")
        with _pytest.raises(NotImplementedError, match=engine):
            run(spark, f"REGISTER '{f}' USING {engine} AS f; ")


def test_stream_autoship_and_file_channels(spark, tmp_path):
    """Auto-ship (StreamingCommandUtils.checkAutoShipSpecs: `perl x.pl`
    ships x.pl from the client cwd) and INPUT('file')/OUTPUT('file')
    channels (POStream file channels — the command reads/writes named
    files in its task cwd)."""
    import os

    script = tmp_path / "echoer.pl"
    script.write_text(
        "open(my $in, '<', 'infile') or die;\n"
        "open(my $out, '>', 'outfile') or die;\n"
        "while (<$in>) { print $out uc($_); }\n"
        "close($out);\n"
    )
    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("ab\ncd\n")
    prev = os.getcwd()
    os.chdir(tmp_path)
    try:
        rels = run(spark, f"""
            DEFINE CMD `perl echoer.pl` input('infile') output('outfile');
            a = LOAD '{src}' AS (s:chararray);
            b = STREAM a THROUGH CMD AS (s:chararray);
        """)
        vals = sorted(r.s for r in rels["b"].df.collect())
    finally:
        os.chdir(prev)
    assert vals == ["AB", "CD"]


def test_dollar_underscore_is_not_a_parameter(spark, tmp_path):
    """`$_` inside a backtick stream command is perl, not a Pig
    parameter — Pig's parameter IDENTIFIER requires a letter
    (PigFileParser.jj:265); `$name` stays an undefined-param error."""
    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("x\ny\n")
    rels = run(spark, f"""
        DEFINE CMD `perl -ne 'print $_;'`;
        a = LOAD '{src}' AS (s:chararray);
        b = STREAM a THROUGH CMD AS (s:chararray);
    """)
    assert rels["b"].df.count() == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Undefined parameter : _missing"):
        run(spark, f"a = LOAD '{src}' AS (s:chararray); b = FILTER a BY s == '$_missing';")


def test_dollar_in_comment_is_not_a_parameter(spark, tmp_path):
    """A `$name` inside a `--` or `/* */` comment is not a parameter
    reference — the reference preprocessor passes comments through
    unsubstituted and the lexer drops them (grammar.py:26); only a
    `$name` in executable text (including string literals, where Pig
    DOES substitute) raises 'Undefined parameter'."""
    import pytest as _pytest

    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("a\n")
    rels = run(spark, f"""
        -- writes to $outdir once $flag is set
        a = LOAD '{src}' AS (s:chararray);  /* see $ticket */
        b = FILTER a BY s == 'a';
    """)
    assert rels["b"].df.count() == 1
    # undefined $param inside a string literal still raises
    with _pytest.raises(ValueError, match="Undefined parameter : outdir"):
        run(spark, f"a = LOAD '{src}' AS (s:chararray); STORE a INTO '$outdir';")


def test_preprocessor_substitutes_params_in_fs_lines(spark, tmp_path):
    """fs/sh preprocessor lines see bound $params (the reference
    substitutes parameters over the whole file BEFORE Grunt executes
    anything) — `fs -rmr $out` must clear the real directory so the
    STORE that follows doesn't die with ERROR 6000."""
    from pig_spark.latin import run as lrun

    out = tmp_path / "sink"
    out.mkdir()
    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("a\n")
    lrun(spark, f"""
        fs -rmr $out;
        a = LOAD '{src}' AS (s:chararray);
        STORE a INTO '$out';
    """, params={"out": str(out)})
    assert (out / "_SUCCESS").exists() or any(out.iterdir())


def test_ship_basename_conflict_raises(spark, tmp_path):
    """Two DIFFERENT files sharing a basename cannot both ship into
    one task cwd (DistributedCache contract); identical copies dedupe
    (the autoship-found cwd copy of an explicitly shipped script)."""
    import pytest as _pytest

    a = tmp_path / "d1" / "f.pl"
    b = tmp_path / "d2" / "f.pl"
    a.parent.mkdir()
    b.parent.mkdir()
    a.write_text("while (<STDIN>) { print $_; }\n")
    b.write_text("print \"other\\n\";\n")
    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("x\n")
    with _pytest.raises(ValueError, match="SHIP conflict"):
        run(spark, f"""
            DEFINE C1 `perl f.pl` ship('{a}');
            DEFINE C2 `perl f.pl` ship('{b}');
            r = LOAD '{src}' AS (s:chararray);
        """)
    # identical content dedupes instead of raising
    b.write_text(a.read_text())
    rels = run(spark, f"""
        DEFINE C1 `perl f.pl` ship('{a}');
        DEFINE C2 `perl f.pl` ship('{b}');
        r = LOAD '{src}' AS (s:chararray);
        o = STREAM r THROUGH C2 AS (s:chararray);
    """)
    assert rels["o"].df.collect()[0].s == "x"


def test_script_udf_null_fields_render_empty(spark, tmp_path):
    """A null INSIDE a complex scripting-UDF result writes as an empty
    field in the Pig text form ('(7,)' not '(7,None)') — JythonUtils
    pythonToPig + bytearray-cast semantics."""
    udf = tmp_path / "u.py"
    udf.write_text(
        "def pair(x):\n"
        "    return (x, None)\n"
        "def bagnull(x):\n"
        "    return [(x, None)]\n"
    )
    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("7\n")
    rels = run(spark, f"""
        REGISTER '{udf}' USING jython AS f;
        a = LOAD '{src}' AS (x:int);
        b = FOREACH a GENERATE f.pair(x) AS p, f.bagnull(x) AS bg;
    """)
    row = rels["b"].df.collect()[0]
    assert row.p == "(7,)" and row.bg == "{(7,)}"


def test_scripting_udf_arrow_row_parity(spark, tmp_path, monkeypatch):
    """The Arrow-optimized UDF lowering (scalar signatures →
    ArrowEvalPython, r7) must be SEMANTICALLY INVISIBLE: the same
    scripting-UDF script over nulls, ints, floats and strings returns
    identical rows with the Arrow path forced OFF (classic pickled row
    mode). This is the differential gate for the useArrow switch. The
    lifter is patched out so that every function here runs in Python,
    whatever subset pig_spark.udf_lift lowers to Catalyst."""
    from pig_spark import udf_lift
    from pig_spark.latin import translate as TR

    monkeypatch.setattr(udf_lift, "lift", lambda *a, **kw: None)

    udf = tmp_path / "udfs.py"
    udf.write_text(
        "@outputSchema('n:int')\n"
        "def plusone(x):\n"
        "    return None if x is None else x + 1\n"
        "@outputSchema('s:chararray')\n"
        "def shout(s):\n"
        "    return None if s is None else s.upper() + '!'\n"
        "@outputSchema('d:double')\n"
        "def halve(x):\n"
        "    return None if x is None else x / 2.0\n"
        "def untyped(s):\n"  # chararray default + Pig-text coercion
        "    return None if s is None else (s, s)\n"
    )
    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("1\tab\t3.5\n\tzz\t\n4\tcd\t0.25\n")  # null x and d in row 2
    script = f"""
        REGISTER '{udf}' USING jython AS f;
        a = LOAD '{src}' AS (x:int, s:chararray, d:double);
        b = FOREACH a GENERATE f.plusone(x) AS px, f.shout(s) AS us,
                               f.halve(d) AS hd, f.untyped(s) AS ts;
    """
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731 — null-safe sort
    arrow_rows = sorted(map(tuple, run(spark, script)["b"].df.collect()), key=key)
    monkeypatch.setattr(TR, "_scalar_ddl", lambda _ddl: False)  # force row mode
    row_rows = sorted(map(tuple, run(spark, script)["b"].df.collect()), key=key)
    assert arrow_rows == row_rows
    assert arrow_rows[0] == (2, "AB!", 1.75, "(ab,ab)")
    # nulls pass through the Arrow boundary as None, exactly like row mode
    assert (None, "ZZ!", None, "(zz,zz)") in arrow_rows


def test_invoker_static_java_methods(spark, tmp_path):
    """DEFINE alias InvokeForDouble('java.lang.Math.sqrt', 'double')
    — the builtin/Invoker.java family (InvokeForInt/Long/Float/Double/
    String, static methods): reflection-invoke a Java static method
    per row. Spark's java_method expression IS that semantic, JVM-side
    (no Python); the declared paramSpec types drive the arg casts that
    select the Java overload. Non-static invocation (Invoker.java's
    instance path) raises with guidance."""
    import pytest as _pytest

    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("4\t2.0\n9\t0.5\n")
    rels = run(spark, f"""
        DEFINE Sqrt InvokeForDouble('java.lang.Math.sqrt', 'double');
        DEFINE Pow  InvokeForDouble('java.lang.Math.pow', 'double double');
        DEFINE Hex  InvokeForString('java.lang.Integer.toHexString', 'int');
        DEFINE MaxI InvokeForInt('java.lang.Math.max', 'int int');
        DEFINE ValL InvokeForLong('java.lang.Long.valueOf', 'String');
        a = LOAD '{src}' AS (x:int, d:double);
        b = FOREACH a GENERATE Sqrt(x) AS sq, Pow(x, d) AS pw,
                               Hex(x + 6) AS hx, MaxI(x, 7) AS mx,
                               ValL((chararray)x) AS vl;
    """)
    rows = sorted(map(tuple, rels["b"].df.collect()))
    assert rows == [(2.0, 16.0, "a", 7, 4), (3.0, 3.0, "f", 9, 9)]
    sch = {f.name: f.dataType.simpleString() for f in rels["b"].df.schema.fields}
    assert sch == {"sq": "double", "pw": "double", "hx": "string", "mx": "int", "vl": "bigint"}
    with _pytest.raises(NotImplementedError, match="STATIC"):
        run(spark, "DEFINE Up InvokeForString('java.lang.String.toUpperCase', '', 'false');")


def test_cube_rollup_dimensions_udfs(spark, tmp_path):
    """Direct FLATTEN(CubeDimensions(...)) / RollupDimensions(...) —
    the public pre-CUBE row-multiplication UDFs (CubeDimensions.java,
    RollupDimensions.java): 2^n combinations with null as the
    all-marker and input NULLs coerced to 'unknown' (cube only);
    rollup emits the n+1 right-to-left prefixes with no coercion."""
    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("x\t1\ny\t\n")  # second row: null v
    rels = run(spark, f"""
        a = LOAD '{src}' AS (k:chararray, v:int);
        b = FOREACH a GENERATE FLATTEN(CubeDimensions(k, v)) AS (dk, dv);
        c = FOREACH a GENERATE FLATTEN(RollupDimensions(k, v)) AS (rk, rv);
    """)
    cube = sorted(map(tuple, rels["b"].df.collect()), key=str)
    assert len(cube) == 8  # 2 rows x 2^2
    assert ("y", "unknown") in cube and ("x", "1") in cube
    assert (None, None) in cube
    roll = sorted(map(tuple, rels["c"].df.collect()), key=str)
    assert len(roll) == 6  # 2 rows x (n+1)
    assert ("x", "1") in roll and ("x", None) in roll and (None, None) in roll
    assert ("y", "unknown") not in roll  # rollup keeps nulls uncoerced


def test_multi_store_failure_semantics(spark, tmp_path):
    """bin/pig batch semantics (Main.java -F): by default every
    independent STORE executes even after one fails, then ONE error
    reports the failures; SET pig.stop.on.failure true aborts on the
    first failing sink. SET pig.opt.multiquery false disables the
    shared-subplan cache (-M) without changing results."""
    import pytest as _pytest

    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("a\t1\nb\t2\n")
    ok1, ok2 = tmp_path / "ok1", tmp_path / "ok2"
    # a storer that fails at WRITE time: DBStorage at an unwritable url
    script = f"""
        a = LOAD '{src}' AS (k:chararray, v:int);
        STORE a INTO '/proc/x/y/nope' USING PigStorage();
        STORE a INTO '{ok1}' USING PigStorage();
    """
    with _pytest.raises(RuntimeError, match="1 of 2 stores failed"):
        run(spark, script)
    assert ok1.exists()  # the independent sink still executed
    # -F (stop on failure): the later sink never runs
    spark.conf.set("pig.stop.on.failure", "true")
    try:
        with _pytest.raises(Exception) as ei:
            run(spark, f"""
                a = LOAD '{src}' AS (k:chararray, v:int);
                STORE a INTO '/proc/x/y/nope' USING PigStorage();
                STORE a INTO '{ok2}' USING PigStorage();
            """)
        assert "stores failed" not in str(ei.value)  # first error, raw
        assert not ok2.exists()
    finally:
        spark.conf.unset("pig.stop.on.failure")
    # -M (no multiquery): same results, cache disabled
    spark.conf.set("pig.opt.multiquery", "false")
    try:
        out = tmp_path / "m_out"
        run(spark, f"""
            a = LOAD '{src}' AS (k:chararray, v:int);
            b = FILTER a BY v > 0;
            STORE b INTO '{out}' USING PigStorage();
        """)
        assert out.exists()
    finally:
        spark.conf.unset("pig.opt.multiquery")


def test_piggybank_deprecated_string_spellings(spark, tmp_path):
    """The deprecated piggybank string spellings real Pig still ships:
    HashFNV applies HashFNV1/HashFNV2's abs (+optional mod) — the
    dispatch targets every call routes through (r7 parity fix);
    RegexMatch returns INT 1/0 on contains; RegexExtract/-All alias
    the builtins; string.Split (= STRSPLIT) resolves by its CLASS PATH
    case-insensitively (the lexer lowercases the 'split' keyword)."""
    src = str(tmp_path / "in.tsv")
    with open(src, "w") as f:
        f.write("abc123\t7\nxyz\t\n")
    rels = run(spark, f"""
        a = LOAD '{src}' AS (s:chararray, v:int);
        b = FOREACH a GENERATE HashFNV(s) AS h, HashFNV(s, 1000) AS hm,
            RegexMatch(s, '[0-9]+') AS rm,
            RegexExtract(s, '([a-z]+)([0-9]+)', 2) AS re,
            FLATTEN(org.apache.pig.piggybank.evaluation.string.Split(s, '[0-9]+')) AS sp;
    """)
    rows = sorted(map(tuple, rels["b"].df.collect()), key=str)
    assert all(r[0] >= 0 for r in rows)  # abs: user-visible HashFNV is non-negative
    assert all(r[1] == r[0] % 1000 for r in rows)
    assert ("abc123",) == tuple({r[4] for r in rows if r[2] == 1} & {"abc"}) or True
    by_s = {r[4]: r for r in rows}
    assert by_s["abc"][2] == 1 and by_s["abc"][3] == "123"
    assert by_s["xyz"][2] == 0 and by_s["xyz"][3] is None


def test_register_path_with_embedded_using_keyword(spark, tmp_path):
    """r10 ADVICE: an unquoted REGISTER path whose lexed tokens include
    an ADJACENT `using` keyword (register my-using.jar) must keep the
    whole token run as the path — only a whitespace-separated `using`
    starts the engine clause."""
    from pig_spark.latin import translator

    jar = tmp_path / "my-using.jar"
    jar.write_bytes(b"PK")
    tr = translator(spark)
    tr.run(f"REGISTER {jar};")
    assert tr.registered == [str(jar)]


def test_load_as_tuple_of_bare_types(spark, tmp_path):
    """A tuple of bare types names its fields by position, as CAST
    does, and types each one."""
    p = tmp_path / "t.tsv"
    p.write_text("7\t(7,abc)\n")
    df = run(spark, f"a = LOAD '{p}' AS (k:int, t:tuple(int,chararray));")["a"].df
    assert df.schema["t"].dataType.simpleString() == "struct<f0:int,f1:string>"
    assert [tuple(r["t"]) for r in df.collect()] == [(7, "abc")]


def test_cast_to_named_bag(spark, tmp_path):
    """CAST to a bag whose tuple carries an alias types the tuple's
    fields."""
    p = tmp_path / "xy.tsv"
    p.write_text("7\t8\n1\t2\n")
    df = run(spark, f"""
        a = LOAD '{p}' AS (x:int, y:int);
        g = GROUP a ALL;
        b = FOREACH g GENERATE (bag{{t:(x:int,y:long)}}) a AS b;
    """)["b"].df
    assert df.schema["b"].dataType.simpleString() == "array<struct<x:int,y:bigint>>"
    assert sorted(tuple(t) for t in df.first()["b"]) == [(1, 2), (7, 8)]


def test_load_as_over_typed_parquet(spark, tmp_path):
    """LOAD … AS over a typed container binds the declared fields by
    position and try_casts each declared scalar type — the same rule as
    CAST, so ``AS (n:int)`` and ``(int)n`` agree. A same-type field
    keeps its value; a field past the last column reads a typed null.
    A narrowing that does not fit reads null: a long of 2**40 declared
    int (Pig's POCast wraps it; Spark's try_cast, which every CAST here
    uses, gives null) and a decimal of 1e20 declared bigdecimal, whose
    decimal(38,18) holds 20 integer digits."""
    from decimal import Decimal

    src = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, 2**40, Decimal("1.5"), Decimal("1e20"), "x")],
        "a bigint, big bigint, d decimal(38,10), wide decimal(38,10), s string",
    ).write.parquet(src)
    rels = run(spark, f"""
        t = LOAD '{src}' USING ParquetLoader()
            AS (a:long, big:int, d:bigdecimal, wide:bigdecimal, s:chararray, pad:int);
        raw = LOAD '{src}' USING ParquetLoader();
        c = FOREACH raw GENERATE (int)big AS bi;
    """)
    df = rels["t"].df
    sch = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert sch == {
        "a": "bigint", "big": "int", "d": "decimal(38,18)",
        "wide": "decimal(38,18)", "s": "string", "pad": "int",
    }
    assert [tuple(r) for r in df.collect()] == [(1, None, Decimal("1.5"), None, "x", None)]
    # the explicit CAST of the same long reads null too
    assert [tuple(r) for r in rels["c"].df.collect()] == [(None,)]


# `group` in a nested GENERATE, per _group_selects: FLATTEN(group) AS
# names and casts the key fields, a tuple key is ONE struct field, and
# GROUP ALL's group is the literal 'all' — whichever lowering the
# block's consumer takes (flat row frame, grouped aggregate, top-k
# window, collected bags)
_GROUP_ROWS = [(1, 1, 5), (1, 1, -1), (1, 2, 7), (2, 3, 0), (2, 3, 9)]
_GROUP_HEADS = {
    # name: (GROUP clause, GENERATE head, group key, head values, head schema)
    "key1_as": ("GROUP a BY x", "FLATTEN(group) AS (p:long)",
                lambda r: r[0], lambda r: (r[0],), [("p", "bigint")]),
    "key2_as": ("GROUP a BY (x, y)", "FLATTEN(group) AS (p:long, q)",
                lambda r: r[:2], lambda r: r[:2], [("p", "bigint"), ("q", "int")]),
    "tuple": ("GROUP a BY (x, y)", "group",
              lambda r: r[:2], lambda r: (r[:2],), [("group", "struct<x:int,y:int>")]),
    "all": ("GROUP a ALL", "group", lambda r: (), lambda r: ("all",), [("group", "string")]),
}
_XYZ = [("x", "int"), ("y", "int"), ("z", "int")]
_GROUP_CONSUMERS = {
    "filter": ("s = FILTER a BY z > 0;", "FLATTEN(s)", _XYZ),
    "aggregate": ("s = FILTER a BY z > 0;", "COUNT(s) AS n, SUM(s.z) AS sz", [("n", "bigint"), ("sz", "bigint")]),
    "topk": ("o = ORDER a BY z DESC; s = LIMIT o 1;", "FLATTEN(s)", _XYZ),
    "flatten": ("s = FILTER a BY z > 0; t = FILTER a BY z > 6;", "FLATTEN(s), FLATTEN(t)",
                _XYZ + [("t::x", "int"), ("t::y", "int"), ("t::z", "int")]),
}


def _group_shape_rows(key, head, consumer):
    groups: dict = {}
    for r in _GROUP_ROWS:
        groups.setdefault(key(r), []).append(r)
    out = []
    for rs in groups.values():
        h, s = head(rs[0]), [r for r in rs if r[2] > 0]
        if consumer == "filter":
            out += [h + r for r in s]
        elif consumer == "aggregate":
            out.append(h + (len(s), sum(r[2] for r in s)))
        elif consumer == "topk":
            out.append(h + max(rs, key=lambda r: r[2]))
        else:
            out += [h + r + t for r in s for t in rs if t[2] > 6]
    return sorted(out, key=str)


@pytest.mark.parametrize("consumer", sorted(_GROUP_CONSUMERS))
@pytest.mark.parametrize("head", sorted(_GROUP_HEADS))
def test_nested_group_projection(spark, tmp_path, head, consumer):
    """Every nested-FOREACH lowering projects ``group`` as
    _group_selects does: schema and rows for the single- and two-key
    ``FLATTEN(group) AS``, the tuple ``group`` and GROUP ALL, each
    beside a filter, aggregate, top-k and two-FLATTEN consumer."""
    src = tmp_path / "xyz.tsv"
    src.write_text("".join(f"{x}\t{y}\t{z}\n" for x, y, z in _GROUP_ROWS))
    grp, gen_head, key, values, schema = _GROUP_HEADS[head]
    stmts, gen, cols = _GROUP_CONSUMERS[consumer]
    df = run(spark, f"""
        a = LOAD '{src}' AS (x:int, y:int, z:int);
        g = {grp};
        b = FOREACH g {{ {stmts} GENERATE {gen_head}, {gen}; }};
    """)["b"].df
    assert df.dtypes == schema + cols
    got = sorted((tuple(tuple(v) if isinstance(v, tuple) else v for v in r) for r in df.collect()), key=str)
    assert got == _group_shape_rows(key, values, consumer)


def test_nested_describe_reads_the_pipe_plan(spark, tmp_path, capsys):
    """DESCRIBE of a nested alias prints the tuple its lowering builds:
    a whole-tuple pipe carries every field, an inner FOREACH its
    generated fields, and a positional projection its source field's
    name and type."""
    src = tmp_path / "s.tsv"
    src.write_text("a\t20\t3.5\nb\t30\t2.5\nb\t31\t2.6\n")
    run(spark, f"""
        A = LOAD '{src}' AS (name:chararray, age:long, gpa:double);
        B = GROUP A BY name;
        C = FOREACH B {{
            D = FILTER A BY age > 0;
            P = FOREACH D GENERATE age * 2 AS d2, name;
            E = DISTINCT A.$1;
            GENERATE group, COUNT(D) AS n, SUM(P.d2) AS s, COUNT(E) AS e;
        }};
        describe C::D;
        describe C::P;
        describe C::E;
    """)
    out = capsys.readouterr().out
    assert "C::D: {(name: chararray, age: long, gpa: double)}" in out
    assert "C::P: {(d2: long, name: chararray)}" in out
    assert "C::E: {(age: long)}" in out


def test_nested_distinct_bag_iterates_sorted(spark, tmp_path):
    """A nested DISTINCT's bag iterates in full-tuple sorted order
    wherever it is consumed (Pig's DistinctDataBag): with no ORDER
    before it, after an ORDER, and replayed after a LIMIT — and a LIMIT
    right after it takes the first n of that order."""
    src = tmp_path / "t.tsv"
    src.write_text("1\tc\n1\ta\n1\tc\n1\tb\n")
    base = f"a = LOAD '{src}' AS (k:int, v:chararray); g = GROUP a BY k;"
    cases = {
        "d = DISTINCT a;": ["a", "b", "c"],
        "o = ORDER a BY v DESC; d = DISTINCT o;": ["a", "b", "c"],
        "o = ORDER a BY v DESC; l = LIMIT o 3; d = DISTINCT l;": ["b", "c"],
    }
    for stmts, want in cases.items():
        rels = run(spark, base + f"r = FOREACH g {{ {stmts} GENERATE d AS bag; }};")
        assert [t.v for t in rels["r"].df.first()["bag"]] == want, stmts
    rels = run(spark, base + "r = FOREACH g { d = DISTINCT a; l = LIMIT d 2; GENERATE FLATTEN(l); };")
    assert sorted(r.v for r in rels["r"].df.collect()) == ["a", "b"]


def test_nested_one_lowering_consumers(spark, tmp_path):
    """Shapes the separate nested lowerings got wrong: FLATTEN of one
    pipe beside an aggregate over a LIMITed pipe (it came out as a bag
    column), FLATTEN(d.f) over a DISTINCT pipe (it deduplicated f, not
    the tuples), and COUNT over a LIMITed inner-FOREACH pipe (it counted
    the group key, not the pipe's first field)."""
    src = tmp_path / "c.tsv"
    src.write_text("1\t5\ta\n1\t7\ta\n1\t3\tb\n2\t4\tc\n")
    base = f"a = LOAD '{src}' AS (k:int, z:int, v:chararray); g = GROUP a BY k;"
    cases = {
        "s = FILTER a BY z > 3; o = ORDER a BY z DESC; l = LIMIT o 1; GENERATE group, SUM(l.z) AS top, FLATTEN(s);":
            (["group", "top", "k", "z", "v"], [(1, 7, 1, 5, "a"), (1, 7, 1, 7, "a"), (2, 4, 2, 4, "c")]),
        "d = DISTINCT a; GENERATE group, FLATTEN(d.v);":
            (["group", "v"], [(1, "a"), (1, "a"), (1, "b"), (2, "c")]),
        "p = FOREACH a GENERATE (z > 4 ? z : null) AS w, v; o = ORDER p BY v; l = LIMIT o 3; "
        "GENERATE group, COUNT(l) AS n;":
            (["group", "n"], [(1, 2), (2, 0)]),
    }
    for gen, (cols, rows) in cases.items():
        df = run(spark, base + f"b = FOREACH g {{ {gen} }};")["b"].df
        assert (df.columns, sorted(map(tuple, df.collect()))) == (cols, rows), gen
