"""Embedded orchestration (scripting/Pig.java parity), PigUnit harness
(pigunit/PigTest.java parity), and Pig textual rendering."""

import pytest

from pig_spark.embed import Pig
from pig_spark.pigunit import PigAssertionError, PigTest
from pig_spark.render import pig_repr, render_row

from conftest import SF_DIR


# ----------------------------------------------------------------------
# render: Pig DUMP-style tuple text
# ----------------------------------------------------------------------
def test_render_scalars_and_null():
    from pyspark.sql import Row

    assert render_row(Row(a=1, b=None, c="x")) == "(1,,x)"
    assert pig_repr(True) == "true"
    assert pig_repr(1.0) == "1.0"
    assert pig_repr(2.5e-9) == "2.5E-9"
    assert pig_repr(b"ab") == "ab"


def test_render_nested():
    from pyspark.sql import Row

    bag = [Row(x=1), Row(x=2)]
    assert pig_repr(bag) == "{(1),(2)}"
    assert pig_repr([1, 2]) == "{(1),(2)}"  # scalar array ≅ TOBAG
    assert pig_repr({"k": "v"}) == "[k#v]"
    assert render_row(Row(a=Row(b=1, c="s"))) == "((1,s))"


# ----------------------------------------------------------------------
# embed: compile / bind / run
# ----------------------------------------------------------------------
SCRIPT = """
a = LOAD '$in/lineitem.parquet' USING ParquetLoader();
b = FILTER a BY l_quantity > $q;
g = GROUP b ALL;
c = FOREACH g GENERATE COUNT(b) AS n;
"""


def test_compile_bind_run_single(spark):
    stats = Pig.compile(SCRIPT).bind({"in": SF_DIR, "q": 40}).run_single(spark)
    assert stats.is_successful()
    n = stats.result("c").df.collect()[0].n
    # cross-check against the DSL directly
    from pig_spark.dsl import Relation

    expect = Relation.load(spark, f"{SF_DIR}/lineitem.parquet").filter("l_quantity > 40").df.count()
    assert n == expect
    assert stats.get_number_records("c") == 1
    assert "b" in stats.aliases()


def test_bind_list_parallel_sweep(spark):
    runs = Pig.compile(SCRIPT).bind([{"in": SF_DIR, "q": 10}, {"in": SF_DIR, "q": 49}]).run(spark)
    assert len(runs) == 2 and all(r.is_successful() for r in runs)
    n10 = runs[0].result("c").df.collect()[0].n
    n49 = runs[1].result("c").df.collect()[0].n
    assert n10 > n49  # looser filter keeps more rows


def test_run_single_rejects_multi_bind(spark):
    with pytest.raises(ValueError):
        Pig.compile(SCRIPT).bind([{}, {}]).run_single(spark)


def test_failed_run_reports_unsuccessful(spark):
    stats = Pig.compile("a = LOAD '/nonexistent/nope.parquet' USING ParquetLoader();").bind().run_single(spark)
    assert not stats.is_successful()
    with pytest.raises(Exception):
        stats.result("a")


def test_convergence_loop(spark):
    """The reference's flagship embedding use-case (Pig.java javadoc):
    drive iterations from the host language until a stopping condition."""
    P = Pig.compile(
        """
        a = LOAD '$in/orders.parquet' USING ParquetLoader();
        b = FILTER a BY o_totalprice > $threshold;
        g = GROUP b ALL;
        c = FOREACH g GENERATE COUNT(b) AS n;
        """
    )
    threshold, counts = 0.0, []
    for _ in range(4):
        stats = P.bind({"in": SF_DIR, "threshold": threshold}).run_single(spark)
        assert stats.is_successful()
        counts.append(stats.result("c").df.collect()[0].n)
        if counts[-1] < 100:
            break
        threshold = threshold * 2 if threshold else 50000.0
    assert counts == sorted(counts, reverse=True)
    assert len(counts) >= 2


# ----------------------------------------------------------------------
# pigunit: PigTest with mocked aliases
# ----------------------------------------------------------------------
def test_pigunit_mock_and_assert(spark):
    t = PigTest(
        spark,
        """
        data = LOAD 'input' USING PigStorage() AS (query:chararray, count:int);
        top  = ORDER data BY count DESC;
        """,
    )
    t.mock_alias("data", [("yahoo", 25), ("google", 15), ("bing", 5)], "query:chararray, count:int")
    t.assert_output("top", ["(yahoo,25)", "(google,15)", "(bing,5)"], sort=False)
    # unordered compare
    t.assert_output("data", ["(bing,5)", "(google,15)", "(yahoo,25)"])


def test_pigunit_assert_mismatch_raises(spark):
    t = PigTest(spark, "data = LOAD 'x' AS (a:int);")
    t.mock_alias("data", [(1,), (2,)], "a:int")
    with pytest.raises(PigAssertionError):
        t.assert_output("data", ["(1)", "(3)"])


def test_pigunit_override_statement(spark):
    t = PigTest(
        spark,
        """
        data = LOAD 'input' AS (a:int);
        out  = FILTER data BY a > 100;
        """,
    )
    t.mock_alias("data", [(1,), (150,), (200,)], "a:int")
    t.override("out", "out = FILTER data BY a > 160;")
    t.assert_output("out", ["(200)"])


def test_pigunit_params(spark):
    t = PigTest(spark, "out = FILTER data BY a > $cut;", args=["cut=5"])
    t.mock_alias("data", [(1,), (6,)], "a:int")
    t.assert_output("out", ["(6)"])


@pytest.mark.parametrize(
    "schema, rows, expected, dtypes",
    [
        # bytearray holds text, as at LOAD
        ("a:bytearray, n:int", [("x", 1)], ["(x,1)"], [("a", "string"), ("n", "int")]),
        ("t:tuple(x:int,y:int)", [((1, 2),)], ["((1,2))"], [("t", "struct<x:int,y:int>")]),
        ("b:bag{(x:int)}", [([(1,), (2,)],)], ["({(1),(2)})"], [("b", "array<struct<x:int>>")]),
    ],
)
def test_pigunit_mock_any_as_schema(spark, schema, rows, expected, dtypes):
    """mock_alias reads its schema as a LOAD's AS clause reads it."""
    t = PigTest(spark, "data = LOAD 'input' AS (a);")
    t.mock_alias("data", rows, schema)
    assert t.get_alias("data").df.dtypes == dtypes
    t.assert_output("data", expected)


def test_bind_no_args_harvests_caller_variables(spark):
    """Pig.java:269 bind() — no-arg bind resolves $params from the
    host-language caller's variables (getParamsFromVariables)."""
    q = 40  # noqa: F841 — harvested by bind() via the caller frame
    globals()["_embed_in_dir"] = SF_DIR
    try:
        script = SCRIPT.replace("$in", "$_embed_in_dir")
        stats = Pig.compile(script).bind().run_single(spark)
        assert stats.is_successful(), stats.error
        assert stats.result("c").df.collect()[0].n > 0
    finally:
        del globals()["_embed_in_dir"]


def test_undefined_parameter_raises(spark):
    """An unbound $param must fail like the reference preprocessor
    ("Undefined parameter : out"), never parse as a literal '$out'
    path — the silent-store-to-'$out1' bug this pins against."""
    stats = (
        Pig.compile("a = LOAD '$in/nation.parquet' USING ParquetLoader(); STORE a INTO '$out';")
        .bind({"in": SF_DIR})
        .run_single(spark)
    )
    assert not stats.is_successful()
    assert "Undefined parameter : out" in str(stats.error)


def test_explain_describe_never_write_stores(spark, tmp_path):
    """BoundScript.describe/explain/illustrate inspect the plan only —
    the reference never executes STORE targets for them."""
    out = tmp_path / "sink"
    script = (
        f"a = LOAD '{SF_DIR}/nation.parquet' USING ParquetLoader();\n"
        f"STORE a INTO '{out}' USING PigStorage();\n"
    )
    b = Pig.compile(script).bind()
    b.describe("a")
    b.explain()
    b.illustrate()
    assert not out.exists()
    # runSingle DOES write it
    stats = b.runSingle(spark)
    assert stats.is_successful() and out.exists()


def test_plan_inspection_skips_exists_check_and_dump(spark, tmp_path, capsys):
    """Plan inspection must also skip STORE's ERROR-6000 existing-
    output validation (the sink it refuses to clobber will not be
    written anyway) and never run jobs for DUMP statements — the
    reference validates/executes those only at run time
    (InputOutputFileValidator runs in the launch pipeline)."""
    out = tmp_path / "sink"
    out.mkdir()  # pre-existing output location
    script = (
        f"a = LOAD '{SF_DIR}/nation.parquet' USING ParquetLoader();\n"
        f"DUMP a;\n"
        f"STORE a INTO '{out}' USING PigStorage();\n"
    )
    b = Pig.compile(script).bind()
    b.describe("a")  # must not raise ERROR 6000, must not print rows
    assert "(0," not in capsys.readouterr().out
    # run DOES hit the validation
    stats = b.runSingle(spark)
    assert not stats.is_successful()
    assert "6000" in str(stats.error)


def test_explain_targets_terminal_sink_not_alphabetical(spark, capsys):
    """BoundScript.explain()/illustrate() explain the plan rooted at
    the script's STORE/DUMP sink (or, sink-less, the LAST-defined
    alias) — never an alphabetically-arbitrary alias. With aliases
    'z' (load) and 'a' (the result), the old sorted()[-1:] picked the
    LOAD 'z'; the reference explains the bound plan (ADVICE r6)."""
    script = (
        f"z = LOAD '{SF_DIR}/nation.parquet' USING ParquetLoader();\n"
        "a = GROUP z BY n_regionkey;\n"
        "b = FOREACH a GENERATE group, COUNT(z) AS n;\n"
        "DUMP b;\n"
    )
    b = Pig.compile(script).bind()
    b.explain()
    plan = capsys.readouterr().out
    # the DUMPed relation's plan contains the aggregate, not just scan
    assert "count" in plan.lower()
    # sink-less script: last-defined alias, again the aggregate
    b2 = Pig.compile(script.rsplit("DUMP", 1)[0]).bind()
    b2.explain()
    plan2 = capsys.readouterr().out
    assert "count" in plan2.lower()
