"""The reference e2e test-UDF jar, engine-side
(pig_spark/functions/testudf.py + the Latin protocols it rides:
ctor-arg DEFINE binding, aggregate-position bag UDFs over ordered
pipes, known-comparator ORDER USING, stream serdes, DumpLoader/
StringStore, REGISTER existence). Reference:
test/e2e/pig/udfs/java/org/apache/pig/test/udf/."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pig_spark.latin import run


@pytest.fixture()
def student(tmp_path):
    p = str(tmp_path / "s")
    with open(p, "w") as fh:
        fh.write("alice\t20\t3.5\nbob\t20\t2.5\ncarol\t30\t1.5\n")
    return p


def test_all_first_letter_over_ordered_pipe(spark, student):
    """AllFirstLetter concatenates field-0 first letters in BAG ORDER
    — the nested-ORDER pipe feeds it sorted (asc and desc)."""
    out = run(spark, f"""
        a = load '{student}' as (name, age, gpa);
        b = group a by age;
        c = foreach b {{
            d = order a by name;
            e = order a by name desc;
            generate group,
                     org.apache.pig.test.udf.evalfunc.AllFirstLetter(d),
                     org.apache.pig.test.udf.evalfunc.AllFirstLetter(e.name);
        }};
    """)["c"].df.collect()
    got = {r[0]: (r[1], r[2]) for r in out}
    assert got == {"20": ("ab", "ba"), "30": ("c", "c")}


def test_ctor_define_binding_and_accumulators(spark, student, tmp_path):
    """DEFINE alias Cls('arg') binds constructor strings at define
    time (the entry's constructor): Udfcachetest ships a file's first line,
    TestingAccumulatorHelper counts accumulate() calls."""
    cache = str(tmp_path / "cache")
    open(cache, "w").write("first line wins\nsecond\n")
    out = run(spark, f"""
        define udfdc org.apache.pig.test.udf.evalfunc.Udfcachetest('{cache}#foodle');
        DEFINE YesAccumulate org.apache.pig.TestingAccumulatorHelper('false');
        a = load '{student}' as (name, age, gpa);
        b = foreach (group a all) generate COUNT(a) as ct,
            org.apache.pig.test.udf.evalfunc.NonAlgNonAccCount(a) as ct2,
            YesAccumulate(a) as acc,
            org.apache.pig.test.udf.evalfunc.IteratingAccumulatorSum(a.age) as s;
        c = foreach b generate ct, ct2, acc, s;
        d = load '{student}' as (name, age, gpa);
        e = limit d 1;
        f = foreach e generate udfdc(age);
    """)
    r = out["c"].df.first()
    assert (r["ct"], r["ct2"], r["acc"], r["s"]) == (3, 3, 3, 70.0)
    assert out["f"].df.first()[0] == "first line wins"


def test_monitored_udf_timeout_yields_default(spark, student):
    """BadMonitored sleeps past the timeout → the monitored default
    (null) through the engine's real MonitoredUDFExecutor machinery;
    GoodMonitored returns instantly."""
    out = run(spark, f"""
        define bad org.apache.pig.test.udf.evalfunc.BadMonitored();
        define gm org.apache.pig.test.udf.evalfunc.GoodMonitored();
        a = load '{student}' as (name, age, gpa);
        b = limit a 1;
        c = foreach b generate bad(name), gm(name);
    """)["c"].df.first()
    assert out[0] is None and out[1] == "fred"


def test_order_using_known_comparator_reverses(spark, student):
    """ORDER ... USING OrdDesc (compare = t2.compareTo(t1)) rewrites
    every sort key to descending — outer and nested."""
    rows = run(spark, f"""
        a = load '{student}';
        c = order a by $0, $1 using org.apache.pig.test.udf.orderby.OrdDesc;
    """)["c"].df.collect()
    assert [r[0] for r in rows] == ["carol", "bob", "alice"]
    nested = run(spark, f"""
        a = load '{student}';
        b = group a by $1;
        c = foreach b {{
            c1 = order $1 by $0 using org.apache.pig.test.udf.orderby.OrdDesc;
            generate flatten(c1);
        }};
    """)["c"].df.collect()
    twenty = [r[0] for r in nested if r[1] == "20"]
    assert twenty == ["bob", "alice"]


def test_stream_serdes_roundtrip(spark, student):
    """StreamingDump (PigToStream: '(f1,f2)' lines) into the command,
    DumpStreamer (StreamToPig: paren-strip + split) out of it."""
    out = run(spark, f"""
        define CMD `cat` input(stdin using org.apache.pig.test.udf.streaming.StreamingDump)
                         output(stdout using org.apache.pig.test.udf.streaming.DumpStreamer);
        A = load '{student}';
        B = stream A through CMD as (name, age, gpa);
    """)["B"].df.collect()
    assert sorted((r["name"], r["age"]) for r in out) == [
        ("alice", "20"), ("bob", "20"), ("carol", "30"),
    ]
    # side mismatch is a clear error
    with pytest.raises(NameError, match="wrong side"):
        run(spark, f"""
            define CMD `cat` input(stdin using org.apache.pig.test.udf.streaming.DumpStreamer);
            A = load '{student}';
            B = stream A through CMD;
        """)


def test_dump_loader_and_string_store(spark, student, tmp_path):
    """StringStore writes tuple.toString() lines; DumpLoader parses
    '(f1, f2 )' lines back (the Java strips char 0 and the last two)."""
    o1, o2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    run(spark, f"""
        a = load '{student}' as (name, age, gpa);
        b = foreach a generate CONCAT('(', name), CONCAT((chararray)age, ' )');
        store b into '{o1}' using PigStorage(',');
        c = load '{o1}' using DumpLoader();
        store c into '{o2}' using org.apache.pig.test.udf.storefunc.StringStore();
    """)
    lines = sorted(
        ln
        for f in os.listdir(o2) if f.startswith("part")
        for ln in open(os.path.join(o2, f)).read().splitlines()
    )
    assert lines == ["(alice,20)", "(bob,20)", "(carol,30)"]


def test_register_missing_jar_raises_error_101(spark):
    """QueryParserDriver.registerJar parity: a missing jar raises
    (negative.conf 'register bla.jar'); engine-side bundles
    (piggybank/testudf/datafu) register fine without the file."""
    with pytest.raises(ValueError, match="does not exist"):
        run(spark, "register bla.jar")
    run(spark, "register piggybank.jar;")  # engine-side bundle: no-op
    run(spark, "register /anywhere/testudf.jar")  # no trailing ';' either


def test_flatten_as_arity_is_advisory(spark, student):
    """Pig's FLATTEN AS schema is advisory — runtime arity wins: a
    1-name AS over a 2-column splat keeps generated names (warns),
    and an identity flatten of a scalar stays in place."""
    with pytest.warns(UserWarning, match="runtime arity wins"):
        out = run(spark, f"""
            a = load '{student}' as (name, age, gpa);
            b = foreach a generate flatten(name) as n,
                flatten(org.apache.pig.test.udf.evalfunc.CreateTupleBag(age, gpa)) as foo;
        """)["b"].df
    assert len(out.columns) == 3 and out.columns[0] == "n"
    assert out.count() == 6  # 3 rows × 2-tuple bag


def test_swap_createmap_testboolean(spark, student):
    out = run(spark, f"""
        a = load '{student}' as (name, age, gpa);
        b = limit a 1;
        c = foreach b generate org.apache.pig.test.udf.evalfunc.Swap(name, age) as sw,
            org.apache.pig.test.udf.evalfunc.CreateMap((chararray)name, age) as m,
            org.apache.pig.test.udf.evalfunc.TestBoolean(null) as t1;
    """)["c"].df.first()
    assert tuple(out["sw"]) == ("20", "alice")
    assert out["m"] == {"alice": "20"}
    assert out["t1"] == ""


def test_dump_loader_ragged_arity_max_over_file(spark, tmp_path):
    """r10 ADVICE: DumpLoader's arity must come from the WHOLE file
    (the reference appends fields per row), not the first row — a
    later row with more fields was silently truncated. Rows shorter
    than the max pad with nulls (documented divergence: the reference
    emits a shorter tuple; a DataFrame needs one arity)."""
    src = tmp_path / "ragged"
    src.mkdir()
    (src / "part-0").write_text("(a, b )\n(c, d, e )\n(f )\n")
    out = str(tmp_path / "out")
    run(spark, f"""
        c = load '{src}' using DumpLoader();
        store c into '{out}' using PigStorage(',');
    """)
    lines = sorted(
        ln
        for f in os.listdir(out) if f.startswith("part")
        for ln in open(os.path.join(out, f)).read().splitlines()
    )
    # 3 columns everywhere; missing trailing fields are empty (null)
    assert lines == ["a,b,", "c,d,e", "f,,"]
