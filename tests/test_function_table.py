"""The function table (``pig_spark/functions/registry.py``): every
Latin call, DEFINE and REGISTER resolves through one entry.

- Every public function of ``pig_spark.functions`` resolves, under each
  spelling a script may use, to the function the name lookup over the
  package gave before the table existed; modules, classes and
  constants there resolve to nothing.
- A nested bag pipe resolves the names a top-level FOREACH does.
- DEFINE binds constructor arguments only where the entry declares a
  constructor.
"""

from __future__ import annotations

import types

import pytest

from pig_spark import functions as PF
from pig_spark.functions import registry
from pig_spark.latin import run

_PUBLIC = [n for n in dir(PF) if not n.startswith("_")]


def _is_function(obj) -> bool:
    return callable(obj) and not isinstance(obj, (type, types.ModuleType))


def _package_lookup(name: str):
    """The name lookup over ``pig_spark.functions`` the translator made
    before the table: a bare name as spelled or upper-cased; a class
    path's leaf as spelled, upper-cased, then in any case."""
    leaf = name.rsplit(".", 1)[-1] if name.count(".") >= 2 else name
    found = getattr(PF, leaf, None) or getattr(PF, leaf.upper(), None)
    if found is None and leaf != name:
        match = next((n for n in _PUBLIC if n.lower() == leaf.lower()), None)
        found = getattr(PF, match) if match else None
    return found


def _spellings(name: str) -> list[str]:
    return [name, name.upper(), f"org.apache.pig.builtin.{name}", f"org.apache.pig.builtin.{name.lower()}"]


def test_every_public_function_resolves_as_before():
    checked = 0
    for name in _PUBLIC:
        if not _is_function(getattr(PF, name)):
            continue
        for spelling in _spellings(name):
            before = _package_lookup(spelling)
            if not _is_function(before):
                continue
            assert registry.resolve(spelling).fn is before, spelling
            checked += 1
    assert checked > 4 * 150


def test_modules_classes_and_constants_do_not_resolve():
    others = [n for n in _PUBLIC if not _is_function(getattr(PF, n))]
    assert {"re", "F", "Column", "DataFrame", "SEARCH_ENGINES", "STREAM_SERDES", "annotations"} <= set(others)
    for name in others:
        with pytest.raises(NameError, match="unknown function"):
            registry.resolve(name)
        assert registry.find(name) is None
    # suggestions come from the table, never from a module's name
    with pytest.raises(NameError) as ei:
        registry.resolve("similarit")
    assert "similarity" not in str(ei.value)
    with pytest.raises(NameError, match="did you mean 'UPPER'"):
        registry.resolve("UPPR")


@pytest.fixture()
def text(tmp_path):
    p = tmp_path / "t.tsv"
    p.write_text("1\talpha\t3\n1\tbeta\t-2\n1\tgamma\t5\n2\tdelta\t7\n2\tepsilon\t-1\n2\talpha\t0\n")
    return str(p)


@pytest.mark.parametrize("name", ["re", "F", "Column", "SEARCH_ENGINES"])
def test_latin_cannot_call_a_module_class_or_constant(spark, text, name):
    with pytest.raises(NameError, match="unknown function"):
        run(spark, f"a = LOAD '{text}' AS (k:int, s:chararray, v:int); b = FOREACH a GENERATE {name}(s);")


_UDFS = '''
@outputSchema("u:chararray")
def up(s):
    if s is None:
        return None
    return s.upper()


@outputSchema("r:chararray")
def rev(s):
    return s[::-1] if s is not None else None
'''


def _nested(text, udfs, call):
    return f"""
        REGISTER '{udfs}' USING streaming_python AS m;
        DEFINE U UPPER();
        a = LOAD '{text}' AS (k:int, s:chararray, v:int);
        g = GROUP a BY k;
        r = FOREACH g {{ o = ORDER a BY s; l = LIMIT o 5; f = FILTER l BY {call} == 'ALPHA'; GENERATE group, f; }};
        t = FOREACH a GENERATE {call} AS c;
    """


def _bags(df):
    return sorted((r[0], sorted(map(tuple, r[1]))) for r in df.collect())


def test_nested_pipe_resolves_like_top_level(spark, text, tmp_path):
    """A FILTER after a LIMIT inside a nested FOREACH lowers its call
    inside a higher-order function's lambda: a DEFINE alias, a class
    path and a scripting UDF the lifter turns into a Spark expression
    give UPPER's rows there, as they do in a top-level FOREACH."""
    udfs = tmp_path / "udfs.py"
    udfs.write_text(_UDFS)
    want = run(spark, _nested(text, udfs, "UPPER(s)"))
    want_bags, want_top = _bags(want["r"].df), sorted(want["t"].df.collect())
    assert want_bags == [(1, [(1, "alpha", 3)]), (2, [(2, "alpha", 0)])]
    for call in ("U(s)", "org.apache.pig.builtin.UPPER(s)", "upper(s)", "m.up(s)"):
        got = run(spark, _nested(text, udfs, call))
        assert _bags(got["r"].df) == want_bags, call
        assert sorted(got["t"].df.collect()) == want_top, call
        plan = got["r"].df._jdf.queryExecution().optimizedPlan().toString()
        assert "EvalPython" not in plan and "PythonUDF" not in plan, plan


def test_nested_pipe_refuses_a_python_udf(spark, text, tmp_path):
    """A scripting UDF outside the lifted subset stays a Python UDF,
    which Spark cannot run inside a lambda: the nested pipe says so."""
    udfs = tmp_path / "udfs.py"
    udfs.write_text(_UDFS)
    with pytest.raises(NotImplementedError, match="higher-order function's lambda"):
        run(spark, _nested(text, udfs, "m.rev(s)"))


def test_nested_pipe_types_a_polymorphic_call(spark, text):
    """SIZE over a chararray inside a nested pipe is its length (the
    element type is probed), as at the top level."""
    rows = run(spark, f"""
        a = LOAD '{text}' AS (k:int, s:chararray, v:int);
        g = GROUP a BY k;
        r = FOREACH g {{ o = ORDER a BY s; l = LIMIT o 5; f = FILTER l BY org.apache.pig.builtin.SIZE(s) > 5; GENERATE group, f; }};
    """)["r"].df
    assert _bags(rows) == [(1, []), (2, [(2, "epsilon", -1)])]


def test_define_constructor_arguments(spark, text):
    """Only an entry with a constructor takes DEFINE arguments: UPPER
    refuses one at the statement; RANDOM takes its seed."""
    with pytest.raises(ValueError, match="could not instantiate 'UPPER'"):
        run(spark, f"DEFINE U UPPER('ignored'); a = LOAD '{text}' AS (k:int, s:chararray, v:int);")
    script = f"""
        DEFINE R RANDOM('12345');
        a = LOAD '{text}' AS (k:int, s:chararray, v:int);
        b = FOREACH a GENERATE s, R() AS x;
    """
    first, second = (sorted(run(spark, script)["b"].df.collect()) for _ in range(2))
    assert first == second and len({r["x"] for r in first}) == len(first)
    with pytest.raises(ValueError, match="could not instantiate 'RANDOM'"):
        run(spark, "DEFINE R RANDOM('1', '2');")


def test_define_of_an_unknown_class_fails_where_it_is_called(spark, text):
    """Pig resolves a DEFINE's class when the alias is used: a DEFINE
    nothing calls is harmless, a call raises the unknown-class error."""
    base = f"DEFINE X com.example.Missing('a'); a = LOAD '{text}' AS (k:int, s:chararray, v:int);"
    assert run(spark, base + "b = FOREACH a GENERATE s;")["b"].df.count() == 6
    with pytest.raises(NameError, match="Java UDF class"):
        run(spark, base + "b = FOREACH a GENERATE X(s);")
