"""Pure scripting UDFs lowered to Catalyst expressions (pig_spark/udf_lift.py).

Every liftable shape runs twice over adversarial values — None, NaN,
±inf, −0.0, ints near the 32/64-bit and 2**53 edges, empty and
non-ASCII strings — once lifted and once with the lifter patched out
(the Python UDF), and the rows must be equal. Functions outside the
subset keep their Python UDF."""

import math

import pytest

from pig_spark import udf_lift
from pig_spark.dsl import Relation
from pig_spark.functions import registry
from pig_spark.latin import run
from pig_spark.latin.translate import _load_script_udfs

LIFTABLE = '''\
@outputSchema("band:chararray")
def band(gpa):
    if gpa is None:
        return None
    if gpa >= 3.0:
        return "high"
    if gpa >= 2.0:
        return "mid"
    return "low"

@outputSchema("b:chararray")
def elifs(d):
    """if/elif/else with `is not None` guards inside `and`."""
    if d is not None and d > 1.5:
        return "gt"
    elif d is not None and d <= -1:
        return "le"
    elif d is None or d == 0:
        return "zero-or-none"
    else:
        return "other"

@outputSchema("x:double")
def arith(d):
    if d is None:
        return None
    return d * 2.0 + 1.5 - d * 3

@outputSchema("x:double")
def neg(d):
    if d is None:
        return -1.0
    return -d

@outputSchema("x:double")
def widened(f):
    return None if f is None else f * 1.5

@outputSchema("x:double")
def passthru(d):
    return d

@outputSchema("r:chararray")
def chained(d):
    if d is None or not (0.0 <= d < 10):
        return "out"
    return "in"

@outputSchema("t:boolean")
def ne(d):
    if d is None:
        return None
    return d != 3.0

@outputSchema("t:boolean")
def is_zero(d):
    return d is not None and d == 0

@outputSchema("t:boolean")
def reversed_cmp(d):
    return d is not None and 2.0 < d

@outputSchema("n:int")
def ints(i):
    if i is None:
        return 0
    if i > 2147483000:
        return 1
    if i <= -5:
        return -1
    return 2

@outputSchema("s:chararray")
def longs(l):
    if l is None:
        return None
    if l >= 9007199254740993:
        return "past 2**53"
    if l < -4611686018427387904:
        return "very negative"
    return "small"

@outputSchema("t:boolean")
def int_vs_float(i):
    if i is not None and i > 2.5:
        return True
    return False

@outputSchema("n:long")
def long_literal(i):
    if i is None:
        return 5000000000
    return 7

@outputSchema("s:chararray")
def up(s):
    return None if s is None else s.upper()

@outputSchema("s:chararray")
def low(s):
    return None if s is None else s.lower()

@outputSchema("s:chararray")
def strs(s):
    if s is None:
        return "none"
    if s == "":
        return "empty"
    if s.lower() == "abc":
        return "abc"
    return s

@outputSchema("t:boolean")
def str_order(s):
    if s is None:
        return None
    return s < "b"

@outputSchema("s:chararray")
def flag(b):
    if b is None:
        return "null"
    if b:
        return "yes"
    return "no"

@outputSchema("s:chararray")
def pick(d, s):
    if d is None or s is None:
        return None
    if d > 1.0 and s != "":
        return s.upper()
    return s.lower()

@outputSchema("s:chararray")
def falls_off(d):
    """No return on some paths: those return None."""
    if d is not None:
        if d > 0.0:
            return "pos"

def untyped(s):
    if s is None:
        return "none"
    return s
'''

NOT_LIFTABLE = '''\
import math
K = 3.0

@outputSchema("x:double")
def side_effect(d):
    print(d)
    return d

@outputSchema("n:int")
def loop(s):
    if s is None:
        return 0
    for c in s:
        return 1
    return 0

@outputSchema("x:double")
def uses_global(d):
    if d is None:
        return None
    return d * K

@outputSchema("x:double")
def imports(d):
    import math
    return d

@outputSchema("n:int")
def int_plus(i):
    return None if i is None else i + 1

@outputSchema("x:double")
def divides(d):
    return None if d is None else d / 2.0

@outputSchema("s:chararray")
def unguarded(d):
    if d >= 3.0:
        return "high"
    return "low"

@outputSchema("s:chararray")
def truthy(s):
    return "y" if s else "n"

@outputSchema("x:double")
def int_into_double(d):
    if d is None:
        return 0
    return d

@outputSchema("s:chararray")
def upper_of_none(s):
    return s.upper()

@outputSchema("t:boolean")
def long_vs_float(l):
    return l is not None and l > 2.5

@outputSchema("t:boolean")
def float_vs_big_int(d):
    return d is not None and d > 9007199254740993

@outputSchema("x:double")
def calls_builtin(d):
    return None if d is None else abs(d)

def concat(s):
    return None if s is None else s + "!"
'''

_D = [None, math.nan, math.inf, -math.inf, -0.0, 0.0, 3.0, 2.0, 2.5, -1.0, 1e308, 5e-324, 1.5]
_F = [None, math.nan, math.inf, -0.0, 0.1, 3.0]
_I = [None, 2147483647, -2147483648, 2147483000, 2147483001, -5, -4, 0, 3, 2]
_L = [None, 2**63 - 1, -(2**63), 2**53, 2**53 + 1, -(2**62) - 1, 0, 7]
_S = [None, "", "abc", "ABC", "aBc", "b", "a", "ß", "ΑΣ Σ", "İstanbul", "ǅ", "ﬁ", "ὒ", "Ꭰ", "straße"]
_B = [None, True, False]


@pytest.fixture(scope="module")
def frame(spark):
    n = max(map(len, (_D, _F, _I, _L, _S, _B))) * 3
    rows = [
        (k, _D[k % len(_D)], _F[k % len(_F)], _I[k % len(_I)], _L[k % len(_L)], _S[k % len(_S)], _B[k % len(_B)])
        for k in range(n)
    ]
    return spark.createDataFrame(rows, "k int, d double, f float, i int, l bigint, s string, b boolean")


def _udfs(tmp_path, source, name):
    path = tmp_path / name
    path.write_text(source)
    return _load_script_udfs(str(path), "streaming_python")


def _apply(frame, udf, args):
    call = registry.Call([registry.Arg(frame[a]) for a in args], Relation(frame))
    return frame.select("k", udf.lower(call).alias("r"))


def _runs_python(df) -> bool:
    """Whether the optimized plan calls Python (the optimizer has moved
    each Python UDF into an ``ArrowEvalPython``/``BatchEvalPython``)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "EvalPython" in plan or "PythonUDF" in plan


def _key(v):
    # NaN != NaN; compare by repr so a NaN result must match a NaN
    return repr(v) if isinstance(v, float) else v


CASES = {
    "band": ["d"], "elifs": ["d"], "arith": ["d"], "neg": ["d"], "widened": ["f"],
    "passthru": ["d"], "chained": ["d"], "ne": ["d"], "is_zero": ["d"], "reversed_cmp": ["d"],
    "ints": ["i"], "longs": ["l"], "int_vs_float": ["i"], "long_literal": ["i"], "up": ["s"],
    "low": ["s"], "strs": ["s"], "str_order": ["s"], "flag": ["b"], "pick": ["d", "s"],
    "falls_off": ["d"], "untyped": ["s"],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_lifted_equals_python(spark, frame, tmp_path, monkeypatch, name):
    """The lifted expression gives the Python UDF's rows, and its plan
    runs no Python."""
    udfs = _udfs(tmp_path, LIFTABLE, "lift.py")
    lifted = _apply(frame, udfs[name], CASES[name])
    assert not _runs_python(lifted)
    got = sorted((k, _key(v)) for k, v in lifted.collect())
    with monkeypatch.context() as m:
        m.setattr(udf_lift, "lift", lambda *a, **kw: None)
        python = _apply(frame, udfs[name], CASES[name])
        assert _runs_python(python)
        want = sorted((k, _key(v)) for k, v in python.collect())
    assert got == want
    assert lifted.schema["r"].dataType == python.schema["r"].dataType


NOT_LIFTED = {
    "side_effect": ["d"], "loop": ["s"], "uses_global": ["d"], "imports": ["d"], "int_plus": ["i"],
    "divides": ["d"], "unguarded": ["d"], "truthy": ["s"], "int_into_double": ["d"],
    "upper_of_none": ["s"], "long_vs_float": ["l"], "float_vs_big_int": ["d"], "calls_builtin": ["d"],
    "concat": ["s"],
}


@pytest.mark.parametrize("name", sorted(NOT_LIFTED))
def test_outside_the_subset_stays_python(spark, frame, tmp_path, name):
    """Side effects, loops, globals, imports, int arithmetic, ``/``,
    unguarded None comparisons, truthiness, mistyped returns and calls
    keep their Python UDF."""
    udfs = _udfs(tmp_path, NOT_LIFTABLE, "nolift.py")
    assert _runs_python(_apply(frame, udfs[name], NOT_LIFTED[name]))


def test_wrapped_function_stays_python(spark, frame, tmp_path):
    """A function another decorator wraps is not the ``def`` the lifter
    reads, nor is one with a default argument."""
    udfs = _udfs(tmp_path, (
        "import functools\n"
        "def twice(f):\n"
        "    @functools.wraps(f)\n"
        "    def g(x):\n"
        "        return f(f(x))\n"
        "    return g\n"
        "@outputSchema('x:double')\n"
        "@twice\n"
        "def neg(d):\n"
        "    return None if d is None else -d\n"
        "@outputSchema('x:double')\n"
        "def dflt(d, k=1.0):\n"
        "    return None if d is None else -d\n"
    ), "wrapped.py")
    for name in ("neg", "dflt"):
        assert _runs_python(_apply(frame, udfs[name], ["d"])), name


def test_etl_join_plan_runs_no_python(spark, tmp_path):
    """perfbench's etl_join script: ``bench.band`` is a Catalyst
    expression, so its optimized plans hold no Python UDF."""
    from perfbench.gen import UDF_SOURCE
    from perfbench.workloads import ETL_JOIN

    data, out = tmp_path / "data", tmp_path / "out"
    data.mkdir()
    (data / "bench_udfs.py").write_text(UDF_SOURCE)
    (data / "studenttab").write_text("ann\t22\t3.5\nbob\t30\t2.1\ncy\t25\tNaN\ndee\t40\t\n")
    (data / "votertab").write_text("ann\t22\tdem\t1.0\nbob\t30\trep\t2.0\ncy\t25\tind\t3.0\ndee\t40\tdem\t4.0\n")
    rels = run(spark, ETL_JOIN.format(udf=data / "bench_udfs.py", data=data, out=out))
    for alias in ("p", "agg", "o"):
        assert not _runs_python(rels[alias].df), alias
    assert sorted(rels["p"].df.select("name", "band").collect()) == [
        ("ann", "high"), ("bob", "mid"), ("cy", "low")
    ]
