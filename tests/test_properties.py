"""Property-based tests (hypothesis) for the Java-semantics shims —
random inputs checked against exact Python models of the reference
behavior (SUBSTRING.java, INDEXOF.java, LAST_INDEX_OF.java,
TOKENIZE.java, ROUND.java — Java String/Math semantics). The seeded
differential fuzz covers query shapes; this covers the scalar
functions' edge cases (empty strings, needles at boundaries,
negative halves) that random query generation rarely hits.

One Spark round-trip per property batch: hypothesis generates the
corpus, a single createDataFrame + collect evaluates every example.
"""

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pig_spark.functions import INDEXOF, LAST_INDEX_OF, ROUND, SUBSTRING, TOKENIZE

# printable-ish text incl. the TOKENIZE delimiters
_text = st.text(alphabet=st.sampled_from(list("abXY \",()*.-_")), max_size=12)


def _eval(spark, strings, col_fn, out_type="int"):
    """Evaluate col_fn over one string column in a single Spark job."""
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    return [r.o for r in df.select(col_fn(F.col("s")).cast(out_type).alias("o")).collect()]


@settings(max_examples=15, deadline=None)
@given(st.lists(_text, min_size=1, max_size=8), st.integers(0, 6), st.integers(0, 8))
def test_substring_java_model(spark, strings, start, length):
    """SUBSTRING(s, start, stop) == Java s.substring clamped — model:
    Python slice on [start:stop] (both engines: empty → null-safe)."""
    stop = start + length
    got = _eval(spark, strings, lambda c: SUBSTRING(c, start, stop), "string")
    for s, g in zip(strings, got):
        exp = s[start:stop] or None if start <= len(s) else None
        # Spark substring of out-of-range → '', Pig returns null; our
        # contract: empty/None both mean "no content"
        assert (g or None) == (exp or None), (s, start, stop, g, exp)


@settings(max_examples=15, deadline=None)
@given(st.lists(_text, min_size=1, max_size=8), st.sampled_from(["a", "b", "X", "ab", ",", "*"]), st.integers(0, 4))
def test_indexof_java_model(spark, strings, needle, start):
    got = _eval(spark, strings, lambda c: INDEXOF(c, needle, start))
    for s, g in zip(strings, got):
        assert g == s.find(needle, start), (s, needle, start, g)


@settings(max_examples=15, deadline=None)
@given(st.lists(_text, min_size=1, max_size=8), st.sampled_from(["a", "b", "X", "ab"]))
def test_last_index_of_java_model(spark, strings, needle):
    got = _eval(spark, strings, lambda c: LAST_INDEX_OF(c, needle))
    for s, g in zip(strings, got):
        assert g == s.rfind(needle), (s, needle, g)


@settings(max_examples=15, deadline=None)
@given(st.lists(_text, min_size=1, max_size=8))
def test_tokenize_model(spark, strings):
    """TOKENIZE splits on [ \",()*]+ and drops empties (TOKENIZE.java:45)."""
    import re

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r.o for r in df.select(TOKENIZE(F.col("s")).alias("o")).collect()]
    for s, g in zip(strings, got):
        exp = [t for t in re.split(r'[ ",()*]+', s.strip()) if t]
        assert list(g) == exp, (s, g, exp)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=10))
def test_round_java_model(spark, xs):
    """ROUND == Java Math.round == floor(x + 0.5) (differs from SQL
    HALF_UP on negative halves: Math.round(-2.5) = -2)."""
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r.o for r in df.select(ROUND(F.col("x")).alias("o")).collect()]
    for x, g in zip(xs, got):
        assert g == math.floor(x + 0.5), (x, g)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(max_size=20), min_size=1, max_size=8))
def test_hashfnv_java_model(spark, strings):
    """piggybank HashFNV == the Java FNV-1 32-bit fold (custom init
    33554467, signed-byte XOR, int wraparound) with the USER-VISIBLE
    abs() that HashFNV1/HashFNV2 — the dispatch targets real Pig
    always routes through — apply to a negative fold (r7 fix) — over
    arbitrary unicode (BMP) strings, UTF-8 encoded."""
    from pig_spark.functions.piggybank import HashFNV

    # surrogate halves can't UTF-8-encode; anything else (incl. astral
    # 4-byte code points) must hash identically to Java
    strings = [s for s in strings if all(not 0xD800 <= ord(ch) <= 0xDFFF for ch in s)]
    if not strings:
        return

    def ref(s):
        h = 33554467
        for b in s.encode("utf-8"):
            h = (h * 0x01000193) % (1 << 32)
            h ^= b if b < 0x80 else (0xFFFFFF00 | b)
            h %= 1 << 32
        v = h - (1 << 32) if h >= (1 << 31) else h
        return -v if v < 0 else v  # HashFNV1.java:41

    got = _eval(spark, strings, HashFNV, "long")
    for s, g in zip(strings, got):
        assert g == ref(s), (s, g, ref(s))


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(0, 1_700_000_000), min_size=1, max_size=6))
def test_iso_datetime_model(spark, epochs):
    """piggybank ISO convert/diff/truncate vs a Python datetime model:
    UnixToISO∘ISOToUnix round-trips epoch millis; ISODaysBetween and
    ISOToDay agree with datetime arithmetic (UTC)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from pig_spark.functions import piggybank as PB

    rows = [(e * 1000,) for e in epochs]
    df = spark.createDataFrame(rows, "ms: long")
    iso = PB.UnixToISO(F.col("ms"))
    out = df.select(
        "ms",
        PB.ISOToUnix(iso).alias("rt"),
        PB.ISOToDay(iso).alias("day"),
        PB.ISODaysBetween(iso, PB.UnixToISO(F.lit(0))).alias("db"),
    ).collect()
    for r in out:
        assert r["rt"] == r["ms"]
        d = dt.datetime.fromtimestamp(r["ms"] / 1000, dt.timezone.utc)
        midnight = d.replace(hour=0, minute=0, second=0, microsecond=0)
        assert r["day"].startswith(midnight.strftime("%Y-%m-%dT00:00:00")), (r, midnight)
        assert r["db"] == int(r["ms"] // 1000) // 86400


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=1, max_size=6),
    st.lists(st.floats(min_value=-50, max_value=50, allow_nan=False), min_size=1, max_size=3, unique=True),
)
def test_bin_decode_model(spark, xs, bounds):
    """piggybank Bin/Decode vs a Python model of the Java exec loops:
    Bin returns the first label whose bound >= x (last label = catch-
    all); Decode matches keys in order with the trailing default."""
    from pig_spark.functions.piggybank import Bin, Decode

    bounds = sorted(bounds)
    args: list = []
    for i, b in enumerate(bounds):
        args += [f"L{i}", b]
    args.append("Lz")

    def bin_ref(x):
        for i, b in enumerate(bounds):
            if x <= b:
                return f"L{i}"
        return "Lz"

    df = spark.createDataFrame([(x,) for x in xs], "x: double")
    got = [r["o"] for r in df.select(Bin(F.col("x"), *args).alias("o")).collect()]
    assert got == [bin_ref(x) for x in xs]

    keys = [f"k{int(abs(x)) % 3}" for x in xs]
    dfk = spark.createDataFrame([(k,) for k in keys], "k: string")
    gd = [r["o"] for r in dfk.select(Decode(F.col("k"), "k0", "zero", "k1", "one", "?").alias("o")).collect()]
    want = [{"k0": "zero", "k1": "one"}.get(k, "?") for k in keys]
    assert gd == want


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(alphabet=st.sampled_from(list("abk= 123xv")), max_size=24), min_size=1, max_size=8))
def test_regex_groups_python_model(spark, lines):
    """sources.regex_groups == Python re.search on the same pattern:
    first-match-only capture groups, line by line (patterns restricted
    to the Java/RE2/Python-common subset)."""
    import re

    from pig_spark.sources import regex_groups

    pattern = r"k=(\w+) v=(\d+)"
    df = spark.createDataFrame([(s,) for s in lines], "value: string")
    out = df.filter(F.col("value").rlike(pattern)).select(
        "value", regex_groups(F.col("value"), pattern, 2).alias("g")
    )
    got = {r["value"]: tuple(r["g"]) for r in out.collect()}
    for s in lines:
        m = re.search(pattern, s)
        if m:
            assert got.get(s) == m.groups(), (s, got.get(s), m.groups())
        else:
            assert s not in got or True  # duplicates: only matched lines appear


_SCALARS = ["int", "long", "float", "double", "chararray", "boolean", "bytearray"]


@given(
    types=st.lists(st.sampled_from(_SCALARS), min_size=1, max_size=5),
    bag=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_pig_type_ddl_is_valid_spark_ddl(spark, types, bag):
    """pigtypes.ddl (complex-type CASTS) must emit a string Spark's
    DDL parser accepts for every combination of scalar types nested in
    tuple()/bag{} — a malformed DDL would surface as an opaque
    try_cast analysis error mid-script."""
    from pyspark.sql.types import _parse_datatype_string

    from pig_spark.pigtypes import ddl as pig_ddl

    inner = "tuple(" + ", ".join(types) + ")"
    t = "bag{" + inner + "}" if bag else inner
    ddl = pig_ddl(t)
    parsed = _parse_datatype_string(ddl)  # raises on malformed DDL
    s = parsed.simpleString()
    assert (s.startswith("array<struct<") if bag else s.startswith("struct<"))
    assert s.count(",") >= len(types) - 1


_ALL_SCALARS = _SCALARS + ["datetime", "biginteger", "bigdecimal"]
# field names that are not Pig type keywords
_FIELD_NAMES = st.sampled_from(["a", "b1", "name", "x_y", "grp"])


def _pig_type_text():
    """Pig type text: every scalar, and tuples (both spellings), bags
    (every spelling) and maps nested in each other, with named fields,
    bare types and bare names."""

    def complex_of(inner):
        field = st.one_of(
            st.tuples(_FIELD_NAMES, inner).map(lambda p: f"{p[0]}:{p[1]}"),
            inner,
            _FIELD_NAMES,
        )
        body = st.lists(field, max_size=3).map(", ".join)
        paren = body.map(lambda b: f"({b})")
        tup = st.one_of(paren, body.map(lambda b: f"tuple({b})"))
        bag = st.one_of(
            paren.map(lambda t: "bag{t:" + t + "}"),
            body.map(lambda b: "bag{t:tuple(" + b + ")}"),
            tup.map(lambda t: "bag{" + t + "}"),
            paren.map(lambda t: "{" + t + "}"),
            st.just("bag{}"),
        )
        mp = st.one_of(st.just("map[]"), st.just("[]"), inner.map(lambda t: f"map[{t}]"))
        return st.one_of(tup, bag, mp)

    return st.recursive(st.sampled_from(_ALL_SCALARS), complex_of, max_leaves=8)


@given(text=_pig_type_text())
@settings(max_examples=300, deadline=None)
def test_pig_type_text_round_trips_through_the_printer(text):
    """What DESCRIBE prints of a parsed type parses back to the same
    type: parse(print(parse(p))) == parse(p)."""
    from pig_spark.pigtypes import parse, pig_type_name

    t = parse(text)
    assert parse(pig_type_name(t)) == t, (text, pig_type_name(t))


@given(picks=st.lists(st.sampled_from(_SCALARS + ["null"]), min_size=1, max_size=6))
@settings(max_examples=80, deadline=None)
def test_common_type_is_total_and_widening(picks):
    """registry._common_type (r6 — TOBAG element unification): always returns a
    concrete Spark type; identical inputs return themselves; numeric
    mixes widen (never narrow); anything else degrades to string —
    TOBAG.java's merged-or-bytearray output schema."""
    from pyspark.sql import types as T

    from pig_spark.functions.registry import _common_type

    m = {
        "int": T.IntegerType(), "long": T.LongType(), "float": T.FloatType(),
        "double": T.DoubleType(), "chararray": T.StringType(),
        "boolean": T.BooleanType(), "bytearray": T.BinaryType(),
        "null": None,
    }
    ts = [m[p] for p in picks]
    out = _common_type(ts)
    assert out is not None and not isinstance(out, T.NullType)
    nn = [t for t in ts if t is not None]
    if not nn:
        assert isinstance(out, T.StringType)
        return
    if all(t.simpleString() == nn[0].simpleString() for t in nn):
        assert out.simpleString() == nn[0].simpleString()
        return
    rank = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3, "float": 4, "double": 5}
    if all(t.simpleString() in rank for t in nn):
        assert rank[out.simpleString()] == max(rank[t.simpleString()] for t in nn)
    else:
        assert isinstance(out, T.StringType)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="abcde ", max_size=40), min_size=1, max_size=6))
def test_term_counts_python_model(spark, texts):
    """text.term_counts == collections.Counter over whitespace tokens,
    for arbitrary small alphabets (run-length boundaries, repeated
    runs, empty docs)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from pig_spark.functions.text import term_counts, tokenize_ws

    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = df.select(term_counts(tokenize_ws(F.col("t"))).alias("c")).collect()
    for text, row in zip(texts, got):
        expect = Counter(text.split())
        assert {r.term: r.cnt for r in row.c} == dict(expect), (text, row.c)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="xyz1 ", max_size=30), min_size=1, max_size=6))
def test_hashed_linear_score_python_model(spark, texts):
    """text.hashed_linear_score == the exact Python model (md5 bucket,
    Knuth mix, 2^-12 weights, unigram+bigram features, in-order mean)
    — EXACT double equality, the power-of-two-table claim."""
    import hashlib

    from pyspark.sql import functions as F

    from pig_spark.functions import text as T

    def model(s):
        toks = s.split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if not feats:
            return None
        total = 0.0
        for f_ in feats:
            b = int(hashlib.md5(f_.encode()).hexdigest()[:15], 16) % T.HASH_DIM
            total += ((b * T.HASH_MIX) % T.HASH_DIM) / float(T.HASH_DIM) - 0.5
        return total / len(feats)

    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = df.select(T.hashed_linear_score(T.tokenize_ws(F.col("t"))).alias("s")).collect()
    for text, row in zip(texts, got):
        assert row.s == model(text), (text, row.s, model(text))


# URL-component strategies for the canonical_url battery: scheme/host
# case noise, optional www./default ports, path with trailing-slash
# noise, shuffled query params with tracking contaminants, fragments
_scheme = st.sampled_from(["http", "HTTP", "https", "HTTPS", "hTtPs"])
_host = st.builds(
    lambda www, base, port: f"{'WWW.' if www else ''}{base}{port}",
    st.booleans(),
    st.sampled_from(["Example.COM", "sub.Example.org", "EX.net"]),
    st.sampled_from(["", ":80", ":443", ":8080"]),
)
_path = st.builds(
    lambda segs, slashes: "/" + "/".join(segs) + "/" * slashes if segs else "/" * slashes,
    st.lists(st.sampled_from(["a", "B", "p7", "x_y"]), max_size=3),
    st.integers(0, 2),
)
_param = st.sampled_from(
    ["id=7", "q=spark", "a=1", "b=2", "utm_source=x", "utm_campaign=y", "fbclid=z", "gclid=g", "ref=r"]
)
_frag = st.sampled_from(["", "#frag", "#x/y?z"])


@settings(max_examples=20, deadline=None)
@given(_scheme, _host, _path, st.lists(_param, max_size=5, unique=True), _frag)
def test_canonical_url_idempotent_and_invariant(spark, scheme, host, path, params, frag):
    """canonical_url properties over randomized URL surface noise:
    (1) IDEMPOTENT — canonical_url(canonical_url(u)) == canonical_url(u)
        (a canonical form re-canonicalizes to itself);
    (2) PARAM-ORDER INVARIANT — any permutation of the query params
        canonicalizes identically;
    (3) tracking params and fragments never survive."""
    from pig_spark.functions.text import canonical_url

    q1 = "?" + "&".join(params) if params else ""
    q2 = "?" + "&".join(reversed(params)) if params else ""
    u1 = f"{scheme}://{host}{path}{q1}{frag}"
    u2 = f"{scheme}://{host}{path}{q2}{frag}"
    df = spark.createDataFrame([(u1, u2)], "a string, b string")
    row = df.select(
        canonical_url(F.col("a")).alias("ca"),
        canonical_url(F.col("b")).alias("cb"),
        canonical_url(canonical_url(F.col("a"))).alias("caa"),
    ).collect()[0]
    assert row.ca == row.caa, (u1, row.ca, row.caa)  # idempotent
    assert row.ca == row.cb, (u1, u2, row.ca, row.cb)  # order-invariant
    assert "#" not in row.ca
    for bad in ("utm_", "fbclid=", "gclid=", "ref="):
        assert bad not in row.ca


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet=st.sampled_from(list("abcdefg xyz09")), min_size=1, max_size=8),
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=1,
        max_size=40,
    ),
    st.lists(st.text(alphabet=st.sampled_from(list("abcdefg xyz09")), min_size=1, max_size=8), max_size=10),
)
def test_bucketed_map_probe_roundtrip(spark, table, probes):
    """fold_bucketed_map/bucketed_probe (the r8 two-level broadcast
    map behind q121/q124/q126/q130): probing the folded map returns
    the table's value for EVERY present key and null for absent keys —
    i.e. bucketing is invisible to the consumer, exactly
    try_element_at on a flat map."""
    from pig_spark.functions.text import bucketed_probe, fold_bucketed_map

    tdf = spark.createDataFrame(list(table.items()), "k string, v double")
    folded = fold_bucketed_map(tdf, "k", "v", "__m")
    keys = list(table) + [p for p in probes if p not in table]
    kdf = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r.k: r.o
        for r in kdf.crossJoin(F.broadcast(folded))
        .select("k", bucketed_probe(F.col("__m"), F.col("k")).alias("o"))
        .collect()
    }
    for k in keys:
        if k in table:
            assert got[k] == table[k], (k, got[k], table[k])
        else:
            assert got[k] is None, (k, got[k])


@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 9), st.sampled_from(["a", "b", "c", "d"])),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=25, deadline=None)
def test_first_occurrence_equals_window_model(spark, rows):
    """dedup.first_occurrence(df, key, order) is EXACTLY the
    row_number-over-window formulation it replaced (VERDICT r8 #1) on
    arbitrary duplicate-heavy data — including ties broken by the
    remaining payload fields and multi-row hot keys."""
    from pyspark.sql.window import Window

    from pig_spark.functions.dedup import first_occurrence

    df = spark.createDataFrame(
        [(a, b, k) for a, b, k in rows], "doc_id int, pos int, para string"
    ).distinct()  # (doc_id,pos) need not be unique in raw draws; dedupe rows
    got = sorted(
        map(tuple, first_occurrence(df, F.md5("para"), ["doc_id", "pos"]).collect())
    )
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "pos", "para")
    want = sorted(
        map(
            tuple,
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
            .collect(),
        )
    )
    assert got == want
