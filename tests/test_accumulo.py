"""AccumuloStorage facade (sources/accumulo.py): Pig's connector
semantics — Column.java grammar, rowkey-always-first tuples, the
EMPTY-on-missing LITERAL rule, prefix-map keys, start/end ranges, the
URI form, and the getMutations store layout. Reference:
backend/hadoop/accumulo/AccumuloStorage.java."""

import pytest

from pig_spark import sources
from pig_spark.sources.accumulo import (
    load_accumulo,
    parse_accumulo_columns,
    store_accumulo,
)
from tests.test_hbase import _write_cells


def test_column_grammar():
    """Column.java: 'cf'/'cf:cq' literals, 'cf*' family prefix,
    'cf:'/'cf:cq*' qualifier prefix."""
    cols = parse_accumulo_columns("name,meta:size,tag*,attr:,loc:geo*")
    assert [(c.kind, c.family, c.qual) for c in cols] == [
        ("literal", "name", None),
        ("literal", "meta", "size"),
        ("colfam_prefix", "tag", None),
        ("colqual_prefix", "attr", ""),
        ("colqual_prefix", "loc", "geo"),
    ]
    with pytest.raises(ValueError):
        parse_accumulo_columns(":")


def test_load_tuple_shape_and_empty_rule(spark, tmp_path):
    """getTuple:110 — rowkey is ALWAYS field 0; a missing LITERAL
    reads as '' (EMPTY_DATA_BYTE_ARRAY), not null; prefix maps key by
    'cf' (empty qual) or 'cf:cq'."""
    t = str(tmp_path)
    _write_cells(
        t,
        [
            ("r1", "name", "", b"ada", 1),
            ("r1", "tag_a", "", b"x", 1),
            ("r1", "tag_b", "v", b"y", 1),
            ("r2", "meta", "size", b"9", 1),
        ],
    )
    df = load_accumulo(spark, t, "name,meta:size,tag*").orderBy("rowkey")
    assert df.columns == ["rowkey", "name", "meta_size", "tag"]
    rows = df.collect()
    assert rows[0]["name"] == "ada" and rows[0]["meta_size"] == ""  # EMPTY rule
    assert rows[0]["tag"] == {"tag_a": "x", "tag_b:v": "y"}  # cf / cf:cq keys
    assert rows[1]["name"] == "" and rows[1]["meta_size"] == "9"
    assert rows[1]["tag"] == {}


def test_start_end_range_and_uri(spark, tmp_path):
    """start/end are BOTH inclusive (Accumulo Range(start,end));
    accumulo://table?start=..&end=..&columns=.. carries the scan spec
    (setLocationFromUri:364) and resolves under the configured root."""
    root = str(tmp_path)
    _write_cells(root, [])
    spark.conf.set("spark.pig_spark.accumulo.root", root)
    import pathlib

    pathlib.Path(root + "/t").mkdir()
    _write_cells(root + "/t", [(f"r{i}", "f", "q", str(i).encode(), 1) for i in range(5)])
    got = load_accumulo(spark, "accumulo://t?start=r1&end=r3&columns=f:q")
    assert sorted(r["rowkey"] for r in got.collect()) == ["r1", "r2", "r3"]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "rowkey" in plan, plan


def test_store_mutations_layout(spark, tmp_path):
    """getMutations:259 — LITERAL → (cf, cq or ''); family-prefix map
    → cf = prefix+key, cq = ''; qualifier-prefix map → cq =
    prefix+key. Round-trips through the load side."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("r1", "ada", {"a": "1"}, {"x": "2"})],
        "k string, name string, tags map<string,string>, geo map<string,string>",
    )
    store_accumulo(df, t, "name,tag*,loc:geo*")
    back = load_accumulo(spark, t, "name,tag*,loc:")
    r = back.first()
    assert r["name"] == "ada"
    assert r["tag"] == {"taga": "1"}  # cf = 'tag' + mapkey, empty qual
    assert r["loc"] == {"loc:geox": "2"}  # cq = 'geo' + mapkey
    with pytest.raises(ValueError):
        store_accumulo(df, t, "name")  # arity


def test_latin_accumulo_load_store(spark, tmp_path):
    from pig_spark.latin import run

    root = str(tmp_path)
    spark.conf.set("spark.pig_spark.accumulo.root", root)
    import pathlib

    pathlib.Path(root + "/users").mkdir()
    _write_cells(root + "/users", [("u1", "info", "n", b"3", 1), ("u2", "info", "n", b"4", 1)])
    out = run(
        spark,
        """
        a = LOAD 'accumulo://users' USING
            org.apache.pig.backend.hadoop.accumulo.AccumuloStorage('info:n')
            AS (k:chararray, n:int);
        b = FOREACH a GENERATE k, n * 2 AS n2;
        STORE b INTO 'accumulo://doubled' USING
            org.apache.pig.backend.hadoop.accumulo.AccumuloStorage('out:n2');
        """,
    )
    back = load_accumulo(spark, f"{root}/doubled", "out:n2")
    assert sorted((r["rowkey"], r["out_n2"]) for r in back.collect()) == [
        ("u1", "6"), ("u2", "8"),
    ]


def test_binary_caster_alias(spark, tmp_path):
    """AccumuloBinaryConverter shares HBaseBinaryConverter's big-endian
    encoding (the Java classes do too)."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([("r1", -99)], "k string, v bigint")
    sources.store(df, t, "AccumuloStorage", columns="n:v", options="-caster AccumuloBinaryConverter")
    got = load_accumulo(spark, t, "n:v", "-caster AccumuloBinaryConverter")
    assert got.first()["n_v"] == "-99"


def test_empty_columns_loads_rowkeys_only(spark, tmp_path):
    """AccumuloStorage('') — getTuple over an empty column list yields
    just the row key; null map values never become cells on store."""
    t = str(tmp_path)
    _write_cells(t, [("r1", "f", "q", b"x", 1), ("r2", "f", "q", b"y", 1)])
    got = load_accumulo(spark, t, "")
    assert got.columns == ["rowkey"]
    assert sorted(r["rowkey"] for r in got.collect()) == ["r1", "r2"]


def test_store_upsert_later_put_wins(spark, tmp_path):
    """Each store invocation stamps cells one tick past the target's
    max ts, so a re-put resolves to the LATER value under the
    latest-version rule (real Accumulo stamps mutation time)."""
    t = str(tmp_path / "tbl")
    store_accumulo(spark.createDataFrame([("r1", "old")], "k string, v string"), t, "f:v")
    store_accumulo(spark.createDataFrame([("r1", "new")], "k string, v string"), t, "f:v")
    got = load_accumulo(spark, t, "f:v")
    assert got.count() == 1 and got.first()["f_v"] == "new"


def test_store_empty_columns_is_a_clear_error(spark, tmp_path):
    """STORE ... USING AccumuloStorage('') has nothing to mutate —
    clear ValueError, not an IndexError (load-side '' is supported)."""
    df = spark.createDataFrame([("r1",)], "k string")
    with pytest.raises(ValueError, match="at least one column"):
        store_accumulo(df, str(tmp_path / "t"), "")


def test_binary_caster_typed_decode_via_latin(spark, tmp_path):
    """AS-clause types thread into the binary caster's decode: a
    4-byte string cell survives as chararray (the width heuristic
    would corrupt it to an int)."""
    from pig_spark.latin import run

    root = str(tmp_path)
    spark.conf.set("spark.pig_spark.accumulo.root", root)
    import pathlib

    pathlib.Path(root + "/t4").mkdir()
    _write_cells(root + "/t4", [("r1", "n", "s", b"2024", 1)])
    out = run(
        spark,
        """
        a = LOAD 'accumulo://t4' USING
            org.apache.pig.backend.hadoop.accumulo.AccumuloStorage(
              'n:s', '-caster AccumuloBinaryConverter')
            AS (k:chararray, s:chararray);
        """,
    )["a"].df.first()
    assert out["s"] == "2024"
