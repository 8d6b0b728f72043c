"""HBaseStorage facade (sources/hbase.py): Pig's connector semantics
— column-list grammar, scan options, casters, version rule, store
layout — over the client-less cell model. Reference:
backend/hadoop/hbase/HBaseStorage.java:146."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pig_spark import sources
from pig_spark.sources.hbase import (
    load_hbase,
    parse_column_list,
    store_hbase,
)


def _write_cells(path, rows):
    tbl = pa.table(
        {
            "rowkey": [r[0] for r in rows],
            "cf": [r[1] for r in rows],
            "qual": [r[2] for r in rows],
            "value": [r[3] for r in rows],
            "ts": [r[4] for r in rows],
        },
        schema=pa.schema(
            [
                ("rowkey", pa.string()),
                ("cf", pa.string()),
                ("qual", pa.string()),
                ("value", pa.binary()),
                ("ts", pa.int64()),
            ]
        ),
    )
    pq.write_table(tbl, f"{path}/cells.parquet")


def test_column_list_grammar():
    """parseColumnList:405 + ColumnInfo:1227 — spaces and the -delim
    both split; 'cf', 'cf:', 'cf:*' are family maps; 'cf:pre*' is a
    prefix map; 'cf:q' is a scalar."""
    cols = parse_column_list("info:first_name info:last_name friends:*")
    assert [(c.family, c.qual, c.prefix, c.is_map) for c in cols] == [
        ("info", "first_name", None, False),
        ("info", "last_name", None, False),
        ("friends", None, None, True),
    ]
    cols = parse_column_list("a:x,b:pre*, c", delim=",")
    assert [(c.family, c.qual, c.prefix) for c in cols] == [
        ("a", "x", None),
        ("b", None, "pre"),
        ("c", None, None),
    ]
    with pytest.raises(ValueError):
        parse_column_list("  ")


def test_load_scalars_maps_loadkey_and_versions(spark, tmp_path):
    """The HBaseStorage.java:117 doc example shape: scalars + a family
    map + -loadKey; a second version of one cell must resolve to the
    LATEST value (scan semantics)."""
    t = str(tmp_path)
    _write_cells(
        t,
        [
            ("r1", "info", "first_name", b"ada", 1),
            ("r1", "info", "last_name", b"lovelace", 1),
            ("r1", "friends", "bob", b"1", 1),
            ("r1", "friends", "carol", b"2", 1),
            ("r2", "info", "first_name", b"alan", 1),
            ("r2", "info", "first_name", b"turing", 5),  # newer version
        ],
    )
    df = load_hbase(
        spark, t, "info:first_name info:last_name friends:*", "-loadKey true"
    ).orderBy("rowkey")
    rows = df.collect()
    assert df.columns == ["rowkey", "info_first_name", "info_last_name", "friends"]
    assert rows[0]["info_first_name"] == "ada"
    assert rows[0]["friends"] == {"bob": "1", "carol": "2"}
    assert rows[1]["info_first_name"] == "turing"  # latest ts wins
    assert rows[1]["info_last_name"] is None
    assert rows[1]["friends"] == {}


def test_rowkey_range_is_pushed_to_scan(spark, tmp_path):
    """-gt/-lt become parquet PushedFilters on rowkey — the facade's
    equivalent of the HBase range scan (initScan:436)."""
    t = str(tmp_path)
    _write_cells(t, [(f"r{i}", "f", "q", str(i).encode(), 1) for i in range(10)])
    df = load_hbase(spark, t, "f:q", "-gte r3 -lt r7 -loadKey true")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "rowkey" in plan, plan
    assert [r["rowkey"] for r in df.orderBy("rowkey").collect()] == [
        "r3", "r4", "r5", "r6",
    ]


def test_regex_limit_and_timestamps(spark, tmp_path):
    t = str(tmp_path)
    _write_cells(
        t,
        [("a1", "f", "q", b"x", 10), ("a2", "f", "q", b"y", 20), ("b1", "f", "q", b"z", 30)],
    )
    assert load_hbase(spark, t, "f:q", "-regex ^a").count() == 2
    assert load_hbase(spark, t, "f:q", "-limit 1 -loadKey").first()["rowkey"] == "a1"
    # -maxTimestamp is EXCLUSIVE (HBase setTimeRange)
    got = load_hbase(spark, t, "f:q", "-minTimestamp 10 -maxTimestamp 30 -loadKey true")
    assert sorted(r["rowkey"] for r in got.collect()) == ["a1", "a2"]
    with pytest.raises(ValueError):
        load_hbase(spark, t, "f:q", "-bogus 1")


def test_store_roundtrip_and_prefix_map(spark, tmp_path):
    """putNext: field 0 = row key, scalars one cell each, maps one
    cell per entry; a prefixed map column loads back only matching
    qualifiers; store is an append/upsert (latest version wins)."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("r1", "ada", {"bob_x": "1", "carol": "2"}), ("r2", "alan", {"bob_y": "3"})],
        "k string, name string, m map<string,string>",
    )
    store_hbase(df, t, "info:name friends:*")
    got = load_hbase(spark, t, "info:name friends:bob_*", "-loadKey true").orderBy("rowkey").collect()
    assert [r["rowkey"] for r in got] == ["r1", "r2"]
    assert got[0]["friends_bob"] == {"bob_x": "1"}  # carol pruned by prefix
    assert got[1]["info_name"] == "alan"
    # upsert: re-store r1's name — each store invocation stamps its
    # cells past the target's max ts, so the LATER put wins on load
    # (the latest-version rule, like real HBase stamping put time)
    sources.store(
        spark.createDataFrame([("r1", "ada2", {})], df.schema), t, "HBaseStorage", column_list="info:name friends:*"
    )
    again = load_hbase(spark, t, "info:name", "-loadKey true")
    assert again.count() == 2
    assert (
        again.where(F.col("rowkey") == "r1").first()["info_name"] == "ada2"
    ), "later store must win under the latest-version rule"
    with pytest.raises(ValueError):
        store_hbase(df, t, "info:name")  # arity mismatch: 3 fields, 1+1 named


def test_binary_caster_roundtrip(spark, tmp_path):
    """HBaseBinaryConverter: big-endian Bytes.toBytes ints/longs
    round-trip through store+load, including negatives (sign restored
    from the two's-complement cell bytes); strings pass through."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("r1", 42, -7, "txt"), ("r2", -(1 << 40), 2147483647, "u")],
        "k string, big bigint, small int, s string",
    )
    store_hbase(df, t, "n:big n:small n:s", "-caster HBaseBinaryConverter")
    got = (
        load_hbase(spark, t, "n:big n:small n:s", "-caster HBaseBinaryConverter -loadKey true")
        .orderBy("rowkey")
        .collect()
    )
    assert [ (r["n_big"], r["n_small"], r["n_s"]) for r in got ] == [
        ("42", "-7", "txt"),
        (str(-(1 << 40)), "2147483647", "u"),
    ]


def test_binary_caster_decodes_by_requested_type(spark, tmp_path):
    """The Java HBaseBinaryConverter decodes by the AS-clause type, not
    cell width: a 4-byte string like '2024' must survive as text when
    the requested type is chararray (the width heuristic corrupted it
    to an int); long/double/boolean decode per Bytes.toX; a width
    mismatch yields null, not garbage."""
    import struct

    t = str(tmp_path)
    _write_cells(
        t,
        [
            ("r1", "n", "s", b"2024", 1),  # 4-byte UTF-8 string
            ("r1", "n", "l", struct.pack(">q", -5), 1),
            ("r1", "n", "d", struct.pack(">d", 1.5), 1),
            ("r1", "n", "b", b"\x01", 1),
            ("r2", "n", "l", b"xyz", 1),  # wrong width for a long
        ],
    )
    got = load_hbase(
        spark,
        t,
        "n:s n:l n:d n:b",
        "-caster HBaseBinaryConverter -loadKey true",
        field_types=["chararray", "chararray", "long", "double", "boolean"],
    ).orderBy("rowkey").collect()
    assert (got[0]["n_s"], got[0]["n_l"], got[0]["n_d"], got[0]["n_b"]) == (
        "2024", "-5", "1.5", "true",
    )
    assert got[1]["n_l"] is None  # 3-byte cell cannot be a long
    # without AS types the documented width heuristic applies
    heur = load_hbase(
        spark, t, "n:s", "-caster HBaseBinaryConverter -loadKey true"
    ).orderBy("rowkey").first()
    assert heur["n_s"] == str(struct.unpack(">i", b"2024")[0])


def test_rowkey_range_slashisize_escapes(spark, tmp_path):
    r"""-gt/-lt values decode \xNN escapes (Utils.slashisize /
    Bytes.toBytesBinary) — the common HBase idiom for binary range
    boundaries like 'prefix\x00'..'prefix\x7f'. (Escapes >= 0x80 are
    REJECTED — not order-faithful under UTF-8 string comparison; see
    test_slashisize_rejects_non_ascii_escapes.)"""
    t = str(tmp_path)
    _write_cells(
        t,
        [
            ("a", "f", "q", b"1", 1),
            ("a\x00x", "f", "q", b"2", 1),
            ("a\x7fz", "f", "q", b"3", 1),
            ("b", "f", "q", b"4", 1),
        ],
    )
    got = load_hbase(spark, t, "f:q", r"-gte a\x00 -lt a\x7f -loadKey true")
    assert [r["rowkey"] for r in got.orderBy("rowkey").collect()] == ["a\x00x"]


def test_latin_load_store_hbase(spark, tmp_path):
    """Latin wiring: LOAD/STORE ... USING
    org.apache.pig.backend.hadoop.hbase.HBaseStorage(...) resolve by
    leaf name; hbase:// table names resolve under the configured
    cell-store root; AS applies Pig gradual typing to the decoded
    strings."""
    from pig_spark.latin import run

    root = str(tmp_path)
    spark.conf.set("spark.pig_spark.hbase.root", root)
    src = spark.createDataFrame(
        [("u1", "3", {"a": "1"}), ("u2", "4", {"b": "2"})],
        "k string, n string, m map<string,string>",
    )
    store_hbase(src, f"{root}/users", "info:n friends:*")
    out = run(
        spark,
        """
        a = LOAD 'hbase://users' USING
            org.apache.pig.backend.hadoop.hbase.HBaseStorage(
              'info:n friends:*', '-loadKey true') AS (k:chararray, n:int, m:map[]);
        b = FOREACH a GENERATE k, n + 1 AS n1;
        c = ORDER b BY k;
        """,
    )["c"].df.collect()
    assert [(r["k"], r["n1"]) for r in out] == [("u1", 4), ("u2", 5)]
    # STORE side through Latin
    run(
        spark,
        """
        a = LOAD 'hbase://users' USING
            org.apache.pig.backend.hadoop.hbase.HBaseStorage('info:n', '-loadKey') AS (k:chararray, n:chararray);
        STORE a INTO 'hbase://users2' USING
            org.apache.pig.backend.hadoop.hbase.HBaseStorage('copy:n');
        """,
    )
    back = load_hbase(spark, f"{root}/users2", "copy:n", "-loadKey true")
    assert sorted((r["rowkey"], r["copy_n"]) for r in back.collect()) == [
        ("u1", "3"), ("u2", "4"),
    ]


def test_slashisize_rejects_non_ascii_escapes():
    r"""r10 ADVICE: \xNN escapes >= 0x80 decode to a codepoint whose
    UTF-8 encoding is TWO bytes, which sorts differently from the raw
    byte Bytes.toBytesBinary produces — such a range bound would
    silently scan a different range. The facade rejects them with a
    clear error; sub-0x80 escapes stay order-faithful."""
    import pytest

    from pig_spark.sources.hbase import slashisize

    assert slashisize(r"row\x00") == "row\x00"
    assert slashisize(r"row\x7f") == "row\x7f"
    with pytest.raises(ValueError, match="order-faithful"):
        slashisize(r"row\xff")
    with pytest.raises(ValueError, match="order-faithful"):
        slashisize(r"row\x80")
