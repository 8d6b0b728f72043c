"""Pig's storage functions through the one table (``sources/storage.py``):
Latin LOAD/STORE and the DSL's ``sources.load``/``store`` read the same
entry, so a constructor argument means the same in both, and a function
without a store (load) side is refused at the statement that names it.
"""

from __future__ import annotations

import datetime
import glob
import os
from decimal import Decimal

import pytest

from pig_spark.latin import run
from pig_spark.sources import load, storage, store


def _text(path) -> bytes:
    return b"".join(open(f, "rb").read() for f in sorted(glob.glob(f"{path}/part-*")))


# every entry over a Spark source with both sides (Spark's avro source
# is an external package, absent from this engine's Spark)
ROUND_TRIP = sorted(
    k for k, f in storage.FUNCS.items() if f.format not in (None, "avro") and f.load and f.store
)


@pytest.mark.parametrize("name", ROUND_TRIP)
def test_latin_store_then_load_every_function(spark, tmp_path, name):
    """STORE … USING F() then, after an exec boundary, LOAD … USING
    F() gives the rows back (JsonLoader and BinStorage included)."""
    src = tmp_path / "in.tsv"
    src.write_text("1\tx\n2\t\n3\ty\n")
    out = tmp_path / "out"
    rels = run(spark, f"""
        a = LOAD '{src}' AS (k:int, s:chararray);
        STORE a INTO '{out}' USING {name}();
        exec;
        b = LOAD '{out}' USING {name}() AS (k:int, s:chararray);
    """)
    got = sorted(tuple(r) for r in rels["b"].df.collect())
    assert got in ([(1, "x"), (2, None), (3, "y")], [(1, "x"), (2, ""), (3, "y")])


def test_csv_excel_storage_load_and_store_with_delimiter(spark, tmp_path):
    """CSVExcelStorage(';'): the delimiter is its first argument on LOAD
    and on STORE, a field holding it is quoted, and a quote inside a
    field doubles (the Excel dialect)."""
    src = tmp_path / "in.csv"
    src.write_text('1;"a;b";"say ""hi"""\n2;c;\n')
    out = tmp_path / "out"
    rels = run(spark, f"""
        a = LOAD '{src}' USING org.apache.pig.piggybank.storage.CSVExcelStorage(';')
            AS (k:int, s:chararray, t:chararray);
        STORE a INTO '{out}' USING org.apache.pig.piggybank.storage.CSVExcelStorage(';');
    """)
    assert sorted(tuple(r) for r in rels["a"].df.collect()) == [(1, "a;b", 'say "hi"'), (2, "c", None)]
    assert sorted(_text(out).decode().splitlines()) == ['1;"a;b";"say ""hi"""', "2;c;"]


def test_csv_excel_storage_header_arguments(spark, tmp_path):
    """CSVExcelStorage's fourth argument: SKIP_INPUT_HEADER drops the
    header line on LOAD, WRITE_OUTPUT_HEADER writes the field names on
    STORE; the values that name what the reader and writer already do
    are accepted, any other raises at the statement."""
    src = tmp_path / "in.csv"
    src.write_text("name,age\nann,3\n")
    out = tmp_path / "out"
    csv = "org.apache.pig.piggybank.storage.CSVExcelStorage"
    rels = run(spark, f"""
        a = LOAD '{src}' USING {csv}(',', 'NO_MULTILINE', 'UNIX', 'SKIP_INPUT_HEADER') AS (name:chararray, age:int);
        STORE a INTO '{out}' USING {csv}(',', 'NO_MULTILINE', 'UNIX', 'WRITE_OUTPUT_HEADER');
        b = LOAD '{src}' USING {csv}(',', 'NO_MULTILINE', 'NOCHANGE', 'READ_INPUT_HEADER') AS (name:chararray, age:int);
    """)
    assert [tuple(r) for r in rels["a"].df.collect()] == [("ann", 3)]
    assert _text(out).decode().splitlines() == ["name,age", "ann,3"]
    assert sorted(tuple(r) for r in rels["b"].df.collect()) == [("ann", 3), ("name", None)]
    for args, what in [
        ("',', 'YES_MULTILINE'", "multi-line treatment 'YES_MULTILINE'"),
        ("',', 'NO_MULTILINE', 'MAC'", "line-end treatment 'MAC'"),
        ("',', 'NO_MULTILINE', 'UNIX', 'SKIP_HEADER'", "header treatment 'SKIP_HEADER'"),
    ]:
        with pytest.raises(ValueError, match=f"LOAD … USING CSVExcelStorage: unsupported {what}"):
            run(spark, f"a = LOAD '{src}' USING {csv}({args});")
    with pytest.raises(ValueError, match="STORE … USING CSVExcelStorage: unsupported line-end treatment 'WINDOWS'"):
        run(spark, f"a = LOAD '{src}'; STORE a INTO '{tmp_path}/w' USING {csv}(',', 'NO_MULTILINE', 'WINDOWS');")
    assert not (tmp_path / "w").exists()


def test_avro_storage_without_spark_avro_raises_at_the_statement(spark, tmp_path):
    """Spark's avro source is the external module spark-avro: without
    it on the class path, LOAD and STORE through AvroStorage, a DSL
    avro load and an AllLoader over .avro files raise at the statement,
    naming the module, instead of failing inside the write."""
    if storage.source_available(spark, "avro"):
        pytest.skip("this Spark has the spark-avro module")
    src = tmp_path / "in.tsv"
    src.write_text("a\t1\n")
    (tmp_path / "mixed").mkdir()
    (tmp_path / "mixed" / "x.avro").write_bytes(b"Obj\x01")
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="LOAD … USING AvroStorage: .*spark-avro"):
        run(spark, f"a = LOAD '{src}' USING AvroStorage();")
    with pytest.raises(ValueError, match="STORE … USING AvroStorage: .*spark-avro"):
        run(spark, f"a = LOAD '{src}' AS (s:chararray, n:int); STORE a INTO '{out}' USING AvroStorage();")
    assert not out.exists()
    with pytest.raises(ValueError, match="spark-avro"):
        load(spark, str(src), "avro")
    with pytest.raises(ValueError, match="spark-avro"):
        run(spark, f"a = LOAD '{tmp_path}/mixed' USING AllLoader();")


@pytest.mark.parametrize("storer", ["PigStorage()", "CSVExcelStorage()"])
def test_text_store_with_duplicate_field_names(spark, tmp_path, storer):
    """Two fields that share a name and a complex field: the text
    renderer reads fields by position, so the STORE does not raise
    AMBIGUOUS_REFERENCE."""
    src = tmp_path / "in.tsv"
    src.write_text("ab\t1\n")
    out = tmp_path / "out"
    run(spark, f"""
        a = LOAD '{src}' AS (s:chararray, n:int);
        b = FOREACH a GENERATE CONCAT(s, 'x'), CONCAT(s, 'y'), TOBAG(n);
        STORE b INTO '{out}' USING {storer};
    """)
    sep = "\t" if storer.startswith("Pig") else ","
    assert _text(out).decode() == sep.join(["abx", "aby", "{(1)}"]) + "\n"


@pytest.mark.parametrize("name", ["CSVExcelStorage", "CSVLoader"])
def test_csv_dialect_delimiter_in_the_dsl(spark, tmp_path, name):
    """``sep=';'`` overrides the CSV dialects' comma default; without it
    they split on commas."""
    p = tmp_path / "in.csv"
    p.write_text("1;a,b\n")
    assert [tuple(r) for r in load(spark, str(p), name, sep=";").collect()] == [("1", "a,b")]
    assert [tuple(r) for r in load(spark, str(p), name).collect()] == [("1;a", "b")]


def test_xml_loader_tag_argument(spark, tmp_path):
    """XMLLoader('row'): the first argument is the row tag."""
    (tmp_path / "data.xml").write_text(
        "<rows><row><a>1</a><b>x</b></row><skip><a>9</a></skip><row><a>2</a><b>y</b></row></rows>"
    )
    rels = run(spark, f"""
        d = LOAD '{tmp_path}/data.xml' USING org.apache.pig.piggybank.storage.XMLLoader('row');
        e = FOREACH d GENERATE a, b;
    """)
    assert sorted(tuple(r) for r in rels["e"].df.collect()) == [(1, "x"), (2, "y")]


def test_store_through_a_load_function_raises_at_the_statement(spark, tmp_path):
    """A STORE through a function without a store side (and a LOAD
    through one without a load side) raises when the statement is
    translated, naming the function; nothing is written."""
    src = tmp_path / "in.tsv"
    src.write_text("a\n")
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="TextLoader is not a StoreFunc"):
        run(spark, f"a = LOAD '{src}' USING TextLoader(); STORE a INTO '{out}' USING TextLoader();")
    assert not out.exists()
    with pytest.raises(ValueError, match="StringStore is not a LoadFunc"):
        run(spark, f"a = LOAD '{src}' USING org.apache.pig.test.udf.storefunc.StringStore();")
    with pytest.raises(NameError, match="unknown storer"):
        run(spark, f"a = LOAD '{src}'; STORE a INTO '{out}' USING NoSuchStorer();")


def test_pig_storage_writes_fields_literally(spark, tmp_path):
    """PigStorage joins fields with the delimiter as they are: a field
    holding the delimiter is not quoted (Spark's CSV writer wrapped it
    in NUL bytes), and an empty chararray writes nothing."""
    src = tmp_path / "in.tsv"
    src.write_text("1\ta,b\n2\t\n")
    out = tmp_path / "out"
    run(spark, f"""
        a = LOAD '{src}' AS (k:int, s:chararray);
        b = FOREACH a GENERATE k, (s IS NULL ? '' : s) AS s;
        STORE b INTO '{out}' USING PigStorage(',');
    """)
    assert sorted(_text(out).splitlines()) == [b"1,a,b", b"2,"]


def test_pig_storage_scalar_rendering_round_trip(spark, tmp_path):
    """Every scalar type writes as PigStorage wrote it through Spark's
    CSV writer (datetimes ISO-8601 to the millisecond, doubles in
    Java's notation, null as an empty field), and the '-schema' sidecar
    reads each back to the same value."""
    df = spark.sql("""
        SELECT * FROM VALUES
          (1, 2147483647L, CAST(1.5 AS FLOAT), 2.25D, 1.0E20D, CAST(12.34 AS DECIMAL(18,2)), true, 'x',
           TIMESTAMP'2024-01-02 03:04:05.123'),
          (-5, -9223372036854775808L, CAST(0.1 AS FLOAT), 1.0E-300D, 123456789.123D,
           CAST(-0.5 AS DECIMAL(18,2)), false, 'y z', TIMESTAMP'1969-12-31 23:59:59'),
          (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        AS t(i, l, f, d, e, dec, b, s, ts)
    """).coalesce(1)
    path = str(tmp_path / "out")
    store(df, path, "PigStorage", sep="|", schema_sidecar=True)
    assert _text(path).splitlines() == [
        b"1|2147483647|1.5|2.25|1.0E20|12.34|true|x|2024-01-02T03:04:05.123Z",
        b"-5|-9223372036854775808|0.1|1.0E-300|1.23456789123E8|-0.50|false|y z|1969-12-31T23:59:59.000Z",
        b"||||||||",
    ]
    back = load(spark, path, "PigStorage", sep="|", schema_sidecar=True)
    assert back.columns == df.columns
    assert sorted(map(tuple, back.collect()), key=repr) == sorted(map(tuple, df.collect()), key=repr)
    row = back.where("i = 1").first()
    assert row["dec"] == Decimal("12.34") and row["ts"] == datetime.datetime(2024, 1, 2, 3, 4, 5, 123000)


def test_dsl_store_partitioned_pig_storage(spark, tmp_path):
    """MultiStorage (``partition_by``) keeps the partition column out of
    the literal lines."""
    df = spark.createDataFrame([(1, "a", "p"), (2, "b,c", "q")], "k int, s string, part string")
    path = str(tmp_path / "parts")
    store(df, path, "PigStorage", sep=",", partition_by=["part"])
    assert _text(os.path.join(path, "part=q")) == b"2,b,c\n"


@pytest.mark.parametrize("tag_file", [False, True])
def test_pig_storage_as_pads_and_truncates_each_line(spark, tmp_path, tag_file):
    """A PigStorage LOAD with AS reads the declared number of fields from
    every line, with no Spark job while the relation is built: a short
    line pads with nulls and a long one drops its extra fields, line by
    line, whatever the first line's width. DuckDB splits the same lines
    as the oracle."""
    import duckdb

    from pig_spark.stats import run_with_stats

    src = tmp_path / "ragged.tsv"
    src.write_text("a\t1\nb\t2\t3\nc\nd\t4\t5\t6\t7\ne\tx\t8\n")
    flag, tag = ("'-tagFile'", "f, ") if tag_file else ("'\\t'", "")
    built = run_with_stats(spark, lambda: run(spark, f"x = LOAD '{src}' USING PigStorage({flag}) AS ({tag}k:chararray, a:int, b:int);"))
    assert built.num_jobs == 0
    got = sorted(tuple(r) for r in built.result["x"].df.collect())
    want = duckdb.sql(f"""
        SELECT {"'ragged.tsv', " if tag_file else ""}f[1], TRY_CAST(f[2] AS INTEGER), TRY_CAST(f[3] AS INTEGER)
        FROM (SELECT string_split(line, chr(9)) AS f
              FROM (SELECT unnest(string_split(rtrim(content, chr(10)), chr(10))) AS line FROM read_text('{src}')))
    """).fetchall()
    assert got == sorted(want)
    assert ("b", 2, 3) in [r[-3:] for r in got]
