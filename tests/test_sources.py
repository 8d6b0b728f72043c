"""Source/sink round-trips: PigStorage (tab text), json, parquet/orc,
partitioned output, gradual typing on text loads."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pig_spark import Relation
from pig_spark.compat import cast_as
from pig_spark.sources import load, store


@pytest.fixture(scope="module")
def df3(spark):
    return spark.createDataFrame([Row(a=1, b="x", c=2.5), Row(a=2, b="y", c=3.5)])


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_round_trip(spark, df3, tmp_path, fmt):
    path = str(tmp_path / fmt)
    store(df3, path, format=fmt)
    back = load(spark, path, format=fmt)
    assert back.count() == 2
    if fmt == "csv":
        # PigStorage semantics: untyped text loads as all-string (bytearray)
        assert all(t == "string" for _, t in back.dtypes)
        typed = cast_as(back, "a int, b string, c double")
        assert sorted(r["a"] for r in typed.collect()) == [1, 2]


def test_pig_storage_alias_and_sep(spark, df3, tmp_path):
    path = str(tmp_path / "pigstorage")
    store(df3, path, format="PigStorage", sep="\t")
    back = load(spark, path, format="PigStorage", sep="\t")
    assert back.count() == 2


def test_text_loader(spark, tmp_path):
    p = tmp_path / "t.txt"
    p.write_text("hello\nworld\n")
    back = load(spark, str(p), format="TextLoader")
    assert sorted(r["value"] for r in back.collect()) == ["hello", "world"]


def test_partitioned_store(spark, df3, tmp_path):
    path = str(tmp_path / "parts")
    store(df3, path, format="parquet", partition_by=["b"])
    back = load(spark, path)
    # partition pruning: filter on partition col reads one dir
    pruned = back.filter(F.col("b") == "x")
    assert pruned.count() == 1


def test_relation_load_store(spark, df3, tmp_path):
    path = str(tmp_path / "rel")
    Relation(df3).store(path)
    rel = Relation.load(spark, path)
    assert rel.df.count() == 2


def test_unsupported_format_raises(spark):
    with pytest.raises(ValueError):
        load(spark, "/tmp/x", format="hbase")


def test_xml_loader(spark, tmp_path):
    """piggybank XMLLoader → Spark 4 built-in xml source."""
    from pig_spark.sources import load

    p = tmp_path / "data.xml"
    p.write_text("<rows><row><a>1</a><b>x</b></row><row><a>2</a><b>y</b></row></rows>")
    df = load(spark, str(tmp_path), format="XMLLoader", rowTag="row")
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_fixed_width_loader(spark, tmp_path):
    """piggybank FixedWidthLoader: 1-based inclusive ranges, bad parse
    -> null (gradual typing)."""
    from pig_spark.sources import load_fixed_width

    p = tmp_path / "fw.txt"
    p.write_text("alice  42  3.9\nbob    xx  2.5\n")
    df = load_fixed_width(
        spark,
        str(p),
        [("name", 1, 7, "string"), ("age", 8, 11, "int"), ("gpa", 12, 14, "double")],
    )
    rows = {r["name"]: (r["age"], r["gpa"]) for r in df.collect()}
    assert rows["alice"] == (42, 3.9)
    assert rows["bob"] == (None, 2.5)  # 'xx' -> null, not an error


def test_sequence_file_round_trip(spark, tmp_path):
    """piggybank SequenceFileLoader parity: (key,value) Writable pairs
    round-trip through a Hadoop SequenceFile."""
    from pig_spark.sources import load_sequence_file, store_sequence_file

    df = spark.createDataFrame([("k1", "v1"), ("k2", "v2"), ("k3", "v3")], "key string, value string")
    path = str(tmp_path / "seq")
    store_sequence_file(df, path)
    back = load_sequence_file(spark, path)
    assert sorted((r.key, r.value) for r in back.collect()) == [("k1", "v1"), ("k2", "v2"), ("k3", "v3")]


def test_sequence_file_store_arity(spark):
    from pig_spark.sources import store_sequence_file

    with __import__("pytest").raises(ValueError):
        store_sequence_file(spark.range(3), "/tmp/never")


def test_tag_file(spark, tmp_path):
    """PigStorage('-tagFile') parity: first column = source filename."""
    from pig_spark.sources import load

    (tmp_path / "part_a.tsv").write_text("1\tx\n")
    (tmp_path / "part_b.tsv").write_text("2\ty\n")
    df = load(spark, str(tmp_path), format="pigstorage", tag_file=True)
    rows = sorted((r[0], r[1]) for r in df.collect())
    assert rows == [("part_a.tsv", "1"), ("part_b.tsv", "2")]
    assert df.columns[0] == "input_file_name"


def test_pig_schema_sidecar_round_trip(spark, tmp_path):
    """PigStorage('-schema') parity (JsonMetadata.java): STORE writes a
    .pig_schema JSON beside the text output; a schemaless LOAD with the
    option restores names AND types."""
    import datetime
    import json
    from decimal import Decimal

    from pyspark.sql import types as T

    from pig_spark.sources import load, store

    df = spark.sql("""
        SELECT * FROM VALUES
          (1, 9.5D, 'a', true, CAST('12345678901234567890' AS DECIMAL(38,0)),
           CAST('1.25' AS DECIMAL(38,18)), TIMESTAMP'2024-01-02 03:04:05'),
          (2, -0.25D, 'b', false, CAST('-7' AS DECIMAL(38,0)),
           CAST('-0.5' AS DECIMAL(38,18)), TIMESTAMP'1999-12-31 23:59:59')
        AS t(k, v, s, flag, bi, bd, dt)
    """)
    path = str(tmp_path / "sidecar_out")
    store(df, path, format="pigstorage", schema_sidecar=True)
    sidecar = json.loads((tmp_path / "sidecar_out" / ".pig_schema").read_text())
    # DataType.java codes: biginteger is 65, bigdecimal 70, datetime 30
    assert [f["type"] for f in sidecar["fields"]] == [10, 25, 55, 5, 65, 70, 30]

    back = load(spark, path, format="pigstorage", schema_sidecar=True)
    assert back.columns == ["k", "v", "s", "flag", "bi", "bd", "dt"]
    assert isinstance(back.schema["k"].dataType, T.IntegerType)
    assert isinstance(back.schema["v"].dataType, T.DoubleType)
    assert isinstance(back.schema["flag"].dataType, T.BooleanType)
    assert back.schema["bi"].dataType == T.DecimalType(38, 0)
    assert back.schema["bd"].dataType == T.DecimalType(38, 18)
    assert isinstance(back.schema["dt"].dataType, T.TimestampType)
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, 9.5, "a", True, Decimal("12345678901234567890"), Decimal("1.25"),
         datetime.datetime(2024, 1, 2, 3, 4, 5)),
        (2, -0.25, "b", False, Decimal("-7"), Decimal("-0.5"),
         datetime.datetime(1999, 12, 31, 23, 59, 59)),
    ]
    assert str(back.where("k = 1").first()["bi"]) == "12345678901234567890"


def test_pig_schema_sidecar_absent_returns_none(spark, tmp_path):
    from pig_spark.sources import read_schema_sidecar

    assert read_schema_sidecar(spark, str(tmp_path)) is None


def test_pig_schema_sidecar_latin_e2e(spark, tmp_path):
    """LOAD ... USING PigStorage('\\t', '-schema') after a STORE with
    '-schema' — the full Latin round-trip, types preserved with no AS
    clause on the reload."""
    from pig_spark.latin import run

    (tmp_path / "in.tsv").write_text("1\t1.5\n2\t2.5\n")
    out = tmp_path / "latin_sidecar"
    run(spark, f"""
        a = LOAD '{tmp_path}/in.tsv' USING PigStorage() AS (k:int, v:double);
        STORE a INTO '{out}' USING PigStorage('\\t', '-schema');
    """)
    rels = run(spark, f"""
        b = LOAD '{out}' USING PigStorage('\\t', '-schema');
        c = FOREACH b GENERATE k, v * 2.0 AS v2;
    """)
    got = sorted((r.k, r.v2) for r in rels["c"].df.collect())
    assert got == [(1, 3.0), (2, 5.0)]


def test_dbstorage_round_trip(spark, sf_dir, tmp_path):
    """DBStorage (piggybank DBStorage.java StoreFunc contract): one
    connection per partition task, batched INSERTs from the executors.
    8 partitions write concurrently (WAL writers queue like a server
    DB's sessions); round-trip must be lossless."""
    import sqlite3

    from pig_spark.sources import load, store
    from pig_spark.sources.db import load_db

    url = f"sqlite:///{tmp_path}/out.db"
    nation = load(spark, f"{sf_dir}/nation.parquet").repartition(8)
    store(nation, url, format="dbstorage", mode="overwrite", table="nation", batch_size=7)

    con = sqlite3.connect(f"{tmp_path}/out.db")
    n, = con.execute('SELECT COUNT(*) FROM "nation"').fetchone()
    names = {r[0] for r in con.execute('SELECT n_name FROM "nation"')}
    con.close()
    assert n == nation.count()
    assert "NATION_0" in names

    back = load_db(spark, url, "nation")
    assert sorted(back.columns) == sorted(nation.columns)
    assert back.count() == nation.count()


def test_dbstorage_append_and_types(spark, tmp_path):
    """mode='append' accumulates (DBStorage default); timestamps,
    decimals, arrays and booleans survive as text/JSON affinities."""
    import datetime
    import sqlite3
    from decimal import Decimal

    from pig_spark.sources.db import store_db

    url = f"sqlite:///{tmp_path}/t.db"
    df = spark.createDataFrame(
        [(1, Decimal("1.50"), datetime.datetime(2024, 1, 2, 3, 4, 5), [1, 2], True)],
        "k long, d decimal(10,2), ts timestamp, xs array<int>, b boolean",
    )
    store_db(df, url, "t", mode="overwrite")
    store_db(df, url, "t", mode="append")

    con = sqlite3.connect(f"{tmp_path}/t.db")
    rows = con.execute('SELECT k, d, ts, xs, b FROM "t"').fetchall()
    con.close()
    assert len(rows) == 2
    # NUMERIC affinity coerces the decimal text to a number (JDBC
    # setBigDecimal → NUMERIC column behaves the same way)
    assert rows[0] == (1, 1.5, "2024-01-02 03:04:05", "[1, 2]", 1)


def test_regex_log_loaders(spark, tmp_path):
    """RegExLoader family (RegExLoader.java, apachelog/*.java): common
    and combined Apache log lines parse into fields, non-matching lines
    are skipped, MyRegExLoader takes a custom pattern, and the whole
    path is codegen (no Python UDFs in the plan)."""
    from pyspark.sql import functions as F

    from pig_spark.sources import load
    from pig_spark.latin import run

    common = tmp_path / "access.log"
    common.write_text(
        '81.19.151.110 - - [04/Oct/2008:13:28:23 -0600] "GET / HTTP/1.0" 200 156\n'
        "garbage line that does not match\n"
        '10.0.0.7 - frank [05/Oct/2008:01:02:03 -0600] "POST /submit HTTP/1.1" 404 99\n'
    )
    df = load(spark, str(common), "CommonLogLoader")
    rows = {r["remote_addr"]: r for r in df.collect()}
    assert set(rows) == {"81.19.151.110", "10.0.0.7"}  # bad line skipped
    assert rows["81.19.151.110"]["method"] == "GET"
    assert rows["10.0.0.7"]["uri"] == "/submit" and rows["10.0.0.7"]["status"] == "404"

    combined = tmp_path / "combined.log"
    combined.write_text(
        '1.2.3.4 - - [30/Sep/2008:15:07:53 -0400] "GET / HTTP/1.1" 200 3190 "-" "Mozilla/5.0 (Mac)"\n'
    )
    dfc = load(spark, str(combined), "CombinedLogLoader")
    r = dfc.first()
    assert r["user_agent"] == "Mozilla/5.0 (Mac)" and r["referer"] == "-"

    # MyRegExLoader through the Latin front-end, AS schema casts types
    rels = run(
        spark,
        f"lg = LOAD '{common}' USING MyRegExLoader('^(\\S+) \\S+ \\S+ .+ (\\d+) (\\d+)$') "
        "AS (ip:chararray, status:int, size:int);\n"
        "big = FILTER lg BY size > 100;",
    )
    got = rels["big"].df.collect()
    assert len(got) == 1 and got[0]["ip"] == "81.19.151.110" and got[0]["size"] == 156
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "PythonUDF" not in plan, plan


def test_regex_loader_first_match_semantics(spark, tmp_path):
    """RegExLoader.java uses Matcher.find(): an unanchored pattern
    takes the FIRST match per line only (later matches and surrounding
    text never leak into the fields)."""
    p = tmp_path / "t.log"
    p.write_text("junk key=a1 val=9 key=b2 val=8 trailing\nno match here\nkey=zz val=7\n")
    from pig_spark.sources import load_regex

    df = load_regex(spark, str(p), r"key=(\w+) val=(\d)", names=["k", "v"])
    assert sorted(tuple(r) for r in df.collect()) == [("a1", "9"), ("zz", "7")]


def test_all_loader_mixed_formats(spark, tmp_path):
    """AllLoader (piggybank AllLoader.java): a folder mixing CSV, JSON
    and parquet loads per-extension, fields normalized to string
    (bytearray-everything), union by name with null-fill."""
    from pig_spark.sources import load, load_all

    (tmp_path / "a.csv").write_text("1\tx\n2\ty\n")
    (tmp_path / "b.json").write_text('{"_c0": "3", "_c1": "z", "extra": 9}\n')
    spark.createDataFrame([(4, "w")], "_c0 int, _c1 string").write.parquet(str(tmp_path / "c.parquet"))

    df = load_all(spark, str(tmp_path))
    rows = sorted((r["_c0"], r["_c1"]) for r in df.collect())
    assert rows == [("1", "x"), ("2", "y"), ("3", "z"), ("4", "w")]
    assert all(t == "string" for _, t in df.dtypes)
    extra = {r["_c0"]: r["extra"] for r in df.collect()}
    assert extra["3"] == "9" and extra["1"] is None  # null-fill by name

    # reachable via the USING alias too
    df2 = load(spark, str(tmp_path), "AllLoader")
    assert df2.count() == 4


def test_all_loader_exact_suffix_match(spark, tmp_path):
    """The per-format pathGlobFilter matches exact suffixes only: a
    folder holding both .json and .jsonl must load each file ONCE (a
    '*.json*' glob would sweep the .jsonl file into the .json pass
    too), and backup-suffixed files (x.csv.bak) are ignored."""
    from pig_spark.sources import load_all

    (tmp_path / "a.json").write_text('{"_c0": "1"}\n')
    (tmp_path / "b.jsonl").write_text('{"_c0": "2"}\n{"_c0": "3"}\n')
    (tmp_path / "c.csv").write_text("4\n")
    (tmp_path / "c.csv.bak").write_text("99\n")

    df = load_all(spark, str(tmp_path))
    assert sorted(r["_c0"] for r in df.collect()) == ["1", "2", "3", "4"]


def test_compact_small_files(spark, tmp_path):
    """sources.compact: a many-small-files directory rewrites to the
    byte-sized file count, values preserved, optional within-file sort
    restores clustering; readers see old-or-new, never half-written."""
    import glob

    from pig_spark.sources import compact, load

    path = str(tmp_path / "frag")
    spark.range(0, 10000).repartition(64).write.parquet(path)
    n_before = len(glob.glob(f"{path}/*.parquet"))
    assert n_before >= 32

    n_out = compact(spark, path, target_file_mb=1, sort_within_by=["id"])
    n_after = len(glob.glob(f"{path}/*.parquet"))
    assert n_after == n_out < n_before

    back = load(spark, path)
    assert back.count() == 10000
    assert back.agg({"id": "sum"}).first()[0] == sum(range(10000))
    # per-file clustering after sort_within_by: each file's ids sorted
    import pyarrow.parquet as pq

    for f in glob.glob(f"{path}/*.parquet"):
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        assert ids == sorted(ids)


def test_compact_preserves_partition_layout(spark, tmp_path):
    """compact on a Hive-partitioned dir (the band-partitioned
    signature-index shape) keeps the key=value layout — one file per
    leaf partition, partition pruning still works after the rewrite."""
    import glob

    from pig_spark.sources import compact, load

    path = str(tmp_path / "part")
    df = spark.range(0, 4000).withColumn("band", (F.col("id") % 4).cast("int"))
    df.repartition(16).write.partitionBy("band").parquet(path)
    assert len(glob.glob(f"{path}/band=*/*.parquet")) > 4

    n_out = compact(spark, path, target_file_mb=64)
    assert n_out == 4
    files = glob.glob(f"{path}/band=*/*.parquet")
    assert len(files) == 4  # one file per leaf, layout preserved
    back = load(spark, path)
    assert back.count() == 4000
    assert set(back.columns) == {"id", "band"}
    assert back.filter(F.col("band") == 2).count() == 1000


def test_store_error_tolerance_under_budget(spark, tmp_path):
    """on_error='skip' (pig.error-handling.enabled — ErrorHandling.java
    / CounterBasedErrorHandler.java): bad records under the budget are
    skipped, the store commits N-k rows, and the skip counters are
    inspectable (Pig's PigStatusReporter counters)."""
    import warnings

    from pig_spark import sources
    from pig_spark.sources import load, store

    path = str(tmp_path / "tolerant")
    # 100 rows; 3 poisoned with an embedded tab (would corrupt the file)
    df = spark.range(0, 100).select(
        F.col("id"),
        F.when(F.col("id") % 37 == 1, F.lit("bad\tvalue")).otherwise(F.concat(F.lit("v"), F.col("id"))).alias("s"),
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        store(df, path, format="pigstorage", on_error="skip", max_error_frac=0.05)
    assert any("skipped 3/100" in str(x.message) for x in w)
    assert sources.LAST_STORE_ERRORS == {"path": path, "bad": 3, "total": 100}
    back = load(spark, path, format="pigstorage", schema="id long, s string")
    assert back.count() == 97
    assert back.filter(F.col("s").contains("\t")).count() == 0


def test_store_error_tolerance_over_budget_rolls_back(spark, tmp_path):
    """Over the threshold the store raises AND the output rolls back —
    Pig's kill-the-job contract: no committed over-budget output."""
    import os

    import pytest as _pytest

    from pig_spark.sources import store

    path = str(tmp_path / "overbudget")
    df = spark.range(0, 100).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 1, F.lit("bad\tvalue")).otherwise(F.lit("ok")).alias("s"),
    )
    with _pytest.raises(ValueError, match="exceeds the error budget"):
        store(df, path, format="pigstorage", on_error="skip", max_error_frac=0.05)
    assert not os.path.exists(path)  # rolled back


def test_store_error_tolerance_min_records_floor(spark, tmp_path):
    """min_error_records tolerates an absolute count regardless of the
    fraction (CounterBasedErrorHandler: errors <= min → never fail)."""
    from pig_spark.sources import load, store

    path = str(tmp_path / "minrec")
    df = spark.range(0, 10).select(
        F.col("id"),
        F.when(F.col("id") < 4, F.lit("x\ty")).otherwise(F.lit("ok")).alias("s"),
    )
    # 4/10 = 40% > frac 0, but min_error_records=5 absorbs them
    store(df, path, format="pigstorage", on_error="skip", max_error_frac=0.0, min_error_records=5)
    assert load(spark, path, format="pigstorage", schema="id long, s string").count() == 6


def test_store_error_tolerance_latin_set(spark, tmp_path):
    """SET pig.error-handling.enabled true routes the Latin STORE
    through the tolerant path with the PigConfiguration thresholds."""
    from pig_spark.latin import run

    src = str(tmp_path / "src.tsv")
    with open(src, "w") as f:
        for i in range(50):
            f.write(f"{i}\tok{i}\n")
    out = str(tmp_path / "latin_out")
    try:
        run(spark, f"""
            SET pig.error-handling.enabled true
            SET pig.error-handling.error.threshold 0.1
            a = LOAD '{src}' AS (id:int, s:chararray);
            b = FOREACH a GENERATE id, (id % 17 == 1 ? CONCAT(s, '\t!') : s) AS s;
            STORE b INTO '{out}' USING PigStorage();
        """)
    finally:
        spark.conf.set("pig.error-handling.enabled", "false")
    got = spark.read.csv(out, sep="\t", schema="id int, s string")
    assert got.count() == 47  # 3 poisoned rows skipped under the 10% budget


def test_nanos_probe_follows_a_rewritten_path(spark, tmp_path, monkeypatch):
    """The TIMESTAMP(NANOS) footer probe is cached per path and fragment
    listing: a path rewritten from µs to ns timestamps loads as the raw
    nanos long the second time, and an unchanged path reads no footer."""
    import datetime

    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf, None)
    ts = [datetime.datetime(2024, 3, 1, 10, 30, i) for i in range(5)]
    path = tmp_path / "ev.parquet"
    path.mkdir()
    try:
        spark.conf.unset(conf)
        pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("us"))}), str(path / "part-0.parquet"))
        assert dict(load(spark, str(path)).dtypes)["ts"] != "bigint"
        (path / "part-0.parquet").unlink()
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("ns"))}),
            str(path / "part-1.parquet"),
            store_schema=False,
        )
        assert dict(load(spark, str(path)).dtypes)["ts"] == "bigint"

        def no_footer(*args, **kwargs):
            raise AssertionError("cache hit read a footer")

        monkeypatch.setattr(pads, "dataset", no_footer)
        assert dict(load(spark, str(path)).dtypes)["ts"] == "bigint"
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def _write_parquet(path, **cols):
    """One pyarrow-written fragment (no Spark schema in its footer)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(exist_ok=True)
    n = len(list(path.iterdir()))
    pq.write_table(pa.table(cols), str(path / f"part-{n}.parquet"))


def test_parquet_schema_cache_second_load_runs_no_job(spark, tmp_path, monkeypatch):
    """A second LOAD of an unchanged parquet path reuses the inferred
    schema: no Spark job, one listing, the schema and rows of a fresh
    ``spark.read.parquet``."""
    import pyarrow as pa

    from pig_spark import sources
    from pig_spark.stats import run_with_stats

    path = tmp_path / "t.parquet"
    _write_parquet(path, a=pa.array([1, 2, 3], pa.int32()), s=pa.array(["x", None, "z"]))
    load(spark, str(path))
    listings = []
    real = sources._listing
    monkeypatch.setattr(sources, "_listing", lambda p: listings.append(p) or real(p))
    again = run_with_stats(spark, lambda: load(spark, str(path)))
    assert again.is_successful() and again.num_jobs == 0
    assert listings == [str(path)]
    fresh = spark.read.parquet(str(path))
    assert again.result.schema == fresh.schema
    assert sorted(again.result.collect()) == sorted(fresh.collect())


def test_parquet_schema_cache_follows_a_rewritten_path(spark, tmp_path):
    """Rewriting a path with one column retyped and one added: the next
    LOAD reads the new types."""
    import pyarrow as pa

    path = tmp_path / "t.parquet"
    _write_parquet(path, a=pa.array([1, 2], pa.int32()), s=pa.array(["x", "y"]))
    assert load(spark, str(path)).dtypes == [("a", "int"), ("s", "string")]
    assert load(spark, str(path)).dtypes == [("a", "int"), ("s", "string")]
    (path / "part-0.parquet").unlink()
    _write_parquet(path, a=pa.array([2**40], pa.int64()), s=pa.array(["x"]), d=pa.array([0.5]))
    got = load(spark, str(path))
    assert got.dtypes == [("a", "bigint"), ("s", "string"), ("d", "double")]
    assert got.collect()[0]["a"] == 2**40
    # a STORE records its schema; an append, then a rewrite from
    # outside the engine, change the listing, and the LOAD infers again
    from pig_spark.stats import run_with_stats

    store(spark.createDataFrame([(1, "x")], "a int, s string"), str(path))
    stored = run_with_stats(spark, lambda: load(spark, str(path)))
    assert stored.num_jobs == 0 and stored.result.dtypes == [("a", "int"), ("s", "string")]
    store(spark.createDataFrame([(2, "y")], "a int, s string"), str(path), mode="append")
    appended = run_with_stats(spark, lambda: load(spark, str(path)))
    assert appended.num_jobs > 0 and sorted(appended.result.collect()) == [(1, "x"), (2, "y")]
    for f in path.iterdir():
        f.unlink()
    _write_parquet(path, a=pa.array([0.25]), t=pa.array([True]))
    assert load(spark, str(path)).dtypes == [("a", "double"), ("t", "boolean")]


def test_parquet_schema_cache_keys_on_read_conf(spark, tmp_path):
    """The parquet read confs are part of the key: toggling
    ``binaryAsString`` changes the type the next LOAD reads."""
    import pyarrow as pa

    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf, None)
    path = tmp_path / "b.parquet"
    _write_parquet(path, b=pa.array([b"ab", b"c"], pa.binary()))
    try:
        spark.conf.set(conf, "false")
        assert dict(load(spark, str(path)).dtypes)["b"] == "binary"
        spark.conf.set(conf, "true")
        assert dict(load(spark, str(path)).dtypes)["b"] == "string"
        spark.conf.set(conf, "false")
        assert dict(load(spark, str(path)).dtypes)["b"] == "binary"
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def test_parquet_schema_cache_bypass(spark, tmp_path):
    """LOADs with reader options, globs and comma lists infer as Spark
    does, every time; only a single local path (or ``file://`` URI)
    takes the cache."""
    import pyarrow as pa

    from pig_spark.sources import _local_path
    from pig_spark.stats import run_with_stats

    p1, p2 = tmp_path / "p1", tmp_path / "p2"
    _write_parquet(p1, a=pa.array([1], pa.int64()))
    _write_parquet(p2, a=pa.array([2], pa.int64()))

    def jobs(path, **options):
        return run_with_stats(spark, lambda: load(spark, path, **options)).num_jobs

    for path, options in [
        (str(p1), {"mergeSchema": "false"}),
        (f"{tmp_path}/p*", {}),
        (f"{p1},{p2}", {}),
    ]:
        jobs(path, **options)
        assert jobs(path, **options) > 0, (path, options)
    jobs(f"file://{p1}")
    assert jobs(f"file://{p1}") == 0
    assert _local_path([f"file://{p1}"]) == str(p1)
    for uri in ("hdfs://nn:8020/x", "s3a://bucket/x", "gs://b/x"):
        assert _local_path([uri]) is None
    assert _local_path([str(p1), str(p2)]) is None
    assert _local_path([str(tmp_path / "missing")]) is None


def test_parquet_store_writes_its_schema_through(spark, tmp_path):
    """A parquet STORE records the schema a LOAD would infer: over a
    type zoo of non-nullable columns it equals a fresh
    ``spark.read.parquet`` inference (nullable at every level), and a
    Latin STORE then LOAD of the same path runs no Spark job."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import types as T

    from pig_spark import sources
    from pig_spark.latin import run
    from pig_spark.stats import run_with_stats

    def req(name, dt):
        return T.StructField(name, dt, False)

    zoo = T.StructType([
        req("i", T.IntegerType()), req("l", T.LongType()), req("d", T.DoubleType()), req("s", T.StringType()),
        req("b", T.BooleanType()), req("dt", T.DateType()), req("ts", T.TimestampType()),
        req("ntz", T.TimestampNTZType()), req("dec", T.DecimalType(18, 2)), req("bin", T.BinaryType()),
        req("arr", T.ArrayType(T.IntegerType(), False)),
        req("m", T.MapType(T.StringType(), T.ArrayType(T.LongType(), False), False)),
        req("st", T.StructType([req("x", T.FloatType()), req("y", T.ArrayType(T.StructType([req("z", T.ShortType())]), False))])),
    ])
    ts = datetime.datetime(2020, 1, 2, 3, 4, 5, 6)
    row = (1, 2**40, 0.5, "s", True, datetime.date(2020, 1, 2), ts, ts, Decimal("1.25"), b"x", [1], {"k": [2]}, (1.5, [(3,)]))
    path = str(tmp_path / "zoo")
    store(spark.createDataFrame([row], zoo), path)
    recorded = sources._PARQUET_META[path].schema
    sources._PARQUET_META.pop(path)
    assert recorded == spark.read.parquet(path).schema

    src, out = tmp_path / "in.tsv", tmp_path / "joined"
    src.write_text("1\tx\t0.5\n2\ty\t1.5\n")
    built = run_with_stats(spark, lambda: run(spark, f"""
        a = LOAD '{src}' AS (k:int, s:chararray, d:double);
        STORE a INTO '{out}' USING ParquetStorer();
        exec;
        b = LOAD '{out}' USING ParquetLoader();
    """))
    assert sorted(tuple(r) for r in built.result["b"].df.collect()) == [(1, "x", 0.5), (2, "y", 1.5)]
    again = run_with_stats(spark, lambda: run(spark, f"b = LOAD '{out}' USING ParquetLoader();"))
    assert again.num_jobs == 0
    assert again.result["b"].df.dtypes == [("k", "int"), ("s", "string"), ("d", "double")]
