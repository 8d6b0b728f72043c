"""Sources & sinks — Pig loader/storer surface on Spark DataSource V2.

Mapping (reference files in apache/pig):

- PigStorage (builtin/PigStorage.java; delimited text, default tab) →
  csv with sep. Schema optional: undeclared fields load as strings and
  cast lazily at use sites — Pig's bytearray gradual typing
  (LoadTypeCastInserter.java, Utf8StorageConverter.java).
- TextLoader (builtin/TextLoader.java) → text.
- JsonLoader/JsonStorage (builtin/JsonLoader.java) → json.
- AvroStorage/OrcStorage/Parquet{Loader,Storer} → native formats with
  full predicate/projection pushdown (LoadPredicatePushdown.java /
  LoadPushDown.java are subsumed by DataSource V2).
- MultiStorage (piggybank; partitioned output) → ``partition_by``.
- compression: transparent, as in Pig (TestBZip.java).

Scale: all formats are splittable except single-file gz text; parquet
scans get column pruning + predicate pushdown + partition pruning from
Catalyst — check ``PushedFilters`` in explain output.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_FORMATS = {"parquet", "orc", "avro", "json", "csv", "text", "xml"}
SCHEMA_SIDECAR = ".pig_schema"

# Pig type names <-> Spark types (reference: JsonMetadata.java writes a
# ResourceSchema JSON sidecar named .pig_schema next to PigStorage
# output when the '-schema' option is set; PigStorage reads it back on
# load. DataType.java defines the type lattice.)
_SPARK_TO_PIG = {
    "integer": "int",
    "short": "int",
    "byte": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "chararray",
    "boolean": "boolean",
    "binary": "bytearray",
    "timestamp": "datetime",
    "date": "datetime",
}
# bytearray maps to string on load: in delimited text, undeclared/raw
# fields ARE strings (Pig's gradual typing; Utf8StorageConverter)
_PIG_TO_SPARK: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "chararray": T.StringType(),
    "boolean": T.BooleanType(),
    "bytearray": T.StringType(),
    "datetime": T.TimestampType(),
    "bigdecimal": T.DecimalType(38, 18),
    "biginteger": T.DecimalType(38, 0),
}


def _hadoop_path(df_or_spark, path: str):
    spark = df_or_spark if isinstance(df_or_spark, SparkSession) else df_or_spark.sparkSession
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


# Pig DataType byte codes (DataType.java:60-79) — the `type` field of
# a Jackson-serialized ResourceSchema sidecar is this numeric code, not
# a type-name string (ResourceSchema.ResourceFieldSchema.type is byte).
_PIG_CODE = {
    "boolean": 5,
    "int": 10,
    "long": 15,
    "float": 20,
    "double": 25,
    "datetime": 30,
    "bytearray": 50,
    "chararray": 55,
    "biginteger": 65,
    "bigdecimal": 70,
    "map": 100,
    "tuple": 110,
    "bag": 120,
}
_CODE_TO_SPARK: dict[int, T.DataType] = {
    5: T.BooleanType(),
    10: T.IntegerType(),
    15: T.LongType(),
    20: T.FloatType(),
    25: T.DoubleType(),
    30: T.TimestampType(),
    50: T.StringType(),  # bytearray loads as string (gradual typing)
    55: T.StringType(),
    65: T.DecimalType(38, 0),
    70: T.DecimalType(38, 18),
}


def write_schema_sidecar(df: DataFrame, dir_path: str) -> None:
    """Write ``.pig_schema`` beside a text/csv output — PigStorage's
    '-schema' option (JsonMetadata.java:storeSchema). The payload is
    the Jackson shape of ResourceSchema (ResourceSchema.java:47-81):
    ``fields`` with NUMERIC ``type`` byte codes plus ``version`` /
    ``sortKeys`` / ``sortKeyOrders`` — so Pig's JsonMetadata can read
    this repo's sidecar and vice versa. Uses the Hadoop FS API so it
    lands on whatever filesystem the output went to (local, HDFS,
    object store); a one-file driver-side write, no data motion."""
    import json

    fields = []
    for f in df.schema.fields:
        t = f.dataType
        if t.typeName().startswith("decimal"):
            pig_t = "bigdecimal"
        else:
            pig_t = _SPARK_TO_PIG.get(t.typeName(), "bytearray")
        fields.append(
            {"name": f.name, "type": _PIG_CODE[pig_t], "description": None, "schema": None}
        )
    payload = json.dumps(
        {"fields": fields, "version": 0, "sortKeys": [], "sortKeyOrders": []},
        indent=2,
    )
    fs, p = _hadoop_path(df, f"{dir_path}/{SCHEMA_SIDECAR}")
    out = fs.create(p, True)
    out.write(bytearray(payload.encode("utf-8")))
    out.close()


def read_schema_sidecar(spark: SparkSession, dir_path: str) -> T.StructType | None:
    """Read ``.pig_schema`` if present (JsonMetadata.java:getSchema);
    returns None when the sidecar doesn't exist. Accepts both the
    ResourceSchema shape (numeric type codes — what Pig writes and
    what this repo now writes) and the legacy string-typed shape
    earlier pig_spark versions wrote. An unknown type raises instead
    of silently degrading the field to string."""
    import json

    fs, p = _hadoop_path(spark, f"{dir_path}/{SCHEMA_SIDECAR}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()
    doc = json.loads(data)
    out = []
    for f in doc["fields"]:
        t = f.get("type", "bytearray")
        if isinstance(t, int):
            spark_t = _CODE_TO_SPARK.get(t)
        else:
            spark_t = _PIG_TO_SPARK.get(t)
        if spark_t is None:
            raise ValueError(
                f".pig_schema field {f.get('name')!r} has unsupported type {t!r} "
                f"(known codes: {sorted(_CODE_TO_SPARK)}; known names: {sorted(_PIG_TO_SPARK)})"
            )
        out.append(T.StructField(f["name"], spark_t, True))
    return T.StructType(out)
_ALIASES = {
    "pigstorage": "csv",
    "pig_storage": "csv",
    "textloader": "text",
    "jsonloader": "json",
    "avrostorage": "avro",
    "orcstorage": "orc",
    "xmlloader": "xml",  # piggybank XMLLoader → Spark 4 built-in xml source
    "csvexcelstorage": "csv",  # piggybank CSVExcelStorage (quote/escape opts)
    "csvloader": "csv",  # piggybank CSVLoader (quoted CSV, Excel dialect)
}

# ---------------------------------------------------------------------------
# RegExLoader family (piggybank/storage/RegExLoader.java + apachelog/):
# text lines matched against a regex; each capture group becomes a field,
# non-matching lines are skipped (RegExLoader.getNext loops past them).
# Patterns below are verbatim from CommonLogLoader.java:38 /
# CombinedLogLoader.java:39 (Java regex — compatible with RE2/Spark here).
# ---------------------------------------------------------------------------

COMMON_LOG_PATTERN = (
    r"^(\S+)\s+(\S+)\s+(\S+)\s+.(\S+\s+\S+).\s+.(\S+)\s+(\S+)\s+(\S+.\S+).\s+(\S+)\s+(\S+)$"
)
COMMON_LOG_FIELDS = (
    "remote_addr", "remote_logname", "remote_user", "time",
    "method", "uri", "protocol", "status", "bytes",
)
COMBINED_LOG_PATTERN = (
    r"^(\S+)\s+(\S+)\s+(\S+)\s+.(\S+\s+\S+).\s+\"(\S+)\s+(.+?)\s+(HTTP[^\"]+)\"\s+"
    r"(\S+)\s+(\S+)\s+\"([^\"]*)\"\s+\"(.*)\"$"
)
COMBINED_LOG_FIELDS = COMMON_LOG_FIELDS + ("referer", "user_agent")

_REGEX_LOADERS = {
    "commonlogloader": (COMMON_LOG_PATTERN, COMMON_LOG_FIELDS),
    "combinedlogloader": (COMBINED_LOG_PATTERN, COMBINED_LOG_FIELDS),
    "myregexloader": None,  # pattern supplied by the caller
    "regexloader": None,
}


#: AllLoader.java's file.extension.loaders mapping, Spark-side: which
#: engine format reads each file suffix in a mixed-format directory.
ALL_LOADER_EXTENSIONS = {
    ".parquet": "parquet",
    ".orc": "orc",
    ".avro": "avro",
    ".json": "json",
    ".jsonl": "json",
    ".xml": "xml",
    ".csv": "csv",
    ".tsv": "csv",
    ".txt": "text",
    ".log": "text",
}


def load_all(
    spark: SparkSession,
    path: str,
    extensions: dict[str, str] | None = None,
    **options,
) -> DataFrame:
    """AllLoader (piggybank storage/AllLoader.java): point at a folder
    of MIXED formats and pick the loader per file by extension (the
    ``file.extension.loaders`` property, here :data:`ALL_LOADER_
    EXTENSIONS` or the ``extensions`` override). Each present format
    loads with a ``pathGlobFilter`` (one listing per format, pruned at
    the source), every field is normalized to string (AllLoader's
    bytearray-everything contract — cast at use sites, Pig gradual
    typing), and the union is by column NAME with null-fill for
    columns a format lacks. Gz/Bz2 text is transparent (Spark codecs),
    matching the Java loader's compressed-text handling."""

    ext_map = extensions or ALL_LOADER_EXTENSIONS
    present: dict[str, str] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            base = f[:-3] if f.endswith(".gz") else (f[:-4] if f.endswith(".bz2") else f)
            ext = os.path.splitext(base)[1].lower()
            if ext in ext_map:
                present.setdefault(ext, ext_map[ext])
    if not present:
        raise ValueError(
            f"AllLoader: no files under {path!r} match known extensions {sorted(ext_map)}"
        )
    parts = []
    for ext, fmt in sorted(present.items()):
        kwargs = dict(options)
        if fmt == "csv" and ext == ".tsv":
            kwargs["sep"] = "\t"
        # exact suffix alternation: '*.json*' would also sweep .jsonl
        # files (double-loading their rows) and backup-suffixed files
        # like x.csv.bak — match only .ext and its compressed twins
        df = load(
            spark, path, fmt,
            pathGlobFilter=f"*{{{ext},{ext}.gz,{ext}.bz2}}",
            recursiveFileLookup=True,
            **kwargs,
        )
        parts.append(df.select(*[df[c].cast("string").alias(c) for c in df.columns]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def load_regex(
    spark: SparkSession,
    path: str,
    pattern: str,
    names: tuple[str, ...] | list[str] | None = None,
) -> DataFrame:
    """RegExLoader.java: one row per matching line, one string column
    per capture group (``f0..fN`` unless ``names`` given); lines that
    don't match are dropped, like the Java loader's skip-loop. All
    codegen (`rlike` + `regexp_extract`) — the filter and extractions
    run inside the text scan's stage, no Python, no shuffle."""
    import re as _re

    from pyspark.sql import functions as F

    n_groups = _re.compile(pattern).groups
    if n_groups == 0:
        raise ValueError("RegExLoader pattern must have at least one capture group")
    cols = list(names) if names else [f"f{i}" for i in range(n_groups)]
    if len(cols) != n_groups:
        raise ValueError(f"{len(cols)} names for {n_groups} capture groups")
    df = load(spark, path, "text")
    parts = regex_groups(F.col("value"), pattern, n_groups)
    return (
        df.filter(F.col("value").rlike(pattern))
        .select(parts.alias("__g"))
        .select(*[F.get(F.col("__g"), i).alias(c) for i, c in enumerate(cols)])
    )


def regex_groups(col, pattern: str, n_groups: int):
    """First-match capture groups of a line as ``array<string>`` —
    the regex-parse core shared by :func:`load_regex` and ad-hoc
    parsing. THREE regex passes instead of n_groups+1 (log formats
    carry 9-11 groups): take the FIRST match's text (``regexp_substr``
    = Matcher.find semantics, like RegExLoader.java), rewrite that
    exact span into a US-delimited group string, split. regexp_replace
    on the isolated match text replaces its whole span, so surrounding
    text and later matches never leak in. Callers filter with
    ``col.rlike(pattern)`` first (the third pass)."""
    from pyspark.sql import functions as F

    sep = "\x1f"
    rewrite = sep.join(f"${i + 1}" for i in range(n_groups))
    first = F.regexp_substr(col, F.lit(pattern))
    return F.split(F.regexp_replace(first, pattern, rewrite), sep, -1)


def _norm_format(fmt: str) -> str:
    f = _ALIASES.get(fmt.lower(), fmt.lower())
    if f in ("hbase", "accumulo", "hbasestorage", "accumulostorage"):
        # not generic formats — they need a column list; point at the
        # cell-model facades (sources/hbase.py, sources/accumulo.py)
        raise ValueError(
            f"format {fmt!r} needs a column list — use "
            "sources.hbase.load_hbase / sources.accumulo.load_accumulo "
            "(or Latin LOAD ... USING HBaseStorage/AccumuloStorage)"
        )
    if f not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMATS | set(_ALIASES))}")
    return f


_NANOS_CACHE: dict[str, tuple[tuple, bool]] = {}


def _listing(path: str) -> tuple:
    """(name, size, mtime_ns) of every file under a local ``path``,
    sorted; empty when the path is not local. Rewriting any fragment
    changes it."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    ]
    out = []
    for f in files:
        try:
            st = os.stat(f)
        except OSError:  # removed while listing
            continue
        out.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _parquet_has_nanos(path: str) -> bool:
    """True when the parquet footer declares a TIMESTAMP(NANOS) field.

    One footer read of one fragment via pyarrow — O(KB) regardless of
    data size, so safe at 100 TB (driver-side, no row data). Cached
    per path and fragment listing: repeated loads of the same table
    (every query in a session) must not re-probe — the probe costs
    ~10 ms of driver time, which multiplied across a catalog run is
    real seconds — but a rewritten path is probed again."""
    listing = _listing(path)
    hit = _NANOS_CACHE.get(path)
    if hit is not None and hit[0] == listing:
        return hit[1]
    try:
        import pyarrow as pa
        import pyarrow.dataset as pads

        schema = pads.dataset(path, format="parquet").schema
        out = any(
            pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in schema
        )
    except Exception:  # noqa: BLE001 — non-local paths / odd layouts: skip probe
        out = False
    _NANOS_CACHE[path] = (listing, out)
    return out


def ensure_pig_session_semantics(spark: SparkSession) -> None:
    """Enforce Pig's execution semantics on ANY session, at runtime.

    Pig casts malformed input to null with a warning instead of
    erroring (POCast.java, Utf8StorageConverter.java) and division by
    zero yields null (expressionOperators/Divide.java); Spark 4
    defaults ANSI mode on, which raises instead. Pig datetimes are
    zone-stable regardless of driver locale. ``session.get_spark``
    bakes these into the builder, but the engine must not depend on
    users (or the correctness driver) constructing the session through
    that factory — so every LOAD also asserts them at runtime. These
    are deliberate, documented engine semantics, not a hidden
    workaround; both confs are runtime-settable in Spark 4.
    """
    if getattr(spark, "_pig_semantics_set", False):
        return
    if spark.conf.get("spark.sql.ansi.enabled", "true") != "false":
        spark.conf.set("spark.sql.ansi.enabled", "false")
    if spark.conf.get("spark.sql.session.timeZone", "UTC") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark._pig_semantics_set = True  # noqa: SLF001 — once per session


def _pig_paths(path: str) -> list[str]:
    """LOAD 'p1,p2' — Pig accepts a comma-separated path list, each
    element a Hadoop glob (QueryParser.g LOAD; LoadFunc relative-path
    contract). Split on TOP-LEVEL commas only (a comma inside ``{}``
    belongs to the brace glob) and map Pig's ``[!...]`` set negation
    to Hadoop's ``[^...]``."""
    out: list[str] = []
    depth, cur = 0, []
    for ch in path:
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))

    def fix(p: str) -> str:
        p = p.strip().replace("[!", "[^")
        # Pig resolves relative paths against the process working
        # directory (LoadFunc relative-path contract); Spark's JVM
        # pins user.dir at launch, so absolutize against the PYTHON
        # cwd — the one the user (and os.chdir) actually controls
        import os

        if p and "://" not in p and not os.path.isabs(p):
            p = os.path.abspath(p)
        return p

    return [fix(p) for p in out if p.strip()]


def load(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    schema: str | T.StructType | None = None,
    sep: str = "\t",
    tag_file: bool = False,
    schema_sidecar: bool = False,
    **options,
) -> DataFrame:
    """LOAD 'path' USING <loader> [AS schema].

    For delimited text without a declared schema, every field arrives
    as string (Pig: bytearray) — cast at use sites, nulls on garbage.
    ``tag_file`` ≅ PigStorage('-tagFile'): prepend the source file's
    name as the first column (``input_file_name``) — Spark's
    ``input_file_name()``, evaluated at scan time so it costs nothing.
    ``schema_sidecar`` ≅ PigStorage('-schema'): apply the
    ``.pig_schema`` JSON written beside the data (JsonMetadata.java),
    restoring names and types over schemaless text.
    """
    lf = format.lower()
    if lf == "allloader":
        return load_all(spark, path, **options)
    if lf in _REGEX_LOADERS:
        preset = _REGEX_LOADERS[lf]
        pattern = options.pop("pattern", None) or (preset[0] if preset else None)
        if pattern is None:
            raise ValueError(f"{format} needs a regex pattern argument (MyRegExLoader('...'))")
        names = options.pop("names", None) or (preset[1] if preset else None)
        if schema is not None and isinstance(schema, str):
            names = [p.strip().split()[0].split(":")[0] for p in schema.split(",")]
        return load_regex(spark, path, pattern, names)
    fmt = _norm_format(format)
    ensure_pig_session_semantics(spark)
    if schema_sidecar and schema is None:
        schema = read_schema_sidecar(spark, path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        if format.lower() in ("csvloader", "csvexcelstorage"):
            # CSV dialects default to comma (CSVLoader.java wraps
            # CSVExcelStorage with ',' — PigStorage's default is tab)
            options.setdefault("sep", ",")
        options.setdefault("sep", sep)
        options.setdefault("header", False)
        if format.lower() in ("pigstorage", "pig_storage"):
            # PigStorage splits on the delimiter literally — no quote or
            # escape handling (PigStorage.java readField); only
            # CSVExcelStorage does quotes. Disable Spark CSV's default
            # '"' quoting so embedded quotes round-trip byte-identical.
            options.setdefault("quote", "")
            options.setdefault("escape", "")
    if fmt == "parquet" and _parquet_has_nanos(path):
        # This file carries INT64 TIMESTAMP(NANOS) (the events table).
        # Vanilla Spark 4 silently truncates it to timestamp_ntz micros;
        # the engine's contract (TESTDATA.md, PF.ns_to_timestamp) is the
        # raw nanos long. Scoped per ADVICE: the conf is set only when a
        # load actually touches a nanos file — never as a blanket side
        # effect — and must stay on afterwards because execution-time
        # row conversion consults it too (save-and-restore would break
        # the very read it enabled).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = reader.options(**{k: str(v) for k, v in options.items()})
    paths = _pig_paths(path)
    df = reader.format(fmt).load(paths if len(paths) > 1 else paths[0])
    if tag_file:
        from pyspark.sql import functions as F

        # Pig tags the bare filename, not the full URI
        fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
        df = df.select(fname.alias("input_file_name"), "*")
    return df


# last error-tolerant store's counters (Pig surfaces these as MR/Tez
# counters via PigStatusReporter; here they're inspectable post-run
# and mirrored into warnings) — {"path", "bad", "total"}
LAST_STORE_ERRORS: dict = {}


def store(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    mode: str = "overwrite",
    sep: str = "\t",
    partition_by: Sequence[str] | None = None,
    bucket_by: tuple[int, Sequence[str]] | None = None,
    sort_by: Sequence[str] | None = None,
    schema_sidecar: bool = False,
    on_error: str = "fail",
    max_error_frac: float = 0.0,
    min_error_records: int = 0,
    bad_when: "Column | None" = None,
    **options,
) -> None:
    """STORE rel INTO 'path' USING <storer>.

    ``partition_by`` ≅ piggybank MultiStorage; ``bucket_by`` +
    ``sort_by`` pre-organizes for shuffle-free merge joins downstream
    (Pig 'merge' join via IndexableLoadFunc → Spark bucketed SMJ).
    ``schema_sidecar`` ≅ PigStorage('-schema'): also write a
    ``.pig_schema`` JSON beside the output so a later schemaless LOAD
    recovers names and types (JsonMetadata.java).

    ``on_error='skip'`` is Pig's StoreFunc error-tolerance surface
    (pig.error-handling.enabled — ErrorHandling.java,
    CounterBasedErrorHandler.java): bad records skip instead of
    failing the store, up to a budget. ``bad_when`` is the bad-record
    predicate; for delimited-text sinks it defaults to "a field embeds
    the delimiter or a newline" (the row would corrupt the file — the
    dirty-corpus class the Pig handler exists for); other sinks
    require an explicit predicate. Budget check mirrors
    CounterBasedErrorHandler.exceedsThreshold: tolerate errors while
    ``bad <= min_error_records`` OR ``bad/total <= max_error_frac``;
    over budget the output rolls back and the store raises — same
    committed-output contract as Pig's mid-job kill, and the
    bad/total counters come from Spark's Observation API, collected
    DURING the write (one scan, the Spark-native analogue of the MR
    counters CounterBasedErrorHandler reads)."""
    if format.lower() == "dbstorage":
        from pig_spark.sources.db import store_db

        store_db(df, url=path, mode=mode, **options)
        return
    import os as _os

    if path and "://" not in path and not _os.path.isabs(path) and bucket_by is None:
        # relative output path: resolve against the PYTHON cwd (the
        # JVM's user.dir is pinned at launch) — mirrors load()'s
        # relative-path contract
        path = _os.path.abspath(path)
    fmt = _norm_format(format)
    if fmt == "csv":
        df = _complex_to_pig_text(df)
    obs = None
    if on_error == "skip":
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if bad_when is None:
            if fmt != "csv":
                raise ValueError(
                    "store(on_error='skip') needs bad_when=<Column predicate> "
                    "for non-text sinks (text sinks default to "
                    "delimiter/newline corruption)"
                )
            for f in df.schema.fields:
                if f.dataType.simpleString() == "string":
                    c = F.col(f.name).contains(sep) | F.col(f.name).contains("\n")
                    bad_when = c if bad_when is None else (bad_when | c)
            if bad_when is None:
                bad_when = F.lit(False)
        obs = Observation("pig_error_handler")
        flagged = df.withColumn("__bad", F.coalesce(bad_when, F.lit(False))).observe(
            obs,
            F.sum(F.col("__bad").cast("long")).alias("bad"),
            F.count(F.lit(1)).alias("total"),
        )
        df = flagged.filter(~F.col("__bad")).drop("__bad")
    elif on_error != "fail":
        raise ValueError(f"store(on_error={on_error!r}): use 'fail' or 'skip'")
    writer = df.write.mode(mode)
    if fmt == "csv":
        options.setdefault("sep", sep)
        if format.lower() in ("pigstorage", "pig_storage"):
            # mirror load(): PigStorage joins fields with the delimiter
            # literally, no quoting/escaping
            options.setdefault("quote", "")
            options.setdefault("escape", "")
    writer = writer.options(**{k: str(v) for k, v in options.items()})
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols)
        if sort_by:
            writer = writer.sortBy(*sort_by)
        writer.format(fmt).saveAsTable(path)
        if obs is not None:
            _check_error_budget(df.sparkSession, obs, path, max_error_frac, min_error_records, table=True, appended=(mode == "append"))
        return
    writer.format(fmt).save(path)
    if obs is not None:
        _check_error_budget(df.sparkSession, obs, path, max_error_frac, min_error_records, appended=(mode == "append"))
    if schema_sidecar:
        write_schema_sidecar(df, path)


def _check_error_budget(spark, obs, path: str, max_error_frac: float, min_error_records: int, table: bool = False, appended: bool = False) -> None:
    """CounterBasedErrorHandler.exceedsThreshold re-expressed over the
    write's Observation metrics: within budget → record counters and
    warn (Pig logs skipped-record counters); over budget → roll the
    committed output back and raise (Pig kills the job — either way no
    usable over-budget output remains). Appended-to paths are never
    deleted (pre-existing data); the raise says whether rollback
    happened."""
    import shutil
    import warnings

    m = obs.get
    bad = int(m["bad"] or 0)
    total = int(m["total"] or 0)  # total counts pre-filter rows
    LAST_STORE_ERRORS.clear()
    LAST_STORE_ERRORS.update({"path": path, "bad": bad, "total": total})
    if bad == 0:
        return
    within = bad <= min_error_records or (total > 0 and bad / total <= max_error_frac)
    if within:
        warnings.warn(
            f"store({path!r}): skipped {bad}/{total} bad records "
            f"(on_error='skip', budget min={min_error_records} frac={max_error_frac})",
            stacklevel=3,
        )
        return
    rolled = False
    if table:
        spark.sql(f"DROP TABLE IF EXISTS {path}")
        rolled = True
    elif appended:
        # an append mixed this write's files with pre-existing data —
        # deleting the path would destroy committed history, so the
        # over-budget output stays and the error says so
        rolled = False
    else:
        # Hadoop FS delete handles EVERY scheme the write could reach
        # (file://, hdfs://, s3a://) — shutil only covers local paths
        try:
            jvm = spark._jvm  # noqa: SLF001
            jpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
            rolled = bool(fs.delete(jpath, True))
        except Exception:  # noqa: BLE001 — local fallback
            shutil.rmtree(path, ignore_errors=True)
            rolled = not os.path.exists(path)
    raise ValueError(
        f"store({path!r}): {bad}/{total} bad records exceeds the error budget "
        f"(min_error_records={min_error_records}, max_error_frac={max_error_frac}); "
        + (
            "output rolled back"
            if rolled
            else "output NOT rolled back (append mode or delete failed) — clean up before retrying"
        )
        + " (pig.error-handling threshold contract, CounterBasedErrorHandler.java)"
    )


def _pig_text_col(col: "Column", dtype) -> "Column":
    """Render one value in Pig's delimited-text form (Tuple.
    toDelimitedString / PigStorage write side): maps ``[k#v,...]``,
    tuples ``(a,b)``, bags ``{(a,b),...}``; null scalars write empty.
    Pure Column ops — the rendering runs in the writer's stage."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        entries = F.transform(
            F.map_entries(col),
            lambda e: F.concat(
                e["key"].cast("string"),
                F.lit("#"),
                F.coalesce(_pig_text_col(e["value"], dtype.valueType), F.lit("")),
            ),
        )
        return F.when(col.isNotNull(), F.concat(F.lit("["), F.array_join(entries, ","), F.lit("]")))
    if isinstance(dtype, T.StructType):
        parts = [
            F.coalesce(_pig_text_col(col.getField(f.name), f.dataType), F.lit(""))
            for f in dtype.fields
        ]
        return F.when(col.isNotNull(), F.concat(F.lit("("), F.concat_ws(",", *parts), F.lit(")")))
    if isinstance(dtype, T.ArrayType):
        if isinstance(dtype.elementType, T.StructType):
            elems = F.transform(col, lambda x: _pig_text_col(x, dtype.elementType))
        else:  # bag of scalars: each element is a 1-field tuple
            elems = F.transform(
                col,
                lambda x: F.concat(F.lit("("), F.coalesce(x.cast("string"), F.lit("")), F.lit(")")),
            )
        return F.when(col.isNotNull(), F.concat(F.lit("{"), F.array_join(elems, ","), F.lit("}")))
    return col.cast("string")


def _complex_to_pig_text(df: DataFrame) -> DataFrame:
    """Delimited-text stores can't hold nested types natively; render
    map/struct/array columns in Pig's textual forms instead of failing
    (the forms `utf8_cast` parses back on LOAD — a lossless text
    round-trip for the shapes PigStorage supports)."""
    from pyspark.sql import types as T

    if not any(
        isinstance(f.dataType, (T.MapType, T.StructType, T.ArrayType)) for f in df.schema.fields
    ):
        return df
    return df.select(
        *[
            _pig_text_col(df[f.name], f.dataType).alias(f.name)
            if isinstance(f.dataType, (T.MapType, T.StructType, T.ArrayType))
            else df[f.name]
            for f in df.schema.fields
        ]
    )


def load_fixed_width(
    spark: SparkSession,
    path: str,
    fields: Sequence[tuple[str, int, int, str]],
) -> DataFrame:
    """piggybank FixedWidthLoader: fields = (name, start, end, type)
    with 1-based inclusive column ranges. One text scan + substring
    projections + gradual-typed casts (bad parse → null, Pig
    semantics) — all codegen, splittable like any text file."""
    from pyspark.sql import functions as F

    raw = spark.read.text(path)
    cols = [
        F.trim(F.substring(F.col("value"), start, end - start + 1)).cast(typ).alias(name)
        for name, start, end, typ in fields
    ]
    return raw.select(*cols)


def load_sequence_file(
    spark: SparkSession,
    path: str,
    schema: str = "key string, value string",
) -> DataFrame:
    """piggybank SequenceFileLoader: Hadoop SequenceFile of
    (Writable key, Writable value) → two-column relation. Legacy
    row-format ingest, so this is one of the sanctioned RDD sites
    (the other is STREAM's pipe): sequence files have no DataSource
    V2 reader. Splittable (block-compressed seqfiles split on sync
    marks), so scans still parallelize; convert to parquet once and
    stay columnar after."""
    rdd = spark.sparkContext.sequenceFile(path)
    return spark.createDataFrame(rdd, schema)


def store_sequence_file(df: DataFrame, path: str) -> None:
    """Write a 2-column relation as a Hadoop SequenceFile (the
    write half of SequenceFileLoader parity)."""
    if len(df.columns) != 2:
        raise ValueError("sequence file store needs exactly (key, value) columns")
    df.rdd.map(tuple).saveAsSequenceFile(path)


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    format: str = "parquet",
    sort_within_by: Sequence[str] | None = None,
) -> int:
    """Compact a small-files directory into ~``target_file_mb`` output
    files — the maintenance pass every long-running ingestion needs
    (streaming sinks and fine-grained partitions leave thousands of
    KB-sized files whose open/footer cost dominates 100 TB scans).

    Sizing reads ONLY the file listing (no data pass): output file
    count = ceil(on-disk bytes / target). The rewrite is one job —
    coalesce when shrinking (no shuffle) — staged into a sibling
    directory, row-count-verified against the source, then swapped
    in. ``sort_within_by`` optionally sorts rows within each output
    file (repartition+sort — one shuffle) to restore clustering/
    min-max pruning after compaction.

    Hive-partitioned directories (``key=value`` subdirs — e.g. the
    band-partitioned dedup signature index) are detected from the
    listing and rewritten WITH ``partitionBy`` on the same keys, one
    file per leaf partition, preserving the layout and partition
    pruning. A single leaf larger than ``target_file_mb`` stays one
    file (splitting it needs per-leaf salting; run compact per
    partition subtree if that matters).

    Crash safety: the staged rewrite is verified (source row count ==
    staged row count) BEFORE anything is deleted; a failure leaves the
    original untouched. The swap itself is TWO renames, not one atomic
    op — a crash exactly between them leaves no ``path`` but a
    complete ``path._compact_old`` to rename back by hand; a failure
    of the second rename is auto-rolled-back. Readers concurrent with
    the swap may transiently see the directory missing — on a real
    deployment, prefer a catalog/metastore location flip.

    Returns the number of files written."""
    import math
    import shutil

    total = 0
    n_src = 0
    leaf_dirs: set[str] = set()
    part_keys: list[str] = []
    for root, _dirs, files in os.walk(path):
        datafiles = [f for f in files if not f.startswith(("_", "."))]
        if not datafiles:
            continue
        rel = os.path.relpath(root, path)
        keys = [seg.split("=", 1)[0] for seg in rel.split(os.sep) if "=" in seg]
        if keys:
            if part_keys and keys != part_keys:
                raise ValueError(
                    f"compact: inconsistent partition layout under {path!r}: "
                    f"{keys} vs {part_keys}"
                )
            part_keys = keys
            leaf_dirs.add(rel)
        for f in datafiles:
            total += os.path.getsize(os.path.join(root, f))
            n_src += 1
    if n_src == 0:
        raise ValueError(f"compact: no data files under {path!r}")

    df = load(spark, path, format)
    n_rows = df.count()
    if part_keys:
        # one file per leaf partition; partition discovery put the
        # key columns back in df, partitionBy writes them back out
        n_out = len(leaf_dirs)
        out = df.repartition(*part_keys)
        if sort_within_by:
            out = out.sortWithinPartitions(*sort_within_by)
    else:
        n_out = max(1, math.ceil(total / (target_file_mb << 20)))
        if sort_within_by:
            out = df.repartition(n_out).sortWithinPartitions(*sort_within_by)
        else:
            out = df.coalesce(n_out) if n_out < n_src else df.repartition(n_out)
    staging = path.rstrip("/") + "._compact_tmp"
    store(out, staging, format, mode="overwrite", partition_by=part_keys or None)
    n_staged = load(spark, staging, format).count()
    if n_staged != n_rows:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"compact: staged rewrite has {n_staged} rows, source has {n_rows}; "
            f"original left untouched at {path!r}"
        )
    backup = path.rstrip("/") + "._compact_old"
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    try:
        os.rename(staging, path)
    except BaseException:
        os.rename(backup, path)  # roll the original back in
        raise
    shutil.rmtree(backup)
    return n_out
