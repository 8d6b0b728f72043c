"""Sources & sinks — Pig loader/storer surface on Spark DataSource V2.

Pig's storage functions (PigStorage, TextLoader, JsonLoader/JsonStorage,
BinStorage, CSVExcelStorage, XMLLoader, HBaseStorage, DBStorage, …) are
one table, ``sources/storage.py``: ``load``/``store`` resolve a format
name there first, and any other name is a Spark source (parquet, orc,
avro, json, csv, text, xml) read or written as Spark does, with Pig's
untyped text semantics for csv: undeclared fields load as strings and
cast lazily at use sites — Pig's bytearray gradual typing
(LoadTypeCastInserter.java, Utf8StorageConverter.java).

- AvroStorage/OrcStorage/Parquet{Loader,Storer} get full predicate/
  projection pushdown (LoadPredicatePushdown.java / LoadPushDown.java
  are subsumed by DataSource V2).
- MultiStorage (piggybank; partitioned output) → ``partition_by``.
- compression: transparent, as in Pig (TestBZip.java).

Scale: all formats are splittable except single-file gz text; parquet
scans get column pruning + predicate pushdown + partition pruning from
Catalyst — check ``PushedFilters`` in explain output.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..compat import sql_ident
from ..pigtypes import TYPES, pig_type_name
from . import storage
from .storage import load_all, load_regex  # noqa: F401 — re-exported

_FORMATS = {"parquet", "orc", "avro", "json", "csv", "text", "xml"}
SCHEMA_SIDECAR = ".pig_schema"

# PigStorage's '-schema' option writes a ResourceSchema JSON sidecar
# named .pig_schema next to its output and reads it back on load
# (JsonMetadata.java); the type codes and their Spark types come from
# pigtypes.TYPES (DataType.java).


def _hadoop_path(df_or_spark, path: str):
    spark = df_or_spark if isinstance(df_or_spark, SparkSession) else df_or_spark.sparkSession
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


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

    # a complex column is stored as Pig text, which reads back as
    # bytearray: only scalars keep their own code
    fields = [
        {
            "name": f.name,
            "type": TYPES.get(pig_type_name(f.dataType), TYPES["bytearray"]).code,
            "description": None,
            "schema": None,
        }
        for f in df.schema.fields
    ]
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
    # a scalar's code or its name (the legacy shape) → its Spark type
    known = {k: t.spark for n, t in TYPES.items() if t.spark is not None for k in (t.code, n)}
    out = []
    for f in doc["fields"]:
        t = f.get("type", "bytearray")
        spark_t = known.get(t)
        if spark_t is None:
            raise ValueError(
                f".pig_schema field {f.get('name')!r} has unsupported type {t!r} "
                f"(known: {sorted(known, key=str)})"
            )
        out.append(T.StructField(f["name"], spark_t, True))
    return T.StructType(out)


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


@dataclass
class _ParquetMeta:
    """What one listing of a parquet path answered: whether a footer
    declares TIMESTAMP(NANOS), and the schema Spark inferred under the
    parquet read confs ``read_conf``."""

    listing: tuple
    nanos: bool
    read_conf: tuple | None = None
    schema: T.StructType | None = None


# Parquet file metadata per path, valid while the path's listing is
# unchanged, as Impala's catalog service caches it (CIDR 2015). Spark's
# own FileStatusCache keeps listings but infers the schema again, one
# Spark job per LOAD. A rewritten path is probed and inferred again.
# Bounded; the oldest entry goes first.
_PARQUET_META: dict[str, _ParquetMeta] = {}
_PARQUET_META_MAX = 256

# the session confs that change the schema a parquet footer infers to
_PARQUET_READ_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.files.ignoreCorruptFiles",
)


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


def _local_path(paths: list[str]) -> str | None:
    """The one existing local file or directory a LOAD names; None for
    a path list, a glob or another file system."""
    if len(paths) != 1:
        return None
    p = paths[0].removeprefix("file://")
    if "://" in p or any(c in p for c in "*?[{"):
        return None
    return p if os.path.exists(p) else None


def _parquet_meta(path: str) -> _ParquetMeta:
    """The cache entry of a parquet ``path`` for its current listing.

    A miss reads one footer of one fragment via pyarrow, O(KB)
    regardless of data size, so safe at 100 TB (driver-side, no row
    data); the probe costs ~10 ms of driver time, which multiplied
    across a catalog run is real seconds."""
    listing = _listing(path)
    hit = _PARQUET_META.get(path)
    if hit is not None and hit.listing == listing:
        return hit
    try:
        import pyarrow as pa
        import pyarrow.dataset as pads

        schema = pads.dataset(path, format="parquet").schema
        nanos = any(
            pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in schema
        )
    except Exception:  # noqa: BLE001 — non-local paths / odd layouts: skip probe
        nanos = False
    meta = _ParquetMeta(listing, nanos)
    _remember(path, meta)
    return meta


def _remember(path: str, meta: _ParquetMeta) -> None:
    """Keep ``meta`` as the cache entry of ``path``; when the cache is
    full, the oldest entry goes."""
    if path not in _PARQUET_META and len(_PARQUET_META) >= _PARQUET_META_MAX:
        del _PARQUET_META[next(iter(_PARQUET_META))]
    _PARQUET_META[path] = meta


def _write_through(spark: SparkSession, path: str, schema: T.StructType) -> None:
    """Record what a LOAD of the parquet directory just written at
    ``path`` would infer: Spark keeps the written schema in the footers
    and reads it back nullable at every level; a Spark writer never
    writes TIMESTAMP(NANOS). A path that is not one local directory,
    or a type whose read-back this does not know, is left to be
    inferred."""
    local = _local_path(_pig_paths(path))
    if local is None or not os.path.isdir(local) or not _round_trips(schema):
        return
    read_conf = tuple(spark.conf.get(k, None) for k in _PARQUET_READ_CONFS)
    _remember(local, _ParquetMeta(_listing(local), False, read_conf, _nullable(schema)))


_ROUND_TRIP_LEAVES = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
    T.DecimalType, T.StringType, T.BinaryType, T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _round_trips(dt: T.DataType) -> bool:
    """Whether a parquet read gives ``dt`` back unchanged, bar
    nullability (char/varchar, intervals, variants and UDTs do not)."""
    if isinstance(dt, T.StructType):
        return all(_round_trips(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _round_trips(dt.elementType)
    if isinstance(dt, T.MapType):
        return _round_trips(dt.keyType) and _round_trips(dt.valueType)
    return isinstance(dt, _ROUND_TRIP_LEAVES) and (not isinstance(dt, T.StringType) or dt.simpleString() == "string")


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and map value nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


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


def _resolve(format: str, side: str, options: dict) -> tuple:
    """(Spark source — None for the function's own reader or writer —,
    storage-function entry or None, options) of a LOAD or STORE
    ``format``: a Pig storage function's entry adds the options it
    fixes under the caller's; any other name must be a Spark source."""
    sf = storage.entry(format, side)
    if sf is not None:
        return sf.format, sf, {**sf.options, **options}
    if format.lower() not in _FORMATS:
        raise ValueError(f"unsupported format {format!r}; one of {sorted(_FORMATS | set(storage.FUNCS))}")
    storage.require_source(format.lower(), f"{side.upper()} … {format}")
    return format.lower(), None, options


def load(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    schema: str | T.StructType | None = None,
    sep: str | None = None,
    tag_file: bool = False,
    schema_sidecar: bool = False,
    **options,
) -> DataFrame:
    """LOAD 'path' USING <loader> [AS schema].

    ``format`` is a Pig storage function (``sources/storage.py``) or a
    Spark source. For delimited text without a declared schema, every
    field arrives as string (Pig: bytearray) — cast at use sites, nulls
    on garbage; ``sep`` is the delimiter (the function's own default,
    else tab). ``tag_file`` ≅ PigStorage('-tagFile'): prepend the source
    file's name as the first column (``input_file_name``) — Spark's
    ``input_file_name()``, evaluated at scan time so it costs nothing.
    ``schema_sidecar`` ≅ PigStorage('-schema'): apply the
    ``.pig_schema`` JSON written beside the data (JsonMetadata.java),
    restoring names and types over schemaless text.
    """
    ensure_pig_session_semantics(spark)
    fmt, sf, options = _resolve(format, "load", options)
    if fmt is None:  # the function's own reader
        if schema is not None:
            options["schema"] = schema
        return sf.read(spark, path, **options)
    if schema_sidecar and schema is None:
        schema = read_schema_sidecar(spark, path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options = {"header": False, **options, "sep": sep if sep is not None else options.get("sep", "\t")}
    paths = _pig_paths(path)
    meta = read_conf = None
    if fmt == "parquet":
        local = _local_path(paths)
        meta = _parquet_meta(local or path)
        if meta.nanos:
            # This file carries INT64 TIMESTAMP(NANOS) (the events table).
            # Vanilla Spark 4 silently truncates it to timestamp_ntz micros;
            # the engine's contract (TESTDATA.md, PF.ns_to_timestamp) is the
            # raw nanos long. The conf is set only when a load actually
            # touches a nanos file — never as a blanket side effect — and
            # must stay on afterwards because execution-time row
            # conversion consults it too (save-and-restore would break the
            # very read it enabled).
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if local is None or schema is not None or options or not meta.listing:
            meta = None  # inferred as Spark does, every time
        else:
            read_conf = tuple(spark.conf.get(k, None) for k in _PARQUET_READ_CONFS)
            if meta.read_conf == read_conf:
                reader = reader.schema(meta.schema)  # no inference job
    reader = reader.options(**{k: str(v) for k, v in options.items()})
    df = reader.format(fmt).load(paths if len(paths) > 1 else paths[0])
    if meta is not None and meta.read_conf != read_conf:
        meta.read_conf, meta.schema = read_conf, df.schema
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
    sep: str | None = None,
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
    fmt, sf, options = _resolve(format, "store", options)
    if fmt is None:  # the function's own writer
        sf.write(df, path, mode=mode, **options)
        return
    if path and "://" not in path and not os.path.isabs(path) and bucket_by is None:
        # relative output path: resolve against the PYTHON cwd (the
        # JVM's user.dir is pinned at launch) — mirrors load()'s
        # relative-path contract
        path = os.path.abspath(path)
    if fmt == "csv":
        sep = options["sep"] = sep if sep is not None else options.get("sep", "\t")
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
    out = df
    if sf is not None and sf.literal:
        # PigStorage joins fields with the delimiter literally: Spark's
        # CSV writer would wrap a field holding it in its quote (for an
        # empty quote, NUL bytes)
        out, fmt = pig_text_lines(df, options.pop("sep"), partition_by or ()), "text"
    writer = out.write.mode(mode).options(**{k: str(v) for k, v in options.items()})
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
    if fmt == "parquet" and mode == "overwrite" and not partition_by and not options:
        _write_through(df.sparkSession, path, out.schema)


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


def _pig_text_sql(ref: str, dtype, depth: int = 0) -> str:
    """SQL rendering the value ``ref`` in Pig's delimited-text form
    (Tuple.toDelimitedString / PigStorage write side): maps
    ``[k#v,...]``, tuples ``(a,b)``, bags ``{(a,b),...}``, datetimes
    ISO-8601 to the millisecond (DateTime.toString); null stays null.
    One SQL template, applied with one ``selectExpr`` — the rendering
    runs in the writer's stage and costs no py4j call per field."""
    if isinstance(dtype, T.MapType):
        e = f"_e{depth}"
        value = _pig_text_sql(f"{e}.value", dtype.valueType, depth + 1)
        entry = f"concat(CAST({e}.key AS STRING), '#', coalesce({value}, ''))"
        return f"CASE WHEN {ref} IS NOT NULL THEN concat('[', array_join(transform(map_entries({ref}), {e} -> {entry}), ','), ']') END"
    if isinstance(dtype, T.StructType):
        parts = ", ".join(
            f"coalesce({_pig_text_sql(f'{ref}.{sql_ident(f.name)}', f.dataType, depth)}, '')" for f in dtype.fields
        )
        return f"CASE WHEN {ref} IS NOT NULL THEN concat('(', concat_ws(',', {parts}), ')') END"
    if isinstance(dtype, T.ArrayType):
        x = f"_x{depth}"
        elem = _pig_text_sql(x, dtype.elementType, depth + 1)
        if not isinstance(dtype.elementType, T.StructType):  # bag of scalars: 1-field tuples
            elem = f"concat('(', coalesce({elem}, ''), ')')"
        return f"CASE WHEN {ref} IS NOT NULL THEN concat('{{', array_join(transform({ref}, {x} -> {elem}), ','), '}}') END"
    if isinstance(dtype, T.TimestampType):
        return f"date_format({ref}, \"yyyy-MM-dd'T'HH:mm:ss.SSSXXX\")"
    if isinstance(dtype, T.TimestampNTZType):
        return f"date_format({ref}, \"yyyy-MM-dd'T'HH:mm:ss.SSS\")"
    return f"CAST({ref} AS STRING)"


def pig_text_lines(df: DataFrame, sep: str, keys: Sequence[str] = ()) -> DataFrame:
    """``df`` as lines of Pig delimited text, the string column
    ``value``: every field in its Pig text form, null as empty, joined
    by ``sep`` as it is — what PigStorage writes and a STREAM command
    reads. The columns ``keys`` are kept as they are, not rendered.
    Fields are read by position, so duplicate names are fine."""
    pos = df.toDF(*[f"_{i}" for i in range(len(df.columns))])
    fields = list(zip(pos.columns, df.schema.fields))
    # the delimiter as a SQL literal of \\u escapes: any character, a
    # quote or a backslash included, reads back as itself
    units = sep.encode("utf-16-be")
    delim = "'" + "".join(f"\\u{int.from_bytes(units[i:i + 2], 'big'):04x}" for i in range(0, len(units), 2)) + "'"
    line = ", ".join(f"coalesce({_pig_text_sql(p, f.dataType)}, '')" for p, f in fields if f.name not in keys)
    return pos.selectExpr(f"concat_ws({delim}, {line}) AS value", *[f"{p} AS {sql_ident(f.name)}" for p, f in fields if f.name in keys])


def _complex_to_pig_text(df: DataFrame) -> DataFrame:
    """Delimited-text stores can't hold nested types natively; render
    map/struct/array columns in Pig's textual forms instead of failing
    (the forms `pigtypes.utf8_decode` parses back on LOAD — a lossless text
    round-trip for the shapes PigStorage supports)."""
    nested = (T.MapType, T.StructType, T.ArrayType)
    if not any(isinstance(f.dataType, nested) for f in df.schema.fields):
        return df
    # by position, like pig_text_lines: field names may repeat
    pos = df.toDF(*[f"_{i}" for i in range(len(df.columns))])
    return pos.selectExpr(*[
        _pig_text_sql(p, f.dataType) if isinstance(f.dataType, nested) else p
        for p, f in zip(pos.columns, df.schema.fields)
    ]).toDF(*df.columns)


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
