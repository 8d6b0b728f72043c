"""Pig's storage functions: one table, one entry per LoadFunc/StoreFunc.

The key is the class's leaf name, lowercased:
``USING org.apache.pig.piggybank.storage.CSVExcelStorage(';')`` in Latin
and ``sources.load(spark, path, "CSVExcelStorage", sep=";")`` read the
same entry. An entry (:class:`StorageFunc`) says

- what it reads and writes: a Spark source plus the reader/writer
  options the function fixes, or its own reader/writer (HBase, Accumulo,
  HCatalog, DBStorage, the regex and test-jar loaders);
- how its constructor arguments bind to ``sources.load`` and
  ``sources.store`` keywords (:func:`bind`), and whether it has a load
  side and a store side;
- whether a STORE's target is a path Pig's ERROR 6000 clobber check
  applies to, and whether it takes part in ``pig.error-handling``.

A name that is not a key is a Spark source name (parquet, csv, …) and
``sources.load``/``store`` read or write it as Spark does.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from functools import partial

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .. import aggregates
from .accumulo import load_accumulo, store_accumulo
from .db import store_db
from .hbase import load_hbase, store_hbase
from .hcatalog import load_hcat, store_hcat

#: the function a Latin LOAD or STORE without ``USING`` calls
DEFAULT = "pigstorage"

#: Spark sources that ship as external modules, not in Spark's own
#: jars, and the module each needs on the class path
EXTERNAL_SOURCES = {"avro": "spark-avro (org.apache.spark:spark-avro_2.13)"}


@dataclass(frozen=True)
class StorageFunc:
    """One Pig storage function.

    ``format``/``options``: the Spark source it reads and writes and the
    options it fixes (a ``sep`` here is its default delimiter), unless
    ``read``/``write`` give its own reader ``(spark, path, **kw)`` and
    writer ``(df, path, mode=, **kw)``. ``literal``: the store joins
    fields with the delimiter as they are (PigStorage), not through
    Spark's CSV writer. ``args``: the keyword each positional
    constructor argument binds to, or a function from the arguments and
    the side (``"load"``/``"store"``) to keywords. ``typed``: the
    reader takes the AS clause's Pig types as ``field_types``.
    ``declared``: a LOAD with an AS clause reads as many string
    columns as the clause declares, without a job to infer the arity;
    each line pads with nulls or drops extra fields to that width, as
    Pig does per tuple. ``clobber``: a STORE's target is a path,
    refused when it exists (ERROR 6000). ``error_handling``: the
    storer skips bad records under ``pig.error-handling.enabled``
    (ErrorHandling.java)."""

    format: str | None = None
    options: dict = field(default_factory=dict)
    read: Callable[..., DataFrame] | None = None
    write: Callable[..., None] | None = None
    load: bool = True
    store: bool = True
    literal: bool = False
    args: tuple[str, ...] | Callable[[list[str], str], dict] = ()
    typed: bool = False
    declared: bool = False
    clobber: bool = True
    error_handling: bool = False


def unescape_delim(s: str) -> str:
    """PigStorage('\\u0001') / ('\\t'): Pig decodes backslash escapes
    in delimiter arguments (PigStorage.java StorageUtil.parseFieldDel);
    the string lexer keeps them raw, so decode here — twice when the
    source was itself backslash-escaped (scripts embedded in other
    quoting layers write '\\\\u0001')."""
    out = s
    for _ in range(2):
        if "\\" not in out:
            break
        try:
            out = out.encode("utf-8").decode("unicode_escape")
        except Exception:  # noqa: BLE001 — malformed escape: literal
            break
    return out


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


def load_regex(
    spark: SparkSession,
    path: str,
    pattern: str | None = None,
    names: Sequence[str] | None = None,
    schema: str | None = None,
) -> DataFrame:
    """RegExLoader.java: one row per matching line, one string column
    per capture group (``f0..fN`` unless ``names`` or a ``schema``
    string name them); lines that don't match are dropped, like the
    Java loader's skip-loop. All codegen (`rlike` + `regexp_extract`) —
    the filter and extractions run inside the text scan's stage, no
    Python, no shuffle."""
    from . import load, regex_groups

    if pattern is None:
        raise ValueError("RegExLoader needs a regex pattern argument (MyRegExLoader('...'))")
    n_groups = re.compile(pattern).groups
    if n_groups == 0:
        raise ValueError("RegExLoader pattern must have at least one capture group")
    if isinstance(schema, str):
        names = [p.strip().split()[0].split(":")[0] for p in schema.split(",")]
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
    from . import load

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


def _dump_loader(spark: SparkSession, path: str) -> DataFrame:
    """test-UDF jar DumpLoader (storefunc/DumpLoader.java): one tuple
    per line '(f1, f2, ... )' — the Java strips char 0 and the LAST TWO
    chars (its data always ends ' )'), then splits on ',' and trims.
    The reference appends fields per ROW at runtime (ragged tuples); a
    DataFrame needs one arity, so take max(size) over the FILE (one
    aggregate; the first row alone would truncate a later, longer one).
    Rows shorter than the max pad with nulls where the reference would
    emit a shorter tuple — the relational-schema divergence, not data
    loss."""
    raw = spark.read.text(path)
    body = F.expr("substring(value, 2, greatest(length(value) - 3, 0))")
    arr = F.transform(F.split(body, ","), lambda x: F.trim(x))
    n_row = raw.agg(aggregates.over_rows("max", [F.size(arr)]).alias("n")).first()
    n = int(n_row["n"]) if n_row is not None and n_row["n"] is not None else 0
    return raw.select(*[F.element_at(arr, i + 1).alias(f"_c{i}") for i in range(max(n, 1))])


def _string_store(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """test-UDF jar StringStore (storefunc/StringStore.java): putNext
    writes tuple.toString() — one '(f1,f2,...)' line per tuple, values
    in their Pig text forms."""
    from . import pig_text_lines

    lines = pig_text_lines(df, ",")
    lines.select(F.concat(F.lit("("), lines.value, F.lit(")"))).write.mode(mode).text(path)


def _db_args(args: list[str], side: str) -> dict:
    """DBStorage(driver, url[, table]) — builtin/DBStorage.java ctor
    order: with a url argument the INTO target is the table; without
    one the INTO target is the url (``STORE x INTO 'sqlite:///db'
    USING DBStorage()``) and the last argument, if any, the table."""
    url = next((a for a in args if "://" in a or a.lower().startswith("jdbc:")), None)
    if url is not None:
        return {"url": url, "mode": "append"}
    return {"table": args[-1] if args else "pig_out", "mode": "append"}


def _db_store(df: DataFrame, path: str, mode: str = "append", url: str | None = None, table: str | None = None, **kw) -> None:
    store_db(df, url=url or path, table=table or (path if url else "pig_out"), mode=mode, **kw)


def _csv_excel_args(args: list[str], side: str) -> dict:
    """CSVExcelStorage(delimiter, multiline, eol, header)
    (piggybank CSVExcelStorage.java): the header treatment
    ``SKIP_INPUT_HEADER`` drops each file's first line on LOAD and
    ``WRITE_OUTPUT_HEADER`` writes the field names first on STORE (each
    a no-op on the other side, as in Pig). The other values accepted
    are the ones this reader and writer already behave as: one record
    per line (``NO_MULTILINE``), ``\\n`` line ends (``UNIX``; on LOAD
    any), header lines as data or not written (``READ_INPUT_HEADER``,
    ``SKIP_OUTPUT_HEADER``, ``DEFAULT``). Anything else raises here,
    at the statement, rather than being ignored."""
    if len(args) > 4:
        raise ValueError(f"CSVExcelStorage takes at most 4 arguments, got {len(args)}: {args}")
    eol = {"UNIX", "NOCHANGE", "WINDOWS"} if side == "load" else {"UNIX", "NOCHANGE"}
    headers = {"DEFAULT", "READ_INPUT_HEADER", "SKIP_INPUT_HEADER", "SKIP_OUTPUT_HEADER", "WRITE_OUTPUT_HEADER"}
    for arg, what, known in zip(args[1:], ("multi-line treatment", "line-end treatment", "header treatment"),
                                ({"NO_MULTILINE"}, eol, headers)):
        if arg.upper() not in known:
            raise ValueError(
                f"{side.upper()} … USING CSVExcelStorage: unsupported {what} {arg!r} (supported: {sorted(known)})"
            )
    out = {"sep": unescape_delim(args[0])} if args else {}
    if len(args) == 4 and args[3].upper() == ("SKIP_INPUT_HEADER" if side == "load" else "WRITE_OUTPUT_HEADER"):
        out["header"] = True
    return out


# PigStorage splits and joins on the delimiter literally — no quote or
# escape handling (PigStorage.java readField); Spark CSV's default '"'
# quoting is off so embedded quotes round-trip byte-identical
_PIG_STORAGE = StorageFunc(
    "csv", {"quote": "", "escape": ""}, literal=True, args=("sep",), declared=True, error_handling=True,
)
# piggybank CSVExcelStorage(delimiter, ...): the Excel dialect, comma by
# default, quoted fields with doubled quotes inside; CSVLoader wraps it
# load-only
_CSV_EXCEL = StorageFunc("csv", {"sep": ",", "escape": '"'}, args=_csv_excel_args)
_PARQUET = StorageFunc("parquet")
_JSON = StorageFunc("json")

FUNCS: dict[str, StorageFunc] = {
    "pigstorage": _PIG_STORAGE,
    "pig_storage": _PIG_STORAGE,
    # piggybank IndexedStorage(delim, index-cols): the data file is
    # plain delimited text; the .index sidecar is random-access
    # metadata with no Spark analogue (columnar min/max pruning and
    # bucketing cover that role — sources.store(bucket_by=, sort_by=))
    "indexedstorage": _PIG_STORAGE,
    # test-UDF jar (test/e2e/pig/udfs): SimpleCollectableLoader IS
    # PigStorage plus the CollectableLoadFunc marker (map-side
    # `group ... using 'collected'` eligibility — the engine's
    # collected-group path keys on the clause, not the loader)
    "simplecollectableloader": _PIG_STORAGE,
    "csvexcelstorage": _CSV_EXCEL,
    "csvloader": StorageFunc("csv", _CSV_EXCEL.options, args=("sep",), store=False),
    "textloader": StorageFunc("text", store=False),
    "jsonloader": _JSON,
    "jsonstorage": _JSON,
    "avrostorage": StorageFunc("avro"),
    "orcstorage": StorageFunc("orc"),
    "parquetloader": _PARQUET,
    "parquetstorer": _PARQUET,
    # BinStorage is Pig's INTERNAL typed intermediate — its contract
    # is "readable by the same Pig version that wrote it" (docs warn
    # against external use). The same-engine contract here is parquet:
    # full type fidelity for store-then-load within/between scripts.
    # Byte-level interop with Java Pig's BinStorage files is out of
    # scope (COVERAGE.md §2.5), exactly as version-interop is in Pig.
    "binstorage": _PARQUET,
    # piggybank XMLLoader(rowTag) → Spark 4's built-in xml source
    "xmlloader": StorageFunc("xml", args=("rowTag",), store=False),
    "allloader": StorageFunc(read=load_all, store=False),
    "commonlogloader": StorageFunc(
        read=partial(load_regex, pattern=COMMON_LOG_PATTERN, names=COMMON_LOG_FIELDS), store=False,
    ),
    "combinedlogloader": StorageFunc(
        read=partial(load_regex, pattern=COMBINED_LOG_PATTERN, names=COMBINED_LOG_FIELDS), store=False,
    ),
    "myregexloader": StorageFunc(read=load_regex, args=("pattern",), store=False),
    "regexloader": StorageFunc(read=load_regex, args=("pattern",), store=False),
    "dumploader": StorageFunc(read=_dump_loader, store=False),
    "stringstore": StorageFunc(write=_string_store, load=False),
    # HBaseStorage(columnList[, options]) / AccumuloStorage(columns[,
    # options]): the client-less cell-model facades (sources/hbase.py,
    # sources/accumulo.py). Cells decode to strings and the AS types
    # drive the binary caster; puts are upserts, so no clobber check
    "hbasestorage": StorageFunc(
        read=load_hbase, write=lambda df, path, mode=None, **kw: store_hbase(df, path, **kw),
        args=("column_list", "options"), typed=True, clobber=False,
    ),
    "accumulostorage": StorageFunc(
        read=load_accumulo, write=lambda df, path, mode=None, **kw: store_accumulo(df, path, **kw),
        args=("columns", "options"), typed=True, clobber=False,
    ),
    # HCatLoader() / HCatStorer([partitionSpec]): the target is a
    # catalog table name, not a path (sources/hcatalog.py)
    "hcatloader": StorageFunc(read=load_hcat, store=False),
    "hcatstorer": StorageFunc(
        write=lambda df, path, mode=None, **kw: store_hcat(df, path, **kw),
        args=("partition_spec",), load=False, clobber=False,
    ),
    "dbstorage": StorageFunc(write=_db_store, args=_db_args, load=False, clobber=False),
}


def source_available(spark: SparkSession, fmt: str) -> bool:
    """Whether the session's Spark finds the data source ``fmt``."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(  # noqa: SLF001
            fmt, spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        )
    except (Py4JJavaError, AnalysisException):  # not found: the Java error, or the one PySpark converts
        return False
    return True


def require_source(fmt: str, what: str) -> None:
    """Raise, naming the module, when ``fmt`` is an external Spark
    source that the active session cannot find: Spark itself would
    fail only when the write runs. Other sources, and no session, pass."""
    module = EXTERNAL_SOURCES.get(fmt)
    spark = SparkSession.getActiveSession() if module else None
    if spark is not None and not source_available(spark, fmt):
        raise ValueError(f"{what}: Spark's {fmt} source is the external module {module}, which is not on this Spark's class path")


def entry(name: str, side: str) -> StorageFunc | None:
    """The entry of a storage function named by its class (fully
    qualified or not, any case) for a ``"load"`` or ``"store"``; None
    for a name that is not a storage function. Raises for a side the
    function lacks, naming it."""
    leaf = name.rsplit(".", 1)[-1]
    sf = FUNCS.get(leaf.lower())
    if sf is not None and not getattr(sf, side):
        kind = "StoreFunc" if side == "store" else "LoadFunc"
        raise ValueError(f"{side.upper()} … USING {leaf}: {leaf} is not a {kind}, it has no {side} side")
    if sf is not None and sf.format is not None:
        require_source(sf.format, f"{side.upper()} … USING {leaf}")
    return sf


def bind(
    name: str | None, side: str, args: Sequence[str] = (), types: list | None = None
) -> tuple[str, StorageFunc | None, dict]:
    """A Latin ``LOAD``/``STORE … USING name(args)`` as one
    ``sources.load``/``store`` call: (format name, entry, keywords).
    ``side`` is ``"load"`` or ``"store"``; ``types`` are the AS
    clause's Pig types. For a Spark-source function PigStorage's
    '-schema' (both sides) and '-tagFile' (load) flags come first and
    leave the positional list. Raises for a STORE through a name that
    is not a storage function, and for a side the function lacks."""
    name = name or DEFAULT
    leaf = name.rsplit(".", 1)[-1]
    sf = entry(name, side)
    if sf is None and side == "store":
        raise NameError(f"unknown storer {name!r} — one of {sorted(k for k, f in FUNCS.items() if f.store)}")
    args, out = list(args), {}
    if sf is None or sf.format is not None:
        flags = {a.strip().lower() for a in args if a.strip().startswith("-")}
        args = [a for a in args if not a.strip().startswith("-")]
        if "-schema" in flags:
            out["schema_sidecar"] = True
        if "-tagfile" in flags and side == "load":
            out["tag_file"] = True
    if sf is None:
        return leaf, None, out
    if callable(sf.args):
        out.update(sf.args(args, side))
    else:
        out.update((k, unescape_delim(a) if k == "sep" else a) for k, a in zip(sf.args, args))
    if sf.typed and side == "load":
        out["field_types"] = types
    if sf.declared and side == "load" and types and not out.get("schema_sidecar"):
        # -tagFile's file name is the AS clause's first field, not a column of the text
        n = len(types) - bool(out.get("tag_file"))
        if n > 0:
            out["schema"] = StructType([StructField(f"_c{i}", StringType()) for i in range(n)])
    return leaf, sf, out
