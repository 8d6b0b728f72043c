"""HBaseStorage — Pig's HBase connector semantics over the HBase CELL
MODEL, client-less.

Reference: ``backend/hadoop/hbase/HBaseStorage.java:146`` (LoadFunc +
StoreFuncInterface + LoadPushDown). This environment has no HBase
cluster or client jar, so the IO layer is the cell model itself: a
table is a parquet dataset of HBase cells ``(rowkey, cf, qual, value
binary, ts)`` — exactly what a scan returns — and everything Pig's
class actually implements on TOP of the client is reproduced and
tested here:

- the column-list grammar (HBaseStorage.java parseColumnList /
  ColumnInfo:1227): ``cf:qual`` scalar fields, ``cf`` / ``cf:`` /
  ``cf:*`` whole-family maps, ``cf:prefix*`` prefix maps; ``-delim``
  (default ``,``) and ``-ignoreWhitespace`` (default true, so
  space-separated lists work) exactly as the Java splits them;
- scan options (initScan:436): ``-loadKey`` prepends the row key,
  ``-gt/-gte/-lt/-lte`` row-key ranges (byte-lexicographic — equal to
  string order for the UTF-8 keys Pig writes), ``-regex`` row-key
  regex, ``-limit``, ``-minTimestamp``/``-maxTimestamp`` (max
  exclusive, HBase setTimeRange) / ``-timestamp``;
- casters (CASTER_PROPERTY:153): ``Utf8StorageConverter`` (default)
  decodes values as UTF-8 text — downstream ``AS`` clauses apply
  Pig's gradual typing, exactly the bytearray→POCast flow;
  ``HBaseBinaryConverter`` decodes big-endian Bytes.toBytes() values
  by the REQUESTED Pig type from the AS clause (long/int/double/
  float/boolean/chararray — the Java bytesToX contract; width
  mismatch → null) and encodes them back on store; with no AS types
  it falls back to a width heuristic (8 → long, 4 → int, else UTF-8
  — see _binary_decode for the caveat);
- version semantics: a scan returns the LATEST cell per (row, cf,
  qual) — reproduced with ``max_by(value, ts)``;
- store (putNext): first field = row key; scalar fields write one
  cell each, map fields write one cell per entry; ``-noWAL`` and
  friends are accepted and recorded as no-ops (durability knobs of
  the real client).

On a real cluster, swap ``_resolve``'s parquet scan for the HBase
connector DataSource; the column-list/caster/pushdown semantics above
— the part Pig implements — are unchanged. Scale shape: the row-key
range lands in the parquet scan as PushedFilters (the facade's
equivalent of an HBase range scan — plan-pinned), and the pivot to
one-row-per-key is ONE partial-aggregated groupBy on the row key (the
region-server assembly step).

``-limit`` note: the Java option is rows PER REGION; the facade
applies a global limit (regions are a client-cluster concept) — the
difference is documented here and in the test.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CELL_SCHEMA = "rowkey string, cf string, qual string, value binary, ts bigint"

HBASE_ROOT_CONF = "spark.pig_spark.hbase.root"


@dataclass(frozen=True)
class ColumnInfo:
    """HBaseStorage.java ColumnInfo:1227 — one column-list item."""

    original: str
    family: str
    qual: str | None  # set iff scalar (no '*')
    prefix: str | None  # set iff 'cf:prefix*'

    @property
    def is_map(self) -> bool:
        return self.qual is None


def parse_column_list(
    column_list: str, delim: str = ",", ignore_whitespace: bool = True
) -> list[ColumnInfo]:
    """parseColumnList:405 — split on the delimiter, then (by default)
    additionally on whitespace; '' items drop."""
    parts = column_list.split(delim)
    if ignore_whitespace:
        parts = [s for p in parts for s in p.split(" ")]
    cols = []
    for raw in (p.strip() for p in parts):
        if not raw:
            continue
        cf, _, rest = raw.partition(":")
        if rest and rest != "*":
            if rest.endswith("*"):
                cols.append(ColumnInfo(raw, cf, None, rest[:-1]))
            else:
                cols.append(ColumnInfo(raw, cf, rest, None))
        else:
            cols.append(ColumnInfo(raw, cf, None, None))
    if not cols:
        raise ValueError("HBaseStorage: empty column list")
    return cols


def _parse_options(opt_string: str) -> dict:
    """The Commons-CLI option string ('-loadKey true -gt a ...')."""
    toks = opt_string.split() if opt_string else []
    known_flags = {"loadkey", "includetimestamp", "includetombstone", "nowal", "ignorewhitespace", "cacheblocks"}
    known_vals = {"gt", "gte", "lt", "lte", "regex", "limit", "caster", "delim",
                  "mintimestamp", "maxtimestamp", "timestamp", "caching",
                  "maxresultspercolumnfamily"}
    out: dict = {}
    i = 0
    while i < len(toks):
        t = toks[i]
        if not t.startswith("-"):
            raise ValueError(f"HBaseStorage: unexpected option token {t!r}")
        key = t.lstrip("-").lower()
        if key in known_flags:
            # flags take an OPTIONAL true/false arg (OptionBuilder
            # hasOptionalArgs(1)), e.g. '-loadKey true'
            if i + 1 < len(toks) and toks[i + 1].lower() in ("true", "false"):
                out[key] = toks[i + 1].lower() == "true"
                i += 2
            else:
                out[key] = True
                i += 1
        elif key in known_vals:
            if i + 1 >= len(toks):
                raise ValueError(f"HBaseStorage: option -{key} needs a value")
            out[key] = toks[i + 1]
            i += 2
        else:
            raise ValueError(f"HBaseStorage: unknown option -{key}")
    return out


def _resolve(spark: SparkSession, path: str) -> str:
    """hbase://name resolves under the configured cell-store root; a
    plain path is used directly (tests point straight at a dataset)."""
    if path.startswith("hbase://"):
        root = spark.conf.get(HBASE_ROOT_CONF, None)
        if not root:
            raise ValueError(
                f"HBaseStorage: set {HBASE_ROOT_CONF} to the cell-store root "
                "directory to resolve hbase:// table names (client-less "
                "facade — see sources/hbase.py)"
            )
        return f"{root.rstrip('/')}/{path[len('hbase://'):]}"
    return path


_SLASHISIZE = re.compile(r"\\x([0-9A-Fa-f]{2})")


def slashisize(s: str) -> str:
    r"""Utils.slashisize / Bytes.toBytesBinary — decode ``\xNN`` hex
    escapes in row-key range values (e.g. ``\x00`` region boundaries),
    so ``-lt row\x00`` compares as the NUL byte, not four literal
    characters. Spark strings compare by UTF-8 binary order, so the
    decoded form matches HBase's byte-lexicographic scan range for the
    UTF-8 keys the facade writes — for escapes in ``\x00``–``\x7f``
    ONLY: a codepoint ≥ 0x80 encodes as TWO UTF-8 bytes (0xC2/0xC3
    lead), which sorts differently from the single raw byte
    Bytes.toBytesBinary produces, so such a bound would silently scan
    a different range (r10 ADVICE). Rejected with a clear error; the
    facade's own keys are UTF-8 strings, so sub-0x80 boundaries can
    express every range between them. Keys containing SPACES still
    cannot be expressed (the option string tokenizes on whitespace —
    divergence documented alongside the per-region ``-limit`` note
    above)."""

    def _decode(m: re.Match) -> str:
        b = int(m.group(1), 16)
        if b >= 0x80:
            raise ValueError(
                f"slashisize: \\x{b:02x} range escape is not order-faithful "
                "under UTF-8 string comparison (codepoints >= 0x80 encode as "
                "two bytes and sort differently from the raw byte "
                "Bytes.toBytesBinary produces); use escapes in \\x00-\\x7f "
                "(applies to HBaseStorage and AccumuloStorage ranges)"
            )
        return chr(b)

    return _SLASHISIZE.sub(_decode, s)


def _next_ts(spark: SparkSession, path: str) -> int:
    """Each store invocation stamps its cells one tick past the target
    dataset's current max ts, so the load side's latest-version rule
    (``max_by(value, ts)``) deterministically resolves rewrites — the
    facade's stand-in for HBase stamping puts with the server clock
    (real puts get currentTimeMillis). Cheap even on a large cell
    store: ``max(ts)`` answers from parquet footer statistics."""
    try:
        row = spark.read.schema(CELL_SCHEMA).parquet(path).agg(F.max("ts")).first()
        return (row[0] if row[0] is not None else 0) + 1
    except AnalysisException:  # first store: the dataset doesn't exist yet
        return 1


def _utf8(value):
    return F.decode(value, "UTF-8")


def _be_s64(value):
    """8-byte big-endian signed long as a string column. Sign restored
    via exact DECIMAL arithmetic (conv() reads hex as unsigned)."""
    u64 = F.conv(F.hex(value), 16, 10).cast("decimal(21,0)")
    # 2^63 / 2^64 exceed the long literal range — ship them as strings
    two63 = F.lit(str(1 << 63)).cast("decimal(21,0)")
    two64 = F.lit(str(1 << 64)).cast("decimal(21,0)")
    return (
        F.when(u64 >= two63, u64 - two64).otherwise(u64).cast("long").cast("string")
    )


def _be_s32(value):
    u32 = F.conv(F.hex(value), 16, 10).cast("long")
    return F.when(u32 >= (1 << 31), u32 - (1 << 32)).otherwise(u32).cast("string")


def _binary_decode(value, ptype: str | None = None):
    """HBaseBinaryConverter: the Java class decodes by the REQUESTED
    Pig type from the AS schema (bytesToLong/bytesToInt/... each demand
    the exact Bytes.toBytes width and throw otherwise — the facade
    yields NULL on a width mismatch instead of failing the scan). When
    no AS clause supplies a type (``ptype is None``) the facade falls
    back to the width heuristic 8 → long, 4 → int, else UTF-8 — which
    CORRUPTS string values whose UTF-8 encoding happens to be exactly
    4 or 8 bytes (e.g. '2024' → '842019890'); give binary-caster loads
    an AS clause to get the Java decode."""
    t = (ptype or "").lower()
    if t in ("long", "bigint"):
        return F.when(F.length(value) == 8, _be_s64(value))
    if t in ("int", "integer"):
        return F.when(F.length(value) == 4, _be_s32(value))
    if t == "double":  # Bytes.toDouble — IEEE bits via the JVM
        bits = _be_s64(value).cast("long")
        return F.when(
            F.length(value) == 8,
            F.reflect(
                F.lit("java.lang.Double"), F.lit("longBitsToDouble"), bits
            ).cast("double").cast("string"),
        )
    if t == "float":
        bits = _be_s32(value).cast("int")
        return F.when(
            F.length(value) == 4,
            F.reflect(
                F.lit("java.lang.Float"), F.lit("intBitsToFloat"), bits
            ).cast("float").cast("string"),
        )
    if t == "boolean":  # Bytes.toBoolean — single byte, 0 = false
        return F.when(F.length(value) == 1, (F.hex(value) != "00").cast("string"))
    if t in ("chararray", "bytearray", "string"):
        return _utf8(value)
    # no requested type: the documented width heuristic
    return (
        F.when(F.length(value) == 8, _be_s64(value))
        .when(F.length(value) == 4, _be_s32(value))
        .otherwise(_utf8(value))
    )


def _decoder(caster: str):
    """Returns decode(value, ptype=None) -> string column."""
    c = (caster or "Utf8StorageConverter").rsplit(".", 1)[-1].lower()
    if c == "utf8storageconverter":
        return lambda value, ptype=None: _utf8(value)
    if c == "hbasebinaryconverter":
        return _binary_decode
    raise ValueError(f"HBaseStorage: unsupported caster {caster!r}")


def load_hbase(
    spark: SparkSession,
    path: str,
    column_list: str,
    options: str = "",
    field_types: list | None = None,
) -> DataFrame:
    """LOAD ... USING HBaseStorage(columnList, options) over a cell
    dataset. Output columns: [rowkey if -loadKey] + one column per
    column-list item in order — scalar items as string (caster-
    decoded; AS clauses apply Pig gradual typing downstream), map
    items as map<string,string> keyed by the qualifier.

    ``field_types`` (optional) = the AS-clause Pig types aligned with
    the OUTPUT columns (including the rowkey slot when -loadKey) — the
    binary caster decodes each cell by its requested type, exactly the
    Java HBaseBinaryConverter contract; without it the width heuristic
    applies (see _binary_decode)."""
    opts = _parse_options(options)
    cols = parse_column_list(
        column_list,
        delim=opts.get("delim", ","),
        ignore_whitespace=bool(opts.get("ignorewhitespace", True)),
    )
    decode = _decoder(opts.get("caster", "Utf8StorageConverter"))
    # per-output-column requested types → per column-list item (skip
    # the rowkey slot when -loadKey occupies output position 0)
    off = 1 if opts.get("loadkey") else 0
    types = [
        field_types[i + off] if field_types and i + off < len(field_types) else None
        for i in range(len(cols))
    ]
    cells = spark.read.schema(CELL_SCHEMA).parquet(_resolve(spark, path))

    # scan options — all become scan-pushable predicates on the
    # parquet read (the facade's HBase range scan); range values decode
    # \xNN escapes (Utils.slashisize / Bytes.toBytesBinary)
    key = F.col("rowkey")
    if "gt" in opts:
        cells = cells.where(key > slashisize(opts["gt"]))
    if "gte" in opts:
        cells = cells.where(key >= slashisize(opts["gte"]))
    if "lt" in opts:
        cells = cells.where(key < slashisize(opts["lt"]))
    if "lte" in opts:
        cells = cells.where(key <= slashisize(opts["lte"]))
    if "regex" in opts:
        cells = cells.where(key.rlike(opts["regex"]))
    if "timestamp" in opts:
        cells = cells.where(F.col("ts") == int(opts["timestamp"]))
    else:
        if "mintimestamp" in opts:
            cells = cells.where(F.col("ts") >= int(opts["mintimestamp"]))
        if "maxtimestamp" in opts:  # exclusive — HBase setTimeRange
            cells = cells.where(F.col("ts") < int(opts["maxtimestamp"]))

    # column pruning at the cell level: only requested families /
    # qualifiers survive to the pivot (the addColumn/addFamily calls)
    conds = []
    for ci in cols:
        base = F.col("cf") == ci.family
        if ci.qual is not None:
            conds.append(base & (F.col("qual") == ci.qual))
        elif ci.prefix is not None:
            conds.append(base & F.col("qual").startswith(ci.prefix))
        else:
            conds.append(base)
    keep = conds[0]
    for c in conds[1:]:
        keep = keep | c
    cells = cells.where(keep)

    # latest version per cell (scan semantics), then ONE groupBy pivot
    # to one row per key — partial-aggregated on the row key
    latest = cells.groupBy("rowkey", "cf", "qual").agg(
        F.max_by("value", "ts").alias("value")
    )
    # scalar columns aggregate the RAW cell bytes (at most one per key
    # after the version dedup) and decode AFTER the pivot — typed
    # decodes may use JVM reflection, which the analyzer bans inside
    # aggregate arguments; map columns decode inline (always untyped)
    aggs = []
    for i, ci in enumerate(cols):
        base = F.col("cf") == ci.family
        if ci.qual is not None:
            cond = base & (F.col("qual") == ci.qual)
            aggs.append(F.max(F.when(cond, F.col("value"))).alias(f"c{i}"))
        else:
            cond = base if ci.prefix is None else base & F.col("qual").startswith(ci.prefix)
            entry = F.when(cond, F.struct(F.col("qual"), decode(F.col("value"))))
            aggs.append(
                F.map_from_entries(
                    F.array_sort(F.filter(F.collect_list(entry), lambda e: e.isNotNull()))
                ).alias(f"c{i}")
            )
    out = latest.groupBy("rowkey").agg(*aggs)
    if "limit" in opts:
        # Java: rows per REGION; facade: global (no regions client-side)
        out = out.orderBy("rowkey").limit(int(opts["limit"]))
    sel = [F.col("rowkey")] if opts.get("loadkey") else []
    for i, ci in enumerate(cols):
        dst = ci.original.replace(":", "_").replace("*", "").rstrip("_") or f"c{i}"
        c = F.col(f"c{i}")
        sel.append((c if ci.is_map else decode(c, types[i])).alias(dst))
    return out.select(*sel)


def _encode(col, dtype, caster: str):
    c = (caster or "Utf8StorageConverter").rsplit(".", 1)[-1].lower()
    t = dtype.simpleString()
    if c == "hbasebinaryconverter" and t in ("bigint", "long"):
        return F.unhex(F.lpad(F.hex(col), 16, "0"))
    if c == "hbasebinaryconverter" and t == "int":
        return F.unhex(
            F.lpad(F.hex(col.cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))), 8, "0")
        )
    return F.encode(col.cast("string"), "UTF-8")


def store_hbase(
    df: DataFrame, path: str, column_list: str, options: str = ""
) -> None:
    """STORE ... USING HBaseStorage(columnList, options): first field
    = row key (putNext), then one field per column-list item — scalar
    fields write one cell, map fields one cell per entry. Appends to
    the cell dataset (HBase puts are upserts; the load side's
    latest-version rule resolves rewrites)."""
    opts = _parse_options(options)
    cols = parse_column_list(
        column_list,
        delim=opts.get("delim", ","),
        ignore_whitespace=bool(opts.get("ignorewhitespace", True)),
    )
    caster = opts.get("caster", "Utf8StorageConverter")
    fields = df.columns
    if len(fields) != len(cols) + 1:
        raise ValueError(
            f"HBaseStorage store: relation has {len(fields)} fields but the "
            f"column list names {len(cols)} (+1 for the row key)"
        )
    target = _resolve(df.sparkSession, path)
    # stamp this store one tick past the target's current max ts so the
    # latest-version rule resolves re-puts (puts are upserts)
    ts = F.lit(_next_ts(df.sparkSession, target)).cast("bigint")
    pieces = []
    keycol = F.col(fields[0]).cast("string").alias("rowkey")
    for ci, fname in zip(cols, fields[1:]):
        dtype = df.schema[fname].dataType
        if ci.is_map:
            if dtype.simpleString().startswith("map"):
                exploded = df.select(
                    keycol, F.explode_outer(F.col(fname)).alias("qual", "__v")
                ).where(F.col("qual").isNotNull())
                pieces.append(
                    exploded.select(
                        "rowkey",
                        F.lit(ci.family).alias("cf"),
                        "qual",
                        _encode(F.col("__v"), exploded.schema["__v"].dataType, caster).alias("value"),
                        ts.alias("ts"),
                    ).where(F.col("value").isNotNull())  # a put never writes null
                )
            else:
                raise ValueError(
                    f"HBaseStorage store: field {fname!r} feeds map column "
                    f"{ci.original!r} but is not a map"
                )
        else:
            pieces.append(
                df.select(
                    keycol,
                    F.lit(ci.family).alias("cf"),
                    F.lit(ci.qual).alias("qual"),
                    _encode(F.col(fname), dtype, caster).alias("value"),
                    ts.alias("ts"),
                ).where(F.col("value").isNotNull())
            )
    cells = pieces[0]
    for p in pieces[1:]:
        cells = cells.unionByName(p)
    cells.write.mode("append").parquet(target)
