"""AccumuloStorage — Pig's Accumulo connector semantics over the same
client-less cell model as the HBase facade.

Reference: ``backend/hadoop/accumulo/AccumuloStorage.java`` +
``AbstractAccumuloStorage.java`` + ``Column.java``. As with
``sources/hbase.py``, no Accumulo cluster exists here, so the IO layer
is the cell dataset ``(rowkey, cf, qual, value binary, ts)`` and the
class's engine-side semantics are reproduced and tested:

- the column grammar (Column.java): comma-separated (``-separator``);
  ``cf`` / ``cf:cq`` LITERAL scalars, ``cf*`` (or bare ``*``)
  column-FAMILY-prefix maps, ``cf:`` / ``cf:cq*`` column-QUALIFIER-
  prefix maps;
- tuple shape (AccumuloStorage.getTuple:110): the row key is ALWAYS
  field 0 (no -loadKey option in this connector); LITERAL misses read
  as an EMPTY value, not null (EMPTY_DATA_BYTE_ARRAY); prefix-map
  keys are ``cf`` when the qualifier is empty, else ``cf:cq``;
- scan options: ``start``/``end`` row range (both inclusive —
  Accumulo ``Range(start, end)``), from the option string or the
  ``accumulo://table?start=..&end=..&columns=..`` URI form
  (setLocationFromUri:364); ``auths``/instance/user/password/
  zookeepers are client concerns, accepted and ignored;
- casters: UTF8StorageConverter default; AccumuloBinaryConverter =
  the same big-endian width decode as HBaseBinaryConverter (the Java
  classes share the encoding);
- store (getMutations:259): field 0 = row key; LITERAL fields write
  (cf, cq or ''); map fields write cf+mapkey (family-prefix) or
  (cf, cqprefix+mapkey) (qualifier-prefix) — the exact
  addColumn calls.

Normalization note: Pig's untyped tuples let the Java class put an
empty BYTEARRAY where a map field has no matches; Spark columns are
typed, so the facade reads that case as an empty map. Scale shape
identical to the HBase facade: row ranges land as parquet
PushedFilters, the pivot is one partial-aggregated row-key groupBy.
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .hbase import (  # shared cell model
    CELL_SCHEMA,
    _decoder,
    _encode,
    _next_ts,
    slashisize,
)

ACCUMULO_ROOT_CONF = "spark.pig_spark.accumulo.root"


@dataclass(frozen=True)
class AccumuloColumn:
    """Column.java — LITERAL / COLFAM_PREFIX / COLQUAL_PREFIX."""

    original: str
    kind: str  # 'literal' | 'colfam_prefix' | 'colqual_prefix'
    family: str
    qual: str | None


def parse_accumulo_columns(columns: str, separator: str = ",") -> list[AccumuloColumn]:
    out = []
    for raw in (c.strip() for c in columns.split(separator)):
        if not raw:
            continue
        if ":" not in raw:
            if raw.endswith("*"):
                out.append(AccumuloColumn(raw, "colfam_prefix", raw[:-1], None))
            else:
                out.append(AccumuloColumn(raw, "literal", raw, None))
            continue
        if len(raw) == 1:
            raise ValueError(f"AccumuloStorage: cannot parse {raw!r}")
        cf, _, cq = raw.partition(":")
        if cf.endswith("*"):
            out.append(AccumuloColumn(raw, "colfam_prefix", cf[:-1], None))
        elif cq == "" or cq.endswith("*"):
            out.append(AccumuloColumn(raw, "colqual_prefix", cf, cq.rstrip("*")))
        else:
            out.append(AccumuloColumn(raw, "literal", cf, cq))
    return out


def _parse_opts(options: str) -> dict:
    toks = options.split() if options else []
    out: dict = {}
    i = 0
    val_opts = {"caster", "separator", "start", "end", "auths",
                "mutation-buffer-size", "write-threads", "max-latency",
                "fetch-columns"}
    while i < len(toks):
        key = toks[i].lstrip("-").lower()
        if key in val_opts:
            if i + 1 >= len(toks):
                raise ValueError(f"AccumuloStorage: option -{key} needs a value")
            out[key] = toks[i + 1]
            i += 2
        elif key == "ignore-whitespace":
            out[key] = True
            i += 1
        else:
            raise ValueError(f"AccumuloStorage: unknown option -{key}")
    return out


def _resolve_uri(spark: SparkSession, location: str) -> tuple[str, dict]:
    """accumulo://table?start=..&end=..&columns=.. → (path, uri opts);
    plain paths pass through (setLocationFromUri:364 — the client
    params instance/user/password/zookeepers/auths are accepted and
    ignored, they configure the connector not the semantics)."""
    if not location.startswith("accumulo://"):
        return location, {}
    u = urlparse(location)
    root = spark.conf.get(ACCUMULO_ROOT_CONF, None)
    if not root:
        raise ValueError(
            f"AccumuloStorage: set {ACCUMULO_ROOT_CONF} to the cell-store "
            "root directory to resolve accumulo:// table names (client-less "
            "facade — see sources/accumulo.py)"
        )
    q = {k: v[0] for k, v in parse_qs(u.query).items()}
    opts = {}
    for k in ("start", "end"):
        if k in q:
            opts[k] = q[k]
    if "columns" in q or "fetch_columns" in q:
        opts["columns"] = q.get("columns") or q.get("fetch_columns")
    return f"{root.rstrip('/')}/{u.netloc}", opts


def load_accumulo(
    spark: SparkSession,
    location: str,
    columns: str = "",
    options: str = "",
    field_types: list | None = None,
) -> DataFrame:
    """LOAD ... USING AccumuloStorage(columns, options): row key is
    always field 0; LITERAL columns as string (missing → '' — the
    EMPTY_DATA_BYTE_ARRAY rule), prefix columns as map<string,string>
    keyed 'cf' / 'cf:cq'. ``field_types`` = AS-clause Pig types aligned
    with the output (slot 0 = the row key) — the binary caster decodes
    each LITERAL cell by its requested type (see hbase._binary_decode)."""
    opts = _parse_opts(options)
    path, uri_opts = _resolve_uri(spark, location)
    opts = {**uri_opts, **opts}
    cols = parse_accumulo_columns(
        opts.get("columns", columns), opts.get("separator", ",")
    )
    decode = _decoder(
        {"accumulobinaryconverter": "HBaseBinaryConverter"}.get(
            opts.get("caster", "UTF8StorageConverter").rsplit(".", 1)[-1].lower(),
            opts.get("caster", "UTF8StorageConverter"),
        )
    )
    cells = spark.read.schema(CELL_SCHEMA).parquet(path)
    if not cols:
        # AccumuloStorage('') — no columns: the tuple is just the row
        # key (getTuple iterates an empty column list)
        out = cells
        if "start" in opts:
            out = out.where(F.col("rowkey") >= slashisize(opts["start"]))
        if "end" in opts:
            out = out.where(F.col("rowkey") <= slashisize(opts["end"]))
        return out.select("rowkey").distinct()
    if "start" in opts:  # Accumulo Range(start, end): BOTH inclusive
        cells = cells.where(F.col("rowkey") >= slashisize(opts["start"]))
    if "end" in opts:
        cells = cells.where(F.col("rowkey") <= slashisize(opts["end"]))

    latest = cells.groupBy("rowkey", "cf", "qual").agg(
        F.max_by("value", "ts").alias("value")
    )
    mapkey = F.when(
        F.col("qual") == "", F.col("cf")
    ).otherwise(F.concat(F.col("cf"), F.lit(":"), F.col("qual")))
    aggs = []
    types = [
        field_types[i + 1] if field_types and i + 1 < len(field_types) else None
        for i in range(len(cols))
    ]
    # LITERALs aggregate RAW bytes and decode after the pivot (typed
    # decodes may use JVM reflection — banned inside aggregates)
    for i, ci in enumerate(cols):
        if ci.kind == "literal":
            cond = (F.col("cf") == ci.family) & (F.col("qual") == (ci.qual or ""))
            aggs.append(F.max(F.when(cond, F.col("value"))).alias(f"c{i}"))
        else:
            if ci.kind == "colfam_prefix":
                cond = F.col("cf").startswith(ci.family)
            else:
                cond = (F.col("cf") == ci.family) & F.col("qual").startswith(
                    ci.qual or ""
                )
            entry = F.when(cond, F.struct(mapkey.alias("k"), decode(F.col("value")).alias("v")))
            aggs.append(
                F.map_from_entries(
                    F.array_sort(F.collect_list(entry))
                ).alias(f"c{i}")
            )
    out = latest.groupBy("rowkey").agg(*aggs)
    sel = [F.col("rowkey")]
    for i, ci in enumerate(cols):
        dst = ci.original.replace(":", "_").replace("*", "").rstrip("_") or f"c{i}"
        c = F.col(f"c{i}")
        if ci.kind == "literal":
            # missing LITERAL reads as '' (EMPTY_DATA_BYTE_ARRAY)
            sel.append(F.coalesce(decode(c, types[i]), F.lit("")).alias(dst))
        else:
            sel.append(c.alias(dst))
    return out.select(*sel)


def store_accumulo(
    df: DataFrame, location: str, columns: str, options: str = ""
) -> None:
    """STORE ... USING AccumuloStorage(columns): getMutations:259 —
    field 0 = row key; LITERAL fields → (cf, cq or ''); map fields →
    cf+mapkey / (cf, cqprefix+mapkey) per the column kind."""
    opts = _parse_opts(options)
    path, _ = _resolve_uri(df.sparkSession, location)
    cols = parse_accumulo_columns(
        opts.get("columns", columns), opts.get("separator", ",")
    )
    caster = {"accumulobinaryconverter": "HBaseBinaryConverter"}.get(
        opts.get("caster", "UTF8StorageConverter").rsplit(".", 1)[-1].lower(),
        opts.get("caster", "UTF8StorageConverter"),
    )
    if not cols:
        # load supports AccumuloStorage('') (row keys only), but a
        # store with no columns has nothing to mutate — fail clearly
        raise ValueError(
            "AccumuloStorage store needs at least one column (the load-side "
            "AccumuloStorage('') row-key form has no store equivalent)"
        )
    fields = df.columns
    if len(fields) != len(cols) + 1:
        raise ValueError(
            f"AccumuloStorage store: relation has {len(fields)} fields but "
            f"the column list names {len(cols)} (+1 for the row key)"
        )
    # stamp one tick past the target's max ts — latest put wins on load
    ts = F.lit(_next_ts(df.sparkSession, path)).cast("bigint")
    keycol = F.col(fields[0]).cast("string").alias("rowkey")
    pieces = []
    for ci, fname in zip(cols, fields[1:]):
        dtype = df.schema[fname].dataType
        if ci.kind == "literal":
            pieces.append(
                df.select(
                    keycol,
                    F.lit(ci.family).alias("cf"),
                    F.lit(ci.qual or "").alias("qual"),
                    _encode(F.col(fname), dtype, caster).alias("value"),
                    ts.alias("ts"),
                ).where(F.col("value").isNotNull())
            )
        else:
            if not dtype.simpleString().startswith("map"):
                raise ValueError(
                    f"AccumuloStorage store: field {fname!r} feeds map "
                    f"column {ci.original!r} but is not a map"
                )
            ex = df.select(
                keycol, F.explode_outer(F.col(fname)).alias("k", "__v")
            ).where(F.col("k").isNotNull())
            if ci.kind == "colfam_prefix":
                cf, qual = F.concat(F.lit(ci.family), F.col("k")), F.lit("")
            else:
                cf = F.lit(ci.family)
                qual = F.concat(F.lit(ci.qual or ""), F.col("k"))
            pieces.append(
                ex.select(
                    "rowkey",
                    cf.alias("cf"),
                    qual.alias("qual"),
                    _encode(F.col("__v"), ex.schema["__v"].dataType, caster).alias("value"),
                    ts.alias("ts"),
                ).where(F.col("value").isNotNull())  # a mutation never writes null
            )
    cells = pieces[0]
    for p in pieces[1:]:
        cells = cells.unionByName(p)
    cells.write.mode("append").parquet(path)
