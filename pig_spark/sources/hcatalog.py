"""HCatalog facade — HCatLoader / HCatStorer / the Grunt ``sql``
command, Spark-catalog-native.

Reference surface: ``tools/grunt/GruntParser.java:1267``
(processSQLCommand — the ``sql <ddl>;`` Grunt statement, gated on
``pig.sql.type=hcat``), ``scripting/Pig.java`` (Pig.sql), and the
hcatalog project's ``HCatLoader``/``HCatStorer`` exercised by
``test/e2e/pig/tests/hcat.conf``::

    sql create table pig_hcat_ddl_1(name string, age int, gpa double)
        stored as textfile;
    a = LOAD 'pig_hcat_ddl_1' USING org.apache.hive.hcatalog.pig.HCatLoader();
    STORE b INTO 'tbl' USING org.apache.hive.hcatalog.pig.HCatStorer('ds=20240101');

Spark-first design: Spark's OWN catalog is the metastore. No HCat
client, no RPC layer — the semantics the Pig classes implement on top
of the metastore are native Spark operations:

- ``HCatLoader()``: ``spark.table(name)`` — the schema comes from the
  catalog (typed, so AS clauses are optional), partition columns are
  ordinary trailing columns (HCatLoader's contract), and Catalyst's
  partition pruning replaces ``setPartitionFilter`` — a filter on a
  partition column lands in the scan's ``PartitionFilters``, reading
  only matching partitions (plan-pinned in test_scale_plans.py);
- ``HCatStorer([partitionSpec])``: append into an EXISTING table
  (HCatStorer requires the table pre-created, matching the Java
  contract) via ``insertInto`` — static partition spec values become
  literal columns, dynamic partitioning otherwise; columns align to
  the table schema BY NAME when the names match, positionally
  otherwise (HCatBaseStorer's schema reconciliation);
- ``sql <stmt>;``: Hive DDL through ``spark.sql`` after rewriting the
  Hive physical clauses Spark's in-memory catalog does not accept
  (``STORED AS <fmt>`` / ``ROW FORMAT ...`` are dropped → the catalog
  default, parquet). The file format is an engine-physical concern —
  results are format-agnostic; divergence documented here and in
  COVERAGE.md.

At 100 TB: a catalog table scan is exactly a parquet scan plus
partition pruning — filters on partition columns never touch excluded
partitions' files, and everything downstream is the same pushdown/
pruning machinery every other loader uses.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Hive physical clauses the in-memory catalog rejects; results are
# unaffected by file format, so they rewrite away (documented above)
_STORED_AS = re.compile(r"\bstored\s+as\s+\w+", re.IGNORECASE)
_ROW_FORMAT = re.compile(
    r"\brow\s+format\s+.*?(?=\bstored\s+as\b|\blocation\b|\btblproperties\b|$)",
    re.IGNORECASE | re.DOTALL,
)


def rewrite_hive_ddl(stmt: str) -> str:
    """Hive DDL → a form Spark's catalog accepts (see module doc)."""
    s = _ROW_FORMAT.sub(" ", stmt)
    s = _STORED_AS.sub(" ", s)
    return s.strip().rstrip(";").strip()


_DROP_TABLE = re.compile(
    r"^drop\s+table\s+(?:if\s+exists\s+)?([\w.]+)", re.IGNORECASE
)


def _scrub_stray_location(spark: SparkSession, name: str) -> None:
    """Hive's DROP TABLE on a managed table removes its directory.
    Spark's in-memory catalog is per-SESSION, so a managed location
    left by a PREVIOUS session is invisible to DROP and then fails the
    next CREATE with LOCATION_ALREADY_EXISTS. After a drop of a table
    the catalog does NOT know, remove the would-be managed location —
    strictly under spark.sql.warehouse.dir, never user paths."""
    import os
    import shutil
    from urllib.parse import urlparse

    if spark.catalog.tableExists(name):
        return  # the catalog's own drop handles the location
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    parts = name.lower().split(".")
    leaf = f"{parts[-2]}.db/{parts[-1]}" if len(parts) > 1 else parts[-1]
    loc = os.path.join(wh, leaf)
    if os.path.isdir(loc) and os.path.realpath(loc).startswith(
        os.path.realpath(wh) + os.sep
    ):
        shutil.rmtree(loc, ignore_errors=True)


def run_sql(spark: SparkSession, command: str) -> None:
    """GruntParser.processSQLCommand:1267 — the statement after the
    ``sql`` keyword goes to the SQL engine (there: the hcat CLI; here:
    spark.sql). Mirrors the Java checks: the command must start with
    the sql keyword (stripped by the caller) and a failure surfaces as
    an error, not a silent warn."""
    stmt = rewrite_hive_ddl(command)
    if stmt:
        spark.sql(stmt)
        m = _DROP_TABLE.match(stmt)
        if m:
            _scrub_stray_location(spark, m.group(1))


def load_hcat(spark: SparkSession, table: str) -> DataFrame:
    """LOAD 'db.tbl'|'tbl' USING HCatLoader() — the catalog resolves
    the name; schema (incl. trailing partition columns) comes typed
    from the metastore, so downstream AS clauses only rename/cast."""
    return spark.table(table)


def _parse_partition_spec(spec: str) -> dict[str, str]:
    """HCatStorer's ctor string: 'k1=v1[,k2=v2]', values optionally
    quoted (HCatBaseStorer parses with a simple split)."""
    out: dict[str, str] = {}
    for part in (p.strip() for p in spec.split(",") if p.strip()):
        k, sep, v = part.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"HCatStorer: cannot parse partition spec element {part!r} "
                "(expected key=value[,key=value...])"
            )
        out[k.strip()] = v.strip().strip("'\"")
    return out


def store_hcat(df: DataFrame, table: str, partition_spec: str = "") -> None:
    """STORE ... INTO 'tbl' USING HCatStorer(['k=v,...']) — append into
    an existing catalog table. The Java class requires the table to
    exist (HCatOutputFormat.setOutput throws NoSuchObjectException) —
    same here, with a pointer at the ``sql`` command for the DDL."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        raise ValueError(
            f"HCatStorer: table {table!r} does not exist — create it first "
            "(e.g. the Grunt `sql create table ...;` command), matching the "
            "Java HCatStorer contract"
        )
    target = spark.table(table).schema
    static = _parse_partition_spec(partition_spec)
    for k, v in static.items():
        if k not in target.fieldNames():
            raise ValueError(
                f"HCatStorer: partition key {k!r} is not a column of {table!r}"
            )
        df = df.withColumn(k, F.lit(v).cast(target[k].dataType))
    # schema reconciliation (HCatBaseStorer): by name when the incoming
    # names match the table's, positional otherwise; always cast to the
    # table's types so gradually-typed Pig fields land correctly
    if set(target.fieldNames()) <= set(df.columns):
        aligned = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
        )
    else:
        if len(df.columns) != len(target.fields):
            raise ValueError(
                f"HCatStorer: relation has {len(df.columns)} fields but table "
                f"{table!r} has {len(target.fields)} columns"
            )
        aligned = df.select(
            *[
                F.col(c).cast(f.dataType).alias(f.name)
                for c, f in zip(df.columns, target.fields)
            ]
        )
    aligned.write.mode("append").insertInto(table)
