"""Local mini-verifier: runs each queries() entry on Spark and its
oracle_sql() on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values — a stand-in
for the driver's CORRECTNESS gate so failures surface before a round
ends.

Usage: python tools/verify_local.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(val):
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        # FULL precision (shortest round-trip repr), not %.9g: the
        # driver's value hash is exact, and %.9g gave only 2 decimal
        # places at 1e7 magnitude — strictly MORE lenient than the
        # driver, which is how the q119 red row shipped in r6. The
        # local gate must be at least as strict as the driver's hash;
        # queries are responsible for rounding their own floats to a
        # scale-invariant number of significant digits on BOTH sides.
        return repr(val)
    if hasattr(val, "isoformat"):
        return val.isoformat().replace("T", " ")[:26]
    if isinstance(val, bool):
        return str(int(val))
    return str(val)


def nested_columns(schema):
    """Column names whose type the driver canonicalizer cannot sort.

    The driver canonicalizes results via pandas sort_values over every
    column; list/dict cells raise ``unhashable type`` there, so ANY
    array/map/struct output column is a guaranteed red driver row even
    when the values match the oracle (the r10 q152 incident). The local
    gate must therefore REJECT them — normalize()'s str() fallback is
    strictly more lenient and is exactly how q152 shipped."""
    return [
        f.name
        for f in schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(normalize(r[i]) for i in order))
    return sorted(out)


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {unknown}")
        sys.exit(2)

    import duckdb

    if os.environ.get("VERIFY_VANILLA") == "1":
        # driver rehearsal: a PLAIN Spark 4 session (ANSI on, local tz,
        # no pig_spark confs) — the engine must produce identical
        # results because sources.load asserts Pig semantics itself
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("verify_vanilla")
            .master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .getOrCreate()
        )
    else:
        from pig_spark.session import get_spark

        spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            # schema-only gate BEFORE collect: a nested-output red row
            # should cost plan analysis, not a full query execution
            nested = nested_columns(df.schema)
            spark_rows = df.collect() if not nested else []
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if nested:
            failures.append(name)
            print(
                f"FAIL {name}: non-scalar output column(s) {nested} — the "
                f"driver canonicalizer cannot sort list/dict cells; "
                f"serialize with array_join/concat_ws on BOTH engines"
            )
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"columns {sorted(spark_cols)} != {sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount {len(spark_rows)} != {len(duck_rows)}")
        if not problems and os.environ.get("VERIFY_STRICT", "1") != "0":
            # Driver-faithful typing check: the round-2 hash fails were
            # all DuckDB HUGEINT sums landing in pandas as float64 while
            # Spark delivered int64 — values equal, dtype different, and
            # the driver's value-hasher is type-sensitive. Compare the
            # pandas dtype KIND per column (both sides via their native
            # to-pandas path, same as the driver) and flag the dangerous
            # int-vs-float disagreement loudly before a round ends.
            sp = df.toPandas()
            dk = con.execute(oracles[name]).df()
            kind = lambda s: {"u": "i"}.get(s.dtype.kind, s.dtype.kind)  # noqa: E731
            for c in sorted(spark_cols):
                ks, kd = kind(sp[c]), kind(dk[c])
                if {ks, kd} == {"i", "f"}:
                    problems.append(f"dtype kind mismatch col {c}: spark {ks} vs duck {kd}")
        if not problems:
            s = rows_to_multiset(spark_rows, spark_cols)
            d = rows_to_multiset(duck_rows, duck_cols)
            if s != d:
                diff = [(a, b) for a, b in zip(s, d) if a != b]
                problems.append(f"values differ ({len(diff)} of {len(s)}): first {diff[:2]}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(spark_rows)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
