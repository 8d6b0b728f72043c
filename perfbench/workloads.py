"""The three benchmark workloads and their output checks.

A workload is an ordered list of ``Query`` objects plus the DuckDB
oracles that check them. ``pigmix`` and ``corpus`` queries are
DataFrame-returning query functions from the package (``pig_spark.pigmix`` and
``pig_spark.queries``); ``latin_etl`` queries are Pig Latin scripts run
through ``pig_spark.latin.run``, each re-LOADing what the previous one
STOREd.

Checks are order-insensitive multiset comparisons done inside DuckDB:
the Spark result is written to parquet (or, for ``latin_etl``, is the
script's own stored output), and both ``spark EXCEPT ALL oracle`` and
``oracle EXCEPT ALL spark`` must be empty, over the columns in name
order.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

CORPUS_QUERIES = (
    "q41_minhash_pairs",
    "q87_dedup_groups",
    "q125_hashed_quality_classifier",
    "q129_paragraph_dedup",
)

# tables each PigMix query reads besides ``events``
_PIGMIX_EXTRA = {
    "pm03_join_group_sum": ("customer",),
    "pm05_cogroup_anti": ("customer",),
    "pm11_distinct_union": ("customer",),
    "pm13_left_outer_join": ("supplier",),
}


@dataclass
class Query:
    name: str
    tables: tuple[str, ...]  # generated tables read: the query's logical input rows
    oracle: str
    build: object = None  # (spark, data_dir) -> DataFrame
    script: str = ""  # Pig Latin, formatted with data/out/udf paths
    stores: dict[str, str] = field(default_factory=dict)  # store dir -> oracle


@dataclass
class Workload:
    name: str
    queries: list[Query]
    # wall seconds of one warm pass on a 4-core machine: --seconds
    # divided by it is the number of timed passes
    nominal_pass_s: float
    # untimed passes after the verification pass, so that timing starts
    # past the steepest part of the JIT warm-up
    warmup_passes: int = 0


def _pigmix() -> Workload:
    """The odd-numbered PigMix scripts (L1, L3, ..., L17): between them
    a flatten, a hash join, a cogroup anti-join, conditional and
    multi-distinct aggregates, a global sort, a distinct-union, a left
    outer join and a wide group key. All seventeen do not fit the
    benchmark's per-run time budget alongside the other workloads."""
    from pig_spark.pigmix import ORACLES, PIGMIX_QUERIES

    return Workload("pigmix", [
        Query(name, ("events",) + _PIGMIX_EXTRA.get(name, ()), ORACLES[name], build=fn)
        for name, fn in PIGMIX_QUERIES.items()
        if int(name[2:4]) % 2 == 1
    ], nominal_pass_s=4.0)


def _corpus() -> Workload:
    from pig_spark.oracles import oracle_sql
    from pig_spark.queries import QUERIES

    oracles = oracle_sql()
    return Workload("corpus", [
        Query(name, ("documents",), oracles[name], build=QUERIES[name]) for name in CORPUS_QUERIES
    ], nominal_pass_s=4.0, warmup_passes=1)


_STUDENTS = (
    "read_csv('{data}/studenttab', delim='\t', header=false, quote='', escape='', "
    "auto_detect=false, columns={{'name': 'VARCHAR', 'age': 'INTEGER', 'gpa': 'DOUBLE'}})"
)
_VOTERS = (
    "read_csv('{data}/votertab', delim='\t', header=false, quote='', escape='', "
    "auto_detect=false, columns={{'name': 'VARCHAR', 'age': 'INTEGER', "
    "'registration': 'VARCHAR', 'contributions': 'DOUBLE'}})"
)
_JOINED = f"""
    SELECT s.name, s.age, s.gpa, v.registration, v.age AS vage,
           CASE WHEN s.gpa >= 3.0 THEN 'high' WHEN s.gpa >= 2.0 THEN 'mid' ELSE 'low' END AS band
    FROM {_STUDENTS} s JOIN {_VOTERS} v ON s.name = v.name
    WHERE s.age >= 21 AND s.gpa >= 1.0"""
_BY_PARTY = f"""
    SELECT registration, band, COUNT(*) AS n, SUM(age) AS age_sum, MAX(gpa) AS max_gpa
    FROM ({_JOINED}) GROUP BY registration, band"""

ETL_JOIN = """
REGISTER '{udf}' USING streaming_python AS bench;
s = LOAD '{data}/studenttab' USING PigStorage('\\t') AS (name:chararray, age:int, gpa:double);
v = LOAD '{data}/votertab' USING PigStorage('\\t')
    AS (name:chararray, age:int, registration:chararray, contributions:double);
sf = FILTER s BY age >= 21 AND gpa >= 1.0;
j = JOIN sf BY name, v BY name;
p = FOREACH j GENERATE sf::name AS name, sf::age AS age, sf::gpa AS gpa,
    v::registration AS registration, v::age AS vage, bench.band(sf::gpa) AS band;
g = GROUP p BY (registration, band);
agg = FOREACH g GENERATE FLATTEN(group) AS (registration, band), COUNT(p) AS n,
    SUM(p.age) AS age_sum, MAX(p.gpa) AS max_gpa;
o = ORDER agg BY n DESC, registration, band;
STORE o INTO '{out}/by_party' USING PigStorage('\\t');
STORE p INTO '{out}/joined' USING ParquetStorer();
"""

ETL_RELOAD = """
j = LOAD '{out}/joined' USING ParquetLoader();
a = LOAD '{out}/by_party' USING PigStorage('\\t')
    AS (registration:chararray, band:chararray, n:long, age_sum:long, max_gpa:double);
hi = FILTER j BY age >= 30;
g = GROUP hi BY registration;
c = FOREACH g GENERATE group AS registration, COUNT(hi) AS n_hi, MAX(hi.vage) AS max_vage;
t = GROUP a BY registration;
tot = FOREACH t GENERATE group AS registration, SUM(a.n) AS n_all;
r = JOIN c BY registration, tot BY registration;
summary = FOREACH r GENERATE c::registration AS registration, n_hi, n_all, max_vage;
STORE summary INTO '{out}/summary' USING PigStorage('\\t');
"""

_SUMMARY = f"""
    SELECT h.registration, h.n_hi, t.n_all, h.max_vage
    FROM (SELECT registration, COUNT(*) AS n_hi, MAX(vage) AS max_vage
          FROM ({_JOINED}) WHERE age >= 30 GROUP BY registration) h
    JOIN (SELECT registration, SUM(n) AS n_all FROM ({_BY_PARTY}) GROUP BY registration) t
      ON h.registration = t.registration"""


def _latin() -> Workload:
    return Workload("latin_etl", [
        Query("etl_join", ("studenttab", "votertab"), "", script=ETL_JOIN, stores={
            "by_party": _BY_PARTY,
            "joined": _JOINED,
        }),
        Query("etl_reload", ("studenttab", "votertab"), "", script=ETL_RELOAD, stores={
            "summary": _SUMMARY,
        }),
    ], nominal_pass_s=2.0, warmup_passes=2)


# column names of the stored PigStorage text (the script's AS schema)
STORED_TEXT_COLUMNS = {
    "by_party": ["registration", "band", "n", "age_sum", "max_gpa"],
    "summary": ["registration", "n_hi", "n_all", "max_vage"],
}

WORKLOADS = {"pigmix": _pigmix, "corpus": _corpus, "latin_etl": _latin}


def load(name: str) -> Workload:
    return WORKLOADS[name]()


def stored_relation(out_dir: str, store: str) -> str:
    """DuckDB relation over a script's stored output directory."""
    path = os.path.join(out_dir, store)
    if store in STORED_TEXT_COLUMNS:
        names = ", ".join(f"'{c}'" for c in STORED_TEXT_COLUMNS[store])
        return (
            f"read_csv('{path}/part-*', delim='\t', header=false, quote='', escape='', "
            f"names=[{names}])"
        )
    return f"read_parquet('{path}/*.parquet')"


def compare(con, spark_rel: str, oracle_sql: str) -> str | None:
    """Order-insensitive multiset comparison of two DuckDB relations.
    Returns None when equal, else a one-line reason.

    Every CTE of the oracle is marked MATERIALIZED: DuckDB otherwise
    inlines a CTE at each reference, and the corpus oracles reference
    their per-document shingle lists several times."""
    oracle_sql = re.sub(r"(\b\w+) AS \(", r"\1 AS MATERIALIZED (", oracle_sql)
    s_cols = [d[0] for d in con.execute(f"SELECT * FROM {spark_rel} LIMIT 0").description]
    o_cols = [d[0] for d in con.execute(f"SELECT * FROM ({oracle_sql}) LIMIT 0").description]
    if sorted(s_cols) != sorted(o_cols):
        return f"columns {sorted(s_cols)} != {sorted(o_cols)}"
    cols = ", ".join(f'"{c}"' for c in sorted(s_cols))
    s_q = f"SELECT {cols} FROM {spark_rel}"
    o_q = f"SELECT {cols} FROM ({oracle_sql})"
    n_s = con.execute(f"SELECT COUNT(*) FROM ({s_q})").fetchone()[0]
    n_o = con.execute(f"SELECT COUNT(*) FROM ({o_q})").fetchone()[0]
    if n_s != n_o:
        return f"rowcount {n_s} != {n_o}"
    extra = con.execute(f"SELECT * FROM ({s_q} EXCEPT ALL {o_q}) LIMIT {MAX_DIFF_ROWS + 1}").fetchall()
    missing = con.execute(f"SELECT * FROM ({o_q} EXCEPT ALL {s_q}) LIMIT {MAX_DIFF_ROWS + 1}").fetchall()
    if (extra or missing) and not _float_close(extra, missing):
        return f"values differ: {len(extra)} unexpected, {len(missing)} missing of {n_o} rows"
    return None


MAX_DIFF_ROWS = 1000


def _float_close(a: list[tuple], b: list[tuple]) -> bool:
    """True when the rows only one side has pair up exactly except for
    floats within 2e-6 (relative above 1): the last digit of a value
    both engines round to six decimals can differ at a rounding tie."""
    if len(a) != len(b) or len(a) > MAX_DIFF_ROWS:
        return False

    def key(row):
        return tuple((isinstance(v, float), v if not isinstance(v, float) else 0.0) for v in row), row

    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if abs(x - y) > 2e-6 * max(1.0, abs(x)):
                    return False
            elif x != y:
                return False
    return True
