"""PigMix L1-L17 transliterated to the pig_spark DSL — the reference's
standard perf suite (reference test/perf/pigmix/src/pig/L1.pig ..
L17.pig), re-targeted at the driver's synthetic tables:

    page_views  -> events   (user_id, event_type, value, ts, props-JSON)
    users       -> customer (c_custkey ...)
    power_users -> supplier (s_suppkey ...)

Each pmNN function keeps the *shape* of its L-script — the operator
mix, join strategy, and shuffle structure PigMix was designed to
stress — expressed Spark-first. Where Pig needed custom machinery the
docstring names the Spark mechanism that replaces it. Every query has
a DuckDB oracle in ORACLES (hash-compared by the driver).

Float policy: double sums go through DECIMAL(18,2) (dsum/davg);
double->int conversions use floor() (Spark casts truncate, DuckDB
casts round — floor is identical in both).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .dsl import Relation
from .functions import event_ts
from .operators.cogroup import cogroup
from .operators.materialize import materialize


def _t(spark: SparkSession, sf_dir: str, name: str) -> Relation:
    return Relation.load(spark, f"{sf_dir}/{name}.parquet", "parquet")


def _dsum(col: Column) -> Column:
    return F.sum(col.cast("decimal(18,2)")).cast("double")


_SQL_DSUM = "CAST(SUM(CAST({0} AS DECIMAL(18,2))) AS DOUBLE)"


def pm01_map_flatten_bincond(spark: SparkSession, sf: str) -> DataFrame:
    """L1: map lookup + FLATTEN(bag) + bincond + group-count.

    props JSON ≅ page_info map (lookup via get_json_object stays in
    codegen); a 2-element array ≅ page_links bag (explode doubles
    rows before the group, like FLATTEN). One shuffle: the final
    groupBy(user_id) with map-side partial count."""
    e = _t(spark, sf, "events")
    info = F.get_json_object(F.col("props"), "$.k").cast("int")
    links = F.array(F.floor("value").cast("int"), (F.floor("value") * 2).cast("int"))
    b = e.foreach("user_id", "event_type", info=info, links=links).flatten(
        "links", keep=["user_id", "event_type", "info"]
    )
    header = F.when(F.col("event_type") == "click", F.col("info")).otherwise(F.col("links"))
    return (
        b.foreach("user_id", header=header)
        .group_by("user_id")
        .agg(cnt=F.count(F.lit(1)))
        .df
    )


def pm02_replicated_join(spark: SparkSession, sf: str) -> DataFrame:
    """L2: fragment-replicated join → broadcast (POFRJoin.java:69 ≅
    BroadcastHashJoin; the small side ships once per executor, no
    shuffle of the big side)."""
    e = _t(spark, sf, "events").foreach("user_id", "value")
    s = _t(spark, sf, "supplier").foreach(name=F.col("s_suppkey"))
    return (
        e.join(s, F.col("user_id") == F.col("name"), strategy="replicated")
        .foreach("user_id", "value")
        .df
    )


def pm03_join_group_sum(spark: SparkSession, sf: str) -> DataFrame:
    """L3: big hash join then group-sum. Catalyst broadcasts the
    customer key list when it fits, else shuffled hash join; the sum
    is algebraic (map-side partial)."""
    e = _t(spark, sf, "events").foreach("user_id", "value")
    c = _t(spark, sf, "customer").foreach(name=F.col("c_custkey"))
    return (
        c.join(e, F.col("name") == F.col("user_id"))
        .group_by("name")
        .agg(total_rev=_dsum(F.col("value")))
        .df
    )


def pm04_nested_distinct_count(spark: SparkSession, sf: str) -> DataFrame:
    """L4: nested DISTINCT inside FOREACH-over-GROUP. Pig builds a
    distinct bag per group in the reducer; Spark's count(DISTINCT)
    rewrites to a two-phase expand+agg — no bag materializes."""
    e = _t(spark, sf, "events")
    return e.group_by("user_id").agg(n_actions=F.countDistinct("event_type")).df


def pm05_cogroup_anti(spark: SparkSession, sf: str) -> DataFrame:
    """L5: COGROUP + IsEmpty-filter (Pig's anti-join idiom). Uses the
    real cogroup operator (per-input collect_list + full-outer join,
    null keys don't match across inputs) then filters empty bags."""
    c = _t(spark, sf, "customer").foreach(name=F.col("c_custkey"))
    e = _t(spark, sf, "events").foreach("user_id")
    cg = cogroup([c.df, e.df], on=[["name"], ["user_id"]], bag_names=["beta", "b"])
    return (
        cg.filter((F.size("beta") == 0) & (F.size("b") > 0))
        .select(F.col("name").alias("grp"))
        .distinct()
    )


def pm06_multikey_group(spark: SparkSession, sf: str) -> DataFrame:
    """L6: group by 4-column composite key + sum (wide shuffle key)."""
    e = _t(spark, sf, "events")
    return (
        e.foreach(
            "user_id",
            "event_type",
            day=F.to_date(event_ts(e.df)),
            pk=F.get_json_object(F.col("props"), "$.k").cast("int"),
            spent=F.floor("value").cast("long"),
        )
        .group_by("user_id", "event_type", "day", "pk")
        .agg(total=F.sum("spent"))
        .df
    )


def pm07_nested_filter_counts(spark: SparkSession, sf: str) -> DataFrame:
    """L7: nested FILTER + COUNT per group (morning/afternoon). Pig
    splits each reducer bag twice; the Spark-first lowering is
    conditional aggregates — one pass, no bags."""
    e = _t(spark, sf, "events")
    hr = F.hour(event_ts(e.df))
    return (
        e.group_by("user_id")
        .agg(
            morning=F.count(F.when(hr < 12, 1)),
            afternoon=F.count(F.when(hr >= 12, 1)),
        )
        .df
    )


def pm08_group_all(spark: SparkSession, sf: str) -> DataFrame:
    """L8: GROUP ALL → single global aggregate row. Spark computes
    partials per partition then merges one row — the 1-reducer
    bottleneck Pig had is a single lightweight merge here."""
    e = _t(spark, sf, "events")
    return (
        e.group_all()
        .agg(
            total_spent=F.sum(F.floor("value").cast("long")),
            avg_rev=_dsum(F.col("value")) / F.count(F.lit(1)),
        )
        .df
    )


def pm09_order_single(spark: SparkSession, sf: str) -> DataFrame:
    """L9: global ORDER BY one key. Pig: sampler job + quantile range
    partition + sort job; Spark's orderBy is the identical
    RangePartitioner sampling scheme in one plan."""
    e = _t(spark, sf, "events")
    return e.order_by("event_type").foreach("event_id", "user_id", "event_type", "value").df


def pm10_order_mixed(spark: SparkSession, sf: str) -> DataFrame:
    """L10: global ORDER BY 3 keys, mixed asc/desc."""
    e = _t(spark, sf, "events")
    return (
        e.order_by("event_type", "value", "user_id", ascending=[True, False, True])
        .foreach("event_id", "user_id", "event_type", "value")
        .df
    )


def pm11_distinct_union(spark: SparkSession, sf: str) -> DataFrame:
    """L11: DISTINCT + UNION + DISTINCT. The outer distinct subsumes
    the inner ones; Catalyst still gets partial dedup per input
    (map-side) before the final shuffle."""
    a = _t(spark, sf, "events").foreach(name=F.col("user_id")).distinct()
    b = _t(spark, sf, "customer").foreach(name=F.col("c_custkey")).distinct()
    return a.union(b).distinct().df


def pm12_split_multistore(spark: SparkSession, sf: str) -> DataFrame:
    """L12: SPLIT + two stores off one scan (MultiQuery). Both
    branches are read in one plan, so the split parent is
    materialized once for them (operators/materialize.py); branch
    outputs union into one tagged frame for the oracle."""
    e = Relation(materialize(_t(spark, sf, "events").df))
    clicks, rest = e.split(F.col("event_type") == "click", otherwise=True)
    by_user = clicks.group_by("user_id").agg(val=F.max("value")).foreach(
        tag=F.lit("user_max"), key=F.col("user_id").cast("string"), val=F.col("val")
    )
    by_type = rest.group_by("event_type").agg(val=_dsum(F.col("value"))).foreach(
        tag=F.lit("type_sum"), key=F.col("event_type"), val=F.col("val")
    )
    return by_user.union(by_type).df


def pm13_left_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """L13: left outer join (2-way, reference QueryParser.g:559-590)."""
    e = _t(spark, sf, "events").foreach("user_id", "value")
    s = _t(spark, sf, "supplier").foreach("s_suppkey", "s_name")
    return (
        e.join(s, F.col("user_id") == F.col("s_suppkey"), how="left")
        .foreach("user_id", "value", "s_name")
        .df
    )


def pm14_merge_join(spark: SparkSession, sf: str) -> DataFrame:
    """L14: merge join of pre-sorted inputs (POMergeJoin.java:68). In
    Spark the merge hint forces SortMergeJoin; with bucketed+sorted
    tables the sort/shuffle vanish entirely — same plan Pig's index
    machinery existed to produce."""
    e = _t(spark, sf, "events").foreach("user_id", "value")
    c = _t(spark, sf, "customer").foreach(name=F.col("c_custkey"))
    return (
        e.join(c, F.col("user_id") == F.col("name"), strategy="merge")
        .foreach("user_id", "value")
        .df
    )


def pm15_multi_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """L15: three DISTINCT aggregates in one FOREACH-over-GROUP. Spark
    plans multi-distinct with a single expand — one shuffle, no bags."""
    e = _t(spark, sf, "events")
    spent = F.floor("value").cast("long")
    staged = e.foreach("user_id", "event_type", spent=spent)
    return (
        staged.group_by("user_id")
        .agg(
            n_act=F.countDistinct("event_type"),
            sum_spent=F.sum_distinct(F.col("spent")),
            avg_spent=F.round(F.expr("avg(DISTINCT spent)"), 6),
        )
        .df
    )


def pm16_nested_order_sum(spark: SparkSession, sf: str) -> DataFrame:
    """L16: nested ORDER BY + SUM of the ordered bag. Pig needs the
    SecondaryKeyOptimizer to fold the nested sort into the shuffle;
    the sum is order-insensitive, so the Spark-first lowering drops
    the sort entirely — algebraic aggregate, one shuffle."""
    e = _t(spark, sf, "events")
    return e.group_by("user_id").agg(total=_dsum(F.col("value"))).df


def pm17_wide_group_key(spark: SparkSession, sf: str) -> DataFrame:
    """L17: very wide composite group key (shuffle-row width stress).
    Derived columns triple the key width like widegroupbydata."""
    e = _t(spark, sf, "events")
    staged = e.foreach(
        "user_id",
        "event_type",
        u1=F.col("user_id") + 1000,
        u2=F.col("user_id") * 7,
        t1=F.concat(F.col("event_type"), F.lit("_1")),
        h=F.hour(event_ts(e.df)),
        pk=F.get_json_object(F.col("props"), "$.k").cast("int"),
        day=F.to_date(event_ts(e.df)),
        spent=F.floor("value").cast("long"),
        val=F.col("value"),
    )
    return (
        staged.group_by("user_id", "event_type", "u1", "u2", "t1", "h", "pk", "day")
        .agg(
            s0=F.sum("spent"),
            s1=F.sum(F.col("spent") * 2),
            a0=_dsum(F.col("val")) / F.count(F.lit(1)),
            n=F.count(F.lit(1)),
        )
        .df
    )


# ----------------------------------------------------------------------
# DuckDB oracles (same aliases, same float policy)
# ----------------------------------------------------------------------
_DS = _SQL_DSUM

ORACLES: dict[str, str] = {
    "pm01_map_flatten_bincond": """
        WITH b AS (
            SELECT user_id, event_type,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS info,
                   [CAST(floor(value) AS INTEGER), CAST(floor(value)*2 AS INTEGER)] AS links
            FROM events),
        c AS (
            SELECT user_id,
                   CASE WHEN event_type = 'click' THEN info ELSE u.link END AS header
            FROM b, unnest(b.links) AS u(link))
        SELECT user_id, COUNT(*) AS cnt FROM c GROUP BY user_id""",
    "pm02_replicated_join": """
        SELECT user_id, value FROM events JOIN supplier ON user_id = s_suppkey""",
    "pm03_join_group_sum": f"""
        SELECT c_custkey AS name, {_DS.format('value')} AS total_rev
        FROM customer JOIN events ON c_custkey = user_id
        GROUP BY c_custkey""",
    "pm04_nested_distinct_count": """
        SELECT user_id, COUNT(DISTINCT event_type) AS n_actions
        FROM events GROUP BY user_id""",
    "pm05_cogroup_anti": """
        SELECT DISTINCT user_id AS grp FROM events
        WHERE user_id IS NULL
           OR user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)""",
    "pm06_multikey_group": """
        SELECT user_id, event_type, CAST(ts AS DATE) AS day,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS pk,
               CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total
        FROM events GROUP BY 1, 2, 3, 4""",
    "pm07_nested_filter_counts": """
        SELECT user_id,
               COUNT(CASE WHEN hour(ts) < 12 THEN 1 END) AS morning,
               COUNT(CASE WHEN hour(ts) >= 12 THEN 1 END) AS afternoon
        FROM events GROUP BY user_id""",
    "pm08_group_all": f"""
        SELECT CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total_spent,
               {_DS.format('value')} / COUNT(*) AS avg_rev
        FROM events""",
    "pm09_order_single": """
        SELECT event_id, user_id, event_type, value FROM events ORDER BY event_type""",
    "pm10_order_mixed": """
        SELECT event_id, user_id, event_type, value FROM events
        ORDER BY event_type ASC, value DESC, user_id ASC""",
    "pm11_distinct_union": """
        SELECT DISTINCT name FROM (
            SELECT user_id AS name FROM events
            UNION ALL SELECT c_custkey FROM customer) t""",
    "pm12_split_multistore": f"""
        SELECT 'user_max' AS tag, CAST(user_id AS VARCHAR) AS key, MAX(value) AS val
        FROM events WHERE event_type = 'click' GROUP BY user_id
        UNION ALL
        SELECT 'type_sum' AS tag, event_type AS key, {_DS.format('value')} AS val
        FROM events WHERE NOT (event_type = 'click') GROUP BY event_type""",
    "pm13_left_outer_join": """
        SELECT user_id, value, s_name
        FROM events LEFT JOIN supplier ON user_id = s_suppkey""",
    "pm14_merge_join": """
        SELECT user_id, value FROM events JOIN customer ON user_id = c_custkey""",
    "pm15_multi_distinct": """
        WITH staged AS (
            SELECT user_id, event_type, CAST(floor(value) AS BIGINT) AS spent FROM events)
        SELECT user_id,
               COUNT(DISTINCT event_type) AS n_act,
               CAST(SUM(DISTINCT spent) AS BIGINT) AS sum_spent,
               round(AVG(DISTINCT spent), 6) AS avg_spent
        FROM staged GROUP BY user_id""",
    "pm16_nested_order_sum": f"""
        SELECT user_id, {_DS.format('value')} AS total FROM events GROUP BY user_id""",
    "pm17_wide_group_key": f"""
        WITH staged AS (
            SELECT user_id, event_type, user_id + 1000 AS u1, user_id * 7 AS u2,
                   event_type || '_1' AS t1, hour(ts) AS h,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS pk,
                   CAST(ts AS DATE) AS day,
                   CAST(floor(value) AS BIGINT) AS spent, value AS val
            FROM events)
        SELECT user_id, event_type, u1, u2, t1, h, pk, day,
               CAST(SUM(spent) AS BIGINT) AS s0, CAST(SUM(spent * 2) AS BIGINT) AS s1,
               {_DS.format('val')} / COUNT(*) AS a0, COUNT(*) AS n
        FROM staged GROUP BY 1, 2, 3, 4, 5, 6, 7, 8""",
}

PIGMIX_QUERIES = {
    name: fn
    for name, fn in sorted(globals().items())
    if name.startswith("pm") and callable(fn) and name[2:4].isdigit()
}
