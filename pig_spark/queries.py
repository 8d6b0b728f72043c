"""Query catalog — one entry per implemented operator/capability
(SURVEY §2 inventory + training-data-pipeline extensions).

Every function takes (spark, sf_dir) and returns a DataFrame built
through the pig_spark DSL; ``pig_spark.oracles`` holds the equivalent
DuckDB SQL (same column names/aliases — the driver hash-compares).

Float determinism policy (so oracle hashes match bit-for-bit): sums
over double money columns go through DECIMAL(18,2) (exact in both
engines) and cast back to double; averages are exact-decimal sums
divided as doubles; similarity scores round to 6 decimals on both
sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import functions as PF
from .compat import join_qualified
from .dsl import Relation
from .functions import dedup, similarity, text
from .operators.materialize import materialize, release
from .operators.nested import topk_per_group


def _t(spark: SparkSession, sf_dir: str, name: str) -> Relation:
    return Relation.load(spark, f"{sf_dir}/{name}.parquet", "parquet")


def dsum(col: Column, scale: int = 2) -> Column:
    """Exact-decimal sum of a double column, returned as double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column, scale: int = 2) -> Column:
    """Exact-decimal mean as double: cast(sum_dec as double)/count."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double") / F.count(col)


_DEC = "decimal(18,2)"


# ----------------------------------------------------------------------
# core relational operators (SURVEY §2.2)
# ----------------------------------------------------------------------


def q01_group_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship: TPC-H Q1 shape — FILTER + GROUP + algebraic aggs
    (COUNT/SUM/AVG, Pig combiner path = Catalyst partial agg)."""
    li = _t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice").cast(_DEC) * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .group_by("l_returnflag", "l_linestatus")
        .agg(
            sum_qty=dsum(F.col("l_quantity")),
            sum_base_price=dsum(F.col("l_extendedprice")),
            sum_disc_price=F.sum(disc_price).cast("double"),
            avg_qty=davg(F.col("l_quantity")),
            avg_price=davg(F.col("l_extendedprice")),
            avg_disc=davg(F.col("l_discount")),
            count_order=F.count(F.lit(1)),
        )
        .df
    )


def q02_filter_project(spark: SparkSession, sf: str) -> DataFrame:
    """FILTER BY + FOREACH GENERATE with arithmetic & bincond
    (LOFilter/LOForEach; POBinCond)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 30) & (F.col("l_returnflag") != "R"))
        .foreach(
            "l_orderkey",
            "l_linenumber",
            charge=(F.col("l_extendedprice").cast(_DEC) * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)) * (F.lit(1).cast(_DEC) + F.col("l_tax").cast(_DEC))).cast("double"),
            heavy=F.when(F.col("l_quantity") > 45, F.lit("H")).otherwise(F.lit("L")),
        )
        .df
    )


def q03_order_limit(spark: SparkSession, sf: str) -> DataFrame:
    """ORDER BY ... LIMIT (LOSort + LOLimit → TakeOrdered)."""
    o = _t(spark, sf, "orders")
    return (
        o.order_by(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .foreach("o_orderkey", "o_custkey", "o_totalprice")
        .df
    )


def q04_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT (LODistinct)."""
    li = _t(spark, sf, "lineitem")
    return li.foreach("l_returnflag", "l_linestatus", "l_shipdate").distinct().df


def q05_join_inner(spark: SparkSession, sf: str) -> DataFrame:
    """JOIN USING 'hash' (default equi-join) + group agg."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        o.join(c, on=[F.col("o_custkey") == F.col("c_custkey")], how="inner")
        .group_by("c_mktsegment")
        .agg(n_orders=F.count(F.lit(1)), total=dsum(F.col("o_totalprice")))
        .df
    )


def q06_join_left(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT OUTER JOIN (LOJoin 2-way outer) — customers w/o orders kept."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, on=[F.col("c_custkey") == F.col("o_custkey")], how="left")
        .group_by("c_custkey")
        .agg(n_orders=F.count(F.col("o_orderkey")), spend=F.coalesce(dsum(F.col("o_totalprice")), F.lit(0.0)))
        .df
    )


def q07_join_full(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER JOIN with non-overlapping key ranges."""
    c = _t(spark, sf, "customer").filter(F.col("c_custkey") <= 1000).foreach("c_custkey", "c_acctbal")
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_custkey") >= 800)
        .group_by("o_custkey")
        .agg(n_orders=F.count(F.lit(1)))
    )
    j = c.join(o, on=[F.col("c_custkey") == F.col("o_custkey")], how="full")
    return j.foreach(
        custkey=F.coalesce(F.col("c_custkey"), F.col("o_custkey")),
        acctbal=F.col("c_acctbal"),
        n_orders=F.col("n_orders"),
    ).df


def q08_join_replicated(spark: SparkSession, sf: str) -> DataFrame:
    """JOIN USING 'replicated' (POFRJoin → broadcast): fact ⋈ small dims."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    rev = F.col("l_extendedprice").cast(_DEC) * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    return (
        li.join(s, on=[F.col("l_suppkey") == F.col("s_suppkey")], how="inner", strategy="replicated")
        .join(n, on=[F.col("s_nationkey") == F.col("n_nationkey")], how="inner", strategy="replicated")
        .group_by("n_name")
        .agg(revenue=F.sum(rev).cast("double"), n_items=F.count(F.lit(1)))
        .df
    )


def q09_join_multiway(spark: SparkSession, sf: str) -> DataFrame:
    """n-ary hash join (TPC-H Q3 shape): customer ⋈ orders ⋈ lineitem."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    rev = F.col("l_extendedprice").cast(_DEC) * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    return (
        c.join(o, on=[F.col("c_custkey") == F.col("o_custkey")], how="inner")
        .join(li, on=[F.col("o_orderkey") == F.col("l_orderkey")], how="inner")
        .group_by("o_orderkey", "o_orderdate")
        .agg(revenue=F.sum(rev).cast("double"))
        .df
    )


def q10_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """Pig idiom COGROUP+IsEmpty-not → left_semi: customers with ≥1 order."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.semi_join(o, on=[F.col("c_custkey") == F.col("o_custkey")]).foreach("c_custkey", "c_name").df


def q11_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """COGROUP+IsEmpty → left_anti: customers with no orders."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 250000)
    return c.anti_join(o, on=[F.col("c_custkey") == F.col("o_custkey")]).foreach("c_custkey", "c_acctbal").df


def q12_cross(spark: SparkSession, sf: str) -> DataFrame:
    """CROSS (LOCross → BroadcastNestedLoop on small inputs)."""
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    return r.cross(n).foreach("r_name", "n_name").df


def q13_union_onschema(spark: SparkSession, sf: str) -> DataFrame:
    """UNION ONSCHEMA (merge-by-name + null-fill, UnionOnSchemaSetter)."""
    c = _t(spark, sf, "customer").foreach("c_name", key=F.col("c_custkey"), bal=F.col("c_acctbal"))
    s = _t(spark, sf, "supplier").foreach(key=F.col("s_suppkey"), sname=F.col("s_name"))
    return c.union(s, onschema=True).df


def q14_union_positional(spark: SparkSession, sf: str) -> DataFrame:
    """UNION (positional, no dedup — bag union)."""
    a = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R").foreach("l_orderkey", "l_quantity")
    b = _t(spark, sf, "lineitem").filter(F.col("l_quantity") >= 49).foreach("l_orderkey", "l_quantity")
    return a.union(b).df


def q15_cogroup(spark: SparkSession, sf: str) -> DataFrame:
    """COGROUP customer, orders BY custkey → per-key bag sizes
    (operators/cogroup.py; null keys isolated per input)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").foreach(o_custkey=F.col("o_custkey"), o_totalprice=F.col("o_totalprice"))
    cg = c.cogroup([o], on=[["c_custkey"], ["o_custkey"]], bag_names=["cust_bag", "order_bag"])
    return cg.foreach(
        custkey=F.col("c_custkey"),
        n_cust=F.size("cust_bag").cast("long"),
        n_orders=F.size("order_bag").cast("long"),
    ).df


def q16_group_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP → bag → FLATTEN round-trip (collect_list(struct) + inline)."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 1000)
    bagged = li.group_by("l_orderkey").bag("items", columns=["l_linenumber", "l_quantity"])
    return bagged.flatten("items").df


def q17_rank_by(spark: SparkSession, sf: str) -> DataFrame:
    """RANK rel BY col DESC (LORank; SQL rank ties)."""
    c = _t(spark, sf, "customer")
    return (
        c.rank(F.col("c_acctbal"), ascending=False, name="rank")
        .foreach("rank", "c_custkey", "c_acctbal")
        .df
    )


def q18_rank_dense(spark: SparkSession, sf: str) -> DataFrame:
    """RANK rel BY col DENSE (dense_rank)."""
    p = _t(spark, sf, "part")
    return p.rank(F.col("p_size"), ascending=True, dense=True, name="drank").foreach("drank", "p_partkey", "p_size").df


def q19_rank_global(spark: SparkSession, sf: str) -> DataFrame:
    """RANK rel (no BY) after ORDER BY — the checkable form of Pig's
    global contiguous row number (POCounter/PORank two-pass;
    LOSort→LORank: RANK follows input order, and after ORDER the input
    order IS the sort order). Oracle: row_number() over (order by key).
    Pure scan-order RANK stays available via Relation.rank(); its
    contiguity invariant is unit-tested (the oracle cannot see scan
    order). The distributed scheme is unchanged: per-partition counts +
    broadcast offset table, no single-partition window."""
    n = _t(spark, sf, "nation")
    return n.order_by("n_name").rank(name="r").foreach("r", "n_nationkey", "n_name").df


def q20_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE BY (LOCube → native cube with partial aggs below shuffle)."""
    li = _t(spark, sf, "lineitem")
    return li.cube(
        "l_returnflag",
        "l_linestatus",
        agg={"sum_qty": dsum(F.col("l_quantity")), "n": F.count(F.lit(1))},
    ).df


def q21_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP BY (RollupDimensions.java → native rollup)."""
    o = _t(spark, sf, "orders")
    return o.rollup(
        "o_orderstatus",
        "o_orderpriority",
        agg={"total": dsum(F.col("o_totalprice")), "n": F.count(F.lit(1))},
    ).df


def q22_split(spark: SparkSession, sf: str) -> DataFrame:
    """SPLIT INTO ... IF (one branch verified; routing is the operator)."""
    o = _t(spark, sf, "orders")
    hi, lo = o.split(F.col("o_totalprice") > 150000, F.col("o_totalprice") <= 150000)
    return hi.foreach("o_orderkey", "o_totalprice").df


def q23_nested_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Nested FOREACH { ORDER; LIMIT } / TOP() — lowered to a
    partitioned window (operators/nested.topk_per_group), no bags."""
    li = _t(spark, sf, "lineitem").df
    top = topk_per_group(
        li.filter(F.col("l_orderkey") <= 2000),
        group_keys=["l_orderkey"],
        order_by=["l_extendedprice", "l_linenumber"],
        k=2,
    )
    return top.select("l_orderkey", "l_linenumber", "l_extendedprice")


def q24_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar projection (ReadScalars.java): filter by a 1-row global
    aggregate without driver collect (broadcast cross join)."""
    li = _t(spark, sf, "lineitem")
    stats = li.group_all().agg(avg_q=F.avg("l_quantity"))
    return (
        li.with_scalar("avg_q", stats, "avg_q")
        .filter(F.col("l_quantity") > F.col("avg_q") * 1.9)
        .foreach("l_orderkey", "l_linenumber", "l_quantity")
        .df
    )


def q25_case_in(spark: SparkSession, sf: str) -> DataFrame:
    """CASE / IN / bincond / IS NULL expression surface
    (QueryParser.g:731-769, :656-671; POBinCond)."""
    p = _t(spark, sf, "part")
    size_class = (
        F.when(F.col("p_size") < 10, "small").when(F.col("p_size") < 30, "medium").otherwise("large")
    )
    return (
        p.filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .foreach(
            "p_partkey",
            size_class=size_class,
            pricey=F.when(F.col("p_retailprice") > 1500, F.lit(1)).otherwise(F.lit(0)),
        )
        .df
    )


def q26_regex_match(spark: SparkSession, sf: str) -> DataFrame:
    """MATCHES (PORegexp) + REGEX_EXTRACT with Pig null-on-no-match."""
    p = _t(spark, sf, "part")
    return (
        p.filter(PF.MATCHES(F.col("p_type"), ".*O.*"))
        .foreach(
            "p_partkey",
            "p_type",
            first_word=PF.REGEX_EXTRACT(F.col("p_type"), r"^(\w+)", 1),
        )
        .df
    )


def q27_string_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """String builtin battery (CONCAT/UPPER/LOWER/SUBSTRING/INDEXOF/
    REPLACE/TRIM — builtin/*.java)."""
    c = _t(spark, sf, "customer")
    return c.foreach(
        "c_custkey",
        up=PF.UPPER(F.col("c_name")),
        lo=PF.LOWER(F.col("c_name")),
        sub=PF.SUBSTRING(F.col("c_name"), 0, 8),
        idx=PF.INDEXOF(F.col("c_name"), "#", 0),
        rep=PF.REPLACE(F.col("c_name"), "Customer", "Cust"),
        cat=PF.CONCAT(F.col("c_name"), F.lit("|"), F.col("c_mktsegment")),
        tr=PF.TRIM(PF.CONCAT(F.lit("  "), F.col("c_mktsegment"), F.lit("  "))),
    ).df


def q28_math_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Math builtin battery (ABS/CEIL/FLOOR/ROUND/SQRT/LOG/EXP)."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 500)
    return li.foreach(
        "l_orderkey",
        "l_linenumber",
        a=PF.ABS(F.col("l_quantity") - 25),
        c=PF.CEIL(F.col("l_discount") * 100),
        fl=PF.FLOOR(F.col("l_tax") * 100),
        r=PF.ROUND(F.col("l_extendedprice")),
        r2=PF.ROUND_TO(F.col("l_quantity") / 7.0, 2),
        s=F.round(PF.SQRT(F.col("l_quantity")), 6),
        lg=F.round(PF.LOG(F.col("l_extendedprice")), 6),
    ).df


def q29_datetime_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Datetime builtins (GetYear/GetMonth/...; DaysBetween; AddDuration)."""
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.foreach(
        "o_orderkey",
        y=PF.GetYear(F.col("o_orderdate")),
        m=PF.GetMonth(F.col("o_orderdate")),
        d=PF.GetDay(F.col("o_orderdate")),
        unix_ts=PF.ToUnixTime(F.col("o_orderdate")),
        plus_month=PF.AddDuration(F.col("o_orderdate"), "P1M"),
        days_since=PF.DaysBetween(F.lit("1998-12-31").cast("timestamp"), F.col("o_orderdate")),
    ).df


def q30_group_null_keys(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP with null keys: Pig keeps null as its own group
    (PigNullableWritable semantics; Spark groupBy matches)."""
    c = _t(spark, sf, "customer")
    nk = F.when(F.col("c_nationkey") % 7 == 0, F.lit(None)).otherwise(F.col("c_nationkey"))
    return (
        c.foreach(nk_null=nk, c_acctbal=F.col("c_acctbal"))
        .group_by("nk_null")
        .agg(n=F.count(F.lit(1)), n_nonnull_bal=F.count(F.col("c_acctbal")))
        .df
    )


def q31_json_map(spark: SparkSession, sf: str) -> DataFrame:
    """Map-value access (MapLookup ≅ JSON field extract on events.props)."""
    e = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.foreach("event_id", "event_type", k=k)
        .group_by("event_type")
        .agg(sum_k=F.sum(F.col("k")), n=F.count(F.lit(1)))
        .df
    )


def q32_sample(spark: SparkSession, sf: str) -> DataFrame:
    """SAMPLE rel p — Pig desugars to FILTER BY RANDOM() < p
    (LogicalPlanBuilder.java:251-256). Gate twin: a deterministic
    hash-sample (md5_32 of the row key mod 1000 < 100 ≅ p=0.1) that
    DuckDB reproduces exactly; seeded ``df.sample`` remains the API
    (Relation.sample, Bernoulli per-partition — scale-identical).
    Same shape at 100 TB: the filter is a codegen'd map-side predicate,
    no shuffle, and hash-sampling is what a real pipeline wants anyway
    (stable across retries/re-runs, unlike RANDOM())."""
    li = _t(spark, sf, "lineitem")
    key = F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber"))
    return (
        li.filter(dedup.md5_32(key) % 1000 < 100)
        .foreach("l_orderkey", "l_linenumber")
        .df
    )


def q33_tokenize_wordcount(spark: SparkSession, sf: str) -> DataFrame:
    """TOKENIZE + FLATTEN + GROUP — the canonical Pig wordcount
    (builtin/TOKENIZE.java), on the documents table."""
    d = _t(spark, sf, "documents")
    return (
        d.foreach(tok=text.tokenize_ws(F.col("text")))
        .flatten("tok")
        .group_by(F.col("tok").alias("word"))
        .agg(cnt=F.count(F.lit(1)))
        .df
    )


def q34_assert(spark: SparkSession, sf: str) -> DataFrame:
    """ASSERT rel BY cond (passes for all rows → identity)."""
    r = _t(spark, sf, "region")
    return r.assert_by(F.col("r_regionkey") >= 0, "negative regionkey").df


def q35_intersect_except(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT/EXCEPT (bonus vs Pig, which needs cogroup idioms)."""
    a = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 100000).foreach("o_custkey").distinct()
    b = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").foreach("o_custkey").distinct()
    return a.intersect(b).df


# ----------------------------------------------------------------------
# training-data pipeline operators
# ----------------------------------------------------------------------


def q40_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").df
    return dedup.exact_dedup(d, "text", "doc_id")


def q41_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").df
    return dedup.minhash_lsh_pairs(d, "text", "doc_id", threshold=0.4)


def q42_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").df
    return dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.5)


def q43_simhash(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").df
    return dedup.simhash(d, "text", "doc_id")


def q44_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings").df
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(similarity.EMB_DIM)]
    return similarity.cosine_topk(e, query, k=20)


def q45_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs via banded-LSH candidates + exact
    cosine verify (similarity.cosine_lsh_pairs) — equi-join on
    (band, bucket), no cartesian anywhere (plan-asserted in
    test_scale_plans). Runs on the FULL embeddings table: the r1
    all-pairs form needed a vec_id<200 guard; this one does not."""
    e = _t(spark, sf, "embeddings").df
    return similarity.cosine_lsh_pairs(e, threshold=0.3)


def q46_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings").df
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(similarity.EMB_DIM)]
    return similarity.ann_topk_lsh(e, query, k=10, probes=2)


def q68_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN (coarse-quantizer scale path, complements q46's LSH):
    deterministic bootstrap centroids, cell assignment in one JVM
    projection, probe = top-3 cells."""
    e = _t(spark, sf, "embeddings").df
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(similarity.EMB_DIM)]
    return similarity.ann_topk_ivf(e, query, k=20)


def q47_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.foreach(pred_lang=text.lang_id(F.col("text"))).group_by("pred_lang").agg(n=F.count(F.lit(1))).df


def q48_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.foreach("doc_id", q=text.quality_score(F.col("text"))).df


def q49_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return (
        d.foreach(fp=text.fingerprint(F.col("text")), doc_id=F.col("doc_id"))
        .group_by("fp")
        .agg(n_docs=F.count(F.lit(1)), min_doc=F.min("doc_id"))
        .df
    )


def q50_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.foreach(
        "doc_id",
        n_ws_tokens=text.token_count(F.col("text")),
        n_bpe_tokens=text.bpe_token_count(F.col("text")),
        rolling_fp=text.rolling_hash_fingerprint(F.col("text")),
    ).df


def q51_join_qualified(spark: SparkSession, sf: str) -> DataFrame:
    """Pig `::`-qualified join output naming (LogicalSchema merge)."""
    n = _t(spark, sf, "nation").df
    r = _t(spark, sf, "region").df
    j = join_qualified(n.withColumnRenamed("n_regionkey", "key"), "n", r.withColumnRenamed("r_regionkey", "key"), "r", on=["key"])
    return j.select(
        F.col("`n::n_name`").alias("nation"),
        F.col("`r::r_name`").alias("region"),
    )


# ----------------------------------------------------------------------
# batch 2: window functions, stream, bag/map ops, theta joins,
# gradual typing, event-time windows, statistics
# ----------------------------------------------------------------------


def q36_window_over(spark: SparkSession, sf: str) -> DataFrame:
    """piggybank Over.java:74-140 window surface: lead/lag/first_value/
    running sum with rows frames → native Window (exact 1:1)."""
    from pyspark.sql import Window

    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 1000).df
    w = Window.partitionBy("l_suppkey").orderBy("l_orderkey", "l_linenumber")
    wf = w.rowsBetween(-2, 0)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.lead("l_quantity").over(w).alias("next_qty"),
        F.first("l_quantity").over(w).alias("first_qty"),
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("l_quantity").cast(_DEC)).over(wf).cast("double").alias("run_qty3"),
    )


def q37_ntile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Over.java ntile/percent_rank/cume_dist — DISTRIBUTED.

    A bare ``Window.orderBy`` would drag the whole table into ONE task
    (Spark warns "No Partition Defined for Window"); instead we reuse
    the two-pass POCounter/PORank machinery (operators/rank.py) for the
    global row number and derive the stats arithmetically, exactly as
    Over.java:74-140 defines them over a row ordering:

      percent_rank = (rn-1)/(n-1)      cume_dist = rn/n
      ntile(k)     = SQL NTILE: first n%k buckets get ceil(n/k) rows,
                     the rest floor(n/k)  (Over.java delegates to the
                     same ROW_NUMBER-based bucketing)

    The sort key (c_acctbal, c_custkey) is unique, so rank == row
    number and the rank/row_number distinction is moot. n arrives as a
    broadcast 1-row scalar — no data-sized single-partition stage
    anywhere (plan-pinned in test_scale_plans.py)."""
    from .operators.rank import rank as pig_rank

    c = _t(spark, sf, "customer").df
    ranked = pig_rank(
        c.select("c_custkey", "c_acctbal"),
        by=[F.col("c_acctbal"), F.col("c_custkey")],
        name="__rn",
        # unique by c_custkey → the rank fast path applies (r12)
        unique_keys=True,
    )
    n_df = c.agg(F.count(F.lit(1)).alias("__n"))
    rn, n, k = F.col("__rn"), F.col("__n"), F.lit(4)
    q, r = F.floor(n / k), n % k
    big = (q + 1) * r  # rows covered by the ceil-sized buckets
    quartile = (
        F.when(rn <= big, F.floor((rn - 1) / (q + 1)))
        .otherwise(r + F.floor((rn - 1 - big) / F.greatest(q, F.lit(1))))
        + 1
    )
    # n=1 edge: SQL defines percent_rank of a single row as 0, where
    # (rn-1)/(n-1) would be 0/0
    pct = F.when(n == 1, F.lit(0.0)).otherwise(F.round((rn - 1) / (n - 1), 6))
    return (
        ranked.join(F.broadcast(n_df), how="cross")
        .select(
            "c_custkey",
            quartile.cast("int").alias("quartile"),
            pct.alias("pct_rank"),
            F.round(rn / n, 6).alias("cdist"),
        )
    )


def q52_stream_upper(spark: SparkSession, sf: str) -> DataFrame:
    """STREAM rel THROUGH 'tr' AS schema (POStream.java) — external
    process transform with tab-delimited serde."""
    r = _t(spark, sf, "region")
    return r.stream_through("tr '[:lower:]' '[:upper:]'", "r_regionkey int, r_name string").df


def q53_bag_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Bag builtins over grouped data: SIZE, BagToString, sorted
    distinct bag (Distinct.java/BagToString.java)."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 200)
    bagged = (
        li.foreach(l_orderkey=F.col("l_orderkey"), qty=F.col("l_quantity").cast("int"))
        .group_by("l_orderkey")
        .agg(qtys=F.collect_list("qty"))
    )
    sorted_distinct = F.array_sort(F.array_distinct(F.col("qtys")))
    return bagged.foreach(
        "l_orderkey",
        n_items=PF.SIZE(F.col("qtys")),
        qty_str=PF.BagToString(sorted_distinct, "_"),
        top_qty=F.array_max(F.col("qtys")),
    ).df


def q54_map_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Map builtins: TOMAP, map lookup #, KEYSET (TOMAP.java,
    MapLookupExpression / POMapLookUp)."""
    c = _t(spark, sf, "customer")
    m = PF.TOMAP(F.lit("seg"), F.col("c_mktsegment"), F.lit("name"), F.col("c_name"))
    return c.foreach(
        "c_custkey",
        seg_val=m.getItem("seg"),
        keys_str=F.array_join(PF.KEYSET(m), ","),
    ).df


def q55_strsplit(spark: SparkSession, sf: str) -> DataFrame:
    """STRSPLIT + tuple indexing (out-of-range → null)."""
    p = _t(spark, sf, "part")
    parts = PF.STRSPLIT(F.col("p_type"), " ")
    # F.get (not getItem): null on out-of-range even under ANSI mode —
    # Pig tuple deref never throws (POProject.java returns null).
    return p.foreach("p_partkey", word1=F.get(parts, 0), word9=F.get(parts, 9)).df


def q56_theta_join(spark: SparkSession, sf: str) -> DataFrame:
    """Theta/range join (CROSS+FILTER idiom in Pig; direct non-equi
    join condition here — SURVEY §2.2#13 bonus capability)."""
    n1 = _t(spark, sf, "nation").foreach(rk=F.col("n_regionkey"), name_a=F.col("n_name"))
    n2 = _t(spark, sf, "nation").foreach(rk2=F.col("n_regionkey"), name_b=F.col("n_name"))
    cond = (F.col("rk") == F.col("rk2")) & (F.col("name_a") < F.col("name_b"))
    return n1.join(n2, on=cond, how="inner").foreach("rk", "name_a", "name_b").df


def q57_cast_gradual(spark: SparkSession, sf: str) -> DataFrame:
    """bytearray gradual typing: cast garbage → null, numbers parse
    (POCast.java / Utf8StorageConverter.java; ANSI off)."""
    p = _t(spark, sf, "part")
    brand_num = PF.REGEX_EXTRACT(F.col("p_brand"), r"#(\d+)$", 1)
    # try_cast (not cast): null-on-garbage even under ANSI mode — Pig
    # cast semantics must not depend on session conf (POCast.java).
    return p.foreach(
        "p_partkey",
        brand_no=brand_num.try_cast("int"),
        bogus=F.col("p_type").try_cast("int"),
        size_str_roundtrip=F.col("p_size").cast("string").try_cast("int"),
    ).df


def q58_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time tumbling window aggregation (batch form of the
    Structured Streaming windowed count; TIMESTAMP(NANOS) ingestion)."""
    e = _t(spark, sf, "events")
    ts = PF.event_ts(e.df)
    return (
        e.foreach(hour=F.date_trunc("hour", ts), event_type=F.col("event_type"), value=F.col("value"))
        .group_by("hour", "event_type")
        .agg(n=F.count(F.lit(1)), total=dsum(F.col("value"), 4))
        .df
    )


def q59_nested_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Nested FOREACH { d = DISTINCT x.f; GENERATE COUNT(d) } — lowered
    to countDistinct (no bag materialization)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.group_by("l_orderkey")
        .agg(n_supp=F.countDistinct("l_suppkey"), n_items=F.count(F.lit(1)))
        .df
    )


def q60_nested_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Nested FOREACH { f = FILTER bag BY cond; GENERATE COUNT(f) } —
    lowered to conditional aggregation."""
    li = _t(spark, sf, "lineitem")
    return (
        li.group_by("l_returnflag")
        .agg(
            n_heavy=F.count(F.when(F.col("l_quantity") > 25, 1)),
            n_all=F.count(F.lit(1)),
        )
        .df
    )


def q61_median(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentile (no Pig builtin — datafu quantile
    territory; Spark percentile ≅ DuckDB quantile_cont)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.group_by("l_returnflag")
        .agg(
            med_qty=F.round(F.expr("percentile(l_quantity, 0.5)"), 6),
            p90_qty=F.round(F.expr("percentile(l_quantity, 0.9)"), 6),
        )
        .df
    )


def q62_corr_cov(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped correlation and SAMPLE covariance through Spark's own
    corr/covar_samp. COR.java is Pearson's r (≡ corr); COV.java is the
    population covariance (``functions.COV``, covar_pop), so cov_qd is
    not Pig's COV."""
    li = _t(spark, sf, "lineitem")
    return (
        li.group_by("l_linestatus")
        .agg(
            cor_qp=F.round(F.corr("l_quantity", "l_extendedprice"), 6),
            cov_qd=F.round(F.covar_samp("l_quantity", "l_discount"), 6),
        )
        .df
    )


def q63_decimal_types(spark: SparkSession, sf: str) -> DataFrame:
    """biginteger/bigdecimal lattice (DataType.java:71-72 →
    DecimalType(38,0)/(38,18)) — exact wide-decimal arithmetic."""
    o = _t(spark, sf, "orders")
    big = F.col("o_totalprice").cast("decimal(18,2)").cast("decimal(38,18)")
    return (
        o.group_by("o_orderstatus")
        .agg(
            exact_total=F.sum(big).cast("decimal(38,6)").cast("string"),
            as_bigint=F.sum(F.col("o_orderkey").cast("decimal(38,0)")).cast("string"),
        )
        .df
    )


def q64_bloom_filter(spark: SparkSession, sf: str) -> DataFrame:
    """BuildBloom/Bloom (builtin/BuildBloom.java, Bloom.java): build a
    deterministic bloom over customer keys, tag orders keys with
    membership. True-member keys always pass; non-members pass at the
    FP rate — counts are exact because positions are md5-derived."""
    from .functions import bloom

    c = _t(spark, sf, "customer").df
    o = _t(spark, sf, "orders").df
    tagged = bloom.bloom_tag(o, c, "o_orderkey", "c_custkey")
    return tagged.groupBy("maybe_member").agg(F.count(F.lit(1)).alias("n"))


def q65_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30-min gap on raw nanos) + per-user
    session stats — one shuffle on user_id, windows in codegen."""
    from .operators.temporal import sessionize

    e = _t(spark, sf, "events").df
    e = e.withColumn("__tus", PF.event_ts_us(e))
    gap_us = 30 * 60 * 1_000_000
    s = sessionize(e, "user_id", "__tus", gap_us, order_tiebreak="event_id")
    per_session = s.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
        F.max("n").alias("max_session"),
    )


def q66_asof_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each purchase attributed to the user's latest
    at-or-before click (union-tag + running-last window — linear, one
    shuffle; the Pig idiom would be CROSS + FILTER)."""
    from .operators.temporal import asof_join

    e = _t(spark, sf, "events").df
    # integer micros on both sides (DuckDB epoch_us) — as-of arithmetic
    # wants plain BIGINTs, not intervals
    ts_us = PF.event_ts_us(e)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_us.alias("tus"), "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", ts_us.alias("tus"), F.col("event_id").alias("click_id")
    )
    j = asof_join(purchases, clicks, key="user_id", left_ts="tus", right_ts="tus", right_id="click_id")
    return j.select(
        "event_id",
        "user_id",
        "value",
        "click_id",
        (F.col("tus") - F.col("tus_r")).alias("gap_us"),
    )


def q72_latin_nested_block(spark: SparkSession, sf: str) -> DataFrame:
    """Nested FOREACH { } block (QueryParser.g:921-971; PigMix L4/L7/
    L15/L16 shapes): inner DISTINCT/FILTER/ORDER pipelines lowered to
    flat distinct/conditional aggregates — no reducer bags."""
    from .latin import run

    rels = run(spark, f"""
        A = LOAD '{sf}/events.parquet' USING ParquetLoader();
        B = FOREACH A GENERATE user_id, event_type, value;
        C = GROUP B BY user_id;
        D = FOREACH C {{
            types = DISTINCT B.event_type;
            cheap = FILTER B BY value < 250.0;
            E = ORDER B BY value;
            rev = E.value;
            GENERATE group, COUNT(types) AS n_types, COUNT(cheap) AS n_cheap,
                     MAX(rev) AS max_rev;
        }}
    """)
    return rels["D"].df.withColumnRenamed("group", "user_id")


def q67_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing in the gate: synthesize binary media
    payloads from documents, round-trip them through the Arrow-batched
    codec boundary (mapInPandas encode → BinaryType → decode), then
    aggregate the decoded metadata. The oracle predicts every field
    from (doc_id, n_chars) arithmetic — if schema, batching, or the
    binary round-trip corrupt anything, the hashes diverge."""
    from .functions import multimodal as MM

    d = _t(spark, sf, "documents").df
    media = MM.media_from_documents(d)
    decoded = MM.extract_metadata(media)
    return decoded.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("meta.width")).alias("sum_w"),
        F.sum(F.col("meta.height")).alias("sum_h"),
        F.sum(F.col("meta.duration_ms")).alias("sum_dur"),
    )


def q69_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Binned range join (point-in-interval as equi-join on bins):
    orders priced into 20k-wide bands derived from nation keys. The
    naive Pig idiom is CROSS+FILTER; this shuffles once on the bin."""
    from .operators.range_join import range_join

    o = _t(spark, sf, "orders").df.select("o_orderkey", "o_totalprice")
    bands = _t(spark, sf, "nation").df.select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey").cast("double") * 20000.0).alias("lo"),
        ((F.col("n_nationkey").cast("double") + 1.0) * 20000.0).alias("hi"),
    )
    j = range_join(o, bands, val="o_totalprice", lo="lo", hi="hi", bin_width=20000.0)
    return j.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice")).alias("total")
    )


def q73_latin_macro(spark: SparkSession, sf: str) -> DataFrame:
    """Macro expansion end-to-end (parser/PigMacro.java): one macro,
    two invocations over different tables, results unioned."""
    from .latin import run

    rels = run(spark, f"""
        DEFINE price_stats(REL, key, price) RETURNS out {{
            g = GROUP $REL BY $key;
            $out = FOREACH g GENERATE group, COUNT($REL) AS n, MAX($REL.$price) AS max_p;
        }};
        ord = LOAD '{sf}/orders.parquet' USING ParquetLoader();
        cust = LOAD '{sf}/customer.parquet' USING ParquetLoader();
        by_status = price_stats(ord, o_orderstatus, o_totalprice);
        by_seg = price_stats(cust, c_mktsegment, c_acctbal);
    """)
    a = rels["by_status"].df.select(
        F.lit("orders").alias("src"), F.col("group").alias("key"), "n", "max_p"
    )
    b = rels["by_seg"].df.select(
        F.lit("customer").alias("src"), F.col("group").alias("key"), "n", "max_p"
    )
    return a.unionByName(b)


def q70_latin_script(spark: SparkSession, sf: str) -> DataFrame:
    """Pig Latin front-end end-to-end: a real .pig script (nightly.conf
    Checkin shape) parsed, translated, and lowered to groupBy().agg()
    (latin/grammar.py, latin/translate.py)."""
    from .latin import run

    rels = run(spark, f"""
        li  = LOAD '{sf}/lineitem.parquet' USING ParquetLoader();
        big = FILTER li BY l_quantity > 40 AND NOT l_returnflag == 'R';
        g   = GROUP big BY l_returnflag;
        out = FOREACH g GENERATE group, COUNT(big) AS n, SUM(big.l_quantity) AS sum_qty;
    """)
    return rels["out"].df.select(
        F.col("group").alias("l_returnflag"),
        "n",
        F.col("sum_qty").cast("double").alias("sum_qty"),
    )


def q71_latin_join_script(spark: SparkSession, sf: str) -> DataFrame:
    """Pig Latin JOIN + qualified names + ORDER + LIMIT."""
    from .latin import run

    rels = run(spark, f"""
        c = LOAD '{sf}/customer.parquet' USING ParquetLoader();
        o = LOAD '{sf}/orders.parquet' USING ParquetLoader();
        j = JOIN o BY o_custkey, c BY c_custkey;
        p = FOREACH j GENERATE c_mktsegment AS seg, o_totalprice;
        g = GROUP p BY seg;
        s = FOREACH g GENERATE group, COUNT(p) AS n, MAX(p.o_totalprice) AS max_price;
    """)
    return rels["s"].df.withColumnRenamed("group", "seg")


def q75_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-funnel detection (view→click→purchase per user):
    k Window aggregates over ONE Exchange on user_id (unbounded
    frames, no sorts) + a partitioning-reusing final groupBy. The Pig
    idiom would be k self-cogroups. Streaming twin:
    streaming.stateful_funnel (applyInPandasWithState)."""
    from .operators.temporal import funnel

    # integer micros (matches DuckDB epoch_us) — funnel compares ts as
    # plain BIGINTs on both sides
    e = _t(spark, sf, "events").df
    e = e.withColumn("ts", PF.event_ts_us(e))
    return funnel(e, ["view", "click", "purchase"])


def q76_corpus_clean(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship training-data pipeline, end to end: language ID →
    quality filter → exact dedup (md5 16-byte shuffle key, min-id
    survivor) → MinHash-LSH near-dup removal (drop the higher id of
    each verified pair). Every stage is the already-oracle-checked
    operator; this query checks their COMPOSITION under one plan."""
    from .functions import dedup, text

    d = _t(spark, sf, "documents").df
    toked = d.select("doc_id", "text", text.tokenize_ws(F.col("text")).alias("__toks"))
    scored = toked.select(  # tokenizer staged once for both consumers
        "doc_id",
        "text",
        text.lang_id_from_tokens(F.col("__toks")).alias("lang"),
        text.quality_score_from_tokens(F.col("__toks")).alias("q"),
    )
    base = scored.filter((F.col("lang") == "en") & (F.col("q") >= 0.5))
    # skew-safe first-occurrence aggregate, not a row_number window
    # (map-side combinable — a hot duplicated text can't straggle)
    uniq = dedup.first_occurrence(base, F.md5(F.col("text")), ["doc_id"])
    pairs = dedup.minhash_lsh_pairs(uniq, "text", "doc_id", threshold=0.4)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return uniq.join(drop, "doc_id", "left_anti").select("doc_id", "q")


def q77_hypertable_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly pre-aggregate
    re-aggregated to daily (the TimescaleDB/Druid rollup pattern —
    additive partials compose, so the daily job reads the compact
    hourly table, not raw events). Totals stay DECIMAL through both
    levels (exact, order-independent) and cast to double only at the
    end; counts re-sum as longs. At 100 TB the hourly stage is the
    materialized table and this query is its reader — two cheap
    shuffles over pre-shrunk data instead of one over raw events."""
    e = _t(spark, sf, "events")
    ts = PF.event_ts(e.df)
    hourly = (
        e.foreach(hour=F.date_trunc("hour", ts), event_type=F.col("event_type"), value=F.col("value"))
        .group_by("hour", "event_type")
        .agg(n=F.count(F.lit(1)), tot=F.sum(F.col("value").cast("decimal(18,4)")))
    )
    return (
        hourly.foreach(day=F.date_trunc("day", F.col("hour")), event_type=F.col("event_type"), n=F.col("n"), tot=F.col("tot"))
        .group_by("day", "event_type")
        .agg(n=F.sum("n").cast("long"), total=F.sum("tot").cast("double"))
        .df
    )


def q78_sketch_uniques(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch rollup: per-day Datasketches HLL of user_id,
    then ONE union-merge for period uniques — COUNT(DISTINCT) without
    re-touching raw events (the sketch twin of q77's additive rollup;
    sketches are the non-additive analogue). At 100 TB the daily
    sketch column is bytes per day, the merge is driver-trivial, and
    no exact-distinct shuffle of raw ids ever happens. No SQL oracle
    (estimates are impl-defined — rows-only gate); the error bound vs
    exact is pinned in test_operators."""
    e = _t(spark, sf, "events")
    ts = PF.event_ts(e.df)
    daily = (
        e.foreach(day=F.date_trunc("day", ts), user_id=F.col("user_id"))
        .group_by("day")
        .agg(
            sketch=F.hll_sketch_agg("user_id", F.lit(12)),
            exact=F.countDistinct("user_id"),
        )
    )
    # Deterministic gate (r3): per-day boundedness |est - exact|/exact
    # < 5% (HLL lgK=12 ≈ 1.6% RSE — 3σ margin), plus one __total__ row
    # exercising the union-merge path. The oracle predicts `true` for
    # every scope, so an out-of-bound estimate hash-mismatches. The
    # exact countDistinct here is gate scaffolding only — the 100 TB
    # deployment keeps just the sketch column and merges.
    bound = lambda est, exact: (F.abs(est - exact) / exact < F.lit(0.05))  # noqa: E731
    per_day = daily.foreach(
        scope=F.date_format("day", "yyyy-MM-dd"),
        within_bound=bound(F.hll_sketch_estimate(F.col("sketch")).cast("double"), F.col("exact").cast("double")),
    ).df
    total = daily.group_all().agg(
        est=F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("double"),
    ).df
    total_exact = e.df.select(F.countDistinct("user_id").cast("double").alias("exact"))
    total_row = total.crossJoin(F.broadcast(total_exact)).select(
        F.lit("__total__").alias("scope"),
        bound(F.col("est"), F.col("exact")).alias("within_bound"),
    )
    return per_day.unionByName(total_row)


def q85_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified hash-rank reservoir (operators/sampling.py): exactly
    min(k, |stratum|) documents per (lang, source) stratum, ranked by
    md5 of doc_id — deterministic, retry-stable, and byte-reproducible
    by the DuckDB oracle. Pig's SAMPLE cannot do any of this
    (RANDOM()-based Bernoulli, no per-stratum control); this is the
    curation op a training pipeline shards with. One shuffle on the
    stratum key, window in codegen."""
    from .operators.sampling import stratified_sample

    d = _t(spark, sf, "documents").df
    return stratified_sample(d, ["lang", "source"], 7, "doc_id").select(
        "doc_id", "lang", "source"
    )


def q86_token_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget block packing (operators/packing.py): documents
    ordered by doc_id within each source shard, running token sum,
    bucket = floor(prior_cum / budget). One window over one shuffle on
    the shard key — the scalable form of greedy context packing.
    Output: per-(source,bucket) doc count and token totals — stable
    and exactly reproducible in SQL."""
    from .functions import text
    from .operators.packing import pack_by_budget

    d = _t(spark, sf, "documents").df
    staged = d.select("doc_id", "source", text.token_count(F.col("text")).alias("toks"))
    packed = pack_by_budget(staged, "toks", budget=2000, shard="source", order="doc_id")
    return packed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
    )


def q88_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (dedup.contamination_check): the
    "eval set" is the deterministic doc_id % 97 == 0 slice; every
    other document is scored by shared-3-gram fraction. Broadcast
    gram-hash semi-join — one corpus scan, no gram-string shuffle."""
    d = _t(spark, sf, "documents").df
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return dedup.contamination_check(train, bench, "text", "doc_id", threshold=0.05)


def q89_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality signals (text.repetition_stats):
    duplicate 2-/3-gram fractions + top-2-gram share, all-codegen array
    ops over one tokenization projection (no explode, no shuffle).
    r12: the staged gram arrays are xxhash64 longs (text.hashed_grams
    — no gram-string materialization; distinct/sort run over 8-byte
    values), identical fractions because every consumer only counts
    equality (1.65 → 1.25 s in-session, −24%; row-identical at
    sf0.001 + sf0.01 vs the string form)."""
    d = _t(spark, sf, "documents").df
    toked = d.select("doc_id", text.tokenize_ws(F.lower(F.col("text"))).alias("__toks"))
    staged = toked.select(  # grams staged ONCE (module rule: no CSE across lambdas)
        "doc_id",
        text.hashed_grams(F.col("__toks"), 2).alias("__g2"),
        text.hashed_grams(F.col("__toks"), 3).alias("__g3"),
    )
    stats = {
        "dup_2gram_frac": text.dup_frac_from_grams(F.col("__g2")),
        "dup_3gram_frac": text.dup_frac_from_grams(F.col("__g3")),
        "top_2gram_frac": text.top_frac_from_grams(F.col("__g2"), hashed=True),
    }
    rep = (stats["dup_2gram_frac"] > text.REP_DUP_2GRAM_MAX) | (
        stats["top_2gram_frac"] > text.REP_TOP_2GRAM_MAX
    )
    return staged.select(
        "doc_id", *[c.alias(name) for name, c in stats.items()], rep.alias("repetitive")
    )


def q90_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing (text.redact / text.pii_counts): deterministic PII
    spans are injected per doc (synthetic corpus carries none), then
    counted and redacted with typed placeholders — chained
    regexp_replace, map-only codegen. Output pins both the counts and
    the md5 of the scrubbed text."""
    d = _t(spark, sf, "documents").df
    salted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 call 555-123-4567"),
        ).alias("t"),
    )
    counts = text.pii_counts(F.col("t"))
    return salted.select(
        "doc_id",
        *[c.alias(name) for name, c in counts.items()],
        F.md5(text.redact(F.col("t"))).alias("redacted_md5"),
    )


def q91_dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """Survivor selection over near-dup groups: q87's components joined
    back to the corpus, keep-best = max n_chars (tie → min doc_id) per
    group — ONE partial-aggregated groupBy (argmax = min(struct(
    -n_chars, doc_id)) — the r9 first-occurrence rule: a dedup GROUP
    is a recurrence-heavy key by construction, so a row_number window
    over group_id would funnel a giant boilerplate cluster into one
    unsplittable task; the aggregate combines it map-side). Closes the
    dedup story: pairs (q41) → groups (q87) → one canonical survivor +
    group size."""
    from .operators.graph import connected_components

    d = _t(spark, sf, "documents").df
    pairs = dedup.minhash_lsh_pairs(d, "text", "doc_id", threshold=0.4)
    # LSH pairs are canonical: id_a < id_b, distinct, non-null
    cc = connected_components(pairs.selectExpr("id_a AS src", "id_b AS dst"), canonical=True)
    release(pairs)  # CC no longer reads the pairs: the pair stage's store is spent
    member = cc.selectExpr("node AS doc_id", "component AS group_id").join(
        d.select("doc_id", "n_chars"), "doc_id"
    )
    best = F.min(F.struct((-F.col("n_chars")).alias("__negc"), F.col("doc_id")))
    return (
        member.groupBy("group_id")
        .agg(
            best.alias("__best"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .select("group_id", F.col("__best.doc_id").alias("survivor_id"), "n_docs")
    )


def q92_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Rollup gap filling (operators.temporal.gapfill): hourly
    event-type rollup densified to one row per hour in each type's
    span — counts zero-filled, totals carried forward (locf), `__gap`
    marks synthesized rows. The hypertable companion: continuous
    aggregates need dense time axes for downstream windows."""
    from .operators.temporal import gapfill

    e = _t(spark, sf, "events")
    ts = PF.event_ts(e.df)
    hourly = (
        e.foreach(hour=F.date_trunc("hour", ts), event_type=F.col("event_type"), value=F.col("value"))
        .group_by("hour", "event_type")
        .agg(n=F.count(F.lit(1)), total=dsum(F.col("value"), 4))
        .df
    )
    filled = gapfill(hourly, "hour", ["event_type"], "1 hour", locf_cols=["total"], zero_cols=["n"])
    return filled.select(
        "event_type", "hour", F.col("n").cast("long").alias("n"), "total", F.col("__gap").alias("was_gap")
    )


def q93_latin_corpus_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-cleaning pipeline written in PURE Pig Latin — what a
    reference user migrating their cleaning job would write: language
    filter + quality gate (Latin-callable pipeline functions), then
    key-collision exact dedup via FINGERPRINT with a min-id survivor
    per fingerprint group."""
    from .latin import run

    rels = run(spark, f"""
        d = LOAD '{sf}/documents.parquet' USING ParquetLoader();
        t = FOREACH d GENERATE doc_id, LANG_ID(text) AS lang,
                      QUALITY_SCORE(text) AS q, FINGERPRINT(text) AS fp;
        f = FILTER t BY lang == 'en' AND q >= 0.5;
        g = GROUP f BY fp;
        keep = FOREACH g GENERATE group AS fp, MIN(f.doc_id) AS keep_id,
                         COUNT(f) AS n_dups;
    """)
    return rels["keep"].df.select(
        "fp", F.col("keep_id").cast("long").alias("keep_id"), F.col("n_dups").cast("long").alias("n_dups")
    )


def q94_doc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window sharding (operators/chunking.py): each document
    split into 16-token windows advancing by 12 (4-token overlap) —
    the pretraining chunker. Map-only codegen: split → explode of a
    tiny offset sequence → slice; the token array is staged once per
    row, NO shuffle at any scale. Output pins window count, per-chunk
    token counts, and md5 of each chunk's text."""
    from .operators.chunking import chunk_documents

    d = _t(spark, sf, "documents").df
    chunks = chunk_documents(d, "text", "doc_id", chunk=16, stride=12)
    return chunks.select(
        "doc_id", "chunk_id", "n_tokens", F.md5(F.col("chunk_text")).alias("chunk_md5")
    )


def q95_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-weighted mixture sampling (operators/sampling.py
    mixture_sample): per-language accept rates ∝ (share)^0.5 flatten
    the head and boost tail languages, rows survive by deterministic
    md5 fraction — the mBERT/XLM-R corpus-balancing recipe as ONE tiny
    broadcast-joined rate table + a map-only filter (the corpus is
    never shuffled). Deterministic → exactly reproducible in SQL."""
    from .operators.sampling import mixture_sample

    d = _t(spark, sf, "documents").df
    kept = mixture_sample(d, "lang", "doc_id", alpha=0.5, target_frac=0.2)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


def q96_split_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment: md5 fraction of doc_id
    buckets each document 90/5/5 — stable across reruns and engines
    (no RANDOM()), the property a 100 TB pipeline needs so that
    re-sharding never migrates a document across splits. Map-only
    codegen; the verification aggregate is one partial-agg groupBy."""
    d = _t(spark, sf, "documents").df
    frac = dedup.md5_32(F.col("doc_id").cast("string")).cast("double") / F.lit(float(1 << 32))
    split = (
        F.when(frac < 0.90, F.lit("train"))
        .when(frac < 0.95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("lang", split.alias("split"), "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )


def q97_top_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus n-gram statistics: top-5 bigrams per language by
    frequency (count desc, gram asc tiebreak) — the vocabulary /
    contamination-audit profile. Explode staged bigrams → counted
    groupBy (map-side partial agg shrinks the gram stream before the
    ONE shuffle) → per-lang top-k window over the tiny (lang, gram)
    aggregate."""
    from pyspark.sql import Window

    d = _t(spark, sf, "documents").df
    toked = d.select("lang", text.tokenize_ws(F.lower(F.col("text"))).alias("__toks"))
    grams = toked.select("lang", F.explode(text._grams(F.col("__toks"), 2)).alias("gram"))
    counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("gram"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "gram", "n")
    )


def q98_latin_window_over(spark: SparkSession, sf: str) -> DataFrame:
    """Piggybank Over/Stitch window surface reachable from Pig Latin
    (Over.java:74-140, Stitch.java): running sum, row_number, lag and
    a whole-partition max over each customer's date-ordered orders —
    `{ s = ORDER p BY ...; GENERATE FLATTEN(Stitch(s, Over(...)...)) }`
    lowered to ONE native Spark window (partitionBy custkey, orderBy
    date+key, rowsBetween from Over's -1/0/k frame codes) — no bags,
    one shuffle, codegen window evaluation."""
    from .latin import run

    rels = run(spark, f"""
        o = LOAD '{sf}/orders.parquet' USING ParquetLoader();
        p = FOREACH o GENERATE o_custkey, o_orderkey, o_orderdate, (long)o_totalprice AS cents;
        g = GROUP p BY o_custkey;
        c = FOREACH g {{
            s = ORDER p BY o_orderdate, o_orderkey;
            GENERATE FLATTEN(Stitch(s,
                Over(s.cents, 'sum(long)'),
                Over(s.o_orderkey, 'row_number'),
                Over(s.cents, 'lag'),
                Over(s.cents, 'max(long)', -1, -1)))
              AS (o_custkey, o_orderkey, o_orderdate, cents,
                  run_total:long, rn:long, prev_cents:long, max_cents:long);
        }}
    """)
    return rels["c"].df


def q99_piggybank_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Piggybank evaluation extras (functions/piggybank.py): Stuff
    splice, Decode/Bin CASE families, math extras (ATAN2/HYPOT/SCALB/
    getExponent — Java Math semantics), Reverse/LENGTH, IsInt/IsNumeric
    validators, REPLACE_MULTI — all whole-stage-codegen Columns,
    map-only. Floats follow the round-6 oracle policy."""
    from .functions import piggybank as PB

    p = _t(spark, sf, "part").df
    brand_digits = PF.REGEX_EXTRACT(F.col("p_brand"), r"#(\d+)$", 1)
    return p.select(
        "p_partkey",
        PB.Stuff(F.col("p_name"), 2, 3, "***").alias("stuffed"),
        PB.Bin(F.col("p_retailprice"), "cheap", 950.0, "mid", 1500.0, "expensive").alias("price_bin"),
        PB.Decode(F.col("p_brand"), "Brand#11", "first", "Brand#55", "last", "mid").alias("brand_dec"),
        F.round(PB.ATAN2(F.col("p_retailprice"), F.col("p_size").cast("double")), 6).alias("a2"),
        F.round(PB.HYPOT(F.col("p_size").cast("double"), F.lit(3.0)), 6).alias("hy"),
        PB.SCALB(F.col("p_size").cast("double"), 2).alias("sc"),
        PB.getExponent(F.col("p_retailprice")).cast("int").alias("gexp"),
        PB.Reverse(F.col("p_name")).alias("rev"),
        PB.LENGTH(F.col("p_name")).cast("int").alias("len"),
        PB.IsInt(brand_digits).alias("brand_is_int"),
        PB.IsNumeric(F.col("p_type")).alias("type_is_num"),
        PB.REPLACE_MULTI(F.col("p_brand"), {"#": "-", "Brand": "B"}).alias("rm"),
    )


def q100_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup (dedup.signature_index +
    incremental_minhash_pairs): the daily-ingest pattern — a stored
    banded minhash index over the corpus, a new batch (doc_id % 10 ==
    0) matched against it by band-bucket join + signature-agreement
    score, WITHOUT re-reading corpus text. New-side band rows
    broadcast; old×old pairs never form; the index would be
    band-partitioned parquet at scale."""
    d = _t(spark, sf, "documents").df
    index = dedup.signature_index(d, "text", "doc_id")
    new_batch = d.filter(F.col("doc_id") % 10 == 0)
    return dedup.incremental_minhash_pairs(new_batch, "text", "doc_id", index, threshold=0.5)


def q101_latin_chunk_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window sharding in PURE Pig Latin: FLATTEN(CHUNKS(...))
    fans each document into 16-token windows (bag form of
    operators/chunking), a FILTER drops runt chunks, and the per-doc
    rollup counts surviving windows — the chunker a reference user
    would write as a script. Same map-only fan-out plan as q94 plus
    one partial-agg groupBy."""
    from .latin import run

    rels = run(spark, f"""
        d = LOAD '{sf}/documents.parquet' USING ParquetLoader();
        c = FOREACH d GENERATE doc_id, FLATTEN(CHUNKS(text, 16, 12)) AS (chunk_id, n_tokens, chunk_text);
        f = FILTER c BY n_tokens >= 8;
        g = GROUP f BY doc_id;
        out = FOREACH g GENERATE group AS doc_id, COUNT(f) AS n_chunks, SUM(f.n_tokens) AS total_tokens;
    """)
    return rels["out"].df.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
    )


def q102_contamination_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """q88's decontamination with the LARGE-eval-set path
    (dedup.contamination_check_bloom): a packed bloom of the bench
    gram hashes broadcasts instead of the exact set, the train gram
    stream is prefiltered map-side, and only survivors shuffle for
    exact verification — output identical to q88's exact path (same
    oracle)."""
    d = _t(spark, sf, "documents").df
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return dedup.contamination_check_bloom(
        train, bench, "text", "doc_id", threshold=0.05, bloom_m=1 << 18
    )


def q103_log_parse(spark: SparkSession, sf: str) -> DataFrame:
    """Apache-log analysis — THE original Pig use case — through the
    RegExLoader machinery (sources.regex_groups: first-match
    Matcher.find semantics, 3 regex passes per line regardless of
    group count): common-log lines synthesized from events are parsed
    back into typed fields. Map-only codegen; the oracle parses the
    identical lines with the identical pattern."""
    from .sources import regex_groups
    from .sources.storage import COMMON_LOG_PATTERN

    e = _t(spark, sf, "events").df
    line = F.concat(
        F.lit("10.0."), (F.col("user_id") % 256).cast("string"),
        F.lit("."), (F.col("user_id") % 7).cast("string"),
        F.lit(" - frank [01/Jan/2024:00:00:00 +0000] \""),
        F.upper(F.col("event_type")), F.lit(" /e/"), F.col("event_id").cast("string"),
        F.lit(" HTTP/1.1\" "), (F.lit(200) + F.col("event_id") % 3).cast("string"),
        F.lit(" "), F.floor(F.col("value") * 10).cast("string"),
    )
    parsed = e.select("event_id", regex_groups(line, COMMON_LOG_PATTERN, 9).alias("__g"))
    return parsed.select(
        "event_id",
        F.get("__g", 0).alias("remote_addr"),
        F.get("__g", 4).alias("method"),
        F.get("__g", 5).alias("uri"),
        F.get("__g", 7).try_cast("int").alias("status"),
        F.get("__g", 8).try_cast("long").alias("bytes"),
    )


def q104_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity day,
    counted per (cohort_day, offset_days) of later activity — the
    classic event-analytics rollup (Pig idiom: GROUP + MIN join-back +
    DISTINCT + GROUP). Two shuffles total: the per-user min aggregate
    (broadcast back — users table << events) and the final pair
    aggregate over distinct (user, day) rows."""
    e = _t(spark, sf, "events")
    day = F.to_date(PF.event_ts(e.df)).alias("day")
    acts = e.df.select("user_id", day).distinct()
    cohort = acts.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        acts.join(F.broadcast(cohort), "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("long").alias("offset_days"),
            "user_id",
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


def q105_volume_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Ingestion-health monitoring: per event-type daily volumes scored
    against the trailing 7-day window (z-score of count vs mean/std of
    the preceding days) — the drift alarm a continuously-fed training
    pipeline runs on its event stream. One partial-agg groupBy to the
    tiny (type, day) table, then ordered windows over it; days with
    fewer than 3 trailing points abstain (z null, not anomalous)."""
    from .operators.temporal import volume_anomaly

    e = _t(spark, sf, "events")
    day = F.to_date(PF.event_ts(e.df)).alias("day")
    daily = (
        e.df.select("event_type", day)
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return volume_anomaly(daily, ["event_type"], "day").select(
        "event_type", "day", "n", "z", "anomalous"
    )


def q106_cms_frequencies(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch (functions/cms.py): per-user event frequencies
    estimated from a depth×width sketch — the mergeable-frequency leg
    of the sketch triad (HLL uniques q78, histogram quantiles q84).
    Deterministic md5 bucketing makes the whole sketch SQL-mirrorable,
    so the gate hash-matches estimates AND the never-undercount flag
    against exact counts, for the 25 heaviest users."""
    from .functions.cms import cms_build, cms_estimate

    e = _t(spark, sf, "events").df
    sketch = cms_build(e, "user_id")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("exact"))
    top = exact.orderBy(F.desc("exact"), F.asc("user_id")).limit(25)
    est = cms_estimate(sketch, top.select("user_id"), "user_id")
    return top.join(est, "user_id").select(
        "user_id", "exact", "est", (F.col("est") >= F.col("exact")).alias("never_under")
    )


def q87_dedup_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup GROUPS: the q41 minhash-LSH pair stream transitively
    closed into connected components (operators/graph.py) — group_id =
    min doc_id of the component, the deterministic "canonical survivor"
    a 100 TB dedup keeps. Pairs alone under-delete: A~B, B~C must
    collapse even when LSH never emitted A~C. A pair stream of at most
    ``graph.DRIVER_MAX_EDGES`` edges (the benchmark's and the oracle
    scales' are a few hundred) is collected in one job and closed by a
    union-find on the driver; a larger one takes the large-star/
    small-star rounds, O(log n) of them, on the cluster."""
    from .operators.graph import connected_components

    d = _t(spark, sf, "documents").df
    pairs = dedup.minhash_lsh_pairs(d, "text", "doc_id", threshold=0.4)
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst")
    cc = connected_components(edges, "src", "dst", canonical=True)
    release(edges)  # CC no longer reads the pairs: the pair stage's store is spent
    return cc.selectExpr("node AS doc_id", "component AS group_id")


def q84_quantile_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable quantile rollup (functions/quantile.py): hourly
    equi-width histogram partials re-SUMmed to daily — the additive
    analogue of q78's HLL sketches, completing the continuous-
    aggregate surface (q77 sums, q78 uniques, q84 quantiles). Gate
    shape: per-day booleans |histogram estimate − exact quantile| ≤
    2×bin_width; the oracle computes the exact quantiles (DuckDB
    quantile_disc) and predicts every row true. All-JVM: bin floor,
    SUM re-agg, window cumsum — no UDF, no sketch blobs."""
    from .functions.quantile import histogram_rollup, quantiles_from_histogram

    e = _t(spark, sf, "events")
    ts = PF.event_ts(e.df)
    width = 1.0
    hourly = histogram_rollup(
        e.df.select(F.date_trunc("hour", ts).alias("hour"), F.col("value")), "hour", "value", width
    )
    daily = (
        hourly.withColumn("day", F.to_date("hour"))
        .groupBy("day", "bin")
        .agg(F.sum("n").alias("n"))
    )
    est = quantiles_from_histogram(daily, "day", {"p50": 0.5, "p95": 0.95}, width)
    # Structural gate: re-derive the rank property from RAW events —
    # the estimate bin must contain the q-th rank, i.e.
    # count(value < bin_lower) < q·N ≤ count(value < bin_lower+width).
    # True iff the hourly partials, the daily re-SUM, and the window
    # cumsum all composed correctly; no data-dependent tolerance.
    raw = e.df.select(F.to_date(ts).alias("day"), "value").join(F.broadcast(est), "day")
    chk = raw.groupBy("day", "p50", "p95").agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("value") < F.col("p50"), 1)).alias("below50"),
        F.count(F.when(F.col("value") < F.col("p50") + width, 1)).alias("thru50"),
        F.count(F.when(F.col("value") < F.col("p95"), 1)).alias("below95"),
        F.count(F.when(F.col("value") < F.col("p95") + width, 1)).alias("thru95"),
    )
    return chk.select(
        "day",
        ((F.col("below50") < 0.5 * F.col("total")) & (F.col("thru50") >= 0.5 * F.col("total"))).alias("p50_ok"),
        ((F.col("below95") < 0.95 * F.col("total")) & (F.col("thru95") >= 0.95 * F.col("total"))).alias("p95_ok"),
    )


def q74_latin_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE statement through the Latin front-end (QueryParser.g:595,
    LOCube.java:31-70): grouping-set expansion lowered to
    df.groupingSets — Expand below partial aggregation, the inverse of
    Pig's pre-shuffle CubeDimensions row multiplication."""
    from .latin import run

    rels = run(spark, f"""
        o = LOAD '{sf}/orders.parquet' USING ParquetLoader();
        p = FOREACH o GENERATE o_orderstatus, o_orderpriority,
                     (bigdecimal) o_totalprice AS price;
        c = CUBE p BY CUBE(o_orderstatus, o_orderpriority);
        out = FOREACH c GENERATE FLATTEN(group), COUNT(cube) AS n,
                       SUM(cube.price) AS total;
    """)
    # round(2) after the double cast: the sum of 2-decimal prices IS a
    # 2-decimal value, but DuckDB's DECIMAL(38,18)→DOUBLE cast lands a
    # couple of ULPs off (int128/10^18 in float arithmetic) — rounding
    # both sides to the value's true scale makes the comparison exact
    return rels["out"].df.select(
        "o_orderstatus",
        "o_orderpriority",
        "n",
        F.round(F.col("total").cast("double"), 2).alias("total"),
    )


def q80_skewed_join(spark: SparkSession, sf: str) -> DataFrame:
    """JOIN ... USING 'skewed' (POSkewedJoin.java) — explicit salted
    fallback (operators/skew.salted_join): l_returnflag has 3 hot keys
    covering ALL rows, the worst case for a hash join. The salt spreads
    each hot key over 16 reducers; results are identical to the plain
    join (the oracle), which is exactly the point — same answer, no
    straggler partition. AQE skew handling is the primary path; this
    gate pins the deterministic fallback."""
    from .operators.skew import salted_join

    li = _t(spark, sf, "lineitem").foreach("l_orderkey", "l_linenumber", "l_returnflag").df
    dim = (
        _t(spark, sf, "lineitem")
        .group_by("l_returnflag")
        .agg(flag_n=F.count(F.lit(1)))
        .df
    )
    return salted_join(li, dim, on="l_returnflag").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "flag_n"
    )


def q79_latin_nested_limit(spark: SparkSession, sf: str) -> DataFrame:
    """Nested ORDER+LIMIT inside FOREACH {} through the Latin front-end
    (QueryParser.g:921-971 nested_blk; reference nightly.conf Nested
    cases) — lowered to operators.nested.topk_per_group: one shuffle on
    the group key, partitioned window row_number ≤ k, no reducer bags.
    Aggregates run over the k survivors. SUM over exactly 2 doubles is
    order-insensitive (one IEEE addition), so the hash gate is exact."""
    from .latin import run

    rels = run(spark, f"""
        li = LOAD '{sf}/lineitem.parquet' USING ParquetLoader();
        g = GROUP li BY l_orderkey;
        t = FOREACH g {{
            s = ORDER li BY l_extendedprice DESC, l_linenumber ASC;
            l = LIMIT s 2;
            GENERATE group AS l_orderkey, SUM(l.l_extendedprice) AS top2_price,
                     COUNT(l) AS n_top;
        }}
    """)
    return rels["t"].df


def q82_latin_two_limit_pipes(spark: SparkSession, sf: str) -> DataFrame:
    """TWO independent ORDER+LIMIT pipes in one nested FOREACH block
    (QueryParser.g:921-971 — nested ops compose arbitrarily; r3 corner
    from VERDICT). Each pipe gets its own topk_per_group frame; their
    per-group aggregates stitch with a full_outer equi-join on the
    group key. Order keys carry a unique tiebreak so the top-k set is
    deterministic; SUMs run over l_quantity (integer-valued doubles —
    IEEE-exact, order-insensitive), MAX/COUNT are exact anywhere."""
    from .latin import run

    rels = run(spark, f"""
        li = LOAD '{sf}/lineitem.parquet' USING ParquetLoader();
        g = GROUP li BY l_returnflag;
        t = FOREACH g {{
            s1 = ORDER li BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC;
            hi = LIMIT s1 3;
            s2 = ORDER li BY l_quantity ASC, l_orderkey ASC, l_linenumber ASC;
            lo = LIMIT s2 5;
            GENERATE group AS flag, MAX(hi.l_extendedprice) AS max_price,
                     SUM(hi.l_quantity) AS top3_qty, COUNT(hi) AS n_top,
                     SUM(lo.l_quantity) AS bot5_qty;
        }}
    """)
    return rels["t"].df


def q83_latin_distinct_limit(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT → ORDER → LIMIT composed in ONE nested pipe (r3 corner
    from VERDICT): the pipe's projection is deduped per group
    (dropDuplicates — no bags) before the window rank takes the top k.
    Distinct values make the top-k set unique, so SUM is exact."""
    from .latin import run

    rels = run(spark, f"""
        li = LOAD '{sf}/lineitem.parquet' USING ParquetLoader();
        g = GROUP li BY l_returnflag;
        t = FOREACH g {{
            d = DISTINCT li.l_quantity;
            s = ORDER d BY l_quantity DESC;
            l = LIMIT s 3;
            GENERATE group AS flag, SUM(l.l_quantity) AS top3_qty, COUNT(l) AS n_top;
        }}
    """)
    return rels["t"].df


def q81_latin_bigdata_chain(spark: SparkSession, sf: str) -> DataFrame:
    """bigdata.conf 'BigData_Checkin' + join.conf 'BloomJoin' in one
    Latin script: bloom-strategy join (BuildBloom.java — broadcast
    bloom pre-filter of the probe side, exact semantics), GROUP by a
    tuple key, 'group AS gk' as a tuple-typed field, positional deref
    gk.$0/gk.$1 (QueryParser.g col_ref), qualified-field aggregates.
    COUNT/MIN/MAX only — order-insensitive and IEEE-exact, so the
    value-hash gate is deterministic."""
    from .latin import run

    rels = run(spark, f"""
        c = LOAD '{sf}/customer.parquet' USING ParquetLoader();
        o = LOAD '{sf}/orders.parquet' USING ParquetLoader();
        cf = FILTER c BY c_acctbal > 0.0;
        e = JOIN cf BY c_custkey, o BY o_custkey USING 'bloom';
        g = GROUP e BY (cf::c_mktsegment, o::o_orderpriority);
        h = FOREACH g GENERATE group AS gk, COUNT(e) AS n,
                     MAX(e.o::o_totalprice) AS max_price,
                     MIN(e.o::o_totalprice) AS min_price;
        i = FOREACH h GENERATE gk.$0 AS seg, gk.$1 AS prio, n, max_price, min_price;
    """)
    return rels["i"].df


def q111_domain_caps(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain caps (operators/sampling.cap_per_key): each doc gets
    a deterministic synthetic URL (the corpus carries none), the
    domain is regexp-extracted, and at most 3 docs per domain survive
    — highest token count first, doc_id tiebreak, so the kept set is
    retry-stable. The standard crawl-curation guard against one
    domain dominating a slice: one shuffle, one codegen window."""
    from .operators.sampling import cap_per_key

    d = _t(spark, sf, "documents").df
    with_url = d.select(
        "doc_id",
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 37).cast("string"),
            F.lit(".example.com/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    domains = with_url.withColumn(
        "domain", F.regexp_extract("url", r"^https?://([^/]+)/", 1)
    )
    kept = cap_per_key(
        domains, "domain", 3, [F.col("n_tokens").desc(), F.col("doc_id").asc()]
    )
    return kept.select("domain", "doc_id", "n_tokens")


def q109_incremental_dedup_verified(spark: SparkSession, sf: str) -> DataFrame:
    """q100's incremental dedup plus the exact re-verify stage
    (verify_with): signature-agreement survivors re-scored by EXACT
    shingle Jaccard over ONLY the matched docs (semi-join pruned text
    reads — survivors-sized, never corpus-sized), keeping pairs with
    jaccard >= 0.4. The precision pass a byte-grade dedup runs after
    the estimate-only daily match."""
    d = _t(spark, sf, "documents").df
    index = dedup.signature_index(d, "text", "doc_id")
    new_batch = d.filter(F.col("doc_id") % 10 == 0)
    return dedup.incremental_minhash_pairs(
        new_batch, "text", "doc_id", index, threshold=0.5,
        verify_with=d, verify_threshold=0.4,
    )


def q110_latin_flatten_with_aggs(spark: SparkSession, sf: str) -> DataFrame:
    """FLATTEN of a LIMIT pipe MIXED with aggregates in one GENERATE
    (Pig bag×scalar cross product: every flattened top-k survivor row
    carries the group's aggregate values). Lowered to the one-shuffle
    top-k window left-joined with the stitched aggregate frame on the
    group keys — empty-bag groups drop (FLATTEN semantics), COUNT of
    an emptied pipe coalesces to 0. Closes the r3-era
    'cannot mix' NotImplementedError corner."""
    from .latin import run

    rels = run(spark, f"""
        o = LOAD '{sf}/orders.parquet' USING ParquetLoader();
        p = FOREACH o GENERATE o_custkey, o_orderkey, (long)o_totalprice AS cents;
        g = GROUP p BY o_custkey;
        c = FOREACH g {{
            s = ORDER p BY cents DESC, o_orderkey;
            l = LIMIT s 2;
            GENERATE group AS ck, COUNT(p) AS n_all,
                     FLATTEN(l.o_orderkey) AS top_ok, MAX(p.cents) AS mx;
        }}
    """)
    return rels["c"].df


def q107_latin_multi_stitch(spark: SparkSession, sf: str) -> DataFrame:
    """TWO FLATTEN(Stitch(Over)) expressions in one GENERATE — Pig's
    FLATTEN contract for multiple bags is their per-group CROSS
    PRODUCT. Each Stitch windows over its own ORDER of the group's bag
    (row_number by nationkey; rank by name DESC) and the cross product
    lowers to a null-safe equi-join on the group key — co-partitioned
    with the window exchanges, never a global cartesian
    (translate.py _cross_rows; closes the r3 verdict's nested
    corner #2)."""
    from .latin import run

    rels = run(spark, f"""
        n = LOAD '{sf}/nation.parquet' USING ParquetLoader();
        p = FOREACH n GENERATE n_regionkey, n_nationkey, n_name;
        g = GROUP p BY n_regionkey;
        c = FOREACH g {{
            s = ORDER p BY n_nationkey;
            t = ORDER p BY n_name DESC;
            GENERATE group AS rk,
                FLATTEN(Stitch(s, Over(s.n_nationkey, 'row_number')))
                  AS (rka, nk1, nma, rn1:long),
                FLATTEN(Stitch(t, Over(t.n_name, 'rank', -1, -1, 1)))
                  AS (rkb, nkb, nm2, rnk2:long);
        }}
        d = FOREACH c GENERATE rk, nk1, rn1, nm2, rnk2;
    """)
    return rels["d"].df


def q108_latin_unordered_limit(spark: SparkSession, sf: str) -> DataFrame:
    """Nested LIMIT with NO preceding ORDER (QueryParser.g:921-971 —
    Pig's contract is "any n rows of the bag"). Arbitrary picks aren't
    retry-reproducible, so the lowering pins a deterministic stand-in:
    the first n rows of the pipe's columns ascending (nulls first) via
    the same one-shuffle topk_per_group window — a legal "any n rows"
    that is additionally stable (documented divergence from Pig's
    arbitrary choice; closes the r3 verdict's nested corner #3)."""
    from .latin import run

    rels = run(spark, f"""
        s0 = LOAD '{sf}/supplier.parquet' USING ParquetLoader();
        p = FOREACH s0 GENERATE s_nationkey, s_suppkey, s_name;
        g = GROUP p BY s_nationkey;
        c = FOREACH g {{
            l = LIMIT p 2;
            GENERATE group AS nk, FLATTEN(l.s_name) AS pick;
        }}
    """)
    return rels["c"].df


def q112_latin_bag_pipe(spark: SparkSession, sf: str) -> DataFrame:
    """GENERATE <limit-pipe> — the pipe ITSELF as a bag column (Pig
    emits the inner relation as a bag of tuples; POForEach inner-plan
    output), flattened by a downstream FOREACH. The survivors come
    from the same one-shuffle topk_per_group window; the bag is ≤
    limit_n elements, collected and comparator-sorted post-window
    (translate._topk_agg bag branch — closes VERDICT r4 'What's
    missing' #2's most-hit shape, nightly.conf's
    `l = limit s 1; generate l;` idiom)."""
    from .latin import run

    rels = run(spark, f"""
        c0 = LOAD '{sf}/customer.parquet' USING ParquetLoader();
        p = FOREACH c0 GENERATE c_nationkey, c_custkey, c_acctbal;
        g = GROUP p BY c_nationkey;
        b = FOREACH g {{
            s = ORDER p BY c_acctbal DESC, c_custkey;
            l = LIMIT s 1;
            GENERATE l AS best;
        }};
        out = FOREACH b GENERATE FLATTEN(best);
    """)
    return rels["out"].df


def q113_latin_nested_cross(spark: SparkSession, sf: str) -> DataFrame:
    """Nested CROSS of two COGROUP bags (QueryParser.g nested_op,
    Pig >= 0.10): per-group cross product, flattened. Lowered as a
    map-only flatten(transform×transform) over the cogroup row's two
    bag columns — the bags are already co-located, so no join and no
    extra shuffle beyond the cogroup's own; equivalent to (and
    oracle-checked against) the inner equi-join."""
    from .latin import run

    rels = run(spark, f"""
        n0 = LOAD '{sf}/nation.parquet' USING ParquetLoader();
        r0 = LOAD '{sf}/region.parquet' USING ParquetLoader();
        nn = FOREACH n0 GENERATE n_regionkey, n_name;
        rr = FOREACH r0 GENERATE r_regionkey, r_name;
        cg = COGROUP nn BY n_regionkey, rr BY r_regionkey;
        d = FOREACH cg {{
            x = CROSS nn, rr;
            GENERATE FLATTEN(x);
        }};
        out = FOREACH d GENERATE n_name AS nname, r_name AS rname;
    """)
    return rels["out"].df


def q114_latin_inline_group(spark: SparkSession, sf: str) -> DataFrame:
    """Inline relational clause: FOREACH (GROUP p ALL) GENERATE ... —
    QueryParser.g:364 nested_op_clause, the idiom every Pig aggregate
    one-liner uses. The parenthesized GROUP evaluates as an anonymous
    relation; the algebraic GENERATE lowers to the usual
    groupBy().agg() (no bag materializes)."""
    from .latin import run

    rels = run(spark, f"""
        li = LOAD '{sf}/lineitem.parquet' USING ParquetLoader();
        p = FOREACH li GENERATE l_quantity;
        out = FOREACH (GROUP p ALL) GENERATE COUNT(p) AS n_rows, SUM(p.l_quantity) AS sum_qty;
    """)
    return rels["out"].df


def q115_latin_hive_udf(spark: SparkSession, sf: str) -> DataFrame:
    """DEFINE f HiveUDF('name') (builtin/HiveUDF.java) — Pig's Hive
    bridge, re-expressed as Spark's own Hive-compatible function
    registry (F.call_function): JVM-side, codegen, no bridge jar."""
    from .latin import run

    rels = run(spark, f"""
        define hupper HiveUDF('upper');
        c0 = LOAD '{sf}/customer.parquet' USING ParquetLoader();
        out = FOREACH c0 GENERATE c_custkey, hupper(c_name) AS uname;
    """)
    return rels["out"].df


def q116_latin_multi_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """TWO FLATTEN(<limit-pipe>) in one nested GENERATE — Pig's
    per-group cross product of the bags (the nightly.conf
    limit_desc × limit_asc idiom; closes the r4 'exactly one FLATTEN
    per nested GENERATE' corner). Each pipe collects as an ordered,
    LIMIT-sliced bag in ONE grouped frame; sequential explode is the
    cross product — one shuffle total, bags ≤ limit_n elements."""
    from .latin import run

    rels = run(spark, f"""
        s0 = LOAD '{sf}/supplier.parquet' USING ParquetLoader();
        p = FOREACH s0 GENERATE s_nationkey, s_suppkey, s_name, s_acctbal;
        g = GROUP p BY s_nationkey;
        b = FOREACH g {{
            hi = ORDER p BY s_acctbal DESC, s_suppkey;
            lh = LIMIT hi 1;
            lo = ORDER p BY s_acctbal ASC, s_suppkey;
            ll = LIMIT lo 1;
            GENERATE group AS nk, FLATTEN(lh), FLATTEN(ll);
        }};
        out = FOREACH b GENERATE nk, lh::s_name AS top_name, lh::s_acctbal AS top_bal,
                                 ll::s_name AS low_name, ll::s_acctbal AS low_bal;
    """)
    return rels["out"].df


def q117_latin_inner_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """FLATTEN inside an inner FOREACH (QueryParser.g nested_foreach —
    the last r4 nested-block corner): the pipe's tuples become the
    ELEMENTS of a per-row array column (transform over the bag), so
    multiplicity lives inside the array and sibling pipes/aggregates
    stay row-aligned; COUNT over the pipe aggregates per-row size
    partials (map-side combine, the bag never explodes)."""
    from .latin import run

    rels = run(spark, f"""
        d0 = LOAD '{sf}/documents.parquet' USING ParquetLoader();
        t = FOREACH d0 GENERATE lang, TOKENIZE(text) AS words;
        g = GROUP t BY lang;
        out = FOREACH g {{
            w = FOREACH t GENERATE FLATTEN(words) AS word;
            GENERATE group AS lang, COUNT(w) AS n_tokens;
        }};
    """)
    return rels["out"].df


def q118_latin_hive_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """DEFINE f HiveUDAF('name') (builtin/HiveUDAF.java; nightly.conf
    HiveUDF #4/#5) — the Hive aggregate lowers to the SAME-NAMED Spark
    aggregate (Spark's registry implements the Hive builtin aggregate
    surface) with map-side partial aggregation instead of Pig's
    GenericUDAFEvaluator PARTIAL1/FINAL bridge. Exercises both corpus
    shapes: avg over a bag column and percentile over a 2-field bag
    projection whose fraction column folds to a literal via the
    optimized plan (Hive's constant-argument contract, zero scan)."""
    from .latin import run

    rels = run(spark, f"""
        define havg HiveUDAF('avg');
        define pctl HiveUDAF('percentile');
        o0 = LOAD '{sf}/orders.parquet' USING ParquetLoader();
        p = FOREACH o0 GENERATE o_orderpriority, o_custkey, 0.5 AS frac;
        g = GROUP p BY o_orderpriority;
        out = FOREACH g GENERATE group AS priority,
                                 havg(p.o_custkey) AS avg_cust,
                                 pctl(p.(o_custkey, frac)) AS med_cust;
    """)
    return rels["out"].df


def q119_latin_cor_two_pipes(spark: SparkSession, sf: str) -> DataFrame:
    """ONE aggregate call spanning two LIMIT pipes (QueryParser.g:
    921-971 residual corner, closed r6): the multi-bag aggregates
    COR/COV (builtin/COR.java:66-101, COV.java) over nested top-k
    pipes. Each bag argument collects as an ORDERED bounded array
    (≤ limit_n) inside its pipe's top-k frame — one window over one
    shuffle per pipe, frames stitched with a full_outer equi-join on
    the group key — and the pairwise stats zip the arrays positionally,
    exactly computeAll's dual-iterator walk. COV additionally exercises
    the same-pipe two-argument form.

    The emitted stats are rounded to SIGNIFICANT digits, not decimal
    places (r6 driver red row: covar_pop at ~1.2e7 magnitude rounded
    to 4 decimals = 11 significant digits, within FP summation-order
    noise of the oracle, and the two sides landed on opposite sides of
    a rounding boundary). The mantissa form cv/10^floor(log10(|cv|))
    rounded to 6 decimals = 7 significant digits is scale-invariant;
    corr is bounded in [-1,1] so plain 6-decimal rounding is already
    significant-digit rounding."""
    from .latin import run

    rels = run(spark, f"""
        o0 = LOAD '{sf}/orders.parquet' USING ParquetLoader();
        g = GROUP o0 BY o_orderpriority;
        out = FOREACH g {{
            s1 = ORDER o0 BY o_orderkey;      l1 = LIMIT s1 20;
            s2 = ORDER o0 BY o_orderkey DESC; l2 = LIMIT s2 20;
            GENERATE group AS prio,
                     COR(l1.o_totalprice, l2.o_totalprice) AS corbag,
                     COV(l1.o_totalprice, l1.o_custkey) AS covbag;
        }};
        flat = FOREACH out GENERATE prio,
                   FLATTEN(corbag) AS (cx:chararray, cy:chararray, r:double),
                   FLATTEN(covbag) AS (vx:chararray, vy:chararray, cv:double);
        fin = FOREACH flat GENERATE prio, cx, cy, ROUND_TO(r, 6) AS r, vx, vy,
                   (cv == 0.0 ? 0.0
                    : ROUND_TO(cv / POW(10.0, FLOOR(LOG10(ABS(cv)))), 6)) AS cv;
    """)
    return rels["fin"].df


def q120_latin_arr_pipe_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Pipe ops chained onto a FLATTENed inner-FOREACH pipe (the other
    QueryParser.g:921-971 residual corner, closed r6): FILTER runs
    per-element inside the per-row array (pure codegen, no shuffle);
    DISTINCT/ORDER/LIMIT dedupe, sort and slice the CONCATENATED group
    bag at assembly time (_pipe_bag) — the same reducer-bag footprint
    Pig uses for these statements. Consumers exercised: aggregate over
    the filtered pipe (per-row partials), aggregate over the DISTINCT
    pipe (group-bag path), and FLATTEN of the ordered+limited pipe."""
    from .latin import run

    rels = run(spark, f"""
        d0 = LOAD '{sf}/documents.parquet' USING ParquetLoader();
        t = FOREACH d0 GENERATE lang, TOKENIZE(text) AS words;
        g = GROUP t BY lang;
        out = FOREACH g {{
            w = FOREACH t GENERATE FLATTEN(words) AS word;
            f = FILTER w BY word != 'the' AND word != 'a';
            d = DISTINCT f;
            o = ORDER d BY word DESC;
            l = LIMIT o 5;
            GENERATE group AS lang, COUNT(f) AS n_filtered,
                     COUNT(d) AS n_distinct, FLATTEN(l.word) AS w;
        }};
    """)
    return rels["out"].df


def q121_unigram_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical-LM quality filtering (the CCNet/KenLM perplexity
    stage of training-data pipelines): build a unigram log-probability
    table from the corpus itself and score each document by mean token
    log-prob, OOV tokens floored at ln(1e-9).

    Spark-first 100 TB design: the vocabulary is ONE map-side-partial
    aggregate over tokens followed by a DISTRIBUTED top-V
    (orderBy+limit → TakeOrderedAndProject, no single-partition
    window); it folds to a ONE-ROW map column (map_from_entries over
    ≤4096 entries, ~100 KB) broadcast-cross-joined to the documents —
    scoring is then PURE per-row array codegen (transform + aggregate
    over the doc's own token array): no explode, no per-token join,
    and no doc_id shuffle anywhere. The only shuffle in the whole
    query is the vocabulary count."""
    from pyspark.sql import functions as F

    V, OOV, THRESH = 4096, 1e-9, -8.7654321
    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != "")
    td = d.select("doc_id", toks.alias("tk"))
    flat = td.select(F.explode("tk").alias("t"))
    cnt = flat.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c").alias("n"))
    vocab = (
        cnt.orderBy(F.desc("c"), F.asc("t"))
        .limit(V)
        .crossJoin(F.broadcast(total))
        .select("t", F.log(F.col("c") / F.col("n")).alias("lp"))
    )
    # bucketed two-level map (r8): GetMapValue scans linearly, so a
    # flat top-V map probed per token is O(tokens × V) — see SCALE.md
    from .functions.text import bucketed_probe, fold_bucketed_map

    lm = fold_bucketed_map(vocab, "t", "lp", "__lm")
    floor = F.log(F.lit(OOV))
    scored = td.crossJoin(F.broadcast(lm)).select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.col("tk"),
                lambda t: F.coalesce(bucketed_probe(F.col("__lm"), t), floor),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__sum"),
    )
    avg = F.when(F.col("n_tokens") > 0, F.col("__sum") / F.col("n_tokens"))
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(avg, 6).alias("avg_logp"),
        (avg > F.lit(THRESH)).alias("keep"),
    )


def q122_latin_scripting_udf(spark: SparkSession, sf: str) -> DataFrame:
    """Scripting-UDF engine end-to-end (r6: the full decorator surface
    the reference's shipped UDF files use — JythonScriptEngine.java /
    PythonScriptEngine.java): a REGISTERed Python file whose functions
    declare types via @outputSchema, delegate typing to a
    @schemaFunction (output type follows the INPUT's type, resolved at
    call time), and return a complex value coerced through Pig's text
    forms under a chararray type. These functions call ``re`` and do
    int arithmetic, so they stay row-at-a-time Python UDFs (same class
    as STREAM THROUGH), outside pig_spark.udf_lift's pure subset; the
    tokenizer here uses an explicit [ \\t\\n]+ split so the DuckDB
    oracle can mirror the semantics exactly."""
    import os
    import shutil
    import tempfile

    from .latin import run

    udf_dir = tempfile.mkdtemp(prefix="pig_spark_sudf_")
    with open(os.path.join(udf_dir, "udfs.py"), "w") as fh:
        fh.write(
            # .strip(' ') not .strip(): DuckDB's trim() removes SPACES
            # only, and the oracle must mirror the UDF exactly
            "import re\n"
            "from pig_util import outputSchema\n"
            "@outputSchema('n_tok:long')\n"
            "def toklen(text):\n"
            "    if text is None or text.strip(' ') == '':\n"
            "        return 0\n"
            "    return len(re.split('[ \\t\\n]+', text.strip(' ')))\n"
            "@outputSchema('w1:chararray')\n"
            "def firstword(text):\n"
            "    if text is None or text.strip(' ') == '':\n"
            "        return None\n"
            "    return re.split('[ \\t\\n]+', text.strip(' '))[0].lower()\n"
            "@outputSchemaFunction('idschema')\n"
            "def sq(x):\n"
            "    return None if x is None else x * x\n"
            "@schemaFunction('idschema')\n"
            "def idschema(inp):\n"
            "    return inp\n"
        )
    try:
        # the functions are compiled into the plan's UDFs by now; the
        # file is not read again
        rels = run(spark, f"""
            REGISTER '{udf_dir}/udfs.py' USING jython AS f;
            d = LOAD '{sf}/documents.parquet' USING ParquetLoader();
            b = FOREACH d GENERATE doc_id, f.toklen(text) AS n_tok,
                                   f.firstword(text) AS w1, f.sq(doc_id) AS sq_id;
            out = FILTER b BY n_tok > 3;
        """)
    finally:
        shutil.rmtree(udf_dir, ignore_errors=True)
    return rels["out"].df


def q123_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication over the embedding space
    (the embedding-cosine near-dup family member the text-hash dedups
    can't cover: paraphrases hash differently but embed nearby):
    banded hyperplane-LSH candidate pairs + exact cosine verify
    (similarity.cosine_lsh_pairs — equi-join on (band,bucket), no
    cartesian), transitively closed with large-star/small-star
    connected components (operators/graph.py, O(log n) rounds), and
    the deterministic min-id survivor rule per component. Output: one
    row per vector with its semantic group and keep/drop flag.

    100 TB design: candidate generation is LSH-bucketed (never
    all-pairs), CC shuffles only edges (log rounds, an exact
    star-forest stop), and the final survivors join is a LEFT join of ids
    against the (small) component map — broadcastable whenever the
    near-dup fraction is low, which at 100 TB it is."""
    from .operators.graph import connected_components

    e = _t(spark, sf, "embeddings").df
    pairs = similarity.cosine_lsh_pairs(e, threshold=0.3)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = connected_components(edges, "src", "dst", canonical=True)
    out = e.select("vec_id").join(cc, F.col("vec_id") == F.col("node"), "left")
    group = F.coalesce(F.col("component"), F.col("vec_id"))
    return out.select(
        "vec_id",
        group.alias("group_id"),
        (F.col("vec_id") == group).alias("keep"),
    )


def q124_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF top-k characteristic terms per document — the classic
    corpus-statistics op behind keyword extraction / topic filtering
    stages of training-data pipelines.

    Spark-first 100 TB design (the q121 broadcast-statistics pattern):
    document frequency is ONE map-side-partial aggregate over per-doc
    DISTINCT tokens; the vocabulary is a DISTRIBUTED top-V
    (orderBy+limit → TakeOrderedAndProject, V=4096, df desc/term asc
    tiebreak) folded to a ONE-ROW broadcast map (~100 KB). Scoring and
    per-doc top-k are then PURE per-row array codegen: in-row term
    counts (no explode), tf·idf via the broadcast map, array_sort on
    (rounded -score, term) and slice(k) — no doc_id shuffle anywhere;
    the only shuffle in the whole query feeds the df count. Scores
    round to 6 decimals on BOTH sides (bounded magnitude: tf ≤ 1,
    idf ≤ ln N) and the rounded score is ALSO the ranking key, so
    cross-engine ordering is deterministic."""
    from pyspark.sql import functions as F

    V, K = 4096, 3
    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != "")
    td = d.select("doc_id", toks.alias("tk"))
    n_docs = td.agg(F.count(F.lit(1)).alias("n_docs"))
    df_tbl = (
        td.select(F.explode(F.array_distinct("tk")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    from .functions.text import bucketed_probe, fold_bucketed_map

    vocab = df_tbl.orderBy(F.desc("df"), F.asc("t")).limit(V)
    # bucketed two-level map (r8): linear GetMapValue scans made flat
    # top-V maps the per-token hot cost — see SCALE.md
    idf_map = fold_bucketed_map(
        vocab.crossJoin(F.broadcast(n_docs)),
        "t",
        F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        "__idf",
    )
    # per-row term counts in O(n log n): sorted run starts → gap
    # counts, EACH STAGED as its own projection (text module rule —
    # lambdas re-evaluate referenced expressions per element, so the
    # sorted array and the starts must be column attributes, not
    # inline expressions). A per-distinct-term filter() rescan would
    # be O(distinct × n) per row and die on long documents. The idf
    # map joins AFTER the staging chain: a ~100 KB map column carried
    # through non-collapsed projections is COPIED per row per stage
    # (measured 2 s → 300 s at sf0.1 when the join came first).
    from .functions.text import counts_from_starts, run_starts

    s1 = td.select(
        "doc_id", F.size("tk").alias("__n"), F.array_sort("tk").alias("__st")
    )
    s2 = s1.select("doc_id", "__n", run_starts(F.col("__st")).alias("__starts"))
    s3 = s2.select(
        "doc_id",
        "__n",
        counts_from_starts(F.col("__starts"), F.col("__n")).alias("__tc"),
    )
    staged = s3.crossJoin(F.broadcast(idf_map))
    scored = staged.select(
        "doc_id",
        F.slice(
            F.array_sort(
                F.filter(
                    F.transform(
                        F.col("__tc"),
                        lambda r: F.struct(
                            F.round(
                                -(r["cnt"] / F.col("__n"))
                                * bucketed_probe(F.col("__idf"), r["term"]),
                                6,
                            ).alias("neg_score"),
                            r["term"].alias("term"),
                        ),
                    ),
                    lambda s: s["neg_score"].isNotNull(),
                )
            ),
            1,
            K,
        ).alias("top"),
    )
    ex = scored.select("doc_id", F.posexplode("top").alias("pos", "s"))
    return ex.select(
        "doc_id",
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("s.term").alias("term"),
        (-F.col("s.neg_score")).alias("score"),
    )


def q125_hashed_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style hashed linear quality classifier
    (functions/text.hashed_linear_score): unigram+bigram features →
    md5 hash bucket → weight lookup → in-row mean; keep = score > 0.
    The weight table is a deterministic stand-in for a trained
    broadcast array — the Spark plumbing (per-feature hash, bucket,
    in-row reduction) is the production shape.

    100 TB design: the WHOLE operator is per-row whole-stage codegen —
    zero shuffles, zero Python, map-only (plan-pinned: no Exchange).
    HASH_DIM is a power of two, so every weight is an exact multiple
    of 2^-12 and per-row sums are exactly representable: the DuckDB
    oracle compares EXACTLY with no rounding policy. The body is SQL
    text (text.hashed_features / hashed_score_from_features)."""
    from .functions.text import HASH_DIM, HASH_MIX, TOKENIZE_WS_SQL, sliding_grams_sql

    bucket = f"CAST(conv(substring(md5(f), 1, 15), 16, 10) AS BIGINT) % {HASH_DIM}"
    weight = f"(({bucket} * {HASH_MIX}) % {HASH_DIM}) / {float(HASH_DIM)}D - 0.5D"
    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    td = d.selectExpr("doc_id", f"{TOKENIZE_WS_SQL.format('text')} AS tk")
    # staged projections (the text-module rule): feats and score are
    # each referenced more than once downstream, so CollapseProject
    # keeps them materialized once per row instead of re-inlining the
    # md5/aggregate lambda at every reference
    staged = td.selectExpr(
        "doc_id",
        "CAST(size(tk) AS BIGINT) AS n_tokens",
        f"concat(tk, {sliding_grams_sql('tk', 2)}) AS feats",
    )
    total = f"aggregate(feats, 0.0D, (acc, f) -> acc + ({weight}))"
    scored = staged.selectExpr(
        "doc_id", "n_tokens", f"CASE WHEN size(feats) > 0 THEN {total} / size(feats) END AS score"
    )
    return scored.selectExpr("doc_id", "n_tokens", "score", "score > 0 AS keep")


def q126_dsir_importance(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, 'Data
    Selection for Language Models via Importance Resampling'): score
    every document by the mean per-token log-likelihood RATIO between
    a TARGET-domain unigram LM (here: the lang='en' slice) and the
    SOURCE LM (the whole corpus); documents whose text looks more
    target-like than source-like get positive weights and are kept.
    This is the domain-matching resampling stage of training-data
    pipelines, composed from the engine's broadcast-LM pattern.

    100 TB design: TWO vocabulary aggregates (the only shuffles —
    target slice + full corpus, each a map-side-partial count +
    distributed top-V), each folded to a ONE-ROW broadcast map; the
    per-doc score is per-row array codegen over the doc's own token
    array (one transform computing lp_target - lp_source per token,
    OOV floored at ln(1e-9) on whichever side misses). No doc_id
    shuffle anywhere."""
    from pyspark.sql import functions as F

    V, OOV = 4096, 1e-9
    d = _t(spark, sf, "documents").df.select("doc_id", "lang", "text")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != "")
    td = d.select("doc_id", "lang", toks.alias("tk"))

    def lm_vocab(tdf, name):
        flat = tdf.select(F.explode("tk").alias("t"))
        cnt = flat.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
        total = cnt.agg(F.sum("c").alias("n"))
        return (
            cnt.orderBy(F.desc("c"), F.asc("t"))
            .limit(V)
            .crossJoin(F.broadcast(total))
            .select("t", F.log(F.col("c") / F.col("n")).alias(name))
        )

    floor = F.log(F.lit(OOV))
    # the two ≤V-row vocabularies fold into ONE broadcast map of
    # struct(lp_tgt, lp_src) — scoring then probes the map ONCE per
    # token instead of twice (the probe is the per-row hot loop; the
    # extra tiny vocab join costs nothing at build time)
    both = lm_vocab(td.filter(F.col("lang") == "en"), "lp_tgt").join(
        lm_vocab(td, "lp_src"), "t", "full_outer"
    )
    # bucketed two-level map (r8): linear GetMapValue scans — SCALE.md
    from .functions.text import bucketed_probe, fold_bucketed_map

    lm = fold_bucketed_map(
        both,
        "t",
        F.struct(
            F.coalesce("lp_tgt", floor).alias("lp_tgt"),
            F.coalesce("lp_src", floor).alias("lp_src"),
        ),
        "__lm",
    )
    probed = F.transform(F.col("tk"), lambda t: bucketed_probe(F.col("__lm"), t))
    scored = td.crossJoin(F.broadcast(lm)).select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.aggregate(
            probed,  # ONE map probe per token; the diff reads the struct
            F.lit(0.0),
            lambda acc, s: acc
            + (F.coalesce(s["lp_tgt"], floor) - F.coalesce(s["lp_src"], floor)),
        ).alias("__sum"),
    )
    # keep decides on the ROUNDED ratio so a near-zero value within
    # cross-engine ln() 1-ULP noise can't flip the boolean between
    # the Spark result and the oracle
    ratio = F.round(
        F.when(F.col("n_tokens") > 0, F.col("__sum") / F.col("n_tokens")), 6
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        ratio.alias("avg_log_ratio"),
        (ratio > 0).alias("keep"),
    )


def q127_referrer_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """Referrer-log analysis with the piggybank apachelogparser/util
    family (SearchEngineExtractor, HostExtractor, SearchTermExtractor,
    SearchQuery — all r7): per-engine traffic rollup. Deterministic
    referrer URLs are synthesized per document (the q90 PII-injection
    pattern — the corpus carries none), with plain-alnum query terms
    so the URL-decode step is identity on both engines.

    Map-only until the tiny per-engine aggregate: host parse, engine
    suffix-match (a literal CASE chain) and term regex all run in the
    scan's projection — no UDF, no shuffle except the ≤5-row group."""
    from pyspark.sql import functions as F

    from .functions.piggybank import (
        HostExtractor,
        SearchEngineExtractor,
        SearchTermExtractor,
    )

    d = _t(spark, sf, "documents").df.select("doc_id", "lang")
    domains = F.array(
        F.lit("www.google.com"),
        F.lit("search.yahoo.com"),
        F.lit("bing.com"),
        F.lit("duckduckgo.com"),
        F.lit("unknown.example.org"),
    )
    url = F.concat(
        F.lit("http://"),
        F.element_at(domains, (F.col("doc_id") % 5 + 1).cast("int")),
        F.lit("/search?q="),
        F.col("lang"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("&hl=en"),
    )
    staged = d.select("doc_id", url.alias("__url"))
    enriched = staged.select(
        "doc_id",
        SearchEngineExtractor(F.col("__url")).alias("engine"),
        HostExtractor(F.col("__url")).alias("host"),
        SearchTermExtractor(F.col("__url")).alias("term"),
    )
    return enriched.groupBy("engine").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.countDistinct("term").cast("long").alias("n_terms"),
    )


def _classifier_weights() -> list[float]:
    """The TRAINING formula behind fixtures/classifier_weights.json:
    4096 exact multiples of 2^-12 (so per-row double sums compare
    exactly against the DuckDB oracle with no rounding policy). q128
    does NOT call this — it loads the checked-in fixture file (the
    load-a-trained-model path); this generator remains so tests can
    assert fixture integrity and the oracle stays an independent
    recomputation of the expected weights."""
    from .functions.text import HASH_DIM, HASH_MIX

    return [
        ((b * HASH_MIX + 12345) % HASH_DIM) / float(HASH_DIM) - 0.5
        for b in range(HASH_DIM)
    ]


def _load_classifier_weights() -> list[float]:
    """Load the trained weight vector from the checked-in JSON fixture
    (driver-side model load — the standard shape: parameters are read
    once on the driver and ship to executors as a codegen literal /
    broadcast; the values are exact 2^-12 multiples so JSON round-trips
    them bit-for-bit)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "fixtures", "classifier_weights.json")
    with open(path, encoding="utf-8") as fh:
        model = json.load(fh)
    w = model["weights"]
    if len(w) != model["dim"]:
        raise ValueError(f"classifier fixture corrupt: dim {model['dim']} != {len(w)}")
    return w


def q128_classifier_broadcast_weights(spark: SparkSession, sf: str) -> DataFrame:
    """q125's hashed linear classifier with a GENUINE trained-model
    artifact: the 4096-element weight vector is LOADED from the
    checked-in fixture file (fixtures/classifier_weights.json — the
    load-a-trained-model path, not a formula inlined in the query) and
    ships as a BROADCAST 1-row array<double> column probed by bucket
    index (functions/text.hashed_score_from_weights) — exactly how a
    fastText-style quality model's parameters reach executors.

    Why a broadcast row and not ``F.lit(weights)``: a 4096-element
    array literal inlines ~60 KB of constants into the generated
    code, and the janino compile of that method cost a FLAT ~3 s per
    run (r9 measurement: 3.3 s → 1.3 s at sf0.01 with identical
    output) — a literal is the right shape for small constant tables,
    a broadcast row for model-sized ones. The join is a 1-row
    BroadcastNestedLoopJoin consumed in ONE projection AFTER the
    staging chain (the r7 fat-column rule), so the plan is still
    effectively map-only: zero exchanges on the corpus, zero Python.

    Weights are exact multiples of 2^-12, so the oracle (which
    recomputes them from the training formula — an independent check
    of the fixture's content) compares exact doubles."""
    from pyspark.sql import functions as F

    from .functions import text as T

    wdf = spark.createDataFrame([(_load_classifier_weights(),)], "w array<double>")
    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    td = d.select("doc_id", T.tokenize_ws(F.col("text")).alias("tk"))
    staged = td.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        T.hashed_features(F.col("tk")).alias("feats"),
    )
    scored = staged.crossJoin(F.broadcast(wdf)).select(
        "doc_id",
        "n_tokens",
        T.hashed_score_from_weights(F.col("feats"), F.col("w")).alias("score"),
    )
    return scored.select(
        "doc_id", "n_tokens", "score", (F.col("score") > 0).alias("keep")
    )


#: paragraph-dedup synthesis constants (mirrored in oracles.py q129)
_PARA_TOKENS = 25
_PARA_BOILER_HEAD = "subscribe to our newsletter for the latest updates"
_PARA_BOILER_TAIL = "all rights reserved unauthorized reproduction prohibited"
_NO_PARAS = "CAST(array() AS ARRAY<STRING>)"
#: q129's boilerplate: a header on even doc_ids, a footer on doc_id % 5 == 0
_PARA_HEAD_SQL = f"CASE WHEN doc_id % 2 = 0 THEN array('{_PARA_BOILER_HEAD}') ELSE {_NO_PARAS} END"
_PARA_TAIL_SQL = f"CASE WHEN doc_id % 5 = 0 THEN array('{_PARA_BOILER_TAIL}') ELSE {_NO_PARAS} END"


def _synth_paragraphs(spark: SparkSession, sf: str, head: str, tail: str):
    """Shared paragraph synthesis for q129/q132/q136 (the corpus
    carries no paragraph breaks): 25-token blocks (text.token_blocks)
    plus the caller's injected boilerplate head/tail, SQL text array
    expressions over ``doc_id``. Returns (doc_id, n_paras, pos, para)
    rows — map-only explode."""
    from .functions.text import TOKENIZE_WS_SQL

    n = _PARA_TOKENS
    n_blocks = f"CAST(ceil(size(tk) / {n}) AS INT)"
    chunks = (
        f"CASE WHEN {n_blocks} > 0 THEN transform(sequence(0, {n_blocks} - 1), "
        f"i -> array_join(slice(tk, i * {n} + 1, {n}), ' ')) ELSE {_NO_PARAS} END"
    )
    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    tk = d.selectExpr("doc_id", f"{TOKENIZE_WS_SQL.format('text')} AS tk")
    return tk.selectExpr("doc_id", f"concat({head}, {chunks}, {tail}) AS ps").selectExpr(
        "doc_id", "CAST(size(ps) AS BIGINT) AS n_paras", "posexplode(ps) AS (pos, para)"
    )


def _paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """q129's pipeline, shared with q136: (doc_id, n_paras, n_kept,
    clean_text) per document that keeps at least one paragraph."""
    from pyspark.sql import functions as F

    from .functions.dedup import first_occurrence

    paras = _synth_paragraphs(spark, sf, _PARA_HEAD_SQL, _PARA_TAIL_SQL)
    # first occurrence corpus-wide per paragraph hash wins
    kept = first_occurrence(paras, F.expr("md5(para)"), ["doc_id", "pos"])
    in_order = "transform(array_sort(collect_list(struct(pos, para))), s -> s.para)"
    return kept.groupBy("doc_id").agg(
        F.expr("first(n_paras) AS n_paras"),
        F.expr("count(1) AS n_kept"),
        F.expr(f"array_join({in_order}, ' | ') AS clean_text"),
    )


def q129_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-level exact deduplication — the Gopher/C4
    preprocessing stage document-level dedup can't express: repeated
    boilerplate paragraphs are dropped corpus-wide, keeping only the
    FIRST occurrence by (doc_id, pos), and each document is rebuilt
    from its surviving paragraphs in order. The corpus text carries no
    paragraph breaks, so paragraphs are synthesized deterministically
    (the q127/q90 injection pattern): 25-token blocks, plus a shared
    boilerplate header on even doc_ids and a shared footer on
    doc_id % 5 == 0 — real cross-document duplication at ~50% corpus
    incidence. A document whose every paragraph lost the
    first-occurrence race disappears entirely (it was all
    boilerplate). Reference pattern: builtin/TOKENIZE.java chunking +
    the engine's exact-dedup machinery (functions/dedup.py).

    100 TB design: exactly TWO exchanges, both irreducible — (1) the
    16-byte md5 paragraph key for the first-occurrence AGGREGATE
    (dedup.first_occurrence: groupBy + min(struct) — map-side partial
    aggregation combines the deliberately-hot boilerplate key to ≤1
    row per map task before the shuffle; a row_number window here
    would funnel ~50% of the corpus' paragraph rows, text included,
    into ONE unsplittable window partition — VERDICT r8 #1), (2) the
    doc_id regroup to rebuild documents. Paragraph synthesis, hashing
    and the rebuild transform are all whole-stage codegen; no Python,
    no Window anywhere (plan-pinned)."""
    return _paragraph_dedup(spark, sf)


def q130_bigram_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram LM quality scoring with interpolated unigram backoff —
    the CCNet/KenLM perplexity filter one order up from q121: each
    adjacent token pair (w1,w2) scores
    ln(0.7·P(w2|w1) + 0.3·P(w2)), with P(w2|w1) from the top-B bigram
    table (count(w1 w2)/count(w1)), P(w2) from the top-V unigram
    table, and an OOV floor of 1e-9; documents are kept on mean pair
    log-prob. Self-trained on the corpus (the q121/q126 pattern).

    100 TB design: TWO token-sized shuffles total — the unigram count
    and the bigram count (top-V/top-B are distributed TakeOrdered; the
    bigram-conditional join probes the 8192-row top-B table as the
    BROADCAST side against the unigram counts). The unigram count has
    THREE consumers (top-V, total, conditional denominators) and Spark
    reuses no exchange across them, so it is materialized ONCE —
    a statistics-sized table (distinct tokens), the q87 lineage-cut
    idiom; without it the plan re-scanned documents 5×. Both LM tables
    fold into ONE 1-row broadcast (two map columns, ≤12k entries)
    cross-joined once; per-doc scoring is pure per-row array codegen
    over the STAGED gram array (tk staged first, so element_at inside
    the gram lambda is an O(1) attribute probe — the module rule). No
    doc_id shuffle anywhere."""
    from pyspark.sql import functions as F

    V, B, OOV, LAMBDA, THRESH = 4096, 8192, 1e-9, 0.7, -3.5
    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    toks = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != "")
    # r12: the token table itself is checkpointed — it feeds THREE
    # corpus-scale consumers (unigram explode, bigram explode via gs,
    # per-doc scoring via gs) that diverge before any exchange, so
    # without it the trim+lower+regex-split pass ran per consumer.
    # In-session A/B: 3.02 → 2.20 s (−27%) at sf0.1 (guide §8
    # "decide with small rows" — materialize the token proxy, never
    # re-derive it; contrast q76/q136 where the same move measured
    # SLOWER because their reused stage sits behind a shuffle that
    # ReusedExchange already dedups).
    td = materialize(d.select("doc_id", toks.alias("tk")))

    # unigram table: ONE aggregate, materialized once for its three
    # consumers (top-V, total, P(w2|w1) denominators)
    flat = td.select(F.explode("tk").alias("t"))
    cnt = materialize(flat.groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    total = cnt.agg(F.sum("c").alias("n"))
    uvocab = (
        cnt.orderBy(F.desc("c"), F.asc("t"))
        .limit(V)
        .crossJoin(F.broadcast(total))
        .select("t", F.log(F.col("c") / F.col("n")).alias("lp"))
    )

    # gram array: struct<g: 'w1 w2', w2> per adjacent pair via the
    # zip_with chain over two shifted slices (sliding_grams' shape —
    # the per-element sequence+slice form measured ~10× slower on
    # this exact hot path, 15.2 s → ~2 s query wall at sf0.1)
    n_g = F.greatest(F.size("tk") - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(F.col("tk"), 1, n_g),
        F.slice(F.col("tk"), 2, n_g),
        lambda a, b: F.struct(F.concat_ws(" ", a, b).alias("g"), b.alias("w2")),
    )
    gd = td.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        grams.alias("gs"),
    )

    # bigram table: second aggregate + top-B; the conditional P(w2|w1)
    # denominator joins the 8k-row top-B as the BROADCAST build side
    # against the unigram counts (one probe pass, no extra shuffle)
    bcnt = gd.select(F.explode("gs").alias("s")).groupBy(F.col("s.g").alias("g")).agg(
        F.count(F.lit(1)).alias("c2")
    )
    btop = bcnt.orderBy(F.desc("c2"), F.asc("g")).limit(B).select(
        "g", "c2", F.split("g", " ")[0].alias("w1")
    )
    bvocab = cnt.join(F.broadcast(btop), cnt.t == btop.w1).select(
        "g", F.log(F.col("c2") / F.col("c")).alias("lp")
    )

    # fold BOTH tables into one 1-row broadcast — BUCKETED two-level
    # maps (text.fold_bucketed_map): Spark's GetMapValue is a LINEAR
    # scan of the entries, so flat 12k-entry maps probed per gram cost
    # this query's scoring stage 10.3 s at sf0.1; O(V/256) bucketed
    # probes take it to ~1 s (SCALE.md r8)
    from .functions.text import bucketed_probe, fold_bucketed_map

    lm = fold_bucketed_map(uvocab, "t", "lp", "__ulm").crossJoin(
        F.broadcast(fold_bucketed_map(bvocab, "g", "lp", "__blm"))
    )

    scored = gd.crossJoin(F.broadcast(lm)).select(
        "doc_id",
        "n_tokens",
        F.size("gs").cast("long").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.col("gs"),
                lambda s: F.log(
                    F.lit(LAMBDA)
                    * F.coalesce(F.exp(bucketed_probe(F.col("__blm"), s["g"])), F.lit(0.0))
                    + F.lit(1.0 - LAMBDA)
                    * F.coalesce(F.exp(bucketed_probe(F.col("__ulm"), s["w2"])), F.lit(OOV))
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__sum"),
    )
    avg = F.when(F.col("n_bigrams") > 0, F.col("__sum") / F.col("n_bigrams"))
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_bigrams",
        F.round(avg, 6).alias("avg_logp"),
        (avg > F.lit(THRESH)).alias("keep"),
    )


#: q132 near-dup boilerplate bases (mirrored in oracles.py)
_ND_HEAD = "subscribe to our newsletter for the latest updates edition"
_ND_TAIL = "all rights reserved unauthorized reproduction prohibited version"


def q132_paragraph_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-level NEAR-duplicate grouping — the fuzzy-boilerplate
    stage after q129's exact pass: exact-dedup paragraphs first (md5
    groupBy, first occurrence wins — the industrial order: exact then
    fuzzy), then minhash-LSH pairs + connected components over the
    DISTINCT paragraphs, so template variants that differ in a token
    or two ("...edition 3" vs "...edition 5") collapse into one group.
    Synthesis: q129's 25-token blocks, but the injected head/tail
    boilerplate carries a per-doc variant suffix (doc_id%7 / doc_id%3)
    — cross-variant shingle Jaccard ≈ 0.6, above the 0.4 gate.
    pid = doc_id*2^20 + pos keeps paragraph identity reversible for
    any document up to ~1M paragraphs (≈26M tokens at 25-token
    blocks) while doc_id stays below 2^43 — both bounds are asserted
    nowhere because violating them needs a single 100 GB document;
    documented here as the packing contract.

    100 TB design: the exact pass bounds the fuzzy input to DISTINCT
    paragraphs (the m² candidate expansion inside an LSH bucket of
    identical texts never happens — they collapsed already); then the
    q41/q87 machinery verbatim: band-bucket candidates (no self-join),
    exact-Jaccard verify, log-round large-star/small-star CC. Output
    is (pid, group_id) for every paragraph in a near-dup component."""
    from pyspark.sql import functions as F

    from .operators.graph import connected_components

    head = f"CASE WHEN doc_id % 2 = 0 THEN array(concat('{_ND_HEAD} ', CAST(doc_id % 7 AS STRING))) ELSE {_NO_PARAS} END"
    tail = f"CASE WHEN doc_id % 5 = 0 THEN array(concat('{_ND_TAIL} ', CAST(doc_id % 3 AS STRING))) ELSE {_NO_PARAS} END"
    paras = _synth_paragraphs(spark, sf, head, tail).select(
        (F.col("doc_id") * (1 << 20) + F.col("pos")).alias("pid"), "para"
    )
    firstp = dedup.first_occurrence(paras, F.md5("para"), ["pid"])
    pairs = dedup.minhash_lsh_pairs(firstp, "para", "pid", threshold=0.4)
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst")
    cc = connected_components(edges, "src", "dst", canonical=True)
    release(edges)  # CC no longer reads the pairs: the pair stage's store is spent
    return cc.selectExpr("node AS pid", "component AS group_id")


def q131_url_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-level URL deduplication by canonical form
    (functions/text.canonical_url — the C4/CommonCrawl rule set:
    lowercase scheme+host, strip www./default ports/fragments/trailing
    slashes, drop tracking params, sort the rest): surface-form
    variants of the same page collapse to one canonical key; the
    keeper is the lowest doc_id. URLs are synthesized deterministically
    (the q127 pattern — the corpus carries none): every 4 docs share a
    page, each presented in a different messy surface form (uppercase
    scheme+host+:443+fragment, trailing-slash+utm_, appended
    fbclid/utm_ params).

    100 TB design: canonicalization is pure per-row codegen in the
    scan projection (regex + split/filter/sort/join, no UDF, no
    lookaround); the ONLY shuffle is the groupBy on the canonical
    string key — cardinality ≈ distinct pages, no skew (each key
    carries only its surface variants). Plan-pinned."""
    from pyspark.sql import functions as F

    from .functions.text import canonical_url

    d = _t(spark, sf, "documents").df.select("doc_id")
    page = F.floor(F.col("doc_id") / 4).cast("long")
    variant = (F.col("doc_id") % 4).cast("int")
    p = page.cast("string")
    url = (
        F.when(variant == 0, F.concat(F.lit("https://example.com/page/"), p, F.lit("?id="), p))
        .when(
            variant == 1,
            F.concat(F.lit("HTTPS://WWW.EXAMPLE.COM:443/page/"), p, F.lit("?id="), p, F.lit("#frag")),
        )
        .when(
            variant == 2,
            F.concat(F.lit("https://example.com/page/"), p, F.lit("/?utm_source=x&id="), p),
        )
        .otherwise(
            F.concat(F.lit("https://example.com/page/"), p, F.lit("?id="), p, F.lit("&utm_campaign=y&fbclid=z")),
        )
    )
    staged = d.select("doc_id", url.alias("__url"))
    canon = staged.select("doc_id", canonical_url(F.col("__url")).alias("curl"))
    return canon.groupBy("curl").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("doc_id").alias("keep_doc_id"),
    )


def q133_multimodal_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The FULL multimodal chain under the oracle gate (q67 covers
    only the metadata round-trip): synthesize binary payloads →
    modality split → image RESIZE (decode → aspect-preserving header
    transform → re-encode → re-decode), video FRAME SAMPLING (one row
    in → N frame rows out, every 1000 ms), and byte-histogram FEATURE
    extraction for every payload — each an Arrow-batched mapInPandas
    at the codec boundary, exactly where a real PIL/ffmpeg codec slots
    in. The oracle predicts every output from (doc_id, n_chars, text)
    arithmetic: resized dims, frame counts, and the argmax feature
    bucket/fraction (fractions compared after an explicit float32
    widen on both engines, so the ArrayType(FloatType) storage is
    bit-reproducible).

    100 TB design: Python appears ONLY at the codec boundary
    (mapInPandas, Arrow batches, payloads never leave executors); the
    joins reassembling the per-modality outputs are id-equi-joins.
    One row per document."""
    from .functions import multimodal as MM

    d = _t(spark, sf, "documents").df
    media = MM.media_from_documents(d)
    imgs = MM.extract_metadata(
        MM.resize_images(media.where(F.col("modality") == "image"), 256)
    ).select(
        "id",
        F.col("meta.width").alias("new_w"),
        F.col("meta.height").alias("new_h"),
    )
    vids = (
        MM.sample_frames(media.where(F.col("modality") == "video"), 1000)
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_frames"))
    )
    feats = MM.extract_features(media)
    top_idx = F.array_position(F.col("features"), F.array_max("features"))
    fx = feats.select(
        "id",
        (top_idx - 1).cast("int").alias("top_bucket"),
        F.round(F.array_max("features").cast("double"), 6).alias("top_frac"),
    )
    base = media.select("id", "modality")
    return (
        base.join(fx, "id")
        .join(imgs, "id", "left")
        .join(vids, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "modality", "new_w", "new_h", "n_frames", "top_bucket", "top_frac",
        )
    )


def q134_char_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Character-level decontamination (dedup.char_contamination_check
    — char 20-grams instead of word 3-grams): the granularity used for
    CODE corpora and short text, where tokenizer-level grams miss
    whitespace/punctuation-boundary overlap. Same eval/train split as
    q88 (doc_id % 97), so the two granularities are directly
    comparable in the catalog.

    100 TB design: identical to q88's — the small eval side's distinct
    char-gram hashes broadcast, ONE train scan, ONE doc-id groupBy;
    only 64-bit hashes shuffle. The lowered text is STAGED before the
    shingle lambda (the staging rule) so lower() runs once per row."""
    d = _t(spark, sf, "documents").df
    bench = d.where(F.col("doc_id") % 97 == 0)
    train = d.where(F.col("doc_id") % 97 != 0)
    return dedup.char_contamination_check(
        train, bench, "text", "doc_id", n=20, threshold=0.02
    )


def q135_corpus_zipf_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-statistics profile — the sanity report a training-data
    pipeline runs before committing a crawl: total/type token counts,
    type-token ratio, hapax fraction (vocabulary health), top-100
    term share (boilerplate/domination signal), and the Zipf slope
    (OLS of ln(freq) on ln(rank) over the top 1000 terms; natural
    corpora sit near -1 — a flat or cliffed slope flags synthetic or
    template-heavy data).

    100 TB design: the term count is the ONLY data-sized shuffle; the
    top-1000 is a distributed TakeOrdered folded into ONE row, where
    the regression runs as in-row array codegen in RANK ORDER (no
    single-partition window); the scalar aggregates ride the same cnt
    table. Output: one row."""
    from pyspark.sql import functions as F

    from .functions.text import tokenize_ws

    TOPK, SHARE_K = 1000, 100
    d = _t(spark, sf, "documents").df.select("text")
    flat = d.select(F.explode(tokenize_ws(F.lower(F.trim(F.col("text"))))).alias("t"))
    cnt = flat.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    scal = cnt.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
    )
    # top-K folded to ONE row, re-sorted in-row to rank order
    # ((-c, t) ascending ≡ c desc, t asc — deterministic tie-break)
    top = (
        cnt.orderBy(F.desc("c"), F.asc("t"))
        .limit(TOPK)
        .agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("c")).alias("nc"), F.col("t").alias("t")))
            ).alias("arr")
        )
    )
    arr = F.col("arr")
    n = F.size(arr).cast("double")
    lnr = lambda i: F.log((i + 1).cast("double"))  # noqa: E731 — ln(rank)
    lnc = lambda s: F.log((-s["nc"]).cast("double"))  # noqa: E731 — ln(freq)
    folded = top.select(
        n.alias("k"),
        F.aggregate(F.transform(arr, lambda s, i: lnr(i)), F.lit(0.0), lambda a, x: a + x).alias("sx"),
        F.aggregate(F.transform(arr, lambda s, i: lnc(s)), F.lit(0.0), lambda a, x: a + x).alias("sy"),
        F.aggregate(F.transform(arr, lambda s, i: lnr(i) * lnc(s)), F.lit(0.0), lambda a, x: a + x).alias("sxy"),
        F.aggregate(F.transform(arr, lambda s, i: lnr(i) * lnr(i)), F.lit(0.0), lambda a, x: a + x).alias("sxx"),
        F.aggregate(
            F.slice(arr, 1, SHARE_K), F.lit(0).cast("long"), lambda a, s: a - s["nc"]
        ).cast("long").alias("top100_tokens"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        scal.crossJoin(F.broadcast(folded))
        .select(
            "n_tokens",
            "n_types",
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
            F.round(F.col("n_hapax") / F.col("n_types"), 6).alias("hapax_frac"),
            F.round(F.col("top100_tokens") / F.col("n_tokens"), 6).alias("top100_share"),
            F.round(slope, 6).alias("zipf_slope"),
        )
    )


def q136_corpus_clean_v2(spark: SparkSession, sf: str) -> DataFrame:
    """The r8 cleaning ops COMPOSED into one pipeline (q76's pattern,
    one generation newer): paragraph-level exact dedup (q129) rebuilds
    each document minus corpus-wide boilerplate, then the rebuilt text
    flows through the hashed linear quality classifier (q125) and
    char-20-gram decontamination against the held-out eval split
    (q134's doc_id%97, bench = ORIGINAL eval docs); final
    keep = score > 0 AND NOT contaminated. Every stage is
    EXACT-arithmetic (2^-12 classifier weights, rational overlap
    ratios), so the full-pipeline DuckDB oracle hash-matches with no
    rounding policy anywhere — the strongest composition gate in the
    catalog.

    100 TB design: the stages keep their individual shapes — two
    dedup exchanges (16-byte para key + doc rebuild), map-only
    classifier, broadcast decontamination with ONE scan of the
    rebuilt corpus and one doc-id groupBy; no stage materializes to
    disk between steps (one lazy plan end-to-end)."""
    from pyspark.sql import functions as F

    from .functions import text as T
    from .functions.dedup import char_contamination_check

    rebuilt = _paragraph_dedup(spark, sf)
    # classifier over the REBUILT text (q125 staging discipline)
    td = rebuilt.select(
        "doc_id", "n_paras", "n_kept", "clean_text",
        T.tokenize_ws(F.col("clean_text")).alias("tk"),
    )
    staged = td.select(
        "doc_id", "n_paras", "n_kept", "clean_text",
        F.size("tk").cast("long").alias("n_tokens"),
        T.hashed_features(F.col("tk")).alias("feats"),
    )
    scored = staged.select(
        "doc_id", "n_paras", "n_kept", "clean_text", "n_tokens",
        T.hashed_score_from_features(F.col("feats")).alias("score"),
    ).drop("clean_text")
    # decontaminate the REBUILT train docs against the ORIGINAL eval
    # split (eval text never went through the rebuild — it is the
    # held-out benchmark, not pipeline data)
    orig = _t(spark, sf, "documents").df.select("doc_id", "text")
    bench = orig.where(F.col("doc_id") % 97 == 0)
    train = td.where(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    contam = char_contamination_check(
        train, bench, "text", "doc_id", n=20, threshold=0.02
    ).select("doc_id", "n_shared", "contaminated")
    out = scored.join(contam, "doc_id", "left")
    return out.select(
        "doc_id", "n_paras", "n_kept", "n_tokens", "score",
        "n_shared", "contaminated",
        # eval-split docs (contaminated IS NULL) are not train data —
        # they are excluded, not kept
        ((F.col("score") > 0) & ~F.coalesce(F.col("contaminated"), F.lit(True))).alias("keep"),
    )


#: exact-substring dedup constants (mirrored in oracles.py q137): the
#: fingerprint window is 50 tokens (the Lee et al. "Deduplicating
#: Training Data" ExactSubstr threshold); the injected boilerplate is
#: a 62-token license block so every %3==0 doc shares 13 full windows
_SUBSTR_W = 50
_SUBSTR_BOILER = (
    "this document is provided as is without warranty of any kind either "
    "expressed or implied including but not limited to the implied "
    "warranties of merchantability and fitness for a particular purpose "
    "the entire risk as to the quality and performance of the document "
    "is with you should the document prove defective you assume the cost "
    "of all necessary servicing repair or correction"
)


def _substr_staged(spark: SparkSession, sf: str):
    """q137/q138/q150 staging: (doc_id, n_tokens, tk) with the
    deterministic boilerplate injection (doc_id % 3 == 0).

    r12: materialized — every consumer query reads this table
    from divergent subtrees (q137: wins + the per-doc ledger; q138:
    wins + token posexplode + ledger; q150: old-index wins + batch
    wins + ledger), so without it the scan+tokenize pass re-ran per
    consumer (the q130 token-table idiom, guide §8). In-session A/B
    at sf0.1: q137 3.72 → 3.41 s (−8%), q138 4.12 → 3.69 s (−10%),
    q150 2.50 → 2.41 s (−3%) — every paired round lower. The wins
    subtree stays LAZY: its two consumers re-aggregate after the
    same exchange on h, which ReusedExchange dedups (a wins
    checkpoint measured within noise of the staged one alone)."""
    from pyspark.sql import functions as F

    from .functions.text import tokenize_ws

    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    boiled = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit(_SUBSTR_BOILER + " "), F.col("text"))
    ).otherwise(F.col("text"))
    td = d.select("doc_id", tokenize_ws(boiled).alias("tk"))
    return materialize(
        td.select("doc_id", F.size("tk").cast("long").alias("n_tokens"), "tk")
    )


def _substr_wins(staged):
    """(doc_id, pos, h): the stride-1 W-token rolling-window
    fingerprints — r13: the doubling-polynomial stage
    (text.window_fingerprint_stage, O(L·log W) long ops; r12 hashed a
    50-element string slice per position, r11 md5'd the joined window
    string). posexplode_OUTER + null filter per the stage's
    InferFiltersFromGenerate contract (rows identical: only docs with
    ≥1 window survive either way)."""
    from pyspark.sql import functions as F

    from .functions.text import window_fingerprint_stage

    fp = window_fingerprint_stage(staged, "tk", ["doc_id"], _SUBSTR_W)
    return (
        fp.select("doc_id", F.posexplode_outer("__wfp").alias("pos", "h"))
        .where(F.col("h").isNotNull())
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "h")
    )


def _substr_dup_windows(spark: SparkSession, sf: str):
    """Shared q137/q138 pipeline: (staged, dups) — staged =
    (doc_id, n_tokens, tk) with the injected boilerplate, dups = the
    (doc_id, pos) of every 50-token window whose fingerprint already
    occurred earlier (corpus-wide first-occurrence loses). See q137's
    docstring for the full 100 TB design."""
    from pyspark.sql import functions as F

    from .functions.dedup import first_occurrence

    staged = _substr_staged(spark, sf)
    wins = _substr_wins(staged)
    firsts = first_occurrence(wins, F.col("h"), ["doc_id", "pos"], keep=["h"]).select(
        F.col("h").alias("fh"), F.col("doc_id").alias("fdoc"), F.col("pos").alias("fpos")
    )
    dups = (
        wins.join(firsts, wins["h"] == firsts["fh"])
        .where((F.col("doc_id") != F.col("fdoc")) | (F.col("pos") != F.col("fpos")))
        .select("doc_id", "pos")
    )
    return staged, dups


def q137_exact_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring deduplication at the suffix granularity — the
    Lee et al. "Deduplicating Training Data" ExactSubstr stage, the one
    dedup granularity between char-grams (q134) and paragraphs (q129):
    any 50-token run that already occurred anywhere in the corpus
    (earlier doc, or earlier position in the same doc) is duplicated
    text. Approximated scalably with stride-1 fixed-length rolling
    window fingerprints: every token position opens a 50-token window,
    its xxhash64 fingerprint is first-come-first-kept corpus-wide
    (dedup.first_occurrence — the skew-safe aggregate), and each
    LATER occurrence marks its 50-token span as duplicated. Output is
    per-doc dedup accounting: window/token counts, the distinct token
    positions covered by duplicated windows, and a keep flag at 20%
    dup ratio. Duplication is injected deterministically (the
    q129/q131 pattern): a 62-token license-boilerplate prefix on
    doc_id % 3 == 0 — every such doc shares 13 full windows, and only
    the first keeps them. Reference pattern: the engine's own
    rolling_hash_fingerprint (functions/text.py) at the q129 rebuild
    granularity.

    100 TB design: window fingerprints are in-row over the STAGED
    token array (one reference-copy slice + one xxhash64 per position
    — O(W) per window; r12: was array_join + md5 per position. The
    zip_with chain that wins at n=2..4 loses here: 49 chained concats
    re-copy the accumulated string, O(W²) per position). The hot
    boilerplate fingerprint is combined
    map-side by first_occurrence (aggregate, never a window); later
    occurrences come from an equi-JOIN on the 8-byte fingerprint —
    joins, unlike window partitions, AQE can skew-split. Coverage
    counting explodes dup windows ×50 (dup-sized, not corpus-sized)
    into a two-phase countDistinct per doc. The window subtree is
    evaluated twice (aggregate + join probe) over the checkpointed
    token table (_substr_staged, r12) — the fingerprint explode
    itself stays lazy because its two consumers share one
    ReusedExchange on h."""
    from pyspark.sql import functions as F

    W = _SUBSTR_W
    staged, dups = _substr_dup_windows(spark, sf)
    cov = (
        dups.select("doc_id", "pos", F.explode(F.sequence(F.col("pos"), F.col("pos") + (W - 1))).alias("p"))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("p").alias("n_dup_tokens"),
            F.countDistinct("pos").alias("n_dup_windows"),
        )
    )
    base = staged.select(
        "doc_id", "n_tokens",
        F.greatest(F.col("n_tokens") - F.lit(W - 1), F.lit(0)).alias("n_windows"),
    )
    joined = base.join(cov, "doc_id", "left")
    ratio = F.round(
        F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("double")
        / F.greatest(F.col("n_tokens"), F.lit(1)),
        6,
    )
    return joined.select(
        "doc_id", "n_tokens", "n_windows",
        F.coalesce(F.col("n_dup_windows"), F.lit(0).cast("long")).alias("n_dup_windows"),
        F.coalesce(F.col("n_dup_tokens"), F.lit(0).cast("long")).alias("n_dup_tokens"),
        ratio.alias("dup_ratio"),
        (ratio < 0.2).alias("keep"),
    )


def q138_exact_substring_removal(spark: SparkSession, sf: str) -> DataFrame:
    """The REMOVAL stage on top of q137's accounting — what Lee et
    al.'s ExactSubstr actually ships: every token covered by a
    later-occurrence 50-token window is dropped and the document is
    rebuilt from its surviving tokens in order (the first occurrence
    of each duplicated run survives corpus-wide; a fully-duplicated
    document rebuilds to empty text rather than vanishing — unlike
    q129, the row is the per-doc ledger). Shares q137's fingerprint
    pipeline verbatim (`_substr_dup_windows`).

    100 TB design: q137's shapes plus token-level removal done as
    RELATIONAL ops, never an in-row membership filter — a per-token
    array_contains against a per-doc covered-set is O(tokens × set)
    in one task, quadratic exactly on the workload's own
    fully-duplicated documents. Instead: posexplode the staged tokens
    (corpus-token-sized, the same class as q129's rebuild stream),
    LEFT ANTI join on (doc_id, position) against the dup-window
    coverage explode (dup-sized), and rebuild per doc with the q129
    sorted-collect aggregate — every step linear, partial-aggregated
    or AQE-splittable. Docs whose every token is covered (or that were
    empty) stay in the ledger with n_clean_tokens = 0 via the final
    doc_id left join."""
    from pyspark.sql import functions as F

    W = _SUBSTR_W
    staged, dups = _substr_dup_windows(spark, sf)
    covp = dups.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (W - 1))).alias("p")
    )
    toks = staged.select(
        "doc_id", F.posexplode("tk").alias("p", "tok")
    ).select("doc_id", F.col("p").cast("long").alias("p"), "tok")
    kept = toks.join(covp, ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_clean_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = staged.select("doc_id", "n_tokens")
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_clean_tokens"), F.lit(0).cast("long")).alias("n_clean_tokens"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def q139_classifier_training(spark: SparkSession, sf: str) -> DataFrame:
    """TRAIN the hashed linear quality classifier in-engine
    (functions/ml.train_hashed_classifier — fastText architecture,
    full-batch logistic GD, labels = lang=='en') and gate the
    convergence record: the returned rows are one per training
    iteration with deterministic booleans the oracle predicts as
    constants — iter 0's loss is EXACTLY ln 2 (w=0 ⇒ p=0.5 for every
    doc, in-row deterministic), every later iteration's loss strictly
    decreased (lr=800 measured monotone at sf0.001/0.01/0.1 with
    ~1e-3 margins vs ~1e-14 float noise), and the final loss improved
    below 0.693. This is the deterministic-boundedness gate pattern
    (q78's): training itself is iterative and not SQL-expressible,
    the CONTRACT is.

    100 TB design: see functions/ml.py — features staged+stored
    once, weights broadcast per iteration, gradients = one
    partial-aggregated token-sized shuffle + a ≤4096-row driver
    collect (the model-sized exception class), loss = one tiny
    global aggregate. Everything inside an iteration distributed;
    the loop itself is gradient descent's sequential contract."""
    from pyspark.sql import functions as F

    from .functions.ml import stage_hashed_buckets, train_hashed_classifier

    d = _t(spark, sf, "documents").df.select("doc_id", "text", "lang")
    feats = stage_hashed_buckets(d, "text", F.col("lang") == "en")
    _, hist = train_hashed_classifier(feats, iters=5, lr=800.0)
    rows = []
    for h in hist:
        if h["iter"] == 0:
            ok = round(h["loss"], 6) == 0.693147
        else:
            ok = h["loss"] < hist[h["iter"] - 1]["loss"]
        rows.append((h["iter"], bool(ok)))
    rows.append((99, hist[-1]["loss"] < 0.693))  # net improvement
    return spark.createDataFrame(rows, "iter bigint, ok boolean")


def q140_quality_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted temperature sampling
    (operators/sampling.quality_mixture_sample) — the curation stage
    that combines q95's mixture balancing with q125's quality
    classifier: languages are temperature-balanced (alpha=0.5,
    target 20%) and classifier-positive documents get a 1.5× accept
    tilt vs 0.5× for negatives, normalized by the per-language mean
    weight so the overall budget holds. Output: per (lang,
    hi_quality) kept counts + id checksum — fully deterministic
    (md5-fraction acceptance, exact 1.5/0.5 weights, in-row
    deterministic scores), so the oracle replays every accept
    decision bit-for-bit.

    100 TB design: ONE tiny per-language aggregate (count + mean
    weight) broadcast back; scoring and the accept filter are
    map-only codegen; the corpus never shuffles (the q95 shape). r12
    (guide §8 "decide with small rows"): the scored proxy table
    (doc_id, lang, score — ~24 bytes/row, NO text) is
    materialized once, so the classifier (tokenize + feature
    hash + dot product over every token) runs ONE corpus scan instead
    of two — the aggregate and the accept filter both read the proxy.
    This is the q142 idiom: materialize the lightweight decision
    table, never the corpus."""
    from pyspark.sql import functions as F

    from .functions import text as T
    from .operators.sampling import quality_mixture_sample

    d = _t(spark, sf, "documents").df.select("doc_id", "lang", "text")
    staged = materialize(d.select(
        "doc_id", "lang",
        T.hashed_score_from_features(
            T.hashed_features(T.tokenize_ws(F.col("text")))
        ).alias("__score"),
    ))
    weight = F.when(F.col("__score") > 0, F.lit(1.5)).otherwise(F.lit(0.5))
    kept = quality_mixture_sample(
        staged, "lang", "doc_id", weight, alpha=0.5, target_frac=0.2
    )
    return kept.groupBy("lang", (F.col("__score") > 0).alias("hi_quality")).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_checksum"),
    )


#: q141's injected paraphrase suffix (mirrored in oracles.py)
_FUZZY_CLONE_SUFFIX = "with minor edits and an appended provenance note"


def q141_fuzzy_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """FUZZY benchmark decontamination — the leakage mode exact-gram
    checks (q88/q102/q134) cannot catch: train documents that are
    PARAPHRASED near-duplicates of eval documents (reworded benchmark
    items, quote-with-edits). MinHash across two corpora: the eval
    split (doc_id % 97 == 0) builds the stored signature index
    (dedup.signature_index — the q100 machinery with the roles
    swapped), the train side probes it band-by-band, and matches are
    scored by signature agreement ≥ 0.5. Leakage is injected
    deterministically: every eval doc also appears in the train set
    as a near-copy (new id + an appended provenance suffix — shingle
    Jaccard stays high, exact grams shift), so the gate verifies the
    paraphrase channel exact-gram decontamination misses. Output =
    per contaminated train doc: match count + best agreement.

    100 TB design: identical to q100's — the index is the only
    corpus-sized table (band-partitioned on disk at scale), the
    probe side's band rows broadcast when batch << corpus, old×old
    pairs never form, no shingle re-read for scoring (signatures
    carry the estimate)."""
    from pyspark.sql import functions as F

    from .functions import dedup

    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 97 == 0)
    clones = bench.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + _FUZZY_CLONE_SUFFIX)).alias("text"),
    )
    train = d.where(F.col("doc_id") % 97 != 0).unionByName(clones)
    idx = dedup.signature_index(bench, "text", "doc_id")
    pairs = dedup.incremental_minhash_pairs(train, "text", "doc_id", idx, threshold=0.5)
    return pairs.groupBy(F.col("new_id").alias("train_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("est_jaccard").alias("max_est"),
    )


def q142_perplexity_partition(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity PARTITION — the stage CCNet actually
    ships downstream of the LM filter: rank every scored document by
    its LM score and split the corpus into exact head/middle/tail
    terciles (head = best third), so each quality band can get its
    own sampling rate. Built directly on q130's bigram-LM scoring
    (same tables, same interpolated backoff); documents with no
    bigram (n_tokens < 2) carry no score and are excluded, as in
    CCNet. Bucket boundaries are EXACT rank terciles (rk*3 <= n /
    <= 2n), not approximate quantiles, with ties broken by the
    6-decimal rounded score then doc_id — fully deterministic across
    engines. Reference pattern: the engine's ORDER/RANK machinery
    (operators/rank.py, PORank.java:47) over the q130 LM.

    100 TB design: q130's two token-sized shuffles build the LM;
    per-doc scores are then materialized ONCE (doc-count rows ×
    ~40 bytes — the fan-out idiom, the table has two consumers:
    rank + total count) and ranked with the POCounter/PORank
    two-pass scheme (`operators/rank.rank` over
    `operators/prefix.running_sums`): range partition, rows stored
    once with their positions, tiny offsets table —
    NO global-order window (a bare `row_number over (order by
    score)` is a single unsplittable partition, the r8/r9 skew
    rule). The tercile split itself is a 1-row count broadcast +
    map-only CASE."""
    from pyspark.sql import functions as F

    from .operators.rank import rank as _rank

    scored = materialize(
        q130_bigram_lm_perplexity(spark, sf)
        .where(F.col("n_bigrams") > 0)
        .select("doc_id", "n_tokens", "avg_logp")
    )
    ranked = _rank(
        scored,
        by=[F.col("avg_logp"), F.col("doc_id")],
        ascending=[False, True],
        name="rk",
        # (avg_logp, doc_id) is unique per row — rank == row number,
        # so the key-domain aggregate + join-back are pure overhead
        # (r12: 3.46 → 3.13 s in-session; see operators/rank.py)
        unique_keys=True,
    )
    n = scored.agg(F.count(F.lit(1)).alias("__n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_tokens",
        "avg_logp",
        F.when(F.col("rk") * 3 <= F.col("__n"), F.lit("head"))
        .when(F.col("rk") * 3 <= 2 * F.col("__n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def q143_training_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global shuffle + shard manifest — the export
    stage between curation and training: every document gets a
    pseudo-random but REPRODUCIBLE position (md5-60 of doc_id +
    version salt), shards are the key mod 16, and the output is the
    per-shard manifest a trainer consumes (doc/token/char counts,
    key range, id checksum). Re-running the export — on a retried
    task, a different cluster, or a different engine — yields the
    same shard for every document; there is no RNG and no
    order-dependence anywhere. Reference pattern: the engine's
    SPLIT/MultiStorage partitioned-store machinery; salt-versioned
    like operators/sampling.py's re-draws.

    100 TB design: ONE aggregate on a 16-value key — deliberately
    hot keys are safe HERE because partial aggregation combines
    map-side to ≤16 rows per task (the aggregate-not-window rule;
    contrast q129's fix). The real shard WRITE at scale is
    `repartition(N, shard).sortWithinPartitions(key)` + partitioned
    store — one shuffle sized by N, in-shard order established
    during the shuffle sort, never a global orderBy; that path is
    exercised by the store test (`test_training_shard_store_order`)."""
    from pyspark.sql import functions as F

    from .functions.text import tokenize_ws
    from .operators.packing import shard_assign

    d = _t(spark, sf, "documents").df.select(
        "doc_id", "n_chars", "text"
    )
    staged = shard_assign(d, "doc_id", 16, salt=":shard:v1", key_name="k").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(tokenize_ws(F.col("text"))).cast("long").alias("n_tokens"),
        "k",
        "shard",
    )
    return staged.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
        F.sum("doc_id").alias("id_checksum"),
    )


def q144_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """In-engine BPE tokenizer training (Sennrich et al. 2016) — the
    OTHER model the pipeline trains besides q139's classifier: learn
    6 merge rules over the corpus's word types and gate the learned
    sequence. Classic BPE structure: the corpus-sized token stream
    collapses to the word-TYPE table in ONE shuffle
    (ml.stage_word_types), then every iteration counts adjacent
    symbol pairs weighted by type count (vocabulary-sized shuffle,
    partial-aggregated), takes the (cnt DESC, a, b) argmax via
    distributed TakeOrdered + a 1-row collect, and applies the merge
    as a pure in-row codegen fold (ml._merge_pair, greedy
    left-to-right — reference semantics, unit-tested against a
    Python BPE).

    Gate = the q139/q78 deterministic-contract pattern: step 1's
    argmax pair + count are recomputed exactly by the oracle from
    raw text (pair counting IS SQL-expressible; merge REPLAY is
    not); steps 2..6 gate the provable invariants instead — counts
    non-increasing (a merge only removes occurrences of old pairs,
    and each new pair's count is bounded by the just-merged pair's),
    every count positive, no pair selected twice (all occurrences of
    a merged pair vanish at its step, and old symbols never become
    newly adjacent). Unit test replays the full 6-merge table
    bit-for-bit against a reference implementation."""
    from .functions.ml import stage_word_types, train_bpe

    d = _t(spark, sf, "documents").df.select("text")
    merges, final_types = train_bpe(stage_word_types(d, "text"), merges=6)
    release(final_types)  # only the merge list is reported
    rows: list[tuple] = []
    seen: set[tuple[str, str]] = set()
    prev_cnt: int | None = None
    for m in merges:
        dup = (m["a"], m["b"]) in seen
        seen.add((m["a"], m["b"]))
        ok = m["cnt"] > 0 and not dup and (prev_cnt is None or m["cnt"] <= prev_cnt)
        prev_cnt = m["cnt"]
        if m["step"] == 1:
            rows.append((1, f"{m['a']} {m['b']}", m["cnt"], bool(ok)))
        else:
            rows.append((m["step"], None, None, bool(ok)))
    rows.append((99, None, None, len(merges) == 6))
    return spark.createDataFrame(
        rows, "step bigint, pair string, cnt bigint, ok boolean"
    )


def q145_bpe_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenization APPLY — the other half of q144's lifecycle
    (train the merges, then tokenize the corpus with them), the way a
    pipeline actually runs it at scale: segmentation is computed ONCE
    per word TYPE (train_bpe's final symbol table is already that
    dictionary) and applied to the corpus by an equi-join on the
    word, never re-derived per token — at 100 TB the dictionary is
    vocabulary-sized (AQE broadcasts it while it fits, sort-merge
    beyond), the join is the only corpus-sized shuffle besides the
    type build, and the per-doc rollup is one partial-aggregated
    groupBy.

    Gate (q144's pattern, one notch stronger): per doc, n_words and
    n_chars are exact SQL; n_seg_m1 — the segment count after
    applying ONLY the first learned merge — is ALSO exact SQL,
    because merge 1 operates on single-char symbols, so its greedy
    occurrence count equals DuckDB's non-overlapping string_split
    count of the pair recomputed by the oracle's own step-1 argmax.
    The full-6-merge segment count is gated by provable booleans:
    segmentation lossless for every word, monotone (6 merges never
    produce more segments than 1), and bounded below by n_words."""
    from pyspark.sql import functions as F

    from .functions.ml import _merge_pair, stage_word_types, train_bpe
    from .functions.text import tokenize_ws

    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    merges, final_types = train_bpe(stage_word_types(d, "text"), merges=6)
    a1, b1 = merges[0]["a"], merges[0]["b"]
    dictionary = final_types.select(
        "w",
        F.length("w").cast("long").alias("n_chars_w"),
        F.size(_merge_pair(F.split("w", ""), a1, b1)).cast("long").alias("m1"),
        F.size("syms").cast("long").alias("full"),
        (F.concat_ws("", F.col("syms")) == F.col("w")).alias("lossless"),
    )
    toks = d.select(
        "doc_id", F.explode(tokenize_ws(F.lower(F.col("text")))).alias("w")
    )
    j = toks.join(dictionary, "w")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_chars_w").alias("n_chars"),
        F.sum("m1").alias("n_seg_m1"),
        (
            F.bool_and("lossless")
            & (F.sum("full") <= F.sum("m1"))
            & (F.sum("full") >= F.count(F.lit(1)))
        ).alias("ok"),
    )


def q146_kmeans_refine(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed k-means refinement of the IVF coarse centroids —
    the production path SCALE.md recorded behind the lowest-id
    bootstrap (similarity.bootstrap_centroids) since r2, now
    implemented: 4 Lloyd's iterations over the embeddings table
    (similarity.kmeans_refine_l2 — the provable-contract sibling of
    the cosine-metric kmeans_refine), E-step as map-only in-row codegen
    (centroid literals in the plan, the q128 shape), M-step as one
    partial-aggregated posexplode shuffle with a nlist×dim-row
    (≤1024) driver collect — the ml.py trainer's model-sized
    exception class.

    Gate (the q144/q139 contract pattern): every vector's ITER-0
    assignment is exact SQL — the bootstrap centroids are the nlist
    lowest-id vectors, distances fold in dimension order on both
    engines, ties break to the lowest cell id (array_position
    first-match / ROW_NUMBER) — and the training contract rides a
    boolean: Lloyd's inertia is provably non-increasing (each E-step
    picks the nearest centroid, each M-step the cell mean; empty
    cells keep their old centroid), so monotone + net-improved +
    iteration count are gated on every row."""
    from pyspark.sql import functions as F

    from .functions.similarity import (
        bootstrap_centroids,
        kmeans_assign_l2,
        kmeans_refine_l2,
    )

    e = _t(spark, sf, "embeddings").df.select(
        "vec_id", "embedding"
    )
    boot = bootstrap_centroids(e)
    _, hist = kmeans_refine_l2(e, boot, iters=4)
    monotone = all(
        hist[i + 1]["inertia"] <= hist[i]["inertia"] + 1e-9
        for i in range(len(hist) - 1)
    )
    ok = bool(
        monotone and hist[-1]["inertia"] <= hist[0]["inertia"] and len(hist) == 5
    )
    assigned0 = kmeans_assign_l2(e, boot, out_col="cell0")
    return assigned0.select(
        "vec_id", F.col("cell0").cast("long").alias("cell0"), F.lit(ok).alias("ok")
    )


def q147_contamination_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-channel benchmark-contamination AUDIT — the report a
    training run actually signs off on: every train document checked
    through all three decontamination granularities the catalog
    implements, in one plan — word 3-grams (q88's channel, ratio ≥
    0.05), char 20-grams (q134's, ratio ≥ 0.02, catches the
    whitespace/punctuation-boundary overlap code corpora leak
    through), and fuzzy MinHash signature agreement ≥ 0.5 (q141's,
    catches paraphrased items both exact channels miss). Output: one
    row per train doc with a boolean per channel + the union flag —
    the shape a release gate consumes.

    100 TB design: each channel keeps its own proven shape — both
    gram channels broadcast the SMALL eval side's distinct hashes and
    scan the train corpus once (only 64-bit hashes shuffle); the
    fuzzy channel is the band-partitioned signature index probed
    band-by-band (eval×eval pairs never form). The final stitch is
    two doc-id equi-joins of doc-count-sized, booleans-only tables —
    narrow rows, AQE-splittable, and the per-channel corpus scans
    share the cached parquet scan."""
    from pyspark.sql import functions as F

    from .functions import dedup

    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 97 == 0)
    train = d.where(F.col("doc_id") % 97 != 0)
    exact = dedup.contamination_check(
        train, bench, "text", "doc_id", threshold=0.05
    ).select("doc_id", F.col("contaminated").alias("exact_hit"))
    chars = dedup.char_contamination_check(
        train, bench, "text", "doc_id", n=20, threshold=0.02
    ).select("doc_id", F.col("contaminated").alias("char_hit"))
    idx = dedup.signature_index(bench, "text", "doc_id")
    fuzzy = (
        dedup.incremental_minhash_pairs(train, "text", "doc_id", idx, threshold=0.5)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("fuzzy_hit", F.lit(True))
    )
    return (
        exact.join(chars, "doc_id")
        .join(fuzzy, "doc_id", "left")
        .select(
            "doc_id",
            "exact_hit",
            "char_hit",
            F.coalesce(F.col("fuzzy_hit"), F.lit(False)).alias("fuzzy_hit"),
        )
        .withColumn(
            "flagged",
            F.col("exact_hit") | F.col("char_hit") | F.col("fuzzy_hit"),
        )
    )


def q148_c4_rules(spark: SparkSession, sf: str) -> DataFrame:
    """C4 rule-based cleaning (Raffel et al. 2020 §2.2) — the famous
    LINE-level preprocessing stage the catalog lacked between q48's
    composite quality score and q89's Gopher repetition stats: keep a
    line only if it ends in terminal punctuation, has ≥ 5 words, and
    carries no 'javascript' boilerplate; drop the whole page if fewer
    than 3 lines survive, or it contains 'lorem ipsum' or a curly
    brace (code). The corpus has no line breaks, so lines are
    synthesized deterministically (the q129 chunker): 12-token
    blocks, with every rule exercised by injection — ~2/3 of lines
    get terminal punctuation ((doc_id+pos)%3), doc_id%7 docs carry a
    'javascript' line, doc_id%31 a 'lorem ipsum' marker, doc_id%37 a
    brace, and natural short tail blocks trip the min-words rule.
    Output per page: line counts, the page-level flags, the keep
    decision, and the md5 of the cleaned page.

    100 TB design: map-only — line synthesis, per-line rules (with
    the index-aware transform), and the page rebuild are one codegen
    projection over the corpus scan; zero exchanges, zero Python
    (plan-pinned test_c4_rules_plan_map_only)."""
    from pyspark.sql import functions as F

    from .functions.text import token_blocks, tokenize_ws

    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    tk = d.select("doc_id", tokenize_ws(F.lower(F.col("text"))).alias("tk"))
    blocks = token_blocks(F.col("tk"), 12)
    did = F.col("doc_id")
    lines = F.transform(
        blocks,
        lambda x, i: F.when(
            (did % 7 == 0) & (i == 1),
            F.lit("please enable javascript to view this site."),
        ).otherwise(
            F.concat(
                F.when((did % 31 == 0) & (i == 0), F.lit("lorem ipsum ")).otherwise(
                    F.lit("")
                ),
                x,
                F.when((did % 37 == 0) & (i == 2), F.lit(" {")).otherwise(F.lit("")),
                F.when((did + i) % 3 != 0, F.lit(".")).otherwise(F.lit("")),
            )
        ),
    )
    staged = tk.select("doc_id", lines.alias("ls"))
    kept = F.filter(
        F.col("ls"),
        lambda ln: ln.rlike(r"[.!?\"]$")
        & (F.size(F.split(ln, r"\s+")) >= 5)
        & ~ln.contains("javascript"),
    )
    out = staged.select(
        "doc_id",
        F.size("ls").cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.exists(F.col("ls"), lambda ln: ln.contains("lorem ipsum")).alias(
            "has_lorem"
        ),
        F.exists(F.col("ls"), lambda ln: ln.contains("{")).alias("has_brace"),
        F.md5(F.concat_ws("\n", kept)).alias("clean_md5"),
    )
    return out.withColumn(
        "keep",
        (F.col("n_kept") >= 3) & ~F.col("has_lorem") & ~F.col("has_brace"),
    )


def q149_balanced_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Token-SIZE-balanced shard export — the exact greedy follow-up
    to q143 (whose md5-mod-16 deal balances document COUNTS; token
    totals drift with document length): documents keep q143's
    deterministic md5-60 position but shards are QUOTA ranges over
    the exact running token waterline (operators/packing.
    balanced_shards) — shard i holds the documents whose waterline
    start falls in [i·total/n, (i+1)·total/n). Every shard's token
    total lands within quota ± the largest single document (the tight
    bound keeping documents whole; property-tested in
    test_operators). Retry-stable like q143: no RNG, no partition-
    layout dependence — the same corpus yields the same shard for
    every document on any cluster.

    100 TB design: pass 1 is ONE partial-aggregated manifest total
    (1-row broadcast); pass 2's prefix sum is
    operators/prefix.running_sums — range-partition by the md5 key,
    partition-LOCAL cumulative windows (partition-sized, never
    corpus-sized), and a tiny per-partition offsets table broadcast
    back. No global-order
    window anywhere (plan-pinned)."""
    from pyspark.sql import functions as F

    from .functions.text import tokenize_ws
    from .operators.packing import balanced_shards, shard_assign

    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    staged = shard_assign(d, "doc_id", 16, salt=":bshard:v1", key_name="k").select(
        "doc_id",
        F.size(tokenize_ws(F.col("text"))).cast("long").alias("n_tokens"),
        "k",
    )
    assigned = balanced_shards(staged, "n_tokens", 8, order="k")
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
        F.sum("doc_id").alias("id_checksum"),
    )


def q150_incremental_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental exact-substring dedup — q137's 50-token-window
    granularity under q100's stored-index daily-ingest contract,
    closing the incremental family at every dedup granularity the
    engine offers (minhash q100, paragraphs paragraph_dedup_stream,
    now suffix windows): the OLD corpus (doc_id % 10 != 0) owns a
    stored fingerprint index (distinct window xxhash64s — band-
    partitioned parquet at scale); the NEW batch (doc_id % 10 == 0)
    fingerprints ONLY ITSELF and probes the index by equi-join — old
    corpus text is never re-read and old×old pairs never form. A new
    window is duplicated if its fingerprint is in the index
    (n_dup_vs_index) or an earlier occurrence exists within the batch
    itself (first_occurrence over the batch alone — n_dup_in_batch;
    disjoint counts). Coverage/keep accounting matches q137 exactly.

    100 TB design: the index probe is an AQE-skew-splittable
    equi-join on the 8-byte fingerprint; batch-internal firsts use
    the skew-safe first_occurrence aggregate; the coverage explode is
    dup-sized (×50), not corpus-sized. The batch (daily increment) is
    the only side fingerprinted — the whole point of the stored
    index."""
    from pyspark.sql import functions as F

    from .functions.dedup import first_occurrence

    W = _SUBSTR_W
    staged = _substr_staged(spark, sf)
    wins = _substr_wins(staged)
    is_new = F.col("doc_id") % 10 == 0
    index = wins.where(~is_new).select("h").distinct().select(
        F.col("h").alias("ih"), F.lit(True).alias("in_idx")
    )
    new_wins = wins.where(is_new)
    bfirsts = first_occurrence(
        new_wins, F.col("h"), ["doc_id", "pos"], keep=["h"]
    ).select(
        F.col("h").alias("bh"), F.col("doc_id").alias("bdoc"), F.col("pos").alias("bpos")
    )
    marked = (
        new_wins.join(index, new_wins["h"] == index["ih"], "left")
        .join(bfirsts, new_wins["h"] == bfirsts["bh"])
        .select(
            "doc_id", "pos",
            F.coalesce(F.col("in_idx"), F.lit(False)).alias("in_idx"),
            ((F.col("doc_id") != F.col("bdoc")) | (F.col("pos") != F.col("bpos"))).alias("loses"),
        )
    )
    dups = marked.where(F.col("in_idx") | F.col("loses"))
    kinds = dups.groupBy("doc_id").agg(
        F.sum(F.when(F.col("in_idx"), 1).otherwise(0)).alias("n_dup_vs_index"),
        F.sum(F.when(~F.col("in_idx"), 1).otherwise(0)).alias("n_dup_in_batch"),
    )
    cov = (
        dups.select("doc_id", "pos", F.explode(F.sequence(F.col("pos"), F.col("pos") + (W - 1))).alias("p"))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("p").alias("n_dup_tokens"),
            F.countDistinct("pos").alias("n_dup_windows"),
        )
    )
    base = staged.where(is_new).select(
        "doc_id", "n_tokens",
        F.greatest(F.col("n_tokens") - F.lit(W - 1), F.lit(0)).alias("n_windows"),
    )
    joined = base.join(kinds, "doc_id", "left").join(cov, "doc_id", "left")
    ratio = F.round(
        F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("double")
        / F.greatest(F.col("n_tokens"), F.lit(1)),
        6,
    )
    return joined.select(
        "doc_id", "n_tokens", "n_windows",
        F.coalesce(F.col("n_dup_vs_index"), F.lit(0).cast("long")).alias("n_dup_vs_index"),
        F.coalesce(F.col("n_dup_in_batch"), F.lit(0).cast("long")).alias("n_dup_in_batch"),
        F.coalesce(F.col("n_dup_windows"), F.lit(0).cast("long")).alias("n_dup_windows"),
        F.coalesce(F.col("n_dup_tokens"), F.lit(0).cast("long")).alias("n_dup_tokens"),
        ratio.alias("dup_ratio"),
        (ratio < 0.2).alias("keep"),
    )


def q151_hcat_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """The HCatalog surface as an oracle query (hcat.conf's shape,
    Spark-catalog-native — sources/hcatalog.py): documents land in a
    lang-PARTITIONED catalog table through the HCatStorer path
    (dynamic partitioning via insertInto), then Latin re-reads it
    with `LOAD ... USING HCatLoader()` — typed schema from the
    catalog, partition column trailing — filters on the partition
    column, and rolls up per source. The partition filter prunes at
    the catalog layer (PartitionFilters in the scan, the
    setPartitionFilter equivalent — plan-pinned in
    test_scale_plans).

    100 TB design: a catalog table IS partition-pruned parquet —
    the lang filter never opens non-en partitions' files; the rollup
    is one partial-aggregated groupBy on a low-cardinality key."""
    import hashlib

    from .latin import run
    from .sources.hcatalog import run_sql, store_hcat

    tbl = "hcat_docs_" + hashlib.md5(sf.encode()).hexdigest()[:8]
    # run_sql's drop also scrubs a stray managed location left by a
    # previous session (the catalog is session-scoped)
    run_sql(spark, f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl}(doc_id bigint, n_chars bigint, source string) "
        "USING parquet PARTITIONED BY (lang string)"
    )
    d = _t(spark, sf, "documents").df.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"), "source", "lang"
    )
    store_hcat(d, tbl)
    rels = run(spark, f"""
        a = LOAD '{tbl}' USING org.apache.hive.hcatalog.pig.HCatLoader();
        b = FILTER a BY lang == 'en';
        g = GROUP b BY source;
        out = FOREACH g GENERATE group AS source, COUNT(b) AS n_docs,
                                 SUM(b.n_chars) AS sum_chars,
                                 MAX(b.doc_id) AS max_doc;
    """)
    return rels["out"].df.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("sum_chars").cast("long").alias("sum_chars"),
        F.col("max_doc").cast("long").alias("max_doc"),
    )


def q152_pq_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization compression for the embedding family
    (Jégou et al. 2011) — the scale path between brute-force cosine
    (q44) and IVF cell pruning (q68): every fp32×64 vector encodes to
    8 one-byte codes (argmin codeword per 8-dim subspace, deterministic
    bootstrap codebooks — the q68 centroid pick sliced per subspace),
    and a query scans CODES, not vectors, via the asymmetric-distance
    LUT. Output per vector: the code word, the quantization energy
    (recon_err) and the ADC distance to a fixed LCG query — both
    rounded per the float policy.

    100 TB design: codebooks are a 16-row model-sized driver collect;
    encode is ONE map-only projection (no shuffle, no Python —
    plan-pinned); the ADC probe reads 8 bytes/vector instead of 256
    (32× scan IO), its LUT built driver-side with zero data passes;
    at scale codes store partitioned by IVF cell so the probe also
    partition-prunes. Subspace distances fold left-to-right so the
    DuckDB twin's sequential list_sum reproduces bit-identical
    argmins."""
    from .functions.similarity import (
        _lcg_floats,
        pq_adc_distances,
        pq_codebooks,
        pq_encode,
    )

    e = _t(spark, sf, "embeddings").df.select("vec_id", "embedding")
    cbs = pq_codebooks(e)
    enc = pq_encode(e, cbs)
    query = _lcg_floats(4242, 64)
    adc = pq_adc_distances(enc, query, cbs)
    # The code word ships SERIALIZED (dash-joined), never as a raw
    # array column: the driver's canonicalizer sorts result values with
    # pandas and cannot hash/sort list cells (the r10 q152 red row).
    return adc.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), "-").alias("codes"),
        F.round("recon_err", 6).alias("recon_err"),
        F.round("adc_dist", 6).alias("adc_dist"),
    )


def q153_ivfpq_probe(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ top-k — the FAISS-standard ANN composition
    (similarity.ivfpq_topk = q68's coarse-cell pruning × q152's
    PQ-ADC ranking): the query scans only its 3 nearest cells'
    vectors, ranked by LUT lookups over their 8-byte codes. Same
    query vector as q68, so the two probes are directly comparable.

    100 TB design: the two savings MULTIPLY — nprobe/nlist of the
    corpus (cell partition pruning) × 32× smaller rows (codes, not
    vectors); cell assignment and encode are the same map-only
    projections pinned for q68/q152; the final top-k is a
    TakeOrdered, never a global sort."""
    from .functions import similarity

    e = _t(spark, sf, "embeddings").df
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(similarity.EMB_DIM)]
    return similarity.ivfpq_topk(e, query, k=20)


def q154_epoch_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Data-constrained repetition schedule (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): when unique tokens
    run out, repeat the BEST data for a few epochs instead of
    everything once — the epochs axis the mixing family lacked
    (weights q95, temperature q140, shards q143/q149). Tiers come
    from q48's quality score by fixed THRESHOLDS (≥0.75 → 4 epochs,
    ≥0.5 → 2, else 1 — never a global rank: thresholds keep the stage
    map-only where terciles would shuffle); each (doc, epoch) replica
    draws a deterministic shuffle key (md5-60 of doc:epoch:salt, the
    q143 deal) so every epoch re-orders differently but
    reproducibly. Output = the schedule manifest per (tier, epoch):
    docs, tokens, id checksum, key range.

    100 TB design: scoring is the q48 map-only codegen; the explode
    is schedule-sized (≤4× the corpus, exactly the replication the
    trainer will read anyway); the manifest is ONE partial-aggregated
    groupBy on ≤7 (tier, epoch) keys — the deliberately-hot-key-safe
    aggregate shape (q143 rule)."""
    from .functions.dedup import md5_60
    from .functions.text import quality_score_from_tokens, tokenize_ws

    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    toks = d.select("doc_id", tokenize_ws(F.col("text")).alias("__tk"))
    staged = toks.select(
        "doc_id",
        F.size("__tk").cast("long").alias("n_tokens"),
        quality_score_from_tokens(F.col("__tk")).alias("q"),
    )
    tiered = staged.select(
        "doc_id",
        "n_tokens",
        F.when(F.col("q") >= 0.75, F.lit("high"))
        .when(F.col("q") >= 0.5, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("tier"),
        F.when(F.col("q") >= 0.75, F.lit(4))
        .when(F.col("q") >= 0.5, F.lit(2))
        .otherwise(F.lit(1))
        .alias("n_epochs"),
    )
    sched = tiered.select(
        "doc_id", "n_tokens", "tier",
        F.explode(F.sequence(F.lit(1), F.col("n_epochs"))).alias("epoch"),
    )
    keyed = sched.withColumn(
        "k",
        md5_60(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"),
                F.col("epoch").cast("string"), F.lit(":epoch:v1"),
            )
        ),
    )
    return keyed.groupBy("tier", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("doc_id").alias("id_checksum"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


def q155_residual_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """Residual-encoded IVF-PQ — classic FAISS IVFPQ (Jégou et al.
    2011 §V), closing the divergence q153 documented: codes quantize
    x − centroid[cell] instead of raw vectors, and the query builds
    one LUT per probed cell over its OWN residual. The hash-gated
    rows are the residual probe with deterministic bootstrap
    codebooks (residuals of ids [16, 32) — exact SQL, the q152/q153
    derivation); the DEPLOYMENT training path — coarse k-means refine
    (q146), residuals against the refined centroids, subspace-
    constrained PQ codebook refine — runs alongside and ships as the
    q146-style contract boolean `refined_ok`: both refinements
    monotone + net-improving AND the refined pipeline's quantization
    energy beats the bootstrap raw encoder's (measured at sf0.01 over
    the training sample: 75.0 → 39.0, a 48% cut).

    100 TB design: probe cost is identical to q153 (cell partition
    pruning × 32× smaller code rows, map-only encode, TakeOrdered
    top-k — the residual subtraction is one extra zip_with in the
    same projection); training is the model-collect shape end to end
    (coarse E-step map-only, M-step one posexplode shuffle of
    nlist·dim rows; PQ refine trains all 8 subspaces in ONE pass per
    iteration, never 8 job waves), and at deployment it runs over a
    deterministic sample while encode/probe scan everything."""
    from .functions import similarity

    e = _t(spark, sf, "embeddings").df
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(similarity.EMB_DIM)]
    topk = similarity.ivfpq_residual_topk(e, query, k=20)
    contract = similarity.pq_refined_pipeline_contract(e)
    return topk.withColumn("refined_ok", F.lit(bool(contract["ok"])))


def q156_kcenter_coreset(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal) — the diversity/coreset subset-selection stage of a
    data-curation pipeline (pick k maximally-spread exemplars, assign
    every vector to its nearest one): the complement of the dedup
    family, which removes the CLOSE pairs; this finds the SPREAD-OUT
    representatives (active-learning coresets, data pruning, eval-set
    seeding). Deterministic: seed = lowest id, each step maximizes min
    squared-L2 distance to the chosen set (ties → lowest id); every
    selection step and the final assignment are exact SQL, so the
    DuckDB twin unrolls the same k steps.

    100 TB design (similarity.kcenter_select): k passes, each a
    MAP-ONLY projection with the ≤k chosen vectors as plan literals +
    a TakeOrdered(1) — no shuffle of the vectors, driver holds k rows;
    the assignment is one more map-only pass (the ivf_assign idiom).
    At billions of vectors the traversal runs over the IVF centroid
    table or a deterministic sample first, then assigns everything."""
    from .functions.similarity import kcenter_select, kmeans_assign_l2

    k = 6
    e = _t(spark, sf, "embeddings").df
    # r12: the traversal + assignment are k+1 sequential full passes
    # over the SAME narrow projection — materialize it once so each
    # pass reads stored rows instead of re-decoding parquet
    # (in-session A/B: 2.17 → 1.96 s, −10%). At billions of vectors
    # the traversal input is the centroid table / a deterministic
    # sample (docstring above), so the store stays sample-sized there.
    e = materialize(e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ))
    centers = kcenter_select(e, k)
    # the generated oracle (_kcenter_sql) always unrolls EXACTLY k
    # selection steps, while kcenter_select stops early on degenerate
    # inputs (< k distinct vectors) — fail loudly instead of silently
    # diverging from the twin (ADVICE r11); the embeddings fixture
    # guarantees >= k distinct vectors at every sf
    if len(centers) != k:
        raise ValueError(
            f"q156: corpus has only {len(centers)} distinct vectors, "
            f"but the unrolled k-center oracle requires exactly k={k} — "
            "engine and oracle would diverge on this degenerate input"
        )
    center_ids = sorted(cid for cid, _ in centers)
    assigned = kmeans_assign_l2(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("__v")),
        sorted(centers),  # id order → first-match tie-break = lowest center id
        vec_col="__v",
        dist_col="__d",
    )
    return assigned.select(
        "vec_id",
        F.col("__cell").cast("long").alias("center_id"),
        F.round("__d", 6).alias("dist"),
        F.col("vec_id").isin(*center_ids).alias("is_center"),
    )


_ANN_INDEX_BUILT: set[str] = set()


def ensure_ann_index(spark: SparkSession, sf: str) -> str:
    """Build the persisted ANN index for ``sf`` ONCE per process and
    return its path, so repeated q157 runs time the serving path, not
    the full encode + partitioned write. The path is per-(sf, PROCESS):
    the returned DataFrames are evaluated lazily by callers, so the
    directory must outlive the call — keying by pid removes the
    cross-session overwrite race of a world-shared path, and an
    atexit rmtree reclaims it on interpreter exit (ADVICE r11:
    the pid-keyed directory used to leak a full encoded index per
    process)."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from .functions import similarity

    path = (
        f"{tempfile.gettempdir()}/pig_spark_ann_index_"
        f"{hashlib.md5(sf.encode()).hexdigest()[:8]}_{os.getpid()}"
    )
    if path in _ANN_INDEX_BUILT:
        return path
    similarity.ann_index_store(_t(spark, sf, "embeddings").df, path)
    _ANN_INDEX_BUILT.add(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def q157_ann_index_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted ANN index round-trip — the deployment layout every
    IVF/PQ scale note promises, made real: PQ codes STORED as parquet
    partitioned by IVF cell (similarity.ann_index_store — 8-byte rows,
    ~32× smaller than the vectors) with a model sidecar, then probed
    from disk (ann_index_probe): the sidecar picks the nprobe cells
    driver-side and the scan's PartitionFilters prune every other
    cell's files BEFORE they open (plan-pinned in test_scale_plans).
    Same query vector and k as q153, and the oracle IS q153's oracle:
    the store/load round-trip must reproduce the in-memory probe's
    answer bit-for-bit — an index that changes answers is a bug, not
    an optimization.

    100 TB design: the index build is ONE map-only encode pass + a
    partitioned write; a probe reads nprobe/nlist of an
    already-32×-smaller table and never deserializes a vector; the
    model sidecar is an object-store GET, not a data scan."""
    from .functions import similarity

    path = ensure_ann_index(spark, sf)
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(similarity.EMB_DIM)]
    return similarity.ann_index_probe(spark, path, query, k=20)


def q158_sequence_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-length sequence ASSEMBLY manifest (operators/packing.
    sequence_spans) — the GPT-style pretraining data format the
    packing family was building toward: the corpus token stream
    (documents concatenated by doc_id) cuts into back-to-back
    sequences of EXACTLY 512 tokens, documents split across sequence
    boundaries (no padding, no alignment), and each (sequence,
    document) span records where in the doc it starts, where in the
    sequence it lands, and its length — the .bin/.idx index a
    training loader consumes; the text gather downstream is one
    equi-join on doc_id.

    100 TB design: ONE two-pass distributed prefix sum
    (operators/prefix.running_sums — partition-LOCAL windows, tiny
    broadcast offsets, no data-sized window partition) + a spans-sized explode
    in the same map stage. Everything after the offset join is pure
    integer codegen, and the DuckDB twin reproduces it exactly —
    no floats anywhere."""
    from .functions.text import tokenize_ws
    from .operators.packing import sequence_spans

    d = _t(spark, sf, "documents").df.select(
        "doc_id",
        F.size(tokenize_ws(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return sequence_spans(d, "n_tokens", 512, order="doc_id")


def q159_sequence_gather(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence GATHER — the consumer of q158's manifest: join the
    (sequence, document) spans back to the documents, slice each
    span's tokens out of its doc, and assemble every training
    sequence in span order. Output per sequence: span count, token
    count, and the md5 fingerprint of the assembled token stream —
    the loader-side integrity check (fingerprint both engines, so the
    gate proves the ASSEMBLED BYTES match, not just the span math).

    100 TB design: the manifest is spans-sized (corpus/L); the gather
    is ONE equi-join on doc_id (AQE-broadcastable manifest side per
    partition at low span fan-out) and ONE groupBy(seq_id) whose
    groups are ≤ L tokens by construction — the in-group sort is an
    array_sort over a ≤ L-token bag, never a window; text shuffles
    once, sliced to exactly the spans needed."""
    from .functions.text import tokenize_ws
    from .operators.packing import gather_sequences, sequence_spans

    L = 512
    d = _t(spark, sf, "documents").df.select(
        "doc_id", tokenize_ws(F.col("text")).alias("tk")
    )
    sized = d.select("doc_id", F.size("tk").cast("long").alias("n"))
    spans = sequence_spans(sized, "n", L, order="doc_id")
    assembled = gather_sequences(spans, d)
    return assembled.select(
        "seq_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.md5(F.array_join("toks", " ")).alias("fp"),
    )


def q160_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-EPOCH shuffle order over the training
    sequences — the loader-side companion of q158/q159: each epoch
    reads the same sequences in a different, fully reproducible order
    (shuffle key = md5-60 of seq_id + the epoch salt — the
    shard_assign re-deal idiom: no RNG, engine- and retry-stable;
    bumping the epoch re-deals the permutation). Output: one row per
    (epoch, sequence) with its shuffle key and its GLOBAL position
    under (epoch, key, seq_id) — per-epoch position is pos minus the
    epoch block offset, and the oracle reproduces the rank exactly.

    100 TB design: the manifest is sequences-sized (corpus/L); the
    3-epoch fan-out is a map-only explode; the position comes from
    the engine's distributed two-pass RANK (operators/rank over
    operators/prefix.running_sums — range partition, positions
    stored once, tiny offsets table), NEVER a
    single-partition row_number window."""
    from .functions.dedup import md5_60
    from .functions.text import tokenize_ws
    from .operators.packing import sequence_spans
    from .operators.rank import rank

    epochs = 3
    d = _t(spark, sf, "documents").df.select(
        "doc_id",
        F.size(tokenize_ws(F.col("text"))).cast("long").alias("n"),
    )
    seqs = (
        sequence_spans(d, "n", 512, order="doc_id")
        .groupBy("seq_id")
        .agg(F.sum("span_len").alias("n_tokens"))
    )
    fanned = seqs.select(
        "seq_id",
        "n_tokens",
        F.explode(F.array(*[F.lit(e) for e in range(epochs)])).alias("epoch"),
    )
    keyed = fanned.withColumn(
        "shuffle_key",
        md5_60(F.concat(F.col("seq_id").cast("string"),
                        F.lit(":epoch:"), F.col("epoch").cast("string"))),
    )
    # store the SEQUENCES-sized manifest before the rank's range
    # sampling and partitioning read it, so the sequence_spans lineage
    # underneath runs once (epochs × corpus/L rows, never corpus-sized)
    keyed = materialize(keyed, eager=True)
    ranked = rank(
        keyed,
        by=[F.col("epoch"), F.col("shuffle_key"), F.col("seq_id")],
        name="pos",
        # (epoch, shuffle_key, seq_id) is unique per row — the rank
        # fast path skips the key-domain aggregate + join-back (r12:
        # 1.57 → 1.19 s in-session, −24%; q163 inherits)
        unique_keys=True,
    )
    return ranked.select(
        F.col("epoch").cast("long").alias("epoch"),
        "seq_id",
        "shuffle_key",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("pos").cast("long").alias("pos"),
    )


def q161_bpe_sequence_pack(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-id sequence packing — the sequence family (q158/q159) over
    the engine's OWN tokenizer ids instead of whitespace tokens
    (VERDICT r11 missing #1): train 6 BPE merges (q144's trainer),
    assign dense alphabetical token ids over the final vocabulary,
    tokenize the corpus through the word-type dictionary, concatenate
    each doc's id stream, cut it into back-to-back L=256 sequences
    (operators/packing.sequence_spans), and fingerprint each
    assembled ID STREAM — the loader's actual .bin/.idx content.

    100 TB design: segmentation is computed once per word TYPE
    (train_bpe's final symbol table IS the dictionary) and applied to
    the corpus by ONE equi-join whose build side is vocabulary-sized
    — broadcast explicitly, plan-pinned; the token-id table is
    model-sized (alphabet + ≤6 merged symbols: the trainer's
    driver-collect exception class, a plan-literal map); the id
    stream packs with the same two-pass prefix sum + spans-sized
    explode as q158 and assembles with q159's ≤ L-token array_sort
    bags — no data-sized window, no Python on the hot path. The
    oracle replays the full 6-merge training in SQL: pair-count
    argmax per step + the greedy merge fold as a list_reduce over a
    string-encoded accumulator (exact _merge_pair semantics,
    edge-tested on the 'aaa'+(a,a) case)."""
    from .functions.ml import stage_word_types, train_bpe
    from .functions.text import tokenize_ws
    from .operators.packing import gather_sequences, sequence_spans

    L = 256
    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    _, final_types = train_bpe(stage_word_types(d, "text"), merges=6)
    # dense alphabetical ids over the FINAL vocabulary — model-sized
    # collect (≤ alphabet + 6 merged symbols), shipped as a plan
    # literal map (well under the q128 ~10 KB literal rule)
    syms = sorted(
        r["s"]
        for r in final_types.select(F.explode("syms").alias("s")).distinct().collect()
    )
    id_map = F.create_map(
        *[x for i, s in enumerate(syms) for x in (F.lit(s), F.lit(i + 1))]
    )
    dictionary = final_types.select(
        "w",
        F.transform(
            "syms", lambda s: F.element_at(id_map, s).cast("long")
        ).alias("ids"),
    )
    toks = d.select(
        "doc_id",
        F.posexplode(tokenize_ws(F.lower(F.col("text")))).alias("pos", "w"),
    )
    # the ONE corpus-sized join: build side = word-type dictionary,
    # vocabulary-sized by construction → broadcast explicitly
    jw = toks.join(F.broadcast(dictionary), "w")
    docids = jw.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ids"))),
                lambda x: x["ids"],
            )
        ).alias("ids")
    )
    sized = docids.select("doc_id", F.size("ids").cast("long").alias("n"))
    spans = sequence_spans(sized, "n", L, order="doc_id")
    assembled = gather_sequences(spans, docids, tokens_col="ids")
    return assembled.select(
        "seq_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.md5(
            F.array_join(F.transform("toks", lambda x: x.cast("string")), " ")
        ).alias("fp"),
    )


def q162_strict_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Strict-cap packing, driver-gated (VERDICT r11 missing #4):
    operators/packing.pack_strict was the last capability with
    property tests only — this gives the strict context-window cap
    (the variant users actually deploy) a queries() row. Documents
    pack greedily into ≤1024-token groups in doc_id order: coarse
    block buckets from the two-pass prefix sum, then each
    budget-BOUNDED bucket re-packs exact-greedily with an in-row
    codegen fold (bounded bags — the nested-FOREACH shape). Output is
    the per-document assignment (bucket, pack), the strongest gate:
    any boundary drift shifts every later assignment in the bucket.

    The DuckDB twin unrolls the same greedy fold with a recursive CTE
    over per-bucket row numbers — identical reset arithmetic
    (close the pack when adding the doc would overshoot a non-empty
    pack; an oversized document opens its own pack), so assignments
    match exactly. The cap property itself (no multi-doc group over
    budget) stays pinned in test_operators.py."""
    from .functions.text import token_count
    from .operators.packing import pack_strict

    d = _t(spark, sf, "documents").df.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_strict(d, "n_tokens", 1024, order="doc_id")
    return packed.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("pack").cast("long").alias("pack"),
    )


def q163_loader_batches(spark: SparkSession, sf: str) -> DataFrame:
    """Loader MICRO-BATCHES — the final stage of the loader loop
    (VERDICT r11 stretch #9): manifest (q158) → gather (q159) →
    per-epoch shuffle (q160) → fixed-size batches. Consumes q160's
    per-epoch order directly and windows it into batches of B=32
    sequences: batch_id = floor(pos_in_epoch / B), so batches never
    span epochs by construction and the last batch of an epoch may
    run short (drop-last is a downstream filter, not lost data).
    Output per (epoch, sequence): its epoch-local position, batch,
    and position within the batch — exact integer arithmetic in both
    engines.

    100 TB design: q160's rank is the two-pass distributed scheme;
    the epoch offset is pos − epoch·N where N (sequences per epoch)
    is ONE tiny aggregate broadcast back — the scalar-projection
    exception class (q37's global-ntile idiom), never a data-sized
    window; batching itself is map-only integer codegen. The q160
    subtree has two consumers (the epoch-size aggregate and the batch
    projection) but needs NO materialization of its own: the rank's
    running sums already store the ranked rows once, so both
    consumers read the same positions (r12: a localCheckpoint here
    measured ~10% SLOWER in-session)."""
    df = q160_epoch_shuffle(spark, sf)
    n = df.where(F.col("epoch") == 0).agg(F.count(F.lit(1)).alias("__n"))
    b = df.crossJoin(F.broadcast(n))
    pos0 = F.col("pos") - 1 - F.col("epoch") * F.col("__n")
    return b.select(
        "epoch",
        "seq_id",
        "n_tokens",
        pos0.cast("long").alias("pos_in_epoch"),
        F.floor(pos0 / 32).cast("long").alias("batch_id"),
        (pos0 % 32).cast("long").alias("pos_in_batch"),
    )


def q164_source_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-weighted SOURCE MIXTURE sampling — the data-mixing
    stage of a pretraining pipeline (LLaMA/T5 practice: sample source
    s with probability ∝ n_s^α, α=0.5, so low-resource sources are
    upsampled relative to their token share): per-source token masses
    → temperature weights → integer quotas by largest remainder →
    deterministic without-replacement draw of each source's quota
    (rank by the md5 re-deal key — no RNG, engine- and retry-stable).

    100 TB design: the statistics table is SOURCES-sized (collected
    driver-side — the model-sized exception class; quota/weight ride
    back as literal maps, and Python float arithmetic is the same
    IEEE doubles as both engines, the r11 argmax-parity rule); the
    draw is ONE window whose ``row_number ≤ 200`` LITERAL bound
    lowers to Partial+Final WindowGroupLimit — each map task keeps at
    most 200 rows per source BEFORE the exchange, so a source's
    billions of rows never pile into one window partition."""
    import math

    from .functions.dedup import md5_60
    from .functions.text import token_count

    from pyspark.sql import Window

    D = 200  # total draws per mixture round
    t = _t(spark, sf, "documents").df.select(
        "doc_id", "source", token_count(F.col("text")).alias("n")
    )
    stats = sorted(
        (r["source"], int(r["ns"]))
        for r in t.groupBy("source").agg(F.sum("n").alias("ns")).collect()
    )
    z = sum(math.sqrt(ns) for _, ns in stats)
    ideal = {src: D * math.sqrt(ns) / z for src, ns in stats}
    base = {src: math.floor(v) for src, v in ideal.items()}
    leftover = D - sum(base.values())
    extras = set(
        src
        for src, _ in sorted(
            ideal.items(), key=lambda kv: (-(kv[1] - base[kv[0]]), kv[0])
        )[:leftover]
    )
    quota = {src: base[src] + (1 if src in extras else 0) for src, _ in stats}
    qmap = F.create_map(
        *[x for src, q in quota.items() for x in (F.lit(src), F.lit(q))]
    )
    wmap = F.create_map(
        *[x for src, v in ideal.items() for x in (F.lit(src), F.lit(v / D))]
    )
    keyed = t.select(
        "source",
        "doc_id",
        md5_60(F.concat(F.col("doc_id").cast("string"), F.lit(":mix:v1"))).alias(
            "__k"
        ),
    )
    w = Window.partitionBy("source").orderBy(F.asc("__k"), F.asc("doc_id"))
    sel = keyed.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") <= D)  # literal bound → WindowGroupLimit lowering
        & (F.col("rn") <= F.element_at(qmap, F.col("source")))
    )
    return sel.select(
        "source",
        "doc_id",
        F.col("rn").cast("long").alias("sel_rank"),
        F.element_at(qmap, F.col("source")).cast("long").alias("quota"),
        F.round(F.element_at(wmap, F.col("source")), 6).alias("w"),
    )


def q165_fim_transform(spark: SparkSession, sf: str) -> DataFrame:
    """Fill-in-the-middle TRANSFORMATION (Bavarian et al. 2022 — the
    FIM objective pretraining pipelines apply to a fraction of
    documents): each doc with ≥3 tokens splits into
    (prefix, middle, suffix) at deterministic md5-drawn cut points
    and reassembles in PSM order ``<PRE> p <SUF> s <MID> m``; shorter
    docs pass through untransformed. Output per doc: the three span
    lengths and the md5 fingerprint of the reassembled token stream —
    byte-level parity, both engines.

    100 TB design: pure map-only codegen (tokenize → two md5-mod cut
    draws → three slices → concat) — no shuffle, no Python, no state;
    the re-deal keys are the shard_assign idiom (versioned salts, no
    RNG, retry-stable)."""
    from .functions.dedup import md5_60
    from .functions.text import tokenize_ws

    d = _t(spark, sf, "documents").df.select(
        "doc_id", tokenize_ws(F.col("text")).alias("tk")
    )
    n = F.size("tk").cast("long")
    h1 = md5_60(F.concat(F.col("doc_id").cast("string"), F.lit(":fim:p")))
    h2 = md5_60(F.concat(F.col("doc_id").cast("string"), F.lit(":fim:m")))
    p_len = h1 % (n - 1)  # prefix in [0, n-2]
    m_len = F.lit(1) + h2 % (n - p_len - 1)  # middle >= 1
    s_len = n - p_len - m_len
    joined = lambda c: F.array_join(c, " ")  # noqa: E731
    psm = F.concat(
        F.lit("<PRE> "),
        joined(F.slice("tk", 1, p_len.cast("int"))),
        F.lit(" <SUF> "),
        joined(F.slice("tk", (p_len + m_len + 1).cast("int"), s_len.cast("int"))),
        F.lit(" <MID> "),
        joined(F.slice("tk", (p_len + 1).cast("int"), m_len.cast("int"))),
    )
    applied = n >= 3
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(applied, p_len).otherwise(F.lit(None)).cast("long").alias("p_len"),
        F.when(applied, m_len).otherwise(F.lit(None)).cast("long").alias("m_len"),
        F.when(applied, s_len).otherwise(F.lit(None)).cast("long").alias("s_len"),
        F.md5(F.when(applied, psm).otherwise(joined(F.col("tk")))).alias("fp"),
        applied.alias("fim_applied"),
    )


def q166_length_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Length-BUCKETED batching accounting — the dynamic-batching
    planner's input (pad every doc in a bucket to the bucket ceiling;
    the waste ratio tells the loader how much compute padding burns):
    power-of-two token-length buckets (16 floor … 4096 cap), per
    bucket the doc count, true token mass, padded mass and the
    padding-waste ratio. Integer CASE laddering on both engines —
    never float log2 (exact-power boundaries would ride rounding).

    100 TB design: map-only bucket assignment + ONE partial-aggregated
    groupBy on a ≤9-value key; output is buckets-sized."""
    from .functions.text import token_count

    d = _t(spark, sf, "documents").df.select(
        token_count(F.col("text")).alias("n")
    )
    bounds = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096]
    bucket = F.lit(bounds[-1])
    for b in reversed(bounds):
        bucket = F.when(F.col("n") <= b, F.lit(b)).otherwise(bucket)
    g = d.select("n", bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("sum_tokens"),
    )
    padded = F.col("bucket") * F.col("n_docs")
    return g.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("sum_tokens").cast("long").alias("sum_tokens"),
        padded.cast("long").alias("padded_tokens"),
        F.round(F.lit(1.0) - F.col("sum_tokens") / padded, 6).alias("waste_ratio"),
    )


_SEQ_STORE_BUILT: set[str] = set()


def ensure_sequence_store(spark: SparkSession, sf: str) -> str:
    """Build the persisted packed-sequence artifact for ``sf`` ONCE
    per process and return its path — the ensure_ann_index convention
    verbatim (pid-keyed temp path so parallel sessions can't race,
    memoized so lazy DataFrames returned by q167 outlive the call,
    atexit rmtree so the artifact doesn't leak across runs)."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from .functions.text import tokenize_ws
    from .operators.packing import sequence_store

    path = (
        f"{tempfile.gettempdir()}/pig_spark_seq_store_"
        f"{hashlib.md5(sf.encode()).hexdigest()[:8]}_{os.getpid()}"
    )
    if path in _SEQ_STORE_BUILT:
        return path
    d = _t(spark, sf, "documents").df.select(
        "doc_id", tokenize_ws(F.col("text")).alias("tk")
    )
    sequence_store(d, path, 512)
    _SEQ_STORE_BUILT.add(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def q167_sequence_store_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted packed-sequence artifact round-trip — the loader's
    .bin/.idx made real and verified: ``sequence_store`` writes the
    span manifest AND the assembled sequences partitioned by seq_id
    block (operators/packing.py), this query reads the sequences back
    from DISK and emits q159's integrity rows (seq_id, n_spans,
    n_tokens, md5 of the assembled token stream). The oracle IS
    q159's oracle: the store/load round-trip must reproduce the
    in-memory gather bit-for-bit — a loader artifact that changes
    bytes is a bug (the q157 index convention applied to the loader).

    100 TB design: the build is q158+q159's plans plus two partitioned
    writes (amortized over every epoch × every rank that reads them);
    the serving path a rank actually runs — read a contiguous seq_id
    range — prunes to its blocks via PartitionFilters before a file
    opens (plan-pinned in test_scale_plans). Reference: Pig's
    STORE-then-LOAD round-trip contract (store/load symmetry,
    src/org/apache/pig/builtin/PigStorage.java) applied to the
    training-loader artifact."""
    path = ensure_sequence_store(spark, sf)
    stored = Relation.load(spark, f"{path}/sequences").df
    return stored.select(
        "seq_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.md5(F.array_join("toks", " ")).alias("fp"),
    )


_BM25_QUERIES = [
    (0, "hash join order"),
    (1, "window sort merge"),
    (2, "fast vector scan"),
    (3, "slow batch stream"),
    (4, "spark table filter"),
]


def q171_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-k retrieval — the classic full-text ranking every
    eval/dedup/retrieval stage leans on (Robertson/Sparck-Jones; the
    Okapi formula with k1=1.2, b=0.75): score 5 fixed queries against
    the corpus through an inverted-index join and return each
    query's top-5 documents. idf = ln((N − df + 0.5)/(df + 0.5) + 1),
    tf normalization by doc length against the corpus mean.

    Cross-engine float policy (the argmin/fold rule): the per-doc
    score SUMS its matched-term contributions in TERM ORDER via a
    sequential fold (F.aggregate over the term-sorted bag ≙ DuckDB
    list_sum over list(... ORDER BY t)) — never an unordered SUM —
    then rounds to 6; ranking orders by (rounded score DESC, doc_id).

    100 TB design (r12, guide §2.3/§3 "prune before the shuffle"):
    the full-vocabulary term-frequency table is never built at all —
    the broadcast query-term filter drops non-query TOKENS before any
    aggregate, so the (doc, term, tf) posting aggregate and df(term)
    only ever shuffle query-matched rows; doc length is its own
    narrow aggregate straight off the token stream (every token
    counts toward dl, so that pass cannot be pruned). dl and tfq each
    have two consumers but need no materialization: each consumer
    re-aggregates after the SAME exchange, so ReusedExchange dedupes
    at runtime (r12: localCheckpoints here measured ~8% slower
    in-session — eager jobs with no double-eval to save). Top-5 per
    query lowers to Partial+Final WindowGroupLimit (literal bound),
    capping map-side before the exchange."""
    from pyspark.sql import Window

    from .functions.text import tokenize_ws

    k1, b = 1.2, 0.75
    d = _t(spark, sf, "documents").df.select(
        "doc_id", F.explode(tokenize_ws(F.lower(F.col("text")))).alias("t")
    )
    # doc length straight off the token stream — narrow, map-side
    # combinable; consumed by posting probe AND stats (ReusedExchange)
    dl = d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("N"), F.sum("dl").alias("total_dl")
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, q in _BM25_QUERIES for t in sorted(set(q.split()))],
        "qid int, t string",
    )
    # prune FIRST: drop non-query tokens before the posting aggregate
    # (broadcast hash join on the tiny term list); consumed by df
    # counting AND the scoring join (ReusedExchange)
    tfq = (
        d.join(F.broadcast(qterms.select("t").distinct()), "t")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # (doc_id, t) is unique in tfq, so a plain count IS the doc freq
    dfreq = tfq.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    posting = tfq.join(dl, "doc_id").join(F.broadcast(dfreq), "t")
    avgdl = F.col("total_dl").cast("double") / F.col("N")
    idf = F.log(
        (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (0.25 + b * F.col("dl") / avgdl))
    )
    scored = (
        posting.join(F.broadcast(qterms), "t")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", "t", contrib.alias("c"))
    )
    agg = scored.groupBy("qid", "doc_id").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("t", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ),
            6,
        ).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select(
            F.col("qid").cast("long").alias("qid"),
            "doc_id",
            "bm25",
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def _plan_epoch_budget(
    stats: list[tuple[str, int]], t_mult: int, rep_cap: float
) -> list[tuple[str, float, float, bool]]:
    """The q174 planner core, factored for direct unit testing (the
    fixture's uniform sources never trip the cap, so the capped/
    redistribution branch is exercised synthetically in
    test_operators): 2-round water-filling over SOURCES-sized stats.
    Every cross-source sum is a left-to-right fold in source order
    (Python sum ≙ DuckDB list_sum over source-ordered lists);
    math.sqrt is the IEEE sqrt (≙ DuckDB sqrt — x ** 0.5 is pow and
    may differ in the last ulp). Returns (source, weight_raw,
    alloc_raw, capped) — raw doubles; ALL rounding happens in-plan on
    both engines."""
    import math

    stats = sorted(stats)
    total = sum(n for _, n in stats)
    T, R = t_mult * total, rep_cap
    ws = [(s, math.sqrt(float(n))) for s, n in stats]
    sw = sum(w for _, w in ws)
    plan: dict[str, tuple[float, float, bool]] = {}
    for (s, n), (_, w) in zip(stats, ws):
        desired = (T * w) / sw
        cap = R * n
        capped = desired > cap
        plan[s] = (w, cap if capped else desired, capped)
    leftover = T - sum(a for _, a, _ in plan.values())
    sw2 = sum(w for s, w in ws if not plan[s][2])
    rows = []
    for (s, n), (_, w) in zip(stats, ws):
        w_, a1, capped = plan[s]
        if capped or sw2 <= 0:
            a2 = a1
        else:
            a2 = min(a1 + (leftover * w) / sw2, R * n)
        rows.append((s, w_, a2, capped))
    return rows


def q174_epoch_budget_planner(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch/repetition BUDGET PLANNER — the data-recipe artifact
    (LLaMA/DoReMi practice): given a training token budget T = 2×
    corpus and a repetition cap R = 4 epochs, allocate T across
    sources by temperature weight w_s = √n_s, capped at R·n_s, with
    ONE proportional redistribution of the capped leftover among
    uncapped sources (then clamped again — the documented 2-round
    water-filling contract; a fully-capped corpus leaves the
    remainder unallocated). Output per source: tokens, weight,
    allocation, epochs, capped flag.

    Engine split (the q164 precedent): the corpus token aggregate is
    Spark's (one partial-aggregated groupBy over the token-sized
    scan); the planner math runs driver-side over the SOURCES-sized
    stats (20 rows — the model-sized exception class) with every sum
    a left-to-right fold in source order (Python sum ≙ DuckDB
    list_sum over source-ordered lists), raw doubles join back as a
    broadcast literal table, and ALL rounding happens in-plan
    (F.round ≙ DuckDB round — never Python's banker's round)."""
    from .functions.text import token_count

    d = _t(spark, sf, "documents").df.select(
        "source", token_count(F.col("text")).alias("n")
    )
    agg = d.groupBy("source").agg(F.sum("n").alias("n_tokens"))
    stats = sorted(
        ((r["source"], int(r["n_tokens"])) for r in agg.collect()),
    )
    rows = _plan_epoch_budget(stats, t_mult=2, rep_cap=4.0)
    lit = spark.createDataFrame(
        rows, "source string, w double, alloc double, capped boolean"
    )
    j = agg.join(F.broadcast(lit), "source")
    return j.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("w", 6).alias("weight"),
        F.round("alloc", 6).alias("alloc_tokens"),
        F.round(F.col("alloc") / F.col("n_tokens"), 6).alias("epochs"),
        "capped",
    )


def q175_ann_recall_report(spark: SparkSession, sf: str) -> DataFrame:
    """ANN RECALL REPORT — the quality artifact every approximate
    index ships next to its latency numbers (VERDICT r11 missing #2
    made recall a test property; this makes it a driver-gated
    QUERY): recall@k of the IVF-PQ probe (q153's machinery, same
    query vector) against the exact cosine top-20 (q44's), for
    k ∈ {1, 5, 10, 20}. Output per k: overlap count and recall —
    the table an index rollout gates on.

    Both engines rank both sides with the SAME keys (rounded
    distance/score + vec_id tie-break) and intersect on vec_id, so
    the report is exact cross-engine; the DuckDB twin embeds the
    already-oracled q153 and q44 bodies as subqueries — one source
    of truth per side. The heavy lifting (probe + exact top-k) runs
    the pinned Spark plans; the two 20-row results then collect and
    rank DRIVER-side (the kcenter/scalar model-sized exception class
    — a constant-partition window over 20 rows would trip the
    catalog-wide unpartitioned-window audit after Catalyst folds the
    literal key, and a distributed rank of 20 rows buys nothing);
    the recall division rounds IN-PLAN on both engines.

    r12 (guide §2.6 "overlap independent jobs"): the approximate and
    exact sides share no state — two driver threads submit both jobs
    at once, so the exact side's scan back-fills executors the probe
    side leaves idle instead of running after it. Results identical:
    each side is its own ordered limit-20 collect either way."""
    from concurrent.futures import ThreadPoolExecutor

    from .functions import similarity

    e = _t(spark, sf, "embeddings").df
    # r12: both sides (probe: seed collect + assign/encode scan; exact:
    # full cosine scan) re-read and re-cast the same vectors — one
    # stored narrow projection feeds all three jobs (in-session A/B:
    # 2.97 → 2.81 s, same rankings). Stored EAGERLY, so the 2-thread
    # pool below never serializes on a shared first materialization.
    e = materialize(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        eager=True,
    )
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(similarity.EMB_DIM)]
    # both collects are ordered limit-20 results — rank = position
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(
            lambda: [r["vec_id"] for r in similarity.ivfpq_topk(e, query, k=20).collect()]
        )
        fe = pool.submit(
            lambda: [r["vec_id"] for r in similarity.cosine_topk(e, query, 20).collect()]
        )
        a_ids, e_ids = fa.result(), fe.result()
    release(e)
    ra = {v: i + 1 for i, v in enumerate(a_ids)}
    rb = {v: i + 1 for i, v in enumerate(e_ids)}
    rows = [
        (k, sum(1 for v, i in ra.items() if i <= k and rb.get(v, 99) <= k))
        for k in (1, 5, 10, 20)
    ]
    lit = spark.createDataFrame(rows, "k long, n_overlap long")
    return lit.select(
        "k",
        "n_overlap",
        F.round(F.col("n_overlap").cast("double") / F.col("k"), 6).alias(
            "recall"
        ),
    )


def _ann_batch_queries() -> list[tuple[int, list[float]]]:
    """The fixed 4-query batch q173 probes — deterministic LCG draws
    (distinct seeds, the q152 query-vector convention) shared with
    the generated DuckDB twin."""
    from .functions import similarity

    return [
        (i, similarity._lcg_floats(7100 + i, similarity.EMB_DIM))
        for i in range(4)
    ]


def q173_ann_batch_probe(spark: SparkSession, sf: str) -> DataFrame:
    """BATCH ANN probe — the serving-fleet shape q157's single probe
    only hints at: 4 query vectors answered by ONE plan over ONE
    pruned scan of the persisted index
    (similarity.ann_index_batch_probe). Per query the model sidecar
    picks nprobe cells and builds the ADC LUT driver-side; the
    (qid, cell, lut) table ships as a BROADCAST DataFrame (no plan
    literal, no janino compile cost at any batch size); a broadcast
    hash join on cell fans each code row out to exactly the queries
    probing its cell; per-query top-10 caps map-side via
    WindowGroupLimit. Each query's rows are bit-identical to its own
    single ann_index_probe (tested).

    The DuckDB twin replays the encode (q153's chain) against a
    VALUES query table — per-query probe ranking, per-(query, m, j)
    LUT, ordered m-fold sum, per-query top-10."""
    from .functions import similarity

    path = ensure_ann_index(spark, sf)
    return similarity.ann_index_batch_probe(
        spark, path, _ann_batch_queries(), k=10
    )


def q172_position_ids(spark: SparkSession, sf: str) -> DataFrame:
    """Packed-sequence POSITION-ID / SEGMENT-ID emission — the two
    streams a packed-attention loader must get exactly right next to
    the tokens themselves: position ids CONTINUE within a document
    across sequence boundaries (span [s, s+len) of a doc emits
    positions s … s+len−1 — a doc split across sequences resumes,
    not resets), and segment ids number each sequence's spans
    0 … n_spans−1 in order (the block-diagonal attention mask that
    stops cross-document attention inside a packed sequence). Emits
    per-sequence md5 fingerprints of both streams — byte-level
    integrity, the q159 convention.

    100 TB design: everything on top of the q158 manifest is in-row
    (sorted-bag transform over ≤ L-token sequences — the position
    array is built per sequence inside the aggregate, never
    exploded); one groupBy(seq_id) with bounded groups, no window, no
    Python."""
    from .functions.text import tokenize_ws
    from .operators.packing import sequence_spans

    L = 512
    d = _t(spark, sf, "documents").df.select(
        "doc_id", F.size(tokenize_ws(F.col("text"))).cast("long").alias("n")
    )
    spans = sequence_spans(d.where(F.col("n") > 0), "n", L, order="doc_id")
    bags = spans.groupBy("seq_id").agg(
        F.array_sort(
            F.collect_list(F.struct("start_in_seq", "start_in_doc", "span_len"))
        ).alias("sp")
    )
    pos_stream = F.flatten(
        F.transform(
            "sp",
            lambda x: F.sequence(
                x["start_in_doc"], x["start_in_doc"] + x["span_len"] - 1
            ),
        )
    )
    seg_stream = F.flatten(
        F.transform(
            "sp",
            lambda x, i: F.transform(
                F.sequence(F.lit(1).cast("long"), x["span_len"]), lambda _: i
            ),
        )
    )
    return bags.select(
        "seq_id",
        F.size("sp").cast("long").alias("n_spans"),
        F.size(pos_stream).cast("long").alias("n_tokens"),
        F.md5(F.array_join(pos_stream, " ")).alias("fp_pos"),
        F.md5(F.array_join(seg_stream, " ")).alias("fp_seg"),
    )


def q170_ffd_pack(spark: SparkSession, sf: str) -> DataFrame:
    """First-Fit-Decreasing packing (operators/packing.pack_ffd) —
    the padding-minimizing SFT packer: documents pack WHOLE (no
    splitting, no cross-contamination) into ≤1024-token bins,
    largest-first, each into the first bin that fits. Within
    4096-token coarse buckets the fold is exact FFD (the classic
    11/9·OPT approximation); output is the per-document (bucket, bin)
    assignment — the strongest gate: a single first-fit mis-step
    shifts every later placement in the bucket.

    The DuckDB twin unrolls the same fold with a recursive CTE whose
    state is the LIST of remaining bin capacities (first-fit =
    list_position over a capacity predicate, update = list slicing) —
    identical tie-breaks (size DESC, doc_id ASC), so assignments
    match exactly."""
    from .functions.text import token_count
    from .operators.packing import pack_ffd

    d = _t(spark, sf, "documents").df.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_ffd(d, "n_tokens", 1024, order="doc_id")
    return packed.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("bin").cast("long").alias("bin"),
    )


def q168_sft_mask_pack(spark: SparkSession, sf: str) -> DataFrame:
    """SFT sample packing with LOSS-MASK accounting — the
    instruction-tuning counterpart of the pretraining manifest
    (q158): each document is a (prompt, completion) pair — prompt =
    the first ⌈n/3⌉ tokens, completion = the rest — and only
    COMPLETION tokens train (the standard SFT loss mask). Sequences
    pack exactly as q158 (back-to-back L=512, docs split across
    boundaries); per sequence the query accounts the mask: span
    count, token count, loss-token count, and the loss fraction —
    the number every packed-SFT loader must get right, because a
    span that crosses the prompt/completion boundary contributes
    only its completion tail.

    All integer arithmetic: a span [s, s+len) of a doc with prompt
    length p contributes max(0, (s+len) − max(s, p)) loss tokens.

    100 TB design: the manifest is q158's two-pass prefix sum +
    spans-sized explode; the mask join is ONE doc_id equi-join of
    the spans-sized manifest against the doc-sized (n, prompt_len)
    table — both sides hash-partition on doc_id; the rollup is one
    partial-aggregated groupBy(seq_id). No window beyond the prefix
    sum, no Python."""
    from .functions.text import tokenize_ws
    from .operators.packing import sequence_spans

    L = 512
    d = _t(spark, sf, "documents").df.select(
        "doc_id", F.size(tokenize_ws(F.col("text"))).cast("long").alias("n")
    )
    sized = d.where(F.col("n") > 0).withColumn(
        "prompt_len", F.floor((F.col("n") + 2) / 3).cast("long")
    )
    spans = sequence_spans(sized, "n", L, order="doc_id")
    j = spans.join(sized.select("doc_id", "prompt_len"), "doc_id")
    span_end = F.col("start_in_doc") + F.col("span_len")
    loss = F.greatest(
        F.lit(0).cast("long"),
        span_end - F.greatest(F.col("start_in_doc"), F.col("prompt_len")),
    )
    g = j.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("n_tokens"),
        F.sum(loss).alias("n_loss_tokens"),
    )
    return g.select(
        "seq_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_loss_tokens").cast("long").alias("n_loss_tokens"),
        F.round(
            F.col("n_loss_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("loss_ratio"),
    )


def q169_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer segmentation profile — the fertility report every
    tokenizer change ships with (pieces-per-word is THE tokenizer
    efficiency metric: fertility ↑ ⇒ compute per document ↑): train
    the 6-merge BPE (q144's trainer), segment every word TYPE, and
    profile by piece count — how many word types and corpus word
    occurrences land at 1, 2, 3… pieces, their character mass, and
    the mean type length per bucket. The corpus-level fertility is
    Σ(pieces × occurrences) / Σ(occurrences) over these partials.

    100 TB design: everything after stage_word_types' ONE token-sized
    shuffle is vocabulary-sized (the trainer's own contract); this
    profile adds one partial-aggregated groupBy on a ≤|longest word|
    key over the word-TYPE table — statistics-sized end to end, no
    second corpus scan."""
    from .functions.ml import stage_word_types, train_bpe

    d = _t(spark, sf, "documents").df.select("doc_id", "text")
    _, final_types = train_bpe(stage_word_types(d, "text"), merges=6)
    g = final_types.groupBy(F.size("syms").alias("n_pieces")).agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("cnt").alias("n_occurrences"),
        F.sum(F.length("w") * F.col("cnt")).alias("sum_chars"),
        F.round(F.avg(F.length("w").cast("double")), 6).alias("avg_type_len"),
    )
    return g.select(
        F.col("n_pieces").cast("long").alias("n_pieces"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("sum_chars").cast("long").alias("sum_chars"),
        "avg_type_len",
    )


from .pigmix import PIGMIX_QUERIES  # noqa: E402  (avoids circular import)

_ALL: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: fn
    for name, fn in globals().items()
    if name.startswith("q") and callable(fn) and name[1:3].isdigit()
}
_ALL.update(PIGMIX_QUERIES)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = dict(sorted(_ALL.items()))
