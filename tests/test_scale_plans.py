"""Scale-readiness assertions on Catalyst plans: pushdown, pruning,
broadcast choice, no Python UDFs in hot paths, no single-partition
global windows in rank."""

import pytest
from pyspark.sql import functions as F

from pig_spark import Relation
from pig_spark.plans import lint_plan, plan_string, read_schema_width, unpartitioned_windows


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return Relation.load(spark, f"{sf_dir}/lineitem.parquet")


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_scale_safe(df, checkpointed) -> None:
    """No unpartitioned window over data, no Python UDF and no
    cartesian product in ``df`` — nor in any frame a local checkpoint
    stored while ``df`` was built. RANK and packing store their input
    (operators/prefix.running_sums), so the upstream of a rank or pack
    shows in the final plan only as a LogicalRDD leaf."""
    for f in [df, *checkpointed]:
        opt, phys = _optimized(f), _executed(f)
        assert not unpartitioned_windows(opt), unpartitioned_windows(opt)
        assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
        assert "CartesianProduct" not in phys, phys


def test_filter_pushdown_reaches_scan(lineitem):
    df = lineitem.filter(F.col("l_quantity") > 30).foreach("l_orderkey").df
    facts = lint_plan(df)
    assert facts["pushed_filters"], plan_string(df)


def test_column_pruning(lineitem):
    df = lineitem.foreach("l_orderkey", "l_quantity").df
    assert read_schema_width(df) == 2, plan_string(df)


def test_replicated_join_is_broadcast(spark, sf_dir):
    li = Relation.load(spark, f"{sf_dir}/lineitem.parquet")
    s = Relation.load(spark, f"{sf_dir}/supplier.parquet")
    df = li.join(s, on=[F.col("l_suppkey") == F.col("s_suppkey")], strategy="replicated").df
    assert lint_plan(df)["broadcast_joins"] >= 1


def test_no_python_in_builtin_pipeline(spark, sf_dir):
    from pig_spark.queries import q01_group_agg, q41_minhash_pairs, q48_quality_score

    for q in (q01_group_agg, q48_quality_score):
        df = q(spark, sf_dir)
        assert not lint_plan(df)["python_udfs"], f"{q.__name__} uses Python UDFs"


def test_rank_has_no_global_single_partition_window(spark, sf_dir, checkpointed):
    """rank BY must window over the distinct-key domain, not all rows."""
    from pig_spark.queries import q17_rank_by

    df = q17_rank_by(spark, sf_dir)
    # the full-row relation must not pass through a Window with no
    # partition spec — neither in the query nor upstream of the stored
    # key domain; the only unpartitioned windows allowed run over the
    # per-partition totals tables (order col __pid, bounded by
    # partition count — the shape whitelist in plans).
    assert checkpointed
    for opt in map(_optimized, [df, *checkpointed]):
        assert not unpartitioned_windows(opt), unpartitioned_windows(opt)
    assert lint_plan(df)["broadcast_joins"] >= 1  # rank joined back broadcast


def test_ntile_has_no_data_sized_global_window(spark, sf_dir, checkpointed):
    """q37 derives ntile/percent_rank/cume_dist from the distributed
    two-pass rank + a broadcast count scalar. The full customer table
    must never pass through an unpartitioned Window (the r3 verdict's
    only scale-killer): any window ordering raw c_acctbal would be
    exactly that single-partition sort."""
    from pig_spark.queries import q37_ntile_stats

    df = q37_ntile_stats(spark, sf_dir)
    assert checkpointed
    for s in map(_optimized, [df, *checkpointed]):
        assert "windowspecdefinition(c_acctbal" not in s, s
        assert not unpartitioned_windows(s), unpartitioned_windows(s)


def test_partial_aggregation_present(lineitem):
    df = lineitem.group_by("l_returnflag").agg(s=F.sum("l_quantity")).df
    s = plan_string(df)
    assert "partial_" in s or "HashAggregate" in s


def test_wholestage_codegen(lineitem):
    from pig_spark.plans import executed_plan_string

    import re

    df = lineitem.filter(F.col("l_quantity") > 10).group_by("l_returnflag").agg(n=F.count(F.lit(1))).df
    # '*(n)' marks WholeStageCodegen stage ids in the executed plan
    assert re.search(r"\*\(\d+\)", executed_plan_string(df))


# ----------------------------------------------------------------------
# catalog-wide audit: every registered query's optimized plan obeys the
# scale invariants (this is the ".explain and iterate" loop, pinned)
# ----------------------------------------------------------------------

# rdd.pipe is the STREAM contract — the one deliberate RDD/Python hop
_PYTHON_OK = {
    "q52_stream_upper",  # stream pipe
    "q67_multimodal_meta",  # codec boundary
    "q133_multimodal_pipeline",  # codec boundary (resize/frames/features)
    # scripting UDFs ARE the sanctioned row-at-a-time slow path (same
    # class as STREAM THROUGH — arbitrary user Python, REGISTER ...
    # USING jython); q122 exists to oracle-gate that engine
    "q122_latin_scripting_udf",
}
# explicit CROSS / 1-row scalar broadcast are the only sanctioned
# cartesian shapes; everything else must be an equi/broadcast join
_CARTESIAN_OK = {
    "q12_cross",
    "q24_scalar",
    "q64_bloom_filter",
    "q81_latin_bigdata_chain",
    # __total__ row: 1×1 crossJoin of two single-row aggregates with an
    # explicit broadcast hint (physical plan = BroadcastNestedLoopJoin;
    # the logical-plan string prints the hint lowercase, missing this
    # audit's "Broadcast" grep)
    "q78_sketch_uniques",
    # rank ⨯ broadcast 1-row count scalar (ntile/pct_rank/cume_dist
    # arithmetic) — same hint-prints-lowercase shape as q78
    "q37_ntile_stats",
    # two 1-row broadcast sides: the total-token-count scalar and the
    # folded ≤4096-entry LM map column (both explicit F.broadcast,
    # physical BroadcastNestedLoopJoin; dedicated pin asserts the
    # broadcast + no-Window shape below)
    "q121_unigram_lm_score",
    # same shape: 1-row doc-count scalar + folded ≤4096-entry idf map,
    # both explicit F.broadcast (dedicated pin: test_tfidf_plan)
    "q124_tfidf_top_terms",
    # same shape again: two folded 1-row LM maps + their count scalars,
    # all explicit F.broadcast (dedicated pin: test_dsir_plan)
    "q126_dsir_importance",
    # same shape: 1-row unigram+bigram LM fold, total scalar — every
    # cross has an explicit broadcast hint (dedicated pin:
    # test_bigram_lm_plan asserts 1 exchange / 2 scans / no Python)
    "q130_bigram_lm_perplexity",
    # 1-row scalar aggregates × 1-row folded top-K regression row,
    # explicit broadcast hint (prints lowercase, same as q78)
    "q135_corpus_zipf_profile",
    # 1-row broadcast trained-weight array (explicit F.broadcast;
    # r9 — a 4096-double literal cost a flat ~3 s janino compile);
    # dedicated pin: test_broadcast_weight_classifier_plan_map_only
    "q128_classifier_broadcast_weights",
    # q130's LM crosses + the 1-row doc-count scalar for the tercile
    # split, all explicit F.broadcast (prints lowercase, same as
    # q78/q37; dedicated pin: test_perplexity_partition_plan)
    "q142_perplexity_partition",
}


def test_catalog_plan_audit(spark, sf_dir, checkpointed):
    from pig_spark.queries import QUERIES

    bad: list[str] = []
    for name, fn in QUERIES.items():
        checkpointed.clear()
        df = fn(spark, sf_dir)
        # the query's plan and every plan a local checkpoint cut out of
        # it (RANK and packing store their input; the upstream runs
        # there, behind a LogicalRDD leaf of the final plan)
        for s in map(_optimized, [df, *checkpointed]):
            # the optimizer moves a scalar Python UDF into an
            # ArrowEvalPython node, a row one into BatchEvalPython
            if name not in _PYTHON_OK and ("PythonUDF" in s or "EvalPython" in s):
                bad.append(f"{name}: python in plan")
            if name not in _CARTESIAN_OK:
                # per-join check: a cross join is fine ONLY when broadcast
                # (1-row scalar/model joins carry the hint on the Join
                # line itself — `rightHint=(strategy=broadcast)`; the old
                # whole-plan "Broadcast" search missed the lowercase hint
                # and could also be masked by an unrelated broadcast)
                for line in s.splitlines():
                    if "Join Cross" in line and "broadcast" not in line.lower():
                        bad.append(f"{name}: non-broadcast cartesian join")
            # no data-sized single-partition window anywhere (VERDICT r4
            # #5 — generalizes the q37 pin; bounded totals-table windows
            # over __pid are whitelisted by shape, not by name)
            for w in unpartitioned_windows(s):
                bad.append(f"{name}: unpartitioned window {w}")
    assert not bad, "\n".join(bad)


def test_minhash_candidates_are_join_free(spark, sf_dir):
    """q41's LSH candidate generation is ONE shuffle (bucket groupBy +
    in-array pair expansion) — the only joins in the plan are the two
    verification joins back to shingle sets. A band self-join
    formulation would show a third join."""
    from pig_spark.queries import QUERIES

    import re

    s = QUERIES["q41_minhash_pairs"](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    n_joins = len(re.findall(r"\bJoin\b", s))
    assert n_joins == 2, f"expected 2 verify joins, plan has {n_joins}"


def test_cosine_pairs_has_no_cartesian(spark, sf_dir):
    """q45's near-dup pair finder must generate candidates from LSH
    band buckets (equi-join on band+bucket), never an O(n²)
    inequality join: no CartesianProduct / BroadcastNestedLoopJoin
    anywhere in the physical plan."""
    from pig_spark.queries import QUERIES

    df = QUERIES["q45_cosine_pairs"](spark, sf_dir)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s, s
    assert "BroadcastNestedLoopJoin" not in s, s


def test_collected_group_on_bucketed_table_has_no_exchange(spark, sf_dir, tmp_path):
    """GROUP USING 'collected' (POCollectedGroup.java — map-side group
    when the loader is collectable): Spark's equivalent is a bucketed
    table whose bucket spec matches the grouping key — the aggregate
    runs without any Exchange. Same layout powers 'merge' cogroup."""
    import uuid

    from pig_spark.sources import store

    name = f"li_bucketed_{uuid.uuid4().hex[:8]}"
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    store(df, name, bucket_by=(4, ["l_orderkey"]), sort_by=["l_orderkey"])
    try:
        agg = spark.table(name).groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert agg.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """q88: the benchmark gram-hash set must broadcast (map-side
    semi-join) — a shuffled join here would exchange the full train
    gram stream against a tiny eval set."""
    from pig_spark.queries import q88_contamination

    plan = (
        q88_contamination(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_chunking_is_map_only(spark, sf_dir):
    """q94: context-window sharding must not shuffle — split → explode
    → slice runs entirely inside the scan's stage at any scale."""
    from pig_spark.queries import q94_doc_chunks

    plan = q94_doc_chunks(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final


def test_latin_over_single_exchange(spark, sf_dir):
    """q98: all four Over windows share one partitioning+ordering —
    exactly ONE hash exchange in the final plan."""
    from pig_spark.queries import q98_latin_window_over

    plan = q98_latin_window_over(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final


def test_incremental_dedup_broadcasts_new_side(spark, sf_dir):
    """q100: the new batch's band rows broadcast into the index join —
    the corpus-sized side must never shuffle for a daily batch."""
    from pig_spark.queries import q100_incremental_dedup

    plan = q100_incremental_dedup(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final or "BroadcastExchange" in final, final
    assert "CartesianProduct" not in final


def test_mixture_sample_corpus_never_shuffles(spark, sf_dir):
    """operators.sampling.mixture_sample: the kept-rows side of the
    plan is scan → broadcast-join → filter; the only exchanges belong
    to the tiny per-stratum rate aggregate."""
    from pig_spark.operators.sampling import mixture_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = mixture_sample(d, "lang", "doc_id")
    final = kept._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
    # rate-table aggregation may exchange its |strata| rows; the
    # document scan itself must feed the broadcast join directly
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final


def test_r6_nested_corner_plans(spark, sf_dir):
    """q119/q120 (the r6 nested-block corner closures) keep the
    scale-safe shapes: q119's per-pipe top-k frames stitch with
    equi-joins — never a cartesian — and the COR/COV bag arguments are
    collect_lists BOUNDED by limit_n inside each frame; q120's whole
    nested block (FILTER + DISTINCT + ORDER + LIMIT + aggregates +
    FLATTEN) collapses to ONE grouped aggregate — one shuffle on the
    group key, array ops and explode after, no joins at all."""
    import re

    from pig_spark.queries import q119_latin_cor_two_pipes, q120_latin_arr_pipe_ops

    s = q119_latin_cor_two_pipes(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join Cross" not in s, s
    assert "collect_list" in s  # the bounded sorted-collect in the topk frame
    assert not unpartitioned_windows(s), unpartitioned_windows(s)

    s2 = q120_latin_arr_pipe_ops(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in s2, s2
    assert "PythonUDF" not in s2 and "EvalPython" not in s2, s2
    assert len(re.findall(r"(?m)^[\s+:-]*Aggregate", s2)) == 1, s2


def test_unigram_lm_plan(spark, sf_dir):
    """q121 (unigram-LM quality filter): the vocabulary top-V is a
    DISTRIBUTED TakeOrderedAndProject (no single-partition window);
    both cross joins are 1-row BROADCAST sides (total-count scalar,
    folded LM map); scoring is per-row array codegen — no explode-join
    and no doc_id shuffle anywhere in the physical plan."""
    from pig_spark.queries import q121_unigram_lm_score

    df = q121_unigram_lm_score(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "TakeOrderedAndProject" in phys, phys
    assert phys.count("BroadcastNestedLoopJoin") == 2, phys
    assert not unpartitioned_windows(opt), unpartitioned_windows(opt)
    # the only exchanges feed the vocabulary count + top-V and the
    # broadcasts — none hash-partition on doc_id
    assert "hashpartitioning(doc_id" not in phys, phys


def test_scripting_udf_arrow_plan(spark, sf_dir):
    """Scripting UDFs with scalar-in/scalar-out signatures run as
    Arrow-optimized Python UDFs (SPARK-40307): q122's physical plan
    shows ArrowEvalPython — Arrow batch transport, not pickled
    row-at-a-time BatchEvalPython — while call semantics stay
    per-row (VERDICT r6 #5). Bag/tuple signatures keep classic row
    mode, so complex values still arrive as Rows, not Arrow dicts."""
    from pig_spark.queries import QUERIES

    df = QUERIES["q122_latin_scripting_udf"](spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in phys, phys
    assert "BatchEvalPython" not in phys, phys


def test_tfidf_plan(spark, sf_dir):
    """q124 (TF-IDF top-terms) keeps the q121 broadcast-statistics
    shape: document frequency + top-V vocabulary are the ONLY
    shuffles (distributed TakeOrderedAndProject, no single-partition
    window); the idf map folds to a 1-row broadcast; scoring and the
    per-doc top-k are per-row array codegen — no doc_id
    hash-partitioning anywhere."""
    from pig_spark.queries import q124_tfidf_top_terms

    df = q124_tfidf_top_terms(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "TakeOrderedAndProject" in phys, phys
    assert "hashpartitioning(doc_id" not in phys, phys
    assert "PythonUDF" not in opt and "EvalPython" not in opt, opt
    assert not unpartitioned_windows(opt), unpartitioned_windows(opt)


def test_hashed_classifier_plan_map_only(spark, sf_dir):
    """q125 (hashed linear quality classifier) is MAP-ONLY: the whole
    operator — tokenize, bigrams, md5 bucket, weight sum — is per-row
    whole-stage codegen with ZERO exchanges and zero Python. This is
    the strongest scale shape an operator can have; pin it."""
    from pig_spark.queries import q125_hashed_quality_classifier

    df = q125_hashed_quality_classifier(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    # column pruning reaches the scan (doc_id + text only)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in phys, phys
    # staged projections: the feature array materializes ONCE per row —
    # the md5 hash appears in exactly one projection expression, not
    # re-inlined at every downstream reference (CollapseProject keeps
    # multiply-referenced non-cheap producers staged)
    assert phys.count("md5(") == 1, phys.count("md5(")


def test_broadcast_weight_classifier_plan_map_only(spark, sf_dir):
    """q128 (classifier with a GENUINE trained-weight array): the
    4096-double weight table ships as a broadcast 1-row column probed
    by bucket index (a literal would inline ~60 KB into codegen and
    cost a flat ~3 s janino compile — r9) — the plan must keep q125's
    effectively-map-only shape: no exchange on the corpus, the only
    join the 1-row weight broadcast, zero Python, pruned scan,
    single-md5 CSE."""
    from pig_spark.queries import q128_classifier_broadcast_weights

    df = q128_classifier_broadcast_weights(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in phys, phys
    assert "BroadcastNestedLoopJoin" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in phys, phys
    assert phys.count("md5(") == 1, phys.count("md5(")
    # the weight lookup is an element_at probe into the broadcast
    # array column, not re-derived bucket arithmetic
    assert "element_at" in phys, phys


def test_paragraph_dedup_plan_two_exchanges(spark, sf_dir):
    """q129 (paragraph-level exact dedup): exactly TWO exchanges, both
    irreducible — the md5 paragraph-key hash partitioning for the
    first-occurrence AGGREGATE and the doc_id regroup for the rebuild.
    The first-occurrence stage must be a partial-aggregated groupBy
    (min(struct) combines the hot boilerplate key map-side), NEVER a
    row_number window: a window partition gets no map-side combine and
    AQE cannot split it, so the ~50%-incidence boilerplate key would
    funnel half the corpus' paragraph rows into one task (VERDICT r8
    #1). Paragraph synthesis/hash/rebuild are whole-stage codegen — no
    Python, no Window, no broadcast, no extra shuffle."""
    from pig_spark.queries import q129_paragraph_dedup

    df = q129_paragraph_dedup(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange hashpartitioning") == 2, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "Window" not in phys, phys
    # Catalyst extracts the md5 key expr into _groupingexpression
    assert (
        "hashpartitioning(__fo_key" in phys
        or "hashpartitioning(_groupingexpression" in phys
    ), phys
    assert "hashpartitioning(doc_id" in phys, phys
    # partial (map-side) min(struct) before the key exchange
    assert "partial_min" in phys, phys


def test_first_occurrence_is_partial_aggregate(spark, sf_dir):
    """dedup.first_occurrence: the named operator itself is pinned —
    one exchange on the key, partial aggregation present, no Window
    node, output = order + keep columns with original names."""
    from pyspark.sql import functions as F

    from pig_spark.functions.dedup import first_occurrence

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars", "text"
    )
    fo = first_occurrence(d, F.md5("text"), ["doc_id"])
    assert fo.columns == ["doc_id", "n_chars", "text"]
    phys = fo._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in phys, phys
    assert phys.count("Exchange hashpartitioning") == 1, phys
    assert "partial_min" in phys, phys


def test_url_canonical_dedup_plan(spark, sf_dir):
    """q131 (canonical-URL dedup): canonicalization is per-row codegen
    in the scan projection; the ONLY exchange is the groupBy on the
    canonical key. No Python, no window, no broadcast needed."""
    from pig_spark.queries import q131_url_canonical_dedup

    df = q131_url_canonical_dedup(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange hashpartitioning") == 1, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "ReadSchema: struct<doc_id:bigint>" in phys, phys


def test_bigram_lm_plan(spark, sf_dir):
    """q130 (bigram LM with backoff): exactly ONE token-sized hash
    exchange (the bigram count — the unigram count ran once into a
    localCheckpoint) plus one vocabulary-sized bucket groupBy for the
    two-level probe maps (fold_bucketed_map — ≤12k rows, never
    data-sized); the documents scan + tokenize ran ONCE into the r12
    token-table localCheckpoint (guide §8), so the plan reads the
    checkpointed RDDs — td twice (bigram count + scoring), cnt three
    times (top-V, total, denominators) — and touches parquet zero
    times; top-V/top-B are distributed TakeOrdered; no doc_id
    partitioning, no Python."""
    from pig_spark.queries import q130_bigram_lm_perplexity

    df = q130_bigram_lm_perplexity(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert phys.count("Exchange hashpartitioning") == 2, phys
    assert phys.count("Scan parquet") == 0, phys
    assert phys.count("Scan ExistingRDD") == 5, phys
    assert phys.count("TakeOrderedAndProject") == 2, phys
    assert "hashpartitioning(doc_id" not in phys, phys
    # both remaining exchanges key on grouping expressions (the bigram
    # gram string / the pmod bucket), never on doc identity
    assert "PythonUDF" not in opt and "EvalPython" not in opt, opt
    assert not unpartitioned_windows(opt), unpartitioned_windows(opt)


def test_corpus_checkpoint_guard(spark, sf_dir, monkeypatch):
    """The corpus-scale materializations (q130's token and unigram
    tables, the q137/q138/q150 substring staging) go through
    ``materialize``'s size guard — with SPARK_GRAFT_CKPT_MAX_BYTES=0
    the stages switch from localCheckpoint to a DISK_ONLY persist: the
    plan shows an InMemoryTableScan whose cached relation still
    carries the parquet scan (lineage preserved — a lost executor
    recomputes, blocks evict under pressure), the checkpoint's
    ExistingRDD is gone, the results are row-identical, and
    ``release`` leaves no cache entry behind."""
    from pig_spark.operators.materialize import release
    from pig_spark.queries import q130_bigram_lm_perplexity, q137_exact_substring_dedup

    base130 = {tuple(r) for r in q130_bigram_lm_perplexity(spark, sf_dir).collect()}
    base137 = {tuple(r) for r in q137_exact_substring_dedup(spark, sf_dir).collect()}

    monkeypatch.setenv("SPARK_GRAFT_CKPT_MAX_BYTES", "0")
    try:
        lazy130 = q130_bigram_lm_perplexity(spark, sf_dir)
        phys = lazy130._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in phys, phys  # guard -> DISK_ONLY persist
        opt = lazy130._jdf.queryExecution().optimizedPlan().toString()
        assert "StorageLevel(disk, 1 replicas)" in opt, opt  # DISK_ONLY
        assert "Scan parquet" in phys or "FileScan parquet" in opt, opt  # lineage kept
        assert {tuple(r) for r in lazy130.collect()} == base130
        lazy137 = q137_exact_substring_dedup(spark, sf_dir)
        phys = lazy137._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in phys, phys
        assert {tuple(r) for r in lazy137.collect()} == base137
        release(lazy130)
        release(lazy137)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        spark.catalog.clearCache()


def test_materialize_disk_only_branch(spark, sf_dir, monkeypatch):
    """materialize's two branches on real data: under the threshold
    a localCheckpoint (no cache entry, lineage cut), above it a
    DISK_ONLY persist — both yield the same rows, and release removes
    the DISK_ONLY cache entry."""
    from pyspark import StorageLevel

    from pig_spark.operators.materialize import materialize, release

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.length("text").alias("n_chars")
    )
    ckpt = materialize(docs)
    assert ckpt.storageLevel == StorageLevel.NONE
    assert "LogicalRDD" in ckpt._jdf.queryExecution().optimizedPlan().toString()
    monkeypatch.setenv("SPARK_GRAFT_CKPT_MAX_BYTES", "1")
    disk = materialize(docs)
    try:
        assert disk.storageLevel == StorageLevel.DISK_ONLY
        rows = disk.collect()
        assert len(rows) > 0
        assert sorted(rows) == sorted(ckpt.collect())
        release(disk)
        assert disk.storageLevel == StorageLevel.NONE
    finally:
        disk.unpersist()


def test_dsir_plan(spark, sf_dir):
    """q126 (DSIR importance weighting): TWO vocabulary counts are the
    only shuffles; both LMs fold to 1-row broadcasts; the per-doc
    log-ratio is per-row array codegen — no doc_id hash-partitioning,
    no single-partition window, no Python."""
    from pig_spark.queries import q126_dsir_importance

    df = q126_dsir_importance(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert phys.count("TakeOrderedAndProject") == 2, phys.count("TakeOrderedAndProject")
    assert "hashpartitioning(doc_id" not in phys, phys
    assert "PythonUDF" not in opt and "EvalPython" not in opt, opt
    assert not unpartitioned_windows(opt), unpartitioned_windows(opt)


def test_exact_substring_dedup_plan(spark, sf_dir):
    """q137 (ExactSubstr-style rolling-window dedup): the hot
    boilerplate fingerprint is combined by a partial-aggregated
    first_occurrence (no Window node anywhere — a window partition is
    AQE-unsplittable); later occurrences come from an equi-join on the
    8-byte fingerprint (skew-splittable); everything else is codegen.
    No Python, no cartesian, bounded exchange count."""
    from pig_spark.queries import q137_exact_substring_dedup

    df = q137_exact_substring_dedup(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in phys, phys
    assert "partial_min" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "CartesianProduct" not in phys and "BroadcastNestedLoopJoin" not in phys, phys
    assert phys.count("Exchange hashpartitioning") <= 6, phys


def test_exact_substring_removal_plan(spark, sf_dir):
    """q138 (ExactSubstr removal): token-level removal must be
    relational — explode + anti-join + rebuild — NEVER an in-row
    membership filter (O(tokens × covered) in one task, quadratic on
    the workload's own fully-duplicated docs). No Window, partial_min
    first-occurrence, no Python, no cartesian, no higher-order filter
    over a collected coverage set (no ArrayContains inside a
    LambdaFunction)."""
    from pig_spark.queries import q138_exact_substring_removal

    df = q138_exact_substring_removal(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in phys, phys
    assert "partial_min" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "CartesianProduct" not in phys and "BroadcastNestedLoopJoin" not in phys, phys
    assert "LeftAnti" in phys, phys
    assert "array_contains" not in phys.lower(), phys


def test_perplexity_partition_plan(spark, sf_dir, checkpointed):
    """q142 (CCNet tercile partition): the corpus-sized scored table
    must never pass through an unpartitioned Window — the tercile
    rank comes from the POCounter/PORank two-pass scheme (key-domain
    aggregate + range partition + bounded offset windows), and the
    total-count tercile split is a 1-row broadcast, not a
    count() window over all rows."""
    from pig_spark.queries import q142_perplexity_partition

    df = q142_perplexity_partition(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)
    opt = _optimized(df)
    # the LM's score ordering never becomes a raw-relation window sort
    assert "windowspecdefinition(avg_logp" not in opt, opt


def test_topk_windows_have_partial_group_limit(spark, sf_dir):
    """topk_per_group and stratified_sample are skew-safe through
    Catalyst's native WindowGroupLimit: the plan must carry a PARTIAL
    group-limit BEFORE the exchange (each map task forwards ≤ k rows
    per group — the hot-group bound) and a Final one after. The r9
    hand-rolled two-level rewrite cost a consistent ~1.4× on uniform
    data (bench A/B control) for safety Catalyst already provides."""
    from pig_spark.operators.nested import topk_per_group
    from pig_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    for df in (
        topk_per_group(d, ["lang"], ["n_chars"], 5),
        stratified_sample(d, ["lang"], 5, "doc_id"),
    ):
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in p and "Partial" in p, p
        assert "Final" in p, p
        assert p.count("Exchange") == 1, p


def test_c4_rules_plan_map_only(spark, sf_dir):
    """q148 (C4 line rules): synthesis, per-line rules and the page
    rebuild are ONE codegen projection — zero exchanges, no Python,
    no Window."""
    from pig_spark.queries import q148_c4_rules

    df = q148_c4_rules(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 0, p
    assert "EvalPython" not in p and "PythonUDF" not in p, p
    assert "Window" not in p, p


def test_balanced_shards_plan(spark, sf_dir, checkpointed):
    """q149 (token-balanced shard export): NO data-sized window — the
    prefix sum is the pack_by_budget two-pass scheme (local windows
    partition by __pid; the only unpartitioned windows run over the
    tiny per-partition totals table), the manifest total is a 1-row
    broadcast, everything else codegen. No Python, no cartesian."""
    from pig_spark.queries import q149_balanced_shards

    df = q149_balanced_shards(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)


def test_incremental_substring_dedup_plan(spark, sf_dir):
    """q150 (incremental ExactSubstr): the stored-index probe is an
    equi-join on the 8-byte fingerprint (AQE-skew-splittable, never a
    cartesian), batch-internal firsts are the partial-aggregated
    min(struct) — zero Window nodes; only the NEW batch is
    fingerprinted (the old corpus contributes just its distinct-hash
    index)."""
    from pig_spark.queries import q150_incremental_substring_dedup

    df = q150_incremental_substring_dedup(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in phys, phys
    assert "partial_min" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "CartesianProduct" not in phys and "BroadcastNestedLoopJoin" not in phys, phys


def test_hcat_partition_pruning_plan(spark, sf_dir):
    """q151 (HCatalog surface): the lang filter must prune at the
    CATALOG layer — PartitionFilters on the scan (HCatLoader's
    setPartitionFilter equivalent), not a post-scan filter over every
    partition's files."""
    from pig_spark.queries import q151_hcat_partitioned

    df = q151_hcat_partitioned(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in phys and "lang" in phys.split("PartitionFilters:")[1][:120], phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys


def test_pq_encode_plan_is_map_only(spark, sf_dir):
    """q152 (PQ codes + ADC): encode + ADC distance must be ONE
    map-only codegen projection over the embedding scan — no shuffle,
    no Window, no Python, no join (codebooks and the LUT are plan
    literals; the only driver work is the 16-row codebook collect)."""
    from pig_spark.queries import q152_pq_ann

    df = q152_pq_ann(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys, phys
    assert "Window" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "Join" not in phys, phys


def test_ivfpq_probe_plan(spark, sf_dir):
    """q153 (IVF-PQ): cell pruning + ADC ranking stay one map-side
    lineage — no Window, no Python, no join (centroids/codebooks/LUT
    are plan literals); the top-k is TakeOrdered, never a global
    Sort+Exchange."""
    from pig_spark.queries import q153_ivfpq_probe

    df = q153_ivfpq_probe(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys, phys
    assert "Window" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "Join" not in phys, phys


def test_epoch_schedule_plan(spark, sf_dir):
    """q154 (epoch-repetition schedule): scoring/tiering/explode are
    map-only codegen; the ONLY exchange is the ≤7-key manifest
    aggregate with a map-side partial (the deliberately-hot-key-safe
    shape); no Window, no Python, no join."""
    from pig_spark.queries import q154_epoch_schedule

    df = q154_epoch_schedule(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange hashpartitioning") == 1, phys
    assert "partial_" in phys, phys
    assert "Window" not in phys and "Join" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys


def test_residual_ivfpq_probe_plan(spark, sf_dir):
    """q155's probe (residual IVF-PQ): the residual subtraction rides
    in the SAME map-only projection as cell assignment and encode —
    no Window, no Python, no join (centroid map, codebooks, and the
    per-cell LUTs are plan literals); top-k stays TakeOrdered, never
    a global Sort+Exchange. Identical probe shape to q153 — the
    residual path must not regress it."""
    from pig_spark.functions.similarity import EMB_DIM, ivfpq_residual_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(EMB_DIM)]
    df = ivfpq_residual_topk(e, query, k=20)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys, phys
    assert "Window" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "Join" not in phys, phys


def test_kcenter_assignment_plan_is_map_only(spark, sf_dir):
    """q156 (k-center coreset): the final assignment is ONE map-only
    codegen projection over the embedding scan — the k chosen vectors
    are plan literals; no shuffle, no Window, no Python, no join. (The
    k selection passes are each map-only + TakeOrdered(1) by
    construction — kcenter_select collects one row per pass.)"""
    from pig_spark.queries import q156_kcenter_coreset

    df = q156_kcenter_coreset(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys, phys
    assert "Window" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "Join" not in phys, phys


def test_ann_index_probe_partition_prunes(spark, sf_dir, tmp_path):
    """q157 (persisted ANN index): the probe's scan must carry the
    cell filter as PartitionFilters — non-probed cells' files never
    open (the claim every IVF/PQ scale note makes, pinned on the real
    stored layout) — and the ranking stays map-only + TakeOrdered
    with no Window/Python/Join."""
    from pig_spark.functions.similarity import (
        EMB_DIM,
        IVF_NPROBE,
        ann_index_probe,
        ann_index_store,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ann_index")
    ann_index_store(e, path)
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(EMB_DIM)]
    df = ann_index_probe(spark, path, query, k=20)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in phys, phys
    assert "cell" in phys.split("PartitionFilters:")[1][:160], phys
    assert "TakeOrderedAndProject" in phys, phys
    assert "Window" not in phys and "Join" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    # the scan reads CODES, never vectors
    assert "embedding" not in phys.split("ReadSchema:")[-1], phys


def test_ann_index_roundtrip_matches_inmemory_probe(spark, sf_dir, tmp_path):
    """q157's contract: the stored index reproduces the in-memory q153
    probe bit-for-bit (same ids, cells, and rounded distances) — an
    index that changes answers is a bug, not an optimization."""
    from pig_spark.functions.similarity import (
        EMB_DIM,
        ann_index_probe,
        ann_index_store,
        ivfpq_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ann_index")
    ann_index_store(e, path)
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(EMB_DIM)]
    stored = [
        (r["vec_id"], r["cell"], r["adc_dist"])
        for r in ann_index_probe(spark, path, query, k=20).collect()
    ]
    direct = [
        (r["vec_id"], r["cell"], r["adc_dist"])
        for r in ivfpq_topk(e, query, k=20).collect()
    ]
    assert stored == direct


def test_sequence_manifest_plan(spark, sf_dir, checkpointed):
    """q158 (fixed-length sequence assembly): the prefix sum is the
    pack_by_budget two-pass scheme (local windows partition by __pid;
    the only unpartitioned window runs over the tiny per-partition
    totals table), the offsets table is a broadcast join, the explode
    is spans-sized in the same map stage. No Python, no cartesian."""
    from pig_spark.queries import q158_sequence_manifest

    df = q158_sequence_manifest(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)
    phys = _executed(df)
    assert "BroadcastHashJoin" in phys, phys
    assert "Generate explode" in phys or "Generate" in phys, phys


def test_sequence_gather_plan(spark, sf_dir, checkpointed):
    """q159 (sequence gather): ONE doc_id equi-join + ONE seq_id
    groupBy whose in-group assembly is an array_sort over a ≤ L-token
    bag — no Window anywhere, no Python, no cartesian."""
    from pig_spark.queries import q159_sequence_gather

    df = q159_sequence_gather(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)


def test_bpe_sequence_pack_plan(spark, sf_dir, checkpointed):
    """q161 (BPE-id sequence packing): the segmentation join's build
    side is the word-type dictionary — vocabulary-sized by
    construction, broadcast explicitly (the VERDICT r11 'stays
    vocabulary-sized' pin); the prefix sum is the two-pass scheme
    (no data-sized window partition); no Python, no cartesian."""
    from pig_spark.queries import q161_bpe_sequence_pack

    df = q161_bpe_sequence_pack(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)
    phys = _executed(df)
    assert "BroadcastHashJoin" in phys, phys


def test_strict_pack_plan(spark, sf_dir, checkpointed):
    """q162 (strict-cap packing): coarse buckets via the two-pass
    prefix sum (local windows partition by __pid — never a data-sized
    partition), the exact greedy fold runs IN-ROW over budget-bounded
    bags (no Python), assignments join back on the unique order key —
    no cartesian anywhere."""
    from pig_spark.queries import q162_strict_pack

    df = q162_strict_pack(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)


def test_loader_batches_plan(spark, sf_dir, checkpointed):
    """q163 (loader micro-batches): q160's two-pass rank + ONE tiny
    count aggregate broadcast back (the scalar-projection idiom) —
    the cross join must be a broadcast of the 1-row count, never a
    CartesianProduct; batching is map-only integer codegen."""
    from pig_spark.queries import q163_loader_batches

    df = q163_loader_batches(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)
    phys = _executed(df)
    assert "BroadcastNestedLoopJoin" in phys, phys


def test_source_mixture_plan(spark, sf_dir):
    """q164 (temperature mixture draw): the per-source without-
    replacement draw must lower to Partial+Final WindowGroupLimit
    (the literal rn ≤ 200 bound) so a source's billions of rows are
    capped MAP-SIDE before the exchange — never a full data-sized
    window partition; quota/weight ride as literal maps (no join);
    no Python, no cartesian."""
    from pig_spark.queries import q164_source_mixture

    df = q164_source_mixture(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "CartesianProduct" not in phys, phys


def test_fim_transform_plan(spark, sf_dir):
    """q165 (fill-in-the-middle): pure map-only codegen — tokenize,
    two md5-mod cut draws, three slices, concat. NO exchange of any
    kind, no window, no Python."""
    from pig_spark.queries import q165_fim_transform

    df = q165_fim_transform(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys, phys
    assert "Window" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys


def test_length_buckets_plan(spark, sf_dir):
    """q166 (length-bucket padding accounting): map-only bucket CASE
    ladder + ONE partial-aggregated groupBy on a ≤9-value key — a
    single exchange, partial aggregation before it."""
    from pig_spark.queries import q166_length_buckets

    df = q166_length_buckets(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange") <= 2, phys  # agg shuffle (+ AQE read)
    assert "HashAggregate" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys


def test_epoch_shuffle_plan(spark, sf_dir, checkpointed):
    """q160 (per-epoch loader order): the position comes from the
    two-pass distributed RANK — no data-sized single-partition
    window anywhere in the plan; no Python, no cartesian."""
    from pig_spark.queries import q160_epoch_shuffle

    df = q160_epoch_shuffle(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)


def test_sequence_store_rank_read_partition_prunes(spark, sf_dir):
    """q167 (persisted sequence store): a loader rank reading its
    contiguous seq_id range must prune to its seq_id BLOCKS via
    PartitionFilters — non-owned blocks' files never open (the q157
    deployment claim applied to the loader artifact) — and the
    stored-side read is a bare columnar scan: no shuffle, no window,
    no Python."""
    from pig_spark.queries import ensure_sequence_store

    path = ensure_sequence_store(spark, sf_dir)
    rank_read = (
        spark.read.parquet(f"{path}/sequences")
        .where("part >= 0 AND part <= 0")
        .select("seq_id", "n_spans", "toks")
    )
    phys = rank_read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in phys, phys
    assert "part" in phys.split("PartitionFilters:")[1][:160], phys
    assert "Exchange" not in phys, phys
    assert "Window" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys


def test_sequence_store_roundtrip_matches_inmemory_gather(spark, sf_dir):
    """q167's contract: the persisted store read back from disk
    reproduces the in-memory q159 gather bit-for-bit (same seq_ids,
    span counts, token counts, and assembled-stream fingerprints) —
    a loader artifact that changes bytes is a bug."""
    from pig_spark.queries import (
        q159_sequence_gather,
        q167_sequence_store_roundtrip,
    )

    want = {tuple(r) for r in q159_sequence_gather(spark, sf_dir).collect()}
    got = {tuple(r) for r in q167_sequence_store_roundtrip(spark, sf_dir).collect()}
    assert got == want and len(want) > 0


def test_sft_mask_pack_plan(spark, sf_dir, checkpointed):
    """q168 (SFT loss-mask packing): the manifest's two-pass prefix
    sum is the only window machinery — no data-sized (unpartitioned)
    window beyond the config-sized offsets table, no Python, no
    cartesian; the mask join is an equi-join (SortMerge/Hash, never
    BroadcastNestedLoop over data)."""
    from pig_spark.queries import q168_sft_mask_pack

    df = q168_sft_mask_pack(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)
    phys = _executed(df)
    assert "BroadcastNestedLoopJoin" not in phys, phys


def test_tokenizer_fertility_plan(spark, sf_dir):
    """q169 (segmentation profile): after stage_word_types' one
    token-sized shuffle everything is vocabulary-sized — the profile
    itself is one partial-aggregated groupBy on the piece-count key;
    no Python, no cartesian."""
    from pig_spark.queries import q169_tokenizer_fertility

    df = q169_tokenizer_fertility(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "CartesianProduct" not in phys, phys


def test_ffd_pack_plan(spark, sf_dir, checkpointed):
    """q170 (FFD packing): bags are coarse-bucket-bounded aggregates,
    the FFD fold is in-row codegen (no Python anywhere), assignments
    come back via an equi-join — no cartesian, no data-sized
    (unpartitioned) window beyond the tiny offsets table."""
    from pig_spark.queries import q170_ffd_pack

    df = q170_ffd_pack(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)
    phys = _executed(df)
    assert "BroadcastNestedLoopJoin" not in phys, phys


def test_bm25_topk_plan(spark, sf_dir):
    """q171 (BM25): query terms and the 1-row statistics broadcast;
    the top-5-per-query literal bound lowers to Partial+Final
    WindowGroupLimit (map-side cap before the exchange); no Python,
    no cartesian; the only BroadcastNestedLoopJoin is the 1-row
    statistics scalar (the q163 scalar-projection class)."""
    from pig_spark.queries import q171_bm25_topk

    df = q171_bm25_topk(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in phys, phys
    assert "BroadcastHashJoin" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "CartesianProduct" not in phys, phys


def test_position_ids_plan(spark, sf_dir, checkpointed):
    """q172 (position/segment ids): built entirely in-row over the
    ≤ L-token per-sequence bags — the position stream is never
    exploded; the only window machinery is the manifest's two-pass
    prefix sum; no Python, no cartesian."""
    from pig_spark.queries import q172_position_ids

    df = q172_position_ids(spark, sf_dir)
    _assert_scale_safe(df, checkpointed)
    phys = _executed(df)
    assert "Generate" not in phys.split("HashAggregate")[0], phys


def test_ann_batch_probe_plan_and_parity(spark, sf_dir, tmp_path):
    """q173 (batch ANN probe): ONE pruned scan serves every query —
    PartitionFilters carry the union-of-cells filter, the query fan-
    out is a BroadcastHashJoin on cell, per-query top-k lowers to
    WindowGroupLimit, the scan never reads vectors, and no Python
    anywhere. Parity: each query's batch rows are bit-identical to
    its own single ann_index_probe call."""
    from pig_spark.functions.similarity import (
        EMB_DIM,
        _lcg_floats,
        ann_index_batch_probe,
        ann_index_probe,
        ann_index_store,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ann_index")
    ann_index_store(e, path)
    queries = [(i, _lcg_floats(7100 + i, EMB_DIM)) for i in range(4)]
    batch = ann_index_batch_probe(spark, path, queries, k=10)
    phys = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in phys, phys
    assert "cell" in phys.split("PartitionFilters:")[1][:200], phys
    assert "BroadcastHashJoin" in phys, phys
    assert "WindowGroupLimit" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "embedding" not in phys.split("ReadSchema:")[-1], phys

    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], set()).add(
            (r["vec_id"], r["cell"], r["adc_dist"])
        )
    for qid, q in queries:
        want = {
            (r["vec_id"], r["cell"], r["adc_dist"])
            for r in ann_index_probe(spark, path, q, k=10).collect()
        }
        assert got[qid] == want and len(want) == 10, qid


def test_ann_index_compact_preserves_probes(spark, sf_dir, tmp_path):
    """ann_index_compact: after a streamed-style multi-append (many
    files per cell), compaction leaves ONE data file per cell and
    every probe — single and batch — answers bit-identically; the
    sidecar rides along through the Hadoop FS API."""
    import glob

    from pig_spark.functions.similarity import (
        EMB_DIM,
        _lcg_floats,
        ann_index_batch_probe,
        ann_index_compact,
        ann_index_probe,
        ann_index_store,
        ivf_assign,
        pq_encode,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    mid = e.count() // 2
    idx = str(tmp_path / "ann_index")
    model = ann_index_store(e.where(f"vec_id < {mid}"), idx)
    # simulate streamed appends: second half in 3 separate appends
    centroids = [(int(c), [float(x) for x in v]) for c, v in model["centroids"]]
    cbs = model["codebooks"]
    rest = pq_encode(
        ivf_assign(e.where(f"vec_id >= {mid}"), centroids), cbs,
        keep=["__cell"],
    ).select("vec_id", F.col("__cell").alias("cell"), "codes")
    for i in range(3):
        rest.where(f"vec_id % 3 = {i}").write.mode("append").partitionBy(
            "cell"
        ).parquet(idx)

    compacted = str(tmp_path / "ann_index_compact")
    ann_index_compact(spark, idx, compacted)
    per_cell = {}
    for f in glob.glob(f"{compacted}/cell=*/*.parquet"):
        cell = f.split("cell=")[1].split("/")[0]
        per_cell[cell] = per_cell.get(cell, 0) + 1
    assert per_cell and all(n == 1 for n in per_cell.values()), per_cell

    q = _lcg_floats(7100, EMB_DIM)
    before = [tuple(r) for r in ann_index_probe(spark, idx, q, k=20).collect()]
    after = [
        tuple(r) for r in ann_index_probe(spark, compacted, q, k=20).collect()
    ]
    assert before == after and len(after) == 20
    queries = [(i, _lcg_floats(7100 + i, EMB_DIM)) for i in range(3)]
    b_before = {
        tuple(r) for r in ann_index_batch_probe(spark, idx, queries, 10).collect()
    }
    b_after = {
        tuple(r)
        for r in ann_index_batch_probe(spark, compacted, queries, 10).collect()
    }
    assert b_before == b_after and len(b_after) == 30


def test_epoch_budget_planner_plan(spark, sf_dir):
    """q174 (budget planner): ONE partial-aggregated groupBy over the
    token-sized scan; the planner table joins back as a BROADCAST
    hash join; no Python, no cartesian, no window."""
    from pig_spark.queries import q174_epoch_budget_planner

    df = q174_epoch_budget_planner(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in phys, phys
    assert "BroadcastHashJoin" in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    assert "CartesianProduct" not in phys, phys
    assert "Window" not in phys, phys


def test_ann_recall_report_plan(spark, sf_dir):
    """q175 (recall report): the probe and exact top-k run the pinned
    Spark plans; the two 20-row results rank driver-side (model-sized
    exception class — no window anywhere, so the catalog-wide
    unpartitioned-window audit stays clean); recall@k is monotone
    bounds-correct and recall@20 intersects two same-corpus top-20s."""
    from pig_spark.queries import q175_ann_recall_report

    df = q175_ann_recall_report(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in phys, phys
    assert "PythonUDF" not in phys and "EvalPython" not in phys, phys
    rows = {r["k"]: r for r in df.collect()}
    assert set(rows) == {1, 5, 10, 20}
    for k, r in rows.items():
        assert 0 <= r["n_overlap"] <= k
    # overlap is monotone in k
    assert (
        rows[1]["n_overlap"] <= rows[5]["n_overlap"]
        <= rows[10]["n_overlap"] <= rows[20]["n_overlap"]
    )
