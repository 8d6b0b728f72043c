"""Plan-building cost on the corpus queries: py4j round trips per warm
build (stats.count_py4j), and the SQL-template contracts that keep the
cheap build equal to the Column-built plan it replaced."""

import pytest
from pyspark.sql import functions as F

from pig_spark.stats import count_py4j

# Ceilings are a quarter of the per-build py4j calls of the Column-built
# versions on the sf0.001 documents (the fewest of three warm builds):
# q41 2,348, q87 4,151, q125 486, q129 850.
BUDGETS = {
    "q41_minhash_pairs": 587,
    "q87_dedup_groups": 1037,
    "q125_hashed_quality_classifier": 121,
    "q129_paragraph_dedup": 212,
}


def test_count_py4j_counts_and_restores(spark):
    client = spark.sparkContext._gateway._gateway_client
    with count_py4j(spark) as calls:
        spark.range(3).selectExpr("id + 1 AS x")
    assert calls.total > 0
    assert sum(calls.by_command.values()) == calls.total
    assert "send_command" not in vars(client)


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_corpus_build_py4j_budget(spark, sf_dir, name):
    """A warm build of each corpus query stays within its py4j budget.
    Proxy deletes of earlier objects can land inside any one window,
    so the fewest calls of three builds is judged."""
    from pig_spark.queries import QUERIES

    build = QUERIES[name]
    build(spark, sf_dir)
    counts = []
    for _ in range(3):
        with count_py4j(spark) as calls:
            build(spark, sf_dir)
        counts.append(calls.total)
    assert min(counts) <= BUDGETS[name], (counts, calls.by_command.most_common(8))


def _lambda_bodies(expr: str) -> list[str]:
    """The argument text of every ``lambdafunction(...)`` in a plan string."""
    bodies, start = [], expr.find("lambdafunction(")
    while start != -1:
        depth = 0
        for end in range(start + len("lambdafunction"), len(expr)):
            depth += {"(": 1, ")": -1}.get(expr[end], 0)
            if depth == 0:
                break
        bodies.append(expr[start + len("lambdafunction("):end])
        start = expr.find("lambdafunction(", start + 1)
    return bodies


def _column_built_signatures(docs):
    """The signature stage as it was built from Columns: tokenize,
    sliding shingles, md5_32 per shingle, K permuted mins."""
    from pig_spark.functions.dedup import MINHASH_A, MINHASH_B, MINHASH_PRIME, SHINGLE_N, md5_32
    from pig_spark.functions.text import sliding_grams, tokenize_ws

    def perm(a, b):
        return lambda h: (h * a + b) % MINHASH_PRIME

    staged = docs.select(F.col("doc_id"), tokenize_ws(F.lower(F.col("text"))).alias("__t"))
    sh = F.array_distinct(sliding_grams(F.col("__t"), SHINGLE_N, clamp_to_one=True))
    shingled = staged.select(F.col("doc_id"), sh.alias("__sh"))
    hashed = shingled.select(F.col("doc_id"), F.col("__sh"), F.transform("__sh", md5_32).alias("__h"))
    sig = F.array(*[F.array_min(F.transform(F.col("__h"), perm(a, b))) for a, b in zip(MINHASH_A, MINHASH_B)])
    return hashed.select(F.col("doc_id"), sig.alias("signature"))


def test_signature_template_matches_column_built_plan(spark, sf_dir):
    """The SQL-template signature stage has the same optimized plan as
    the Column-built one, so its rows are equal by construction."""
    from pig_spark.functions.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmpl = minhash_signatures(docs, "text", "doc_id")
    ref = _column_built_signatures(docs)
    opt = lambda df: df._jdf.queryExecution().optimizedPlan()  # noqa: E731
    assert tmpl.schema == ref.schema
    assert opt(tmpl).sameResult(opt(ref)), (opt(tmpl).toString(), opt(ref).toString())


def test_signature_projection_nests_no_lambda(spark, sf_dir):
    """The r12 rule: the signature is K top-level transform trees, and
    no lambda sits inside another lambda's body (a nested lambda drops
    the whole tree to interpreted per-element evaluation)."""
    from pig_spark.functions.dedup import MINHASH_K, minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = minhash_signatures(docs, "text", "doc_id")._jdf.queryExecution().analyzed()
    projection = plan.toString().splitlines()[0]
    assert "AS signature" in projection, projection
    bodies = _lambda_bodies(projection)
    assert len(bodies) == MINHASH_K, projection
    assert projection.count("transform(") == MINHASH_K, projection
    assert not [b for b in bodies if "lambdafunction(" in b], projection
    assert _lambda_bodies("f(lambdafunction(g(lambdafunction(x, x)), y))")[0].count("lambdafunction(") == 1
