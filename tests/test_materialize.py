"""Stored rows belong to the query that stores them
(operators/materialize.py): no query leaves an entry in Spark's
session-wide CacheManager, where a later plan that ``sameResult``s it
would be served the old rows, and ``release`` frees what a query
stored."""

import os
import shutil
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from verify_local import rows_to_multiset  # noqa: E402

# Queries whose stores ``release(df)`` cannot reach from the returned
# frame, with the reason. Each is a store read once by another store,
# which cuts its lineage; the ContextCleaner frees it once the JVM
# collects the frame that made it.
UNREACHABLE = {
    "q142_perplexity_partition": "q130's token and unigram stores sit under the scored table's store",
    "q160_epoch_shuffle": "the span running sums and the keyed manifest sit under the rank's store",
    "q163_loader_batches": "q160's frame: the same two stores under the rank's store",
    "q167_sequence_store_roundtrip": "sequence_store's spans and their running sums are written to "
    "parquet; the result reads the files back",
}


def test_rewritten_input_is_read_again(spark, sf_dir, tmp_path):
    """q41 and q42 run over a copy of documents.parquet, the copy is
    rewritten outside Spark (40 identical texts: 780 pairs), and the
    same session runs both again: each result equals the DuckDB
    oracle over the file as it is at that moment."""
    import duckdb

    from pig_spark.oracles import oracle_sql
    from pig_spark.operators.materialize import release
    from pig_spark.queries import q41_minhash_pairs, q42_ngram_jaccard

    src = f"{sf_dir}/documents.parquet"
    dst = tmp_path / "documents.parquet"
    shutil.copy(src, dst)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{dst}'")
    oracles = oracle_sql()
    queries = {"q41_minhash_pairs": q41_minhash_pairs, "q42_ngram_jaccard": q42_ngram_jaccard}

    def check(n_pairs=None):
        for name, fn in queries.items():
            df = fn(spark, str(tmp_path))
            got = rows_to_multiset(df.collect(), df.columns)
            res = con.execute(oracles[name])
            want = rows_to_multiset(res.fetchall(), [d[0] for d in res.description])
            release(df)
            assert got == want, (name, len(got), len(want))
            assert n_pairs is None or len(got) == n_pairs, (name, len(got))

    check()
    same = f"(SELECT text FROM '{src}' WHERE length(text) > 200 ORDER BY doc_id LIMIT 1)"
    con.execute(
        f"COPY (SELECT * REPLACE ({same} AS text) FROM '{src}' ORDER BY doc_id LIMIT 40) "
        f"TO '{dst}' (FORMAT PARQUET)"
    )
    check(n_pairs=40 * 39 // 2)


def test_no_query_leaves_a_store(spark, sf_dir):
    """Every catalog query, run to the noop sink, leaves the
    CacheManager empty, and after ``release`` of its frame no stored
    RDD it created remains (bar the UNREACHABLE list)."""
    from pig_spark.operators.materialize import release
    from pig_spark.queries import QUERIES

    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    cached, stored = [], []
    for name, fn in QUERIES.items():
        before = set(jsc.getPersistentRDDs().keySet())
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        if not cache.isEmpty():
            cached.append(name)
            spark.catalog.clearCache()
        release(df)
        if name not in UNREACHABLE and set(jsc.getPersistentRDDs().keySet()) - before:
            stored.append(name)
    assert not cached, f"cache entries left by {cached}"
    assert not stored, f"stored RDDs left after release by {stored}"
