"""Regression gate for the two-pass prefix sum behind RANK and packing.

Every consumer of ``operators/prefix.running_sums`` is compared with a
single-window DuckDB reference on 200k rows in 8 input partitions,
under the default ``get_spark`` shuffle width (AQE on, 32 shuffle
partitions). At this size AQE coalesces differently-pruned reads of one
range exchange differently, so a scheme that derives row positions and
partition offsets from two evaluations of the partition layout drops
and duplicates rows. The oracle scales (sf0.001–sf0.1) are too small
for that defect to show; this file is the gate that sees it.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pig_spark import Relation
from pig_spark.operators.packing import balanced_shards, pack_by_budget, sequence_spans
from pig_spark.operators.rank import rank
from pig_spark.session import DEFAULT_SHUFFLE_PARTITIONS

N = 200_000


@pytest.fixture(scope="module")
def wide(spark):
    """The session at get_spark's default shuffle width for this
    module; the suite-wide fixture runs narrower."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(DEFAULT_SHUFFLE_PARTITIONS))
    yield spark
    spark.conf.set(key, old)


@pytest.fixture(scope="module")
def docs(wide):
    # k unique; v has ties (rank BY); tok has zeros (sequence_spans
    # drops them); source is a shard key with a null shard
    return wide.range(0, N, 1, numPartitions=8).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7919) % 1000).alias("v"),
        ((F.col("id") * 37) % 50).alias("tok"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise((F.col("id") % 5).cast("string"))
        .alias("source"),
    )


@pytest.fixture(scope="module")
def grouped(docs):
    """The same rows, coming out of a shuffle (the RANK-after-GROUP
    shape)."""
    return docs.groupBy("k").agg(F.max("v").alias("v"), F.count(F.lit(1)).alias("n"))


@pytest.fixture(scope="module")
def docs_pd(docs):
    return docs.toPandas()


def _norm(out, cols):
    out = out[cols].astype({c: "int64" for c in cols if c != "source"})
    return out.sort_values(cols).reset_index(drop=True)


def _pd(df, cols):
    return _norm(df.select(*cols).toPandas(), cols)


def _ref(sql, docs_pd, cols):
    return _norm(duckdb.query_df(docs_pd, "docs", sql).df(), cols)


def test_rank_no_by_after_group_numbers_every_row_once(grouped):
    got = _pd(rank(grouped, by=[], name="r"), ["k", "r"])
    assert len(got) == N
    assert got["k"].tolist() == list(range(N))
    assert sorted(got["r"]) == list(range(1, N + 1))


def test_rank_unique_keys_matches_single_window(grouped, docs_pd):
    got = _pd(rank(grouped, by=[F.col("v"), F.col("k")], unique_keys=True, name="r"), ["k", "r"])
    want = _ref("SELECT k, row_number() OVER (ORDER BY v, k) AS r FROM docs", docs_pd, ["k", "r"])
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("dense", [False, True])
def test_rank_with_ties_matches_single_window(grouped, docs_pd, dense):
    fn = "dense_rank" if dense else "rank"
    got = _pd(rank(grouped, by=[F.col("v")], ascending=False, dense=dense, name="r"), ["k", "r"])
    want = _ref(f"SELECT k, {fn}() OVER (ORDER BY v DESC) AS r FROM docs", docs_pd, ["k", "r"])
    pd.testing.assert_frame_equal(got, want)


def test_pack_by_budget_sharded_matches_single_window(docs, docs_pd):
    cols = ["k", "source", "bucket"]
    got = _pd(pack_by_budget(docs, "tok", 2000, shard="source", order="k"), cols)
    want = _ref(
        """SELECT k, source, CAST(floor((sum(tok) OVER (PARTITION BY source ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok) / 2000) AS BIGINT) AS bucket
           FROM docs""",
        docs_pd,
        cols,
    )
    pd.testing.assert_frame_equal(got, want)


def test_balanced_shards_matches_single_window(docs, docs_pd):
    cols = ["k", "shard"]
    got = _pd(balanced_shards(docs, "tok", 8, order="k"), cols)
    want = _ref(
        """SELECT k, least(7, (sum(tok) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) - tok) * 8 // sum(tok) OVER ()) AS shard
           FROM docs""",
        docs_pd,
        cols,
    )
    pd.testing.assert_frame_equal(got, want)


def test_sequence_spans_matches_single_window(docs, docs_pd):
    cols = ["seq_id", "k", "start_in_doc", "start_in_seq", "span_len"]
    got = _pd(sequence_spans(docs, "tok", 512, order="k", id_col="k"), cols)
    want = _ref(
        """WITH d AS (
             SELECT k, tok AS n, CAST(sum(tok) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) - tok AS BIGINT) AS off
             FROM docs WHERE tok > 0),
           s AS (SELECT *, unnest(range(off // 512, (off + n - 1) // 512 + 1)) AS seq_id FROM d)
           SELECT seq_id, k,
                  greatest(off, seq_id * 512) - off AS start_in_doc,
                  greatest(off, seq_id * 512) - seq_id * 512 AS start_in_seq,
                  least(off + n, seq_id * 512 + 512) - greatest(off, seq_id * 512) AS span_len
           FROM s""",
        docs_pd,
        cols,
    )
    pd.testing.assert_frame_equal(got, want)
    assert got["span_len"].sum() == docs_pd["tok"].sum()


def test_relation_and_latin_rank_return_every_row_once(wide, docs, grouped, tmp_path):
    """The user-facing RANK surfaces, with and without BY, over a
    grouped relation of the regression size."""
    from pig_spark.latin import run

    rel = Relation(grouped)
    plain = _pd(rel.rank(name="r").df, ["k", "r"])
    assert plain["k"].tolist() == list(range(N))
    assert sorted(plain["r"]) == list(range(1, N + 1))
    by = _pd(rel.rank("v", ascending=False, dense=True, name="r").df, ["k", "r"])
    assert by["k"].tolist() == list(range(N))
    assert sorted(set(by["r"])) == list(range(1, 1001))

    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    rels = run(
        wide,
        f"""
        d = LOAD '{path}' USING ParquetLoader();
        g = GROUP d BY k;
        f = FOREACH g GENERATE group AS k, MAX(d.v) AS v;
        r = RANK f;
        rb = RANK f BY v DESC DENSE;
        """,
    )
    plain = _pd(rels["r"].df, ["k", "rank_f"])
    assert plain["k"].tolist() == list(range(N))
    assert sorted(plain["rank_f"]) == list(range(1, N + 1))
    by = _pd(rels["rb"].df, ["k", "rank_f"])
    assert by["k"].tolist() == list(range(N))
    assert sorted(set(by["rank_f"])) == list(range(1, 1001))


def _stored_rdd_ids(df):
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


def test_building_a_rank_runs_the_input_shuffle_stages(wide):
    """The stored layout is built with the frame, not with its first
    action: every shuffle stage below the stored rows runs as a job
    while the ranked frame is BUILT (the final stage stays lazy)."""
    from pig_spark.operators.materialize import release

    sc = wide.sparkContext
    scan = wide.range(0, 2000, 1, numPartitions=4).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    grouped_small = scan.groupBy("v").agg(F.count(F.lit(1)).alias("n"))

    def build_jobs(label, build):
        sc.setJobGroup(label, label)
        try:
            built = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        release(built)
        return len(sc.statusTracker().getJobIdsForGroup(label))

    # scan input, no order: nothing below the stored rows to run
    assert build_jobs("rank_scan", lambda: rank(scan, by=[])) == 0
    # the input's own shuffle (the GROUP)
    assert build_jobs("rank_grouped", lambda: rank(grouped_small, by=[])) == 1
    # range bounds sample + range shuffle
    assert build_jobs("rank_unique", lambda: rank(scan, by=[F.col("k")], unique_keys=True)) == 2
    # key-domain aggregate + range bounds sample + range shuffle
    assert build_jobs("rank_by", lambda: rank(scan, by=[F.col("v")])) == 3


def test_release_frees_the_stored_rows(wide):
    from pig_spark.operators.materialize import release

    jsc = wide.sparkContext._jsc
    out = pack_by_budget(wide.range(0, 1000, 1, numPartitions=4), F.lit(3), 100, order="id")
    (stored,) = _stored_rdd_ids(out)
    assert out.count() == 1000
    assert jsc.getPersistentRDDs().containsKey(stored)
    release(out)
    assert not jsc.getPersistentRDDs().containsKey(stored)
