"""Structured Streaming wrappers (additive capability — Pig is
batch-only, SURVEY §2.6): windowed counts with watermarks over an
unbounded source, exercised with the rate source + memory sink."""

import time

import pytest
from pyspark.sql import functions as F

from pig_spark.streaming import read_stream, windowed_count


def test_windowed_count_rate_source(spark):
    src = read_stream(spark, "rate", rowsPerSecond=50)
    counts = windowed_count(src, "timestamp", "1 second", watermark="0 seconds")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM win_counts").collect()
            if len(rows) >= 2:
                break
            time.sleep(0.5)
        assert len(rows) >= 2, "expected ≥2 windows of rate data"
        assert all(r["count"] > 0 for r in rows)
        assert all(r["window"]["end"] > r["window"]["start"] for r in rows)
    finally:
        q.stop()


def test_stream_filter_compose(spark):
    """The DSL's transformations compose onto streaming DataFrames."""
    src = read_stream(spark, "rate", rowsPerSecond=100)
    filtered = src.filter(F.col("value") % 2 == 0).select("timestamp", "value")
    assert filtered.isStreaming
    q = filtered.writeStream.format("memory").queryName("evens").outputMode("append").start()
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM evens").collect()
            if len(rows) >= 5:
                break
            time.sleep(0.5)
        assert len(rows) >= 5
        assert all(r["value"] % 2 == 0 for r in rows)
    finally:
        q.stop()


def test_session_counts_rate_source(spark):
    """session_window sessions over the rate source: continuous 10/s
    events with a large gap collapse into one growing session per key."""
    from pig_spark.streaming import session_counts

    src = read_stream(spark, "rate", rowsPerSecond=10)
    keyed = src.select("timestamp", (F.col("value") % 2).alias("k"))
    sessions = session_counts(keyed, "timestamp", "10 seconds", keys=["k"], watermark="0 seconds")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM sess").collect()
            if len(rows) >= 2 and all(r["count"] > 0 for r in rows):
                break
            time.sleep(0.5)
        assert len(rows) >= 2
        keys = {r["k"] for r in rows}
        assert keys == {0, 1}
        assert all(r["session_window"]["end"] >= r["session_window"]["start"] for r in rows)
    finally:
        q.stop()


def test_file_stream_matches_batch(spark, sf_dir, tmp_path):
    """Batch/streaming parity: the same windowed count over
    events.parquet via readStream (availableNow, bounded) equals the
    batch aggregation — one pipeline definition, two execution modes."""
    from pig_spark.functions import event_ts

    batch_df = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema = batch_df.schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )

    def pipeline(df):
        ts = event_ts(df)
        return (
            df.where(F.col("event_type").isNotNull())
            .groupBy(F.window(ts, "1 hour"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q = (
        pipeline(src)
        .writeStream.format("memory")
        .queryName("file_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM file_win").collect()
    }
    exp = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in pipeline(batch_df).collect()
    }
    assert got == exp and len(got) > 10


def test_stateful_funnel_matches_batch(spark, sf_dir, tmp_path):
    """Custom stateful operator (applyInPandasWithState): streaming
    funnel detection carries per-user state across micro-batches
    (maxFilesPerTrigger=1 over time-ordered files) and emits exactly
    the batch operator's completed funnels."""
    import shutil
    from pathlib import Path

    from pig_spark.functions import event_ts_us
    from pig_spark.operators.temporal import funnel
    from pig_spark.streaming import stateful_funnel

    steps = ["view", "click", "purchase"]
    e_raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = e_raw.select("user_id", event_ts_us(e_raw).alias("ts"), "event_type")
    # three contiguous time ranges → per-user event order is preserved
    # across files, so cross-batch state must reproduce batch exactly
    b1, b2 = e.selectExpr("percentile(ts, 0.33)", "percentile(ts, 0.66)").first()
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    parts = [
        e.filter(F.col("ts") <= b1),
        e.filter((F.col("ts") > b1) & (F.col("ts") <= b2)),
        e.filter(F.col("ts") > b2),
    ]
    for i, part in enumerate(parts):
        tmp = tmp_path / f"w{i}"
        part.coalesce(1).write.parquet(str(tmp))
        pq = next(Path(tmp).glob("*.parquet"))
        shutil.move(str(pq), stream_dir / f"{i:02d}.parquet")

    src = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    q = (
        stateful_funnel(src, steps)
        .writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 3, "expected one micro-batch per file"
    got = {
        (r["user_id"], r["t0"], r["t1"], r["t2"])
        for r in spark.sql("SELECT * FROM funnel_stream").collect()
    }
    exp = {
        (r["user_id"], r["t0"], r["t1"], r["t2"])
        for r in funnel(e, steps).filter("completed").collect()
    }
    assert got == exp and len(got) > 0


def test_dedup_stream_matches_batch(spark, sf_dir):
    """Streaming exact-dedup (dropDuplicatesWithinWatermark) over a
    bounded availableNow run equals batch dropDuplicates when all
    duplicates fall inside the watermark horizon."""
    from pig_spark.functions import event_ts
    from pig_spark.streaming import dedup_stream

    batch_df = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema = batch_df.schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )

    def prep(df):
        return df.withColumn("event_ts", event_ts(df))

    deduped = dedup_stream(prep(src), ["user_id", "event_type"], "event_ts", watermark="365 days")
    q = (
        deduped.groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("dedup_ct")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM dedup_ct").collect()[0]["count"]
    exp = prep(batch_df).dropDuplicates(["user_id", "event_type"]).count()
    assert got == exp > 0


def test_canonical_url_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Crawl-ingest URL dedup as a stream: canonical_url (stateless
    per-row codegen, applies to a readStream unchanged) feeding
    dedup_stream on the canonical key — the streaming twin of q131.
    The four messy surface forms of each page collapse to ONE stream
    row, matching the batch distinct-canonical count."""
    from pyspark.sql import functions as F

    from pig_spark.functions.text import canonical_url
    from pig_spark.streaming import dedup_stream

    batch_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def prep(df):
        p = F.floor(F.col("doc_id") / 4).cast("long").cast("string")
        url = (
            F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("https://example.com/p/"), p))
            .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("HTTPS://WWW.EXAMPLE.COM:443/p/"), p, F.lit("#f")))
            .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("https://example.com/p/"), p, F.lit("/?utm_source=x")))
            .otherwise(F.concat(F.lit("https://example.com/p/"), p, F.lit("?fbclid=z")))
        )
        return df.select(
            "doc_id",
            canonical_url(url).alias("curl"),
            F.timestamp_seconds(F.lit(0) + F.col("doc_id")).alias("ts"),
        )

    q = (
        dedup_stream(prep(src), ["curl"], "ts", watermark="365 days")
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("curl_dedup")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM curl_dedup").collect()[0]["count"]
    exp = prep(batch_df).select("curl").distinct().count()
    assert got == exp > 0
    # and the canonicalization actually collapsed the 4 variants/page
    assert exp == batch_df.select(F.floor(F.col("doc_id") / 4)).distinct().count()


def test_enrich_stream_static_matches_batch(spark, sf_dir):
    """Stream-static broadcast enrichment equals the batch join."""
    from pig_spark.streaming import enrich

    batch_o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumnRenamed("c_custkey", "o_custkey")
    src = (
        spark.readStream.schema(batch_o.schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )
    out = enrich(src, dim, "o_custkey").groupBy("c_mktsegment").count()
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {(r.c_mktsegment, r["count"]) for r in spark.sql("SELECT * FROM enriched").collect()}
    exp = {
        (r.c_mktsegment, r["count"])
        for r in batch_o.join(dim, "o_custkey", "left").groupBy("c_mktsegment").count().collect()
    }
    assert got == exp and len(got) >= 5


def test_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (streaming.interval_join) equals the
    same time-bounded join run in batch: views matched to clicks by the
    same user within [0s, 2h] after the view."""
    from pig_spark.functions import event_ts
    from pig_spark.streaming import interval_join

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = batch.select("user_id", "event_type", event_ts(batch).alias("ts"))
    views_b = ev.where(F.col("event_type") == "view").select("user_id", F.col("ts").alias("vts"))
    clicks_b = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    exp_df = views_b.join(
        clicks_b,
        (views_b.user_id == clicks_b.cu)
        & (clicks_b.cts >= views_b.vts)
        & (clicks_b.cts <= F.expr("vts + interval 2 hours")),
    ).select("user_id", "vts", "cts")
    exp = sorted((r["user_id"], r["vts"], r["cts"]) for r in exp_df.collect())

    views_b.write.mode("overwrite").parquet(str(tmp_path / "views"))
    clicks_b.write.mode("overwrite").parquet(str(tmp_path / "clicks"))
    vs = spark.readStream.schema(views_b.schema).parquet(str(tmp_path / "views"))
    cs = spark.readStream.schema(clicks_b.schema).parquet(str(tmp_path / "clicks"))
    cs = cs.withColumnRenamed("cu", "user_id")
    joined = interval_join(
        vs, cs, on="user_id", left_ts="vts", right_ts="cts",
        lower="0 seconds", upper="2 hours",
        left_watermark="1 hour", right_watermark="1 hour",
    ).select("user_id", "vts", "cts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ij")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(
        (r["user_id"], r["vts"], r["cts"]) for r in spark.sql("SELECT * FROM ij").collect()
    )
    assert got == exp and len(got) > 0


def test_rollup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Continuous aggregate (streaming.rollup_stream) carries additive
    partials equal to the batch hourly rollup, and the emitted partials
    re-aggregate to the daily grain without raw events (mergeability)."""
    from pig_spark.functions import event_ts
    from pig_spark.streaming import rollup_stream

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = batch.select("event_type", event_ts(batch).alias("ts"), "value")
    schema = ev.schema
    d = str(tmp_path / "events")
    ev.write.mode("overwrite").parquet(d)
    src = spark.readStream.schema(schema).parquet(d)
    aggs = {"n": "count(*)", "sum_v": "sum(value)", "max_v": "max(value)"}
    q = (
        rollup_stream(src, "ts", "1 hour", keys=["event_type"], aggs=aggs)
        .writeStream.format("memory")
        .queryName("cagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql("SELECT window.start AS h, event_type, n, sum_v, max_v FROM cagg")
    exp = (
        ev.groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"), F.max("value").alias("max_v"))
        .select(F.col("window.start").alias("h"), "event_type", "n", "sum_v", "max_v")
    )
    def key(rows):
        return sorted((r["h"], r["event_type"], r["n"], float(r["sum_v"]), float(r["max_v"])) for r in rows)
    assert key(got.collect()) == key(exp.collect())
    # mergeability: hourly partials -> daily == daily over raw
    daily_from_partials = got.groupBy(F.date_trunc("day", "h").alias("d"), "event_type").agg(
        F.sum("n").alias("n"), F.sum("sum_v").alias("sum_v"), F.max("max_v").alias("max_v")
    )
    daily_raw = ev.groupBy(F.date_trunc("day", "ts").alias("d"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"), F.max("value").alias("max_v")
    )
    def dkey(rows):
        return sorted((r["d"], r["event_type"], r["n"], round(float(r["sum_v"]), 6), float(r["max_v"])) for r in rows)
    assert dkey(daily_from_partials.collect()) == dkey(daily_raw.collect())


def test_rollup_stream_rejects_non_mergeable(spark):
    import pytest as _pytest

    from pig_spark.streaming import rollup_stream

    df = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="mergeable"):
        rollup_stream(df, "timestamp", "1 minute", aggs={"a": "avg(value)"})


def test_incremental_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static incremental dedup: documents streamed from parquet
    against a stored signature index give exactly the batch
    incremental_minhash_pairs result."""
    from pig_spark.functions import dedup
    from pig_spark.sources import store
    from pig_spark.streaming import incremental_dedup_stream

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx_path = str(tmp_path / "sig_index")
    store(dedup.signature_index(d, "text", "doc_id"), idx_path, "parquet", partition_by=["band"])
    index = spark.read.parquet(idx_path)

    new_dir = str(tmp_path / "incoming")
    new_batch = d.filter(F.col("doc_id") % 10 == 0)
    staged = new_batch.withColumn("arrived", F.current_timestamp())
    staged.write.parquet(new_dir)
    src = spark.readStream.schema(staged.schema).parquet(new_dir)

    out = incremental_dedup_stream(src, index, threshold=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("inc_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r["new_id"], r["match_id"], r["est_jaccard"])
        for r in spark.sql("SELECT * FROM inc_dedup").collect()
    }
    want = {
        (r["new_id"], r["match_id"], r["est_jaccard"])
        for r in dedup.incremental_minhash_pairs(new_batch, "text", "doc_id", index, 0.5).collect()
    }
    assert got == want and len(want) > 0


def test_incremental_dedup_stream_requires_timestamp(spark, sf_dir):
    """Unbounded pair-dedup state must be watermark-bounded: a stream
    with no event/arrival time column is rejected up front."""
    import pytest as _pytest

    from pig_spark.streaming import incremental_dedup_stream

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = spark.readStream.schema(d.schema).parquet(f"{sf_dir}/documents.parquet")
    with _pytest.raises(ValueError, match="watermark-bounded"):
        incremental_dedup_stream(src, d.limit(0), threshold=0.5)


def test_hashed_classifier_stream_matches_batch(spark, sf_dir, tmp_path):
    """The hashed linear quality classifier (functions/text, r7) is a
    stateless per-row Column expression, so it applies UNCHANGED to a
    readStream: scoring a documents file-stream with availableNow
    produces exactly the batch scores. This is the streaming shape of
    a quality-filter stage: score-at-ingest, no state, no watermark."""
    from pyspark.sql import functions as F

    from pig_spark.functions import text as T

    batch_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def score(df):
        tk = T.tokenize_ws(F.col("text"))
        return df.select("doc_id", T.hashed_linear_score(tk).alias("score"))

    q = (
        score(src)
        .writeStream.format("memory")
        .queryName("hls_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {r.doc_id: r.score for r in spark.sql("SELECT * FROM hls_stream").collect()}
    exp = {r.doc_id: r.score for r in score(batch_df).collect()}
    assert got == exp and len(got) > 0  # exact doubles — 2^-12 weights


def test_contamination_stream_matches_batch(spark, sf_dir):
    """Streaming decontamination (contamination_stream) over an
    availableNow file stream equals the batch contamination_check
    exactly: the static bench side folds to one sorted gram-hash
    array, the stream side is a stateless per-row array_intersect —
    no aggregation, no watermark, zero state."""
    from pyspark.sql import functions as F

    from pig_spark.functions.dedup import contamination_check
    from pig_spark.streaming import contamination_stream

    batch_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = batch_df.filter(F.col("doc_id") % 97 == 0)
    train_batch = batch_df.filter(F.col("doc_id") % 97 != 0)
    src = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 97 != 0)
    )
    q = (
        contamination_stream(src, bench, "text", "doc_id", threshold=0.05)
        .writeStream.format("memory")
        .queryName("contam_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.sql("SELECT * FROM contam_stream").collect()))
    exp = sorted(map(tuple, contamination_check(
        train_batch, bench, "text", "doc_id", threshold=0.05).collect()))
    assert got == exp and len(got) > 0


def test_histogram_rollup_stream_quantiles_match_batch(spark, sf_dir):
    """Streaming histogram partials (histogram_rollup_stream) feed
    quantiles_from_histogram to the same per-group estimates the batch
    histogram pipeline produces: the emitted (window, bin, n) rows are
    ADDITIVE, so the downstream quantile never reads raw events."""
    from pyspark.sql import functions as F

    from pig_spark.functions import event_ts
    from pig_spark.functions.quantile import histogram_rollup, quantiles_from_histogram
    from pig_spark.streaming import histogram_rollup_stream

    batch_df = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = (
        spark.readStream.schema(batch_df.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )

    def prep(df):
        return df.withColumn("event_ts", event_ts(df)).withColumn(
            "v", (F.col("user_id") % 500).cast("double")
        )

    q = (
        histogram_rollup_stream(prep(src), "event_ts", "1 day", "v", width=10.0)
        .writeStream.format("memory")
        .queryName("hist_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    emitted = spark.sql("SELECT CAST(window.start AS STRING) AS day, bin, n FROM hist_stream")
    # downstream re-aggregation: SUM(n) merges partials, then quantiles
    merged = emitted.groupBy("day", "bin").agg(F.sum("n").alias("n"))
    got = {
        r.day: (r.p50, r.p95)
        for r in quantiles_from_histogram(merged, "day", {"p50": 0.5, "p95": 0.95}, width=10.0).collect()
    }
    hb = histogram_rollup(
        prep(batch_df).withColumn("day", F.date_format(F.window("event_ts", "1 day").start.cast("timestamp"), "yyyy-MM-dd HH:mm:ss")),
        "day", "v", width=10.0,
    )
    exp = {
        r.day: (r.p50, r.p95)
        for r in quantiles_from_histogram(hb, "day", {"p50": 0.5, "p95": 0.95}, width=10.0).collect()
    }
    # append mode emits a window when the WATERMARK passes its end —
    # the trailing open window stays buffered at end-of-stream (the
    # standard contract), so parity covers every closed window
    closed = set(exp) - {max(exp)}
    assert set(got) == closed and len(got) > 0
    assert all(got[d] == exp[d] for d in got)


def test_paragraph_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Paragraph-level exact dedup at ingest (streaming twin of q129,
    r9): arriving docs anti-joined against a STORED paragraph-hash
    index rebuild to exactly the batch equivalent. Index = the corpus
    half (doc_id %10 != 0) with a shared boilerplate prefix injected
    on even ids; the streamed half carries the same boilerplate, so
    known-paragraph drops are guaranteed, and the all-boilerplate
    vanishing case is covered by a doc that is ONLY boilerplate."""
    from pig_spark.functions import dedup
    from pig_spark.functions.text import token_blocks, tokenize_ws
    from pig_spark.sources import store
    from pig_spark.streaming import paragraph_dedup_stream

    boiler = " ".join(f"legal{i}" for i in range(25))  # exactly one block
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.lit(boiler + " "), F.col("text"))
        ).otherwise(F.col("text")).alias("text"),
    )
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    idx_path = str(tmp_path / "para_index")
    store(dedup.paragraph_index(corpus, "text", "doc_id"), idx_path, "parquet")
    index = spark.read.parquet(idx_path)

    # streamed half + one doc that is PURE boilerplate (must vanish)
    new_batch = d.filter(F.col("doc_id") % 10 == 0).unionByName(
        spark.createDataFrame([(999_999, boiler)], "doc_id long, text string")
    )
    new_dir = str(tmp_path / "para_incoming")
    staged = new_batch.withColumn("arrived", F.current_timestamp())
    staged.write.parquet(new_dir)
    src = spark.readStream.schema(staged.schema).parquet(new_dir)

    out = paragraph_dedup_stream(src, index)
    # update mode: a single availableNow batch cannot advance the
    # watermark past its own groups, so append would hold every doc in
    # state; update emits each rebuilt doc once per batch it changes —
    # here exactly once (production append emits on watermark close)
    q = (
        out.writeStream.format("memory")
        .queryName("para_dedup")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["n_paras"], r["n_kept"], r["clean_text"])
        for r in spark.sql("SELECT * FROM para_dedup").collect()
    }

    # batch equivalent: same split/anti-join/rebuild, no streaming
    tk = new_batch.select("doc_id", tokenize_ws(F.col("text")).alias("tk"))
    paras = tk.select(
        "doc_id",
        F.ceil(F.size("tk") / F.lit(25)).cast("long").alias("n_paras"),
        F.posexplode(token_blocks(F.col("tk"), 25)).alias("pos", "para"),
    )
    kept = paras.join(index.select("ph"), F.md5("para") == F.col("ph"), "left_anti")
    want_df = kept.groupBy("doc_id").agg(
        F.first("n_paras").alias("n_paras"),
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            " | ",
        ).alias("clean_text"),
    )
    want = {
        (r["doc_id"], r["n_paras"], r["n_kept"], r["clean_text"])
        for r in want_df.collect()
    }
    assert got == want and len(want) > 0
    got_ids = {t[0] for t in got}
    assert 999_999 not in got_ids  # pure-boilerplate doc vanished
    # boilerplate actually dropped: even streamed docs lost >= 1 block
    dropped = {t[0]: t[1] - t[2] for t in got}
    assert any(v >= 1 for k, v in dropped.items() if k % 2 == 0)


def test_paragraph_dedup_stream_requires_timestamp(spark, sf_dir):
    from pig_spark.streaming import paragraph_dedup_stream

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = spark.readStream.schema(d.schema).parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="watermark-bounded"):
        paragraph_dedup_stream(src, d.limit(0))


def test_clean_ingest_stream_matches_batch(spark, sf_dir, tmp_path):
    """Composed clean-at-ingest (streaming q136 face): paragraph dedup
    vs the stored index -> quality score over the REBUILT text ->
    decontamination vs the static eval corpus, one streaming query,
    equal to the same composition in batch."""
    from pig_spark.functions import dedup
    from pig_spark.functions import text as T
    from pig_spark.functions.dedup import word_shingles
    from pig_spark.functions.text import token_blocks, tokenize_ws
    from pig_spark.sources import store
    from pig_spark.streaming import clean_ingest_stream

    boiler = " ".join(f"tos{i}" for i in range(25))
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.lit(boiler + " "), F.col("text"))
        ).otherwise(F.col("text")).alias("text"),
    )
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    idx_path = str(tmp_path / "ci_index")
    store(dedup.paragraph_index(corpus, "text", "doc_id"), idx_path, "parquet")
    index = spark.read.parquet(idx_path)

    new_batch = d.filter(F.col("doc_id") % 10 == 0)
    new_dir = str(tmp_path / "ci_incoming")
    staged_in = new_batch.withColumn("arrived", F.current_timestamp())
    staged_in.write.parquet(new_dir)
    src = spark.readStream.schema(staged_in.schema).parquet(new_dir)

    out = clean_ingest_stream(src, index, bench)
    q = (
        out.writeStream.format("memory")
        .queryName("clean_ingest")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM clean_ingest").collect()}

    # batch composition of the same stages
    tk = new_batch.select("doc_id", tokenize_ws(F.col("text")).alias("tk"))
    paras = tk.select(
        "doc_id",
        F.ceil(F.size("tk") / F.lit(25)).cast("long").alias("n_paras"),
        F.posexplode(token_blocks(F.col("tk"), 25)).alias("pos", "para"),
    )
    kept = paras.join(index.select("ph"), F.md5("para") == F.col("ph"), "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.first("n_paras").alias("n_paras"),
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            " | ",
        ).alias("clean_text"),
    )
    td = rebuilt.select(
        "doc_id", "n_paras", "n_kept", "clean_text",
        tokenize_ws(F.col("clean_text")).alias("tk2"),
    )
    st = td.select(
        "doc_id", "n_paras", "n_kept", "clean_text",
        F.size("tk2").cast("long").alias("n_tokens"),
        T.hashed_features(F.col("tk2")).alias("feats"),
    )
    sc = st.select(
        "doc_id", "n_paras", "n_kept", "clean_text", "n_tokens",
        T.hashed_score_from_features(F.col("feats")).alias("score"),
    )
    bench_arr = (
        bench.select(F.explode(word_shingles(F.col("text"), 3)).alias("g"))
        .select(F.xxhash64("g").alias("gh")).distinct()
        .agg(F.array_sort(F.collect_list("gh")).alias("ba")).withColumn("k", F.lit(1))
    )
    docs = sc.withColumn(
        "gr", F.transform(word_shingles(F.col("clean_text"), 3), lambda g: F.xxhash64(g))
    ).withColumn("k", F.lit(1)).join(F.broadcast(bench_arr), "k")
    n_shared = F.size(F.array_intersect("gr", "ba")).cast("long")
    ratio = F.round(n_shared / F.greatest(F.size("gr"), F.lit(1)), 6)
    contaminated = ratio >= F.lit(0.1)
    want_df = docs.select(
        "doc_id", "n_paras", "n_kept", "n_tokens", "score",
        n_shared.alias("n_shared"), contaminated.alias("contaminated"),
        ((F.col("score") > 0) & ~contaminated).alias("keep"),
    )
    want = {tuple(r) for r in want_df.collect()}
    assert got == want and len(want) > 0
    # the chain did real work: some paragraph got dropped somewhere
    assert any(r[2] < r[1] for r in got)  # n_kept < n_paras


def test_shard_assign_stream_matches_batch(spark, sf_dir):
    """q143's shard deal at ingest: shard_assign is stateless per-row
    codegen, so it applies to a readStream unchanged — every streamed
    document lands in the same shard the batch deal gives it (the
    determinism that makes incremental corpus builds shard-stable)."""
    from pyspark.sql import functions as F

    from pig_spark.operators.packing import shard_assign

    batch_df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    src = (
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id")
    )
    q = (
        shard_assign(src, "doc_id", 8, salt=":shard:v1")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("chk"))
        .writeStream.format("memory")
        .queryName("shard_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(
        (r["shard"], r["n"], r["chk"])
        for r in spark.sql("SELECT * FROM shard_stream").collect()
    )
    want = sorted(
        (r["shard"], r["n"], r["chk"])
        for r in shard_assign(batch_df, "doc_id", 8, salt=":shard:v1")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("chk"))
        .collect()
    )
    assert got == want and len(got) == 8


def test_substring_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Exact-substring dedup at ingest (streaming twin of q150, r10):
    arriving docs fingerprint their 50-token windows and probe the
    STORED old-corpus fingerprint index; per-doc accounting rebuilds
    to exactly the batch equivalent of the same index-only contract
    (within-batch new×new dup is the batch job's business — q150)."""
    from pig_spark.queries import _substr_staged, _substr_wins
    from pig_spark.sources import store
    from pig_spark.streaming import substring_dedup_stream

    W = 50
    staged_all = _substr_staged(spark, sf_dir)  # boilerplate injected
    old_wins = _substr_wins(staged_all.where(F.col("doc_id") % 10 != 0))
    idx_path = str(tmp_path / "fp_index")
    store(old_wins.select(F.col("h").alias("fh")).distinct(), idx_path, "parquet")
    index = spark.read.parquet(idx_path)

    # stream the new half WITH the same boilerplate injection
    boiler_docs = staged_all.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.array_join("tk", " ").alias("text")
    )
    new_dir = str(tmp_path / "substr_incoming")
    staged = boiler_docs.withColumn("arrived", F.current_timestamp())
    staged.write.parquet(new_dir)
    src = spark.readStream.schema(staged.schema).parquet(new_dir)

    out = substring_dedup_stream(src, index, window=W)
    q = (
        out.writeStream.format("memory")
        .queryName("substr_dedup")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["n_tokens"], r["n_windows"], r["n_dup_windows"],
         r["n_dup_tokens"], r["keep"])
        for r in spark.sql("SELECT * FROM substr_dedup").collect()
    }

    # batch equivalent of the SAME index-only contract
    new_staged = staged_all.where(F.col("doc_id") % 10 == 0)
    new_wins = _substr_wins(new_staged)
    dups = new_wins.join(index, new_wins["h"] == index["fh"]).select("doc_id", "pos")
    cov = (
        dups.select("doc_id", "pos",
                    F.explode(F.sequence(F.col("pos"), F.col("pos") + (W - 1))).alias("p"))
        .groupBy("doc_id")
        .agg(F.countDistinct("p").alias("n_dup_tokens"),
             F.countDistinct("pos").alias("n_dup_windows"))
    )
    base = new_staged.select(
        "doc_id", "n_tokens",
        F.greatest(F.col("n_tokens") - F.lit(W - 1), F.lit(0)).alias("n_windows"),
    )
    joined = base.join(cov, "doc_id", "left")
    ratio = F.round(
        F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("double")
        / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
    want = {
        (r["doc_id"], r["n_tokens"], r["n_windows"], r["n_dup_windows"],
         r["n_dup_tokens"], r["keep"])
        for r in joined.select(
            "doc_id", "n_tokens", "n_windows",
            F.coalesce(F.col("n_dup_windows"), F.lit(0).cast("long")).alias("n_dup_windows"),
            F.coalesce(F.col("n_dup_tokens"), F.lit(0).cast("long")).alias("n_dup_tokens"),
            (ratio < 0.2).alias("keep"),
        ).collect()
    }
    assert got == want and len(want) > 0
    # boilerplate docs in the stream really got flagged vs the index
    assert any(t[3] > 0 for t in got)


def test_substring_dedup_stream_requires_timestamp(spark, sf_dir):
    from pig_spark.streaming import substring_dedup_stream

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="ts_col"):
        substring_dedup_stream(d, d.limit(0))


def test_ann_index_stream_replay_skips_marked_epochs(spark, sf_dir, tmp_path):
    """The epoch-marker idempotence guard actually fires on replay:
    a restarted stream with a WIPED checkpoint re-delivers the same
    feed as epoch 0 again — without the marker the plain append would
    duplicate every row (and duplicates change probe top-k). Also
    pins the ADVICE r11 fix: markers go through the Hadoop FileSystem
    resolved from the index path (here an explicit file:// URI — the
    driver-local os.path guard would have worked for a bare local
    path but silently never fired for any scheme'd URI)."""
    import shutil

    from pig_spark.functions.similarity import ann_index_store
    from pig_spark.streaming import ann_index_ingest_stream, write_ann_index_stream

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    mid = e.count() // 2
    idx = "file://" + str(tmp_path / "ann_index")
    model = ann_index_store(e.where(f"vec_id < {mid}"), str(tmp_path / "ann_index"))
    feed = str(tmp_path / "feed")
    e.where(f"vec_id >= {mid}").write.mode("overwrite").parquet(feed)

    def _run(ckpt: str) -> None:
        src = spark.readStream.schema(e.schema).parquet(feed)
        q = write_ann_index_stream(ann_index_ingest_stream(src, model), idx, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run(str(tmp_path / "ckpt"))
    n_after_first = spark.read.parquet(idx).count()
    assert n_after_first == e.count()
    assert (tmp_path / "ann_index" / "_streamed_epochs" / "0").exists()
    # replay: wipe the checkpoint so the restarted stream re-delivers
    # the same batch as epoch 0 — the marker must skip the append
    shutil.rmtree(str(tmp_path / "ckpt"))
    _run(str(tmp_path / "ckpt"))
    assert spark.read.parquet(idx).count() == n_after_first


def test_ann_index_ingest_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming/batch parity for the persisted ANN index (q157's
    layout): the batch job builds the index + model on the FIRST half
    of the vectors; the SECOND half arrives on a file stream, encodes
    against the same fixed model (pure Column ops, no state), and
    appends into the same cell-partitioned directory. After the
    bounded stream drains: (a) the streamed rows' (cell, codes) are
    bit-identical to batch-encoding the same vectors with the same
    model, and (b) a probe over the combined on-disk index equals the
    probe computed from the union in memory."""
    from pig_spark.functions.similarity import (
        EMB_DIM,
        ann_index_probe,
        ann_index_store,
        ivf_assign,
        pq_adc_distances,
        pq_encode,
    )
    from pig_spark.streaming import ann_index_ingest_stream, write_ann_index_stream

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # split by id RANGE: the batch half must contain the model's seed
    # ids (centroids = lowest 16, PQ seeds = [16, 32)) — exactly the
    # deployment shape where the index bootstraps on day-one data and
    # later arrivals stream in
    mid = e.count() // 2
    half_a = e.where(f"vec_id < {mid}")
    half_b = e.where(f"vec_id >= {mid}")
    idx = str(tmp_path / "ann_index")
    model = ann_index_store(half_a, idx)

    feed = str(tmp_path / "feed")
    half_b.write.mode("overwrite").parquet(feed)
    src = spark.readStream.schema(e.schema).parquet(feed)
    q = write_ann_index_stream(
        ann_index_ingest_stream(src, model),
        idx,
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    centroids = [(int(c), [float(x) for x in v]) for c, v in model["centroids"]]
    cbs = model["codebooks"]
    stored = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(idx).collect()
    }
    want_b = {
        r["vec_id"]: (r["__cell"], tuple(r["codes"]))
        for r in pq_encode(
            ivf_assign(half_b, centroids), cbs, keep=["__cell"]
        ).collect()
    }
    assert len(stored) == e.count()
    for vid, want in want_b.items():
        assert stored[vid] == want, (vid, stored[vid], want)

    # end-to-end: probe over the combined on-disk index == in-memory
    # ADC rank over the union encoded with the same model
    query = [((i * 37) % 13 - 6) / 13.0 for i in range(EMB_DIM)]

    def _cos(a, b):
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    cells = [
        cid
        for cid, _ in sorted(
            centroids, key=lambda c: (-_cos(query, c[1]), c[0])
        )[:3]
    ]
    got = [
        (r["vec_id"], r["cell"], r["adc_dist"])
        for r in ann_index_probe(spark, idx, query, k=20).collect()
    ]
    mem = pq_adc_distances(
        pq_encode(ivf_assign(e, centroids), cbs, keep=["__cell"]).where(
            F.col("__cell").isin(*cells)
        ),
        query,
        cbs,
    )
    want = [
        (r["vec_id"], r["__cell"], r["adc_dist"])
        for r in mem.select(
            "vec_id", "__cell", F.round("adc_dist", 6).alias("adc_dist")
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(20)
        .collect()
    ]
    assert got == want


def test_sequence_manifest_stream_matches_batch(spark, sf_dir, tmp_path):
    """Batch/stream parity for the sequence manifest (q158's streaming
    twin): streaming the corpus in id order — in an arbitrary batch
    split — produces bit-identically the batch manifest. The second
    epoch's spans must CONTINUE the global token stream (fill the
    partial tail sequence, then open new sequences), which is exactly
    what the manifest-derived base_offset guarantees."""
    import os
    import time

    from pig_spark.functions.text import tokenize_ws
    from pig_spark.operators.packing import sequence_spans
    from pig_spark.streaming import write_sequence_manifest_stream

    L = 512
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(tokenize_ws(F.col("text"))).cast("long").alias("n_tokens"))
        .where("n_tokens > 0")
    )
    mid = d.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    feed = tmp_path / "seq_feed"
    feed.mkdir()
    # two files, id-split, mtimes ordered so the file source delivers
    # low ids first (oldest-first listing) with maxFilesPerTrigger=1
    d.where(f"doc_id < {mid}").coalesce(1).write.parquet(str(feed / "a"))
    d.where(f"doc_id >= {mid}").coalesce(1).write.parquet(str(feed / "b"))
    now = time.time()
    for sub, ts in (("a", now - 60), ("b", now)):
        for f in (feed / sub).rglob("*.parquet"):
            os.utime(f, (ts, ts))
    src = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "*"))
    )
    out = str(tmp_path / "seq_manifest_store")
    q = write_sequence_manifest_stream(
        src, out, L, str(tmp_path / "ckpt"), tokens_col="n_tokens"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/manifest")
        .select("seq_id", "doc_id", "start_in_doc", "start_in_seq", "span_len")
        .collect()
    }
    want = {
        tuple(r)
        for r in sequence_spans(d, "n_tokens", L, order="doc_id")
        .select("seq_id", "doc_id", "start_in_doc", "start_in_seq", "span_len")
        .collect()
    }
    assert got == want and len(want) > 0
    # the split actually exercised the continuation: some sequence
    # holds spans from BOTH halves (the boundary sequence)
    both = (
        spark.read.parquet(f"{out}/manifest")
        .groupBy("seq_id")
        .agg(
            F.sum(F.when(F.col("doc_id") < mid, 1).otherwise(0)).alias("lo"),
            F.sum(F.when(F.col("doc_id") >= mid, 1).otherwise(0)).alias("hi"),
        )
        .where("lo > 0 AND hi > 0")
        .count()
    )
    assert both > 0


def test_sequence_manifest_stream_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Replay (wiped checkpoint re-delivering the same feed as epoch
    0) must not duplicate manifest spans OR double-advance the
    derived offset — the epoch id rides IN the manifest rows, so the
    skip-check and the data share one atomic commit and there is no
    marker window that could shift a replayed batch."""
    import shutil

    from pig_spark.functions.text import tokenize_ws
    from pig_spark.streaming import write_sequence_manifest_stream

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(tokenize_ws(F.col("text"))).cast("long").alias("n_tokens"))
        .where("n_tokens > 0")
        .limit(50)
    )
    feed = str(tmp_path / "feed")
    d.write.parquet(feed)
    out = str(tmp_path / "seq_manifest_store")

    def _run(ckpt: str) -> None:
        src = spark.readStream.schema(d.schema).parquet(feed)
        q = write_sequence_manifest_stream(src, out, 512, ckpt, tokens_col="n_tokens")
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run(str(tmp_path / "ckpt"))
    n_first = spark.read.parquet(f"{out}/manifest").count()
    assert n_first > 0
    shutil.rmtree(str(tmp_path / "ckpt"))
    _run(str(tmp_path / "ckpt"))
    assert spark.read.parquet(f"{out}/manifest").count() == n_first


def test_sequence_store_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming sequence-store build: after streaming the corpus in
    id order (two micro-batches), the finalized sequences on disk are
    bit-identical — span counts, token streams — to the COMPLETE
    prefix of the batch sequence_store over the same corpus; the
    partial tail sequence is never written; and the boundary sequence
    (spans from both batches) assembled exactly once."""
    import os
    import time

    from pig_spark.functions.text import tokenize_ws
    from pig_spark.operators.packing import sequence_store
    from pig_spark.streaming import write_sequence_store_stream

    L = 512
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", tokenize_ws(F.col("text")).alias("tk"))
        .where(F.size("tk") > 0)
    )
    mid = d.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    feed = tmp_path / "store_feed"
    feed.mkdir()
    d.where(f"doc_id < {mid}").coalesce(1).write.parquet(str(feed / "a"))
    d.where(f"doc_id >= {mid}").coalesce(1).write.parquet(str(feed / "b"))
    now = time.time()
    for sub, ts in (("a", now - 60), ("b", now)):
        for f in (feed / sub).rglob("*.parquet"):
            os.utime(f, (ts, ts))
    src = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "*"))
    )
    out = str(tmp_path / "seq_store_stream")
    q = write_sequence_store_stream(src, out, L, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_path = str(tmp_path / "seq_store_batch")
    sequence_store(d, batch_path, L)
    total = d.agg(F.sum(F.size("tk"))).first()[0]
    n_complete = total // L

    def _fp(df):
        return {
            tuple(r)
            for r in df.select(
                "seq_id",
                F.col("n_spans").cast("long"),
                F.md5(F.array_join("toks", " ")),
            ).collect()
        }

    got = spark.read.parquet(f"{out}/sequences")
    want = spark.read.parquet(f"{batch_path}/sequences").where(
        f"seq_id < {n_complete}"
    )
    assert got.count() == n_complete  # no partial tail
    assert _fp(got) == _fp(want)
    # the boundary sequence really straddled the two micro-batches
    boundary = (
        spark.read.parquet(f"{out}/manifest")
        .groupBy("seq_id")
        .agg(
            F.sum(F.when(F.col("doc_id") < mid, 1).otherwise(0)).alias("lo"),
            F.sum(F.when(F.col("doc_id") >= mid, 1).otherwise(0)).alias("hi"),
        )
        .where("lo > 0 AND hi > 0")
        .count()
    )
    assert boundary > 0


def test_sequence_store_stream_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Replay (wiped checkpoint) must not duplicate manifest spans,
    docs rows feeding future gathers, or finalized sequences."""
    import shutil

    from pig_spark.functions.text import tokenize_ws
    from pig_spark.streaming import write_sequence_store_stream

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", tokenize_ws(F.col("text")).alias("tk"))
        .where(F.size("tk") > 0)
        .limit(100)
    )
    feed = str(tmp_path / "feed")
    d.write.parquet(feed)
    out = str(tmp_path / "seq_store_stream")

    def _run(ckpt: str) -> None:
        src = spark.readStream.schema(d.schema).parquet(feed)
        q = write_sequence_store_stream(src, out, 512, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run(str(tmp_path / "ckpt"))
    n_man = spark.read.parquet(f"{out}/manifest").count()
    n_seq = spark.read.parquet(f"{out}/sequences").count()
    assert n_man > 0 and n_seq > 0
    shutil.rmtree(str(tmp_path / "ckpt"))
    _run(str(tmp_path / "ckpt"))
    assert spark.read.parquet(f"{out}/manifest").count() == n_man
    assert spark.read.parquet(f"{out}/sequences").count() == n_seq


def test_sequence_store_stream_heals_partial_crash(spark, sf_dir, tmp_path):
    """The bounded crash windows actually heal: (a) docs appended but
    manifest not committed (crash before the epoch's commit point) —
    the re-run re-appends identical doc rows and dedups on read; (b)
    manifest committed but sequences not finalized — the next run's
    top-of-batch heal closes the gap. Final store must equal the
    clean-run store bit-for-bit."""
    from pig_spark.functions.text import tokenize_ws
    from pig_spark.streaming import write_sequence_store_stream

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", tokenize_ws(F.col("text")).alias("tk"))
        .where(F.size("tk") > 0)
        .limit(60)
    )
    feed = str(tmp_path / "feed")
    d.write.parquet(feed)
    out = str(tmp_path / "store")
    # (a) simulate the pre-commit crash: docs landed, manifest didn't
    d.write.mode("append").parquet(f"{out}/docs")

    def _run(ckpt: str) -> None:
        src = spark.readStream.schema(d.schema).parquet(feed)
        q = write_sequence_store_stream(src, out, 512, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run(str(tmp_path / "ckpt"))
    got = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/sequences")
        .select("seq_id", "n_spans", F.md5(F.array_join("toks", " ")))
        .collect()
    }
    # clean reference run
    clean = str(tmp_path / "clean")
    _run_ckpt = str(tmp_path / "ckpt2")
    src = spark.readStream.schema(d.schema).parquet(feed)
    q = write_sequence_store_stream(src, clean, 512, _run_ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = {
        tuple(r)
        for r in spark.read.parquet(f"{clean}/sequences")
        .select("seq_id", "n_spans", F.md5(F.array_join("toks", " ")))
        .collect()
    }
    assert got == want and len(want) > 0
    # (b) wipe the sequences table (manifest committed, finalization
    # lost) — a replayed restart heals it from committed state
    import shutil

    shutil.rmtree(f"{out}/sequences")
    shutil.rmtree(str(tmp_path / "ckpt"))
    _run(str(tmp_path / "ckpt"))
    healed = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/sequences")
        .select("seq_id", "n_spans", F.md5(F.array_join("toks", " ")))
        .collect()
    }
    assert healed == want


def test_sequence_manifest_stream_new_run_appends_new_data(spark, sf_dir, tmp_path):
    """Content-keyed replay (not batch-id-keyed): a NEW stream over
    NEW files with a FRESH checkpoint — whose batch ids restart at
    0 — must APPEND, not silently skip against the old run's batch 0;
    and re-delivering the first run's content must still skip. Also
    pins `_temporary`-litter recovery: a crashed first write's leftover
    directory must not wedge the offset read."""
    from pig_spark.functions.text import tokenize_ws
    from pig_spark.streaming import write_sequence_manifest_stream

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(tokenize_ws(F.col("text"))).cast("long").alias("n_tokens"))
        .where("n_tokens > 0")
    )
    mid = d.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    out = str(tmp_path / "manifest_store")
    # simulate a crashed first write: _temporary litter, no data files
    import os

    os.makedirs(f"{out}/manifest/_temporary/0", exist_ok=True)

    def _run(feed: str, ckpt: str) -> None:
        src = spark.readStream.schema(d.schema).parquet(feed)
        q = write_sequence_manifest_stream(src, out, 512, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    feed_a = str(tmp_path / "feed_a")
    feed_b = str(tmp_path / "feed_b")
    d.where(f"doc_id < {mid}").write.parquet(feed_a)
    d.where(f"doc_id >= {mid}").write.parquet(feed_b)

    _run(feed_a, str(tmp_path / "ckpt_a"))
    n_a = spark.read.parquet(f"{out}/manifest").count()
    assert n_a > 0
    # NEW run, NEW data, FRESH checkpoint (batch ids restart at 0)
    _run(feed_b, str(tmp_path / "ckpt_b"))
    n_ab = spark.read.parquet(f"{out}/manifest").count()
    assert n_ab > n_a, "new run's data was silently skipped"
    # second half's spans continue the global stream (offset carried)
    total_a = d.where(f"doc_id < {mid}").agg(F.sum("n_tokens")).first()[0]
    first_b_span = (
        spark.read.parquet(f"{out}/manifest")
        .where(f"doc_id >= {mid}")
        .agg(F.min(F.col("seq_id") * 512 + F.col("start_in_seq")))
        .first()[0]
    )
    assert first_b_span == total_a
    # re-delivering feed A's content with yet another fresh checkpoint
    # skips (same signatures)
    _run(feed_a, str(tmp_path / "ckpt_c"))
    assert spark.read.parquet(f"{out}/manifest").count() == n_ab
