"""Structured Streaming surface.

Pig is batch-only (README.txt:11-14 — SURVEY §2.6): its STREAM operator
is an external-process transform, not stream processing. This package
is therefore *additive* capability, not parity: the same Relation
operators applied to unbounded sources, with event-time windows and
watermarks for late data.

Surface: windowed/session aggregates with watermarks, stream-static
enrich, watermark-bounded stream dedup, stream-stream interval join,
mergeable-sketch rollups (count/sum/min/max AND histogram-bin
partials for continuous quantiles), incremental signature dedup,
paragraph-level dedup at ingest vs a stored index
(``paragraph_dedup_stream``), stateless score-at-ingest
decontamination (``contamination_stream``), the composed
clean-at-ingest pipeline (``clean_ingest_stream`` — the streaming
face of q136), and a CUSTOM stateful operator (``stateful_funnel``
via applyInPandasWithState, O(k) state per key) — each with a
batch-parity test in test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_stream(spark: SparkSession, format: str, **options) -> DataFrame:
    return spark.readStream.format(format).options(**{k: str(v) for k, v in options.items()}).load()


def windowed_count(df: DataFrame, ts_col: str, window: str, slide: str | None = None, watermark: str = "10 minutes", keys: list[str] | None = None) -> DataFrame:
    """Event-time tumbling/sliding windowed count with a watermark."""
    w = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    grouped = df.withWatermark(ts_col, watermark).groupBy(w, *(keys or []))
    return grouped.agg(F.count(F.lit(1)).alias("count"))


def write_stream(df: DataFrame, path: str, checkpoint: str, format: str = "parquet", mode: str = "append"):
    return (
        df.writeStream.format(format)
        .outputMode(mode)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def session_counts(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of operators.temporal.sessionize: event-time
    session windows (dynamic gap-merged), watermarked for late data.

    Built-in ``session_window`` covers the gap-session case with
    managed state; genuinely custom per-key state machines (e.g.
    funnel detection) drop to ``applyInPandasWithState`` instead —
    same groupBy shape, user-defined state struct.
    """
    w = F.session_window(F.col(ts_col), gap)
    grouped = df.withWatermark(ts_col, watermark).groupBy(w, *(keys or []))
    return grouped.agg(F.count(F.lit(1)).alias("count"))


def enrich(stream_df: DataFrame, dim_df: DataFrame, on: list[str] | str, how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the
    static dimension — Spark broadcasts it per batch when under the
    threshold, so the stream never shuffles (the 'replicated' join of
    the streaming world). The dim is re-read per trigger, so slowly-
    changing dimensions pick up updates without restart."""
    from pyspark.sql.functions import broadcast

    return stream_df.join(broadcast(dim_df), on, how)


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the unbounded twin of
    ``functions.dedup.exact_dedup``. ``dropDuplicatesWithinWatermark``
    keeps per-key state only inside the watermark horizon, so state
    size is bounded by (arrival rate × delay), not stream history —
    the only formulation that survives an unbounded 100 TB/day feed.
    Exact global dedup over all history is a batch job by definition
    (state would be unbounded); this is the standard streaming
    contract for it."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stateful_funnel(
    df: DataFrame,
    steps: list[str],
    user: str = "user_id",
    ts: str = "ts",
    etype: str = "event_type",
    timeout_ms: int | None = None,
):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-key ordered-funnel detection — the streaming twin of
    ``operators.temporal.funnel`` with identical greedy semantics
    (earliest event of step 0, then earliest event >= that of step 1,
    ...). Emits one row per key the moment its funnel completes.

    State per key = (stage reached, step timestamps so far) — O(k),
    independent of event volume, so 1000-executor state stores stay
    tiny. ``timeout_ms`` evicts abandoned funnels via processing-time
    timeout (state TTL); without it state is O(distinct keys).

    Parity contract: exact equality with the batch operator holds when
    each key's events arrive in event-time order across micro-batches
    (in-batch disorder is fine — batches are sorted before the scan);
    a late out-of-order event can miss an already-passed stage, which
    is the standard streaming trade-off watermarks bound.

    Keys and timestamps are surfaced as BIGINT (event-time columns in
    this engine's nanos-as-long convention).
    """
    if len(set(steps)) != len(steps):
        raise ValueError("funnel steps must be distinct event types")
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    k = len(steps)
    out_cols = [user] + [f"t{i}" for i in range(k)]
    out_schema = ", ".join(f"{c} bigint" for c in out_cols)
    state_schema = "stage int, tslist array<bigint>"

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            stage, tslist = state.get
            tslist = list(tslist)
        else:
            stage, tslist = 0, []
        done = stage >= k
        rows = []
        for pdf in pdf_iter:
            if done:
                continue  # drain the iterator; funnel already emitted
            pdf = pdf.sort_values(ts, kind="mergesort")
            for t, et in zip(pdf[ts], pdf[etype]):
                if et == steps[stage] and (stage == 0 or t >= tslist[-1]):
                    tslist.append(int(t))
                    stage += 1
                    if stage == k:
                        done = True
                        rows.append((key[0], *tslist))
                        break
        state.update((stage, tslist))
        if timeout_ms is not None and not done:
            state.setTimeoutDuration(timeout_ms)
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(user).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout_conf
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    left_watermark: str = "10 minutes",
    right_watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join — the streaming twin of
    ``operators.range_join`` / the attribution half of
    ``operators.temporal.asof_join``: match right-side events whose
    event time falls in ``[left_ts + lower, left_ts + upper]`` for the
    same key.

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, which is exactly what lets Spark expire
    buffered state: each side holds only rows inside
    (watermark + interval width), so state is bounded by rate × delay
    at any scale — the supported stream-stream equi-join-plus-time-
    bound pattern. Without the time bound Spark would have to buffer
    the streams forever (and rejects the plan in append mode).
    """
    lw = left.withWatermark(left_ts, left_watermark)
    rw = right.withWatermark(right_ts, right_watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= F.expr(f"{left_ts} + interval {lower}"))
        & (rw[right_ts] <= F.expr(f"{left_ts} + interval {upper}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[on])


def rollup_stream(
    df: DataFrame,
    ts_col: str,
    window: str,
    keys: list[str] | None = None,
    aggs: dict[str, str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Continuous aggregate — the streaming twin of the hypertable
    rollup (q77): watermarked event-time windows carrying ADDITIVE
    partials (count / sum / min / max), append-mode-safe (a window is
    emitted once, when the watermark closes it).

    ``aggs`` maps output column → "fn(col)" with fn in count/sum/min/
    max — the mergeable subset: the emitted rows re-aggregate to any
    coarser grain downstream (hour → day → month) without reading raw
    events again, exactly like the batch hypertable's hourly stage.
    AVG belongs downstream as sum/count; quantiles via the histogram
    partials of ``functions/quantile.py``.
    """
    import re as _re

    parsed = []
    for out_col, spec in (aggs or {"n": "count(*)"}).items():
        m = _re.fullmatch(r"\s*(count|sum|min|max)\s*\(\s*(\*|\w+)\s*\)\s*", spec, _re.I)
        if not m:
            raise ValueError(f"rollup_stream agg {spec!r}: count/sum/min/max(col) only (mergeable partials)")
        fn, col = m.group(1).lower(), m.group(2)
        if fn == "count":
            parsed.append(F.count(F.lit(1) if col == "*" else F.col(col)).alias(out_col))
        else:
            parsed.append(getattr(F, fn)(F.col(col)).alias(out_col))
    grouped = df.withWatermark(ts_col, watermark).groupBy(
        F.window(F.col(ts_col), window), *(keys or [])
    )
    return grouped.agg(*parsed)


def incremental_dedup_stream(
    doc_stream: DataFrame,
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    ts_col: str = "arrived",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``dedup.incremental_minhash_pairs``: documents
    arriving on a stream are minhash-signed (pure Column ops — legal in
    streaming), band-bucketed, and joined against the STATIC stored
    signature index (``dedup.signature_index`` parquet) — a
    stream-static equi-join. Emits ``(new_id, match_id, est_jaccard)``
    rows as documents arrive; at scale the index side is the
    band-partitioned table and each micro-batch's band rows are the
    small probe.

    A pair that matches in several LSH bands would emit several times;
    collapsing that requires dedup state, which on an unbounded stream
    must be watermark-bounded: ``ts_col`` (the document's event/arrival
    time — add ``current_timestamp()`` at ingest if the feed has none)
    drives ``dropDuplicatesWithinWatermark``, so pair state lives only
    inside the ``watermark`` horizon (state ∝ arrival rate × delay,
    never stream history — same contract as :func:`dedup_stream`). A
    document's band rows share its single timestamp, so same-batch
    band multiplicity always collapses; the horizon only matters if
    the SAME document id is re-fed later than the delay.

    The index is read at query start (static side); rewrite/refresh it
    with the batch job on whatever cadence ingestion requires."""
    from pyspark.sql import functions as F

    from ..functions import dedup as _dedup

    if ts_col not in doc_stream.columns:
        raise ValueError(
            f"incremental_dedup_stream: ts_col {ts_col!r} not in stream columns "
            f"{doc_stream.columns} — dedup state on an unbounded stream must be "
            "watermark-bounded; add an event/arrival timestamp "
            "(e.g. withColumn('arrived', current_timestamp()))"
        )
    new_idx = _dedup.signature_index(doc_stream, text_col, id_col, keep=(ts_col,))
    new_bands = new_idx.select(
        F.col(id_col).alias("new_id"), F.col(ts_col), F.col("signature").alias("sig_new"), "band", "bh"
    )
    corpus = index_df.select(
        F.col(id_col).alias("match_id"), F.col("signature").alias("sig_old"), "band", "bh"
    )
    cand = (
        new_bands.withWatermark(ts_col, watermark)
        .join(corpus, ["band", "bh"])
        .filter(F.col("new_id") != F.col("match_id"))
        .dropDuplicatesWithinWatermark(["new_id", "match_id"])
    )
    agree = F.aggregate(
        F.zip_with("sig_new", "sig_old", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = F.round(agree.cast("double") / F.lit(float(_dedup.MINHASH_K)), 6)
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "match_id", "est_jaccard")
    )


def paragraph_dedup_stream(
    doc_stream: DataFrame,
    para_index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "arrived",
    watermark: str = "10 minutes",
    para_tokens: int = 25,
) -> DataFrame:
    """Streaming twin of q129: paragraph-level exact dedup AT INGEST —
    arriving documents are split into paragraphs, every paragraph
    whose hash already exists in the STORED corpus index
    (``dedup.paragraph_index`` parquet) is dropped as known
    boilerplate, and the document is rebuilt from its surviving
    paragraphs in order. Emits the same shape as the batch query:
    ``(doc_id, n_paras, n_kept, clean_text)``; a document whose every
    paragraph is indexed vanishes (it was all boilerplate).

    Contract (the q100/q109 incremental pattern): the stream dedups
    against the INDEX — within-batch new×new duplication is the batch
    job's business (rebuild the index on whatever cadence ingestion
    requires; read at query start, static side). That keeps the only
    state the rebuild aggregation itself, which is watermark-bounded:
    all of a document's paragraph rows carry its single arrival
    timestamp, so grouping on ``(id_col, ts_col)`` under the
    ``watermark`` horizon emits each document exactly once in append
    mode, and state lives ∝ arrival rate × delay, never stream
    history.

    100 TB design: paragraph split/hash are per-row codegen; the probe
    is a stream-static LEFT ANTI equi-join on the 16-byte hash (each
    micro-batch's paragraphs are the small probe side against the
    band-of-disk index table); the rebuild is the stream-side
    micro-batch aggregate. No Python anywhere."""
    from pyspark.sql import functions as F

    from ..functions.text import token_blocks, tokenize_ws

    if ts_col not in doc_stream.columns:
        raise ValueError(
            f"paragraph_dedup_stream: ts_col {ts_col!r} not in stream columns "
            f"{doc_stream.columns} — the per-document rebuild aggregation must be "
            "watermark-bounded; add an event/arrival timestamp "
            "(e.g. withColumn('arrived', current_timestamp()))"
        )
    tk = doc_stream.select(
        id_col, ts_col, tokenize_ws(F.col(text_col)).alias("__tk")
    )
    paras = tk.select(
        id_col,
        ts_col,
        F.size(F.col("__tk")).alias("__n_tk"),
        F.posexplode(token_blocks(F.col("__tk"), para_tokens)).alias("pos", "para"),
    ).withColumn("n_paras", F.ceil(F.col("__n_tk") / F.lit(para_tokens)).cast("long"))
    kept = paras.join(
        para_index_df.select(F.col("ph")),
        F.md5(F.col("para")) == F.col("ph"),
        "left_anti",
    )
    return (
        kept.withWatermark(ts_col, watermark)
        .groupBy(id_col, ts_col)
        .agg(
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
        .select(id_col, "n_paras", "n_kept", "clean_text")
    )


def substring_dedup_stream(
    doc_stream: DataFrame,
    fp_index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "arrived",
    watermark: str = "10 minutes",
    window: int = 50,
) -> DataFrame:
    """Streaming twin of q150: exact-substring dedup AT INGEST —
    arriving documents fingerprint their stride-1 ``window``-token
    windows (``text.window_fingerprints``) and probe the STORED
    fingerprint index (q150's old-corpus index: distinct xxhash64
    window hashes, column ``fh``) by stream-static join; the output is the
    per-document dup accounting the batch family emits:
    ``(doc_id, n_tokens, n_windows, n_dup_windows, n_dup_tokens,
    dup_ratio, keep)``, once per document.

    Contract (the q100/paragraph-twin pattern): the stream dedups
    against the INDEX — within-batch new×new duplication is the batch
    job's business (q150 handles it; rebuild the index on ingestion's
    cadence). Keeps the only state the watermark-bounded per-doc
    aggregate.

    100 TB design: fingerprints are per-row codegen; the probe is a
    stream-static LEFT equi-join on the 8-byte hash; coverage
    (distinct duplicated token positions) is an IN-ROW interval union
    over the document's OWN sorted dup starts — every window spans
    exactly ``window`` tokens, so the union folds as
    ``Σ min(window, next_start − start) + window`` — no distinct
    aggregate in the stream (unsupported) and no second stateful op."""
    from ..functions.text import tokenize_ws, window_fingerprint_stage

    if ts_col not in doc_stream.columns:
        raise ValueError(
            f"substring_dedup_stream: ts_col {ts_col!r} not in stream columns "
            f"{doc_stream.columns} — the per-document aggregate must be "
            "watermark-bounded; add an arrival timestamp"
        )
    W = window
    tk = doc_stream.select(
        id_col, ts_col, tokenize_ws(F.col(text_col)).alias("__tk")
    )
    # r13: the doubling-polynomial fingerprint stage (the batch
    # family's lowering — the stored index's hashes MUST match, and
    # q150/_substr_wins build it from the same stage)
    sized = tk.select(
        id_col, ts_col, F.size("__tk").cast("long").alias("__n_tk"), "__tk"
    )
    fp = window_fingerprint_stage(sized, "__tk", [id_col, ts_col, "__n_tk"], W)
    staged = fp.select(
        id_col,
        ts_col,
        "__n_tk",
        F.posexplode_outer("__wfp").alias("pos", "h"),
    )
    probed = staged.join(
        fp_index_df.select(F.col("fh")), staged["h"] == F.col("fh"), "left"
    )
    agg = (
        probed.withWatermark(ts_col, watermark)
        .groupBy(id_col, ts_col)
        .agg(
            F.first("__n_tk").alias("n_tokens"),
            F.sum(
                F.when(F.col("fh").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_dup_windows"),
            F.sort_array(
                F.collect_set(F.when(F.col("fh").isNotNull(), F.col("pos")))
            ).alias("__starts"),
        )
    )
    starts = F.col("__starts")
    n = F.size(starts)
    # interval union over sorted fixed-width windows (guard n ≤ 1:
    # sequence(1, 0) would generate DESCENDING [1, 0])
    covered = (
        F.when(n == 0, F.lit(0))
        .when(n == 1, F.lit(W))
        .otherwise(
            F.aggregate(
                F.sequence(F.lit(1), n - 1),
                F.lit(0),
                lambda acc, i: acc
                + F.least(F.lit(W), F.element_at(starts, i + 1) - F.element_at(starts, i)),
            )
            + F.lit(W)
        )
        .cast("long")
    )
    ratio = F.round(
        covered.cast("double") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
    )
    return agg.select(
        id_col,
        "n_tokens",
        F.greatest(F.col("n_tokens") - F.lit(W - 1), F.lit(0)).alias("n_windows"),
        "n_dup_windows",
        covered.alias("n_dup_tokens"),
        ratio.alias("dup_ratio"),
        (ratio < 0.2).alias("keep"),
    )


def _bench_gram_row(bench_df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Fold a static eval corpus to the ONE-ROW sorted gram-hash array
    used by the stateless decontamination shape (shared by
    contamination_stream and clean_ingest_stream)."""
    from ..functions.dedup import word_shingles

    return (
        bench_df.select(F.explode(word_shingles(F.col(text_col), n)).alias("__g"))
        .select(F.xxhash64(F.col("__g")).alias("__gh"))
        .distinct()
        .agg(F.array_sort(F.collect_list("__gh")).alias("__bench"))
        .withColumn("__k", F.lit(1))
    )


def clean_ingest_stream(
    doc_stream: DataFrame,
    para_index_df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "arrived",
    watermark: str = "10 minutes",
    para_tokens: int = 25,
    n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Composed clean-at-ingest pipeline — the streaming face of q136:
    paragraph-level dedup against the stored corpus index
    (:func:`paragraph_dedup_stream`), hashed quality scoring over the
    REBUILT text, and decontamination against the static eval corpus,
    all in ONE streaming query. Emits per surviving document
    ``(doc_id, n_paras, n_kept, n_tokens, score, n_shared,
    contaminated, keep)`` — keep = positive quality AND not
    contaminated.

    State budget: exactly ONE stateful operator (the watermark-bounded
    per-doc rebuild inside paragraph_dedup_stream); scoring is per-row
    codegen and decontamination is the stateless broadcast-intersect
    shape, so everything after the rebuild runs at ingest rate with
    zero added state. Canonical-URL dedup (q131's twin) composes
    UPSTREAM of this operator when the feed carries URLs — kept
    outside so the query has a single stateful op (Spark chains
    multiple stateful operators in append mode only, which holds
    results until the watermark closes; one-stateful-op pipelines can
    also run in update mode for low-latency sinks)."""
    from ..functions import text as T

    rebuilt = paragraph_dedup_stream(
        doc_stream, para_index_df, text_col, id_col, ts_col, watermark, para_tokens
    )
    td = rebuilt.select(
        id_col, "n_paras", "n_kept", "clean_text",
        T.tokenize_ws(F.col("clean_text")).alias("__tk"),
    )
    staged = td.select(
        id_col, "n_paras", "n_kept", "clean_text",
        F.size("__tk").cast("long").alias("n_tokens"),
        T.hashed_features(F.col("__tk")).alias("__feats"),
    )
    scored = staged.select(
        id_col, "n_paras", "n_kept", "clean_text", "n_tokens",
        T.hashed_score_from_features(F.col("__feats")).alias("score"),
    )
    from ..functions.dedup import word_shingles

    docs = scored.withColumn(
        "__gr", F.transform(word_shingles(F.col("clean_text"), n), lambda g: F.xxhash64(g))
    ).withColumn("__k", F.lit(1))
    joined = docs.join(F.broadcast(_bench_gram_row(bench_df, text_col, n)), "__k")
    n_shared = F.size(F.array_intersect("__gr", "__bench")).cast("long")
    ratio = F.round(n_shared / F.greatest(F.size("__gr"), F.lit(1)), 6)
    contaminated = ratio >= F.lit(threshold)
    return joined.select(
        id_col, "n_paras", "n_kept", "n_tokens", "score",
        n_shared.alias("n_shared"),
        contaminated.alias("contaminated"),
        ((F.col("score") > 0) & ~contaminated).alias("keep"),
    )


def contamination_stream(
    doc_stream: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Streaming twin of ``dedup.contamination_check``: score documents
    against a STATIC evaluation corpus AS THEY ARRIVE (the
    decontaminate-at-ingest stage of a training-data pipeline).

    Stateless by construction — the strongest streaming shape: the
    bench side folds to a ONE-ROW sorted array of gram hashes (the
    same ~MB-scale broadcast budget as the batch path's bloom/set),
    joined to the stream on a constant key, and the per-document
    overlap is a per-row ``array_intersect`` between the doc's own
    distinct-gram array and that static array. No explode, no
    streaming aggregation, no watermark, ZERO state — each micro-batch
    is a pure map, so the operator runs at ingest rate forever.

    Emits ``(id, n_shared, n_grams, ratio, contaminated)`` — identical
    to the batch operator (batch-parity test in test_streaming.py)."""
    from ..functions.dedup import word_shingles

    # xxhash64 grams: hash-agnostic counts, like the batch path (r7)
    bench_arr = _bench_gram_row(bench_df, text_col, n)
    docs = doc_stream.select(
        F.col(id_col),
        F.transform(word_shingles(F.col(text_col), n), lambda g: F.xxhash64(g)).alias("__gr"),
        F.lit(1).alias("__k"),
    )
    joined = docs.join(F.broadcast(bench_arr), "__k").drop("__k")
    n_grams = F.size("__gr")
    n_shared = F.size(F.array_intersect("__gr", "__bench"))
    ratio = F.round(n_shared / F.greatest(n_grams, F.lit(1)), 6)
    return joined.select(
        F.col(id_col),
        n_shared.cast("long").alias("n_shared"),
        n_grams.cast("long").alias("n_grams"),
        ratio.alias("ratio"),
        (ratio >= F.lit(threshold)).alias("contaminated"),
    )


def histogram_rollup_stream(
    df: DataFrame,
    ts_col: str,
    window: str,
    value: str,
    width: float = 1.0,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming histogram partials — the quantile leg of the
    continuous aggregate that ``rollup_stream``'s count/sum/min/max
    cannot carry (quantiles aren't additive, histogram COUNTS are,
    functions/quantile.py): one append-mode row per (window, keys,
    bin) with its count, emitted once when the watermark closes the
    window. Downstream, any coarser grain re-aggregates with SUM(n)
    and ``quantiles_from_histogram`` reads the compact partials —
    continuous p95s at event-stream scale without re-reading raw
    events. State is |open windows| × |keys| × |bins| rows, bounded
    by the watermark horizon."""
    bin_col = F.floor(F.col(value) / F.lit(float(width))).alias("bin")
    grouped = df.withWatermark(ts_col, watermark).groupBy(
        F.window(F.col(ts_col), window), *(keys or []), bin_col
    )
    return grouped.agg(F.count(F.lit(1)).alias("n"))


def ann_index_ingest_stream(
    vec_stream: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming twin of ``similarity.ann_index_store``'s encode stage:
    vectors arriving on a stream encode against the FIXED
    offline-trained model (centroids + codebooks ride as plan
    literals — pure Column expressions, legal in streaming; no state,
    no watermark needed) into ``(id, cell, codes)`` rows. Write with
    ``writeStream.partitionBy("cell")`` (see
    :func:`write_ann_index_stream`) to APPEND into the same
    cell-partitioned layout ``ann_index_probe`` scans — fresh vectors
    become probe-visible at the micro-batch cadence, and the probe's
    PartitionFilters pruning works identically on streamed files.

    The model is deliberately an INPUT: codebook training is the
    offline batch job (pq_refined_pipeline_contract's sampling story);
    re-encoding history after a model refresh is the batch path's job,
    exactly like the signature-index refresh contract of
    :func:`incremental_dedup_stream`."""
    from ..functions.similarity import ivf_assign, pq_encode

    centroids = [(int(c), [float(x) for x in v]) for c, v in model["centroids"]]
    cbs = [[[float(x) for x in cw] for cw in cb] for cb in model["codebooks"]]
    enc = pq_encode(
        ivf_assign(vec_stream, centroids, id_col, vec_col), cbs, id_col, vec_col,
        keep=["__cell"],
    )
    return enc.select(F.col(id_col), F.col("__cell").alias("cell"), "codes")


def write_ann_index_stream(df: DataFrame, path: str, checkpoint: str):
    """Start the cell-partitioned append sink for
    :func:`ann_index_ingest_stream`. Deliberately ``foreachBatch`` +
    a plain batch write, NOT the native parquet sink: the native sink
    drops a ``_spark_metadata`` transaction log in the directory, and
    any later read of a directory containing one exposes ONLY the
    sink-logged files — silently hiding the batch-built index rows
    the stream is appending NEXT TO. foreachBatch writes the same
    partitionBy(cell) layout with no metadata log, so one probe scans
    batch history and streamed arrivals together.

    Replay safety: a plain append is NOT idempotent per epoch — a
    failure after the append but before the checkpoint commit would
    re-append the batch on restart, and duplicated rows DO change a
    probe's top-k (the duplicate displaces a real neighbor). Each
    epoch therefore writes an underscore-prefixed marker file (readers
    ignore ``_``-paths) and a replayed epoch that finds its marker
    skips the append. The residual window (crash BETWEEN the data
    append and the marker write) remains — at deployment close it
    with an object-store conditional PUT, or dedup the probe side on
    the id column (rows are deterministic re-encodes, so duplicates
    are identical and dropDuplicates restores exactness).

    Marker IO goes through the Hadoop FileSystem resolved FROM THE
    PATH (ADVICE r11: driver-local os.path/open would silently target
    a bogus local directory for hdfs:// / s3a:// index paths, so the
    idempotence guard would never fire and replayed epochs would
    append duplicates) — the same filesystem the data append writes
    to, local or remote."""

    def _append_once(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        jvm = spark._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        marker = jvm.org.apache.hadoop.fs.Path(
            f"{path}/_streamed_epochs/{epoch_id}"
        )
        fs = marker.getFileSystem(hconf)
        if fs.exists(marker):
            return  # replayed epoch: its rows are already in the index
        # r12 (guide §6): repartition by cell first — otherwise every
        # batch task opens a writer per cell it touches, and the
        # per-epoch appends accrete tasks × nlist tiny files; this
        # caps it at one file per touched cell per epoch (the batch
        # builder's layout rule; probe pruning is layout-independent).
        # maxRecordsPerFile: a hot cell is a single-task writer — cap
        # its file size (ADVICE r12; ann_index_store's skew note)
        batch.repartition("cell").write.option(
            "maxRecordsPerFile", 8_000_000
        ).mode("append").partitionBy("cell").parquet(path)
        fs.mkdirs(marker.getParent())
        fs.createNewFile(marker)

    return (
        df.writeStream.foreachBatch(_append_once)
        .option("checkpointLocation", checkpoint)
        .start()
    )



def _batch_signature(sized: DataFrame, id_col: str) -> str:
    """Content signature of a micro-batch — the sequence family's
    replay key: (row count, order-insensitive sum of per-row md5-60
    hashes, token total). Identical content ⇒ identical signature, so
    a re-delivered batch skips NO MATTER how the engine numbered it
    (checkpoint-scoped batch ids collide across fresh checkpoints —
    keying on content distinguishes "same data replayed" from "new
    run, new data", which a bare epoch id cannot). Wrapping long
    overflow in the hash sum is deterministic and fine for a
    fingerprint. One batch-sized aggregate, no driver-side rows
    beyond the 1-row result."""
    row = sized.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col(id_col), F.col("__n"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
        ).alias("h"),
        F.sum("__n").alias("t"),
    ).first()
    return f"{row['c']}_{row['h']}_{row['t']}"


def _read_committed(spark, dir_path: str):
    """Read a parquet directory that may not exist, may hold only a
    crashed write's ``_temporary`` litter (fs.exists true, zero
    committed files — schema inference throws), or may predate a
    schema addition. Returns the DataFrame or None for "nothing
    committed"; callers treat None as empty state. This is the
    recovery-path guard: without it, a crash during the very FIRST
    append wedges every restart on the schema-inference error."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(dir_path)
    except AnalysisException:
        return None


def write_sequence_manifest_stream(
    doc_stream: DataFrame,
    path: str,
    seq_len: int,
    checkpoint: str,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
):
    """Streaming twin of the q158 sequence-manifest builder: documents
    arriving on a stream pack into the SAME back-to-back global token
    stream the batch manifest describes. Each micro-batch runs the
    batch ``sequence_spans`` plan shifted by the corpus token total
    COMMITTED SO FAR (``base_offset``), so a new batch's spans
    continue exactly where the previous batch ended — filling the
    partial tail sequence first, then opening new sequences. Within a
    micro-batch, order = ``id_col`` (deterministic); across batches,
    order = arrival — exactly a training loader's append-only .idx.
    Batch/stream parity: streaming the corpus in id order, in ANY
    batch split, yields bit-identically the batch manifest (tested).

    BOTH pieces of state are DERIVED from the manifest itself, and
    the replay key rides IN the appended rows (``__epoch`` = the
    batch's CONTENT signature, :func:`_batch_signature`) — so the
    skip-check and the data share ONE atomic parquet commit: offset =
    ``SUM(span_len)`` over committed rows, replay = "rows with my
    signature already exist". A crash between "data committed" and
    "bookkeeping recorded" cannot exist because there is no
    bookkeeping outside the data; a crash BEFORE the commit leaves
    nothing committed (the recovery read tolerates the _temporary
    litter) and the replay re-runs cleanly. Content keying also means
    a NEW stream over NEW files with a fresh checkpoint appends
    correctly even though its batch ids restart at 0 — only
    identical content skips. The skip granularity is the BATCH: a
    re-delivery chopped into different batch boundaries is not
    recognized (same as any batch-level idempotence, markers
    included) — recovery replays use the checkpoint, which preserves
    batch composition. (A side-file marker — the ann-index
    convention — would leave a window where the data committed but
    the marker didn't, and the re-derived offset would shift the
    replayed spans into NON-identical duplicates; deriving both from
    the data closes it.) Manifests written before the signature
    column existed read as "no signatures recorded" (no skip
    protection for pre-upgrade replays — rebuild or accept the
    one-time risk).

    100 TB design: per batch it IS the batch plan (two-pass prefix
    sum + spans-sized explode); the offset and skip reads are
    column-pruned aggregates over the spans-sized manifest (corpus/L
    rows — compact to
    :func:`~pig_spark.operators.packing.sequence_store`'s blocked
    layout when the loader wants pruned reads); the appended files
    partition naturally by arrival."""
    from ..operators.materialize import release
    from ..operators.packing import sequence_spans

    manifest = f"{path}/manifest"

    def _append_once(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        sized = batch.select(
            F.col(id_col), F.col(tokens_col).cast("long").alias("__n")
        ).where(F.col("__n") > 0)
        # an all-empty batch appends nothing (an empty write can leave
        # a directory a later schema-inferring read chokes on) — and
        # with no appended rows there is nothing to skip on replay
        if sized.limit(1).count() == 0:
            return
        sig = _batch_signature(sized, id_col)
        offset = 0
        m = _read_committed(spark, manifest)
        if m is not None:
            # ONE manifest pass returns both the offset and the
            # replay flag (pre-signature manifests have no column —
            # read as "no signatures recorded")
            seen = (
                F.max(F.when(F.col("__epoch") == sig, 1))
                if "__epoch" in m.columns
                else F.lit(None)
            )
            row = m.agg(
                F.sum(F.col("span_len").cast("long")), seen.alias("seen")
            ).first()
            if row["seen"] is not None:
                return  # same content already committed: replay
            offset = int(row[0] or 0)
        spans = sequence_spans(
            batch, tokens_col, seq_len, order=id_col, id_col=id_col,
            base_offset=offset,
        )
        try:
            spans.withColumn("__epoch", F.lit(sig)).write.mode(
                "append"
            ).parquet(manifest)
        finally:
            release(spans)  # the batch's stored running sums

    return (
        doc_stream.writeStream.foreachBatch(_append_once)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def write_sequence_store_stream(
    doc_stream: DataFrame,
    path: str,
    seq_len: int,
    checkpoint: str,
    tokens_col: str = "tk",
    id_col: str = "doc_id",
    block: int = 1024,
):
    """Streaming build of the PERSISTED sequence store
    (:func:`~pig_spark.operators.packing.sequence_store`'s artifact,
    maintained incrementally): each micro-batch (a) appends its span
    manifest shifted by the committed corpus offset (the
    write_sequence_manifest_stream contract), (b) appends its raw
    token arrays to a docs side table, and (c) FINALIZES every
    newly-COMPLETE sequence — a sequence materializes only when the
    corpus total has passed its end, so the boundary sequence that
    straddles two micro-batches assembles exactly once, from spans of
    BOTH batches, when its second half arrives. The partial tail is
    never written (a training loader must not see a short sequence
    mid-stream; the batch job's drop-last equivalent).

    Every piece of state is DERIVED from committed data — offset =
    SUM(span_len) over the manifest, the replay skip-check = "my
    batch's CONTENT signature already has manifest rows" (``__epoch``
    = :func:`_batch_signature`, riding IN the rows: skip-check and
    data share ONE atomic parquet commit, no side-marker window can
    shift a replayed batch into non-identical duplicates, and a NEW
    stream with a fresh checkpoint never collides with old batch
    numbering), finalized count = the sequences table's row count
    (seq_ids are dense by construction). Write order bounds the
    remaining crash windows: docs append FIRST (a replay re-appends
    IDENTICAL rows, deduped on read), the manifest append is the
    batch's commit point, and finalization self-heals: it runs once
    at the first batch after a (re)start as well as after every
    append — a crash between the manifest commit and the sequences
    write is repaired from committed state. The recovery reads
    tolerate a crashed first write's ``_temporary`` litter
    (:func:`_read_committed`); pre-signature manifests read as "no
    signatures recorded".

    100 TB design: per batch = the batch plans (prefix sum, one
    equi-join gather over only the NEW sequences' spans); the
    finalization scan prunes the manifest to the new seq_id blocks
    via PartitionFilters (part carries floor(seq_id/block)); the docs
    side table is read filtered by the gather join's keys — compact
    it on the loader's cadence."""
    from ..operators.materialize import release
    from ..operators.packing import gather_sequences, sequence_spans

    manifest = f"{path}/manifest"
    docs_p = f"{path}/docs"
    seqs_p = f"{path}/sequences"

    def _finalize(spark, fs, jvm, n_complete: int) -> None:
        n_done = 0
        if fs.exists(jvm.org.apache.hadoop.fs.Path(seqs_p)):
            n_done = spark.read.parquet(seqs_p).count()
        if n_complete > n_done:
            man = spark.read.parquet(manifest).where(
                (F.col("part") >= n_done // block)
                & (F.col("part") <= (n_complete - 1) // block)
                & (F.col("seq_id") >= n_done)
                & (F.col("seq_id") < n_complete)
            )
            docs = spark.read.parquet(docs_p).dropDuplicates([id_col])
            out = gather_sequences(
                man, docs, tokens_col=tokens_col, id_col=id_col
            )
            out.withColumn(
                "part", F.floor(F.col("seq_id") / block)
            ).repartition("part").write.option(
                "maxRecordsPerFile", 500_000
            ).mode("append").partitionBy(
                "part"
            ).parquet(seqs_p)

    healed = {"done": False}

    def _ingest(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        jvm = spark._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.Path(manifest).getFileSystem(hconf)
        sized = batch.select(
            F.col(id_col), F.size(tokens_col).cast("long").alias("__n")
        ).where(F.col("__n") > 0)
        stats = sized.agg(
            F.count(F.lit(1)).alias("c"), F.sum("__n").alias("t")
        ).first()
        offset = 0
        sig = None
        m = _read_committed(spark, manifest)
        if m is not None:
            if int(stats["c"] or 0) > 0:
                sig = _batch_signature(sized, id_col)
            # ONE manifest pass: offset + replay flag together
            seen = (
                F.max(F.when(F.col("__epoch") == sig, 1))
                if sig is not None and "__epoch" in m.columns
                else F.lit(None)
            )
            row = m.agg(
                F.sum(F.col("span_len").cast("long")), seen.alias("seen")
            ).first()
            offset = int(row[0] or 0)
            if not healed["done"]:
                # first batch after a (re)start: repair any
                # finalization gap a prior crash left (committed
                # manifest, missing sequences); steady-state batches
                # skip this — only a crash can open a gap
                _finalize(spark, fs, jvm, offset // seq_len)
                healed["done"] = True
            if row["seen"] is not None:
                return  # same content already committed: replay
        if int(stats["t"] or 0) == 0:
            # all-empty batch: nothing to pack, nothing to record (an
            # empty partitioned append can leave a directory a later
            # schema-inferring read chokes on; replaying it is a no-op)
            return
        if sig is None:
            sig = _batch_signature(sized, id_col)
        # docs BEFORE the manifest commit point: a crash between the
        # two re-appends identical doc rows on replay (deduped on read)
        batch.select(id_col, tokens_col).write.mode("append").parquet(docs_p)
        spans = sequence_spans(
            sized, "__n", seq_len, order=id_col, id_col=id_col,
            base_offset=offset,
        )
        # r12 (guide §6): one file per touched block per batch — see
        # write_ann_index_stream's layout note
        try:
            spans.withColumn("part", F.floor(F.col("seq_id") / block)).withColumn(
                "__epoch", F.lit(sig)
            ).repartition("part").write.option(
                "maxRecordsPerFile", 8_000_000
            ).mode("append").partitionBy(
                "part"
            ).parquet(manifest)
        finally:
            release(spans)  # the batch's stored running sums
        _finalize(spark, fs, jvm, (offset + int(stats["t"])) // seq_len)

    return (
        doc_stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .start()
    )
