"""Token-budget packing — group documents into fixed-budget shards.

The last mile of a training-data pipeline: after cleaning/dedup,
documents are packed into context-window-sized groups (budget B
tokens). Exact greedy packing is inherently sequential (the reset
point depends on everything before it), so the scalable formulation is
*block packing*: order documents deterministically, take the running
token sum, and assign bucket = floor((cumsum - tokens) / B) — i.e. a
document starts a new bucket when the PRIOR total crossed a budget
boundary. Buckets hold ≥1 document, averages B tokens, and only the
boundary-straddling document can push a bucket over B — the standard
trade for a distributed plan.

The running sum itself is the POCounter/PORank two-pass scheme the
engine's RANK uses (:func:`~pig_spark.operators.prefix.running_sums`)
— NOT a window partitioned by the shard key: a shard is a DATA-SIZED
key (a corpus with a handful of sources puts each source's full token
stream in ONE window partition, which AQE cannot split — the r9
first-occurrence rule applied to prefix sums). The running sums
range-partition by (shard, order), sum within partitions and add
cross-partition offsets from a tiny per-(shard, partition) totals
table; ``tests/test_prefix_sums.py`` compares each packer with the
single-window formulation on 200k rows. The running sums store their
input once, so building a packed frame runs the input's shuffle
stages as a job and the stored rows stay in executor storage until
the plan is collected (:mod:`~pig_spark.operators.prefix`);
``sequence_spans`` stores only (id, order, token count).

Strict caps, when required, run per-bucket afterwards — each coarse
bucket is budget-bounded, so :func:`pack_strict` re-packs it
exact-greedily with an in-row fold (the nested-FOREACH shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import materialize
from .prefix import running_sums


def pack_by_budget(
    df: DataFrame,
    tokens: str | Column,
    budget: int,
    shard: str | None = None,
    order: str | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Assign a 0-based ``bucket`` so consecutive rows (by ``order``,
    within ``shard``) accumulate ~``budget`` tokens per bucket.
    Deterministic given a unique order column; with ``order=None`` the
    ordering is the incoming partition layout (arbitrary but valid —
    no determinism promise, same as before).

    The running token sum is :func:`~pig_spark.operators.prefix.
    running_sums` within ``shard`` (see module docstring)."""
    tok = F.col(tokens) if isinstance(tokens, str) else tokens
    sums = running_sums(
        df,
        order=[F.col(order)] if order is not None else [],
        group=[shard] if shard else [],
        weight=tok,
    )
    return sums.withColumn(
        bucket_col, F.floor(F.col("__excl") / F.lit(budget)).cast("long")
    ).drop("__excl", "__incl")


def balanced_shards(
    df: DataFrame,
    tokens: str | Column,
    n_shards: int,
    order: str,
    shard_name: str = "shard",
) -> DataFrame:
    """Token-SIZE-balanced deterministic shard assignment — the exact
    greedy follow-up to :func:`shard_assign` (whose mod-N deal
    balances row COUNTS, not byte/token totals). Two passes:

    1. the manifest aggregate: the total token count (a 1-row
       broadcast, the largest running sum), so shard i's quota
       boundary sits at ``i * total / n_shards``;
    2. deterministic range assignment: rows ordered by the
       deterministic ``order`` key (md5-60 of the row key — the
       shard_assign retry-stability contract: no RNG, no partition-
       layout dependence) take the EXACT greedy waterline — the
       running token prefix sum — and land in the shard whose quota
       range contains their start:
       ``shard = min(n-1, floor(cum_exclusive * n / total))``.

    Every shard's token total lands within quota ± the largest single
    document (property-tested) — the tight bound for any assignment
    that keeps documents whole.

    100 TB design: the prefix sum is
    :func:`~pig_spark.operators.prefix.running_sums` — NO data-sized
    window partition and no global orderBy; the manifest total is
    partial-aggregated. The
    quota arithmetic stays exact: cum*n ≲ 2^53 for any realistic
    corpus (2.5e13 tokens × 1024 shards), so the float floor is the
    integer floor on both engines (the DuckDB oracle mirrors it)."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    tok = F.col(tokens) if isinstance(tokens, str) else tokens
    sums = running_sums(df, order=[F.col(order)], weight=tok)
    # token counts are ≥ 0, so the largest inclusive sum is the total —
    # read from the stored rows, without running the input again
    grand = sums.agg(F.max("__incl").alias("__total"))
    return sums.crossJoin(F.broadcast(grand)).withColumn(
        shard_name,
        F.least(
            F.lit(n_shards - 1),
            F.floor(F.col("__excl") * n_shards / F.col("__total")),
        ).cast("long"),
    ).drop("__excl", "__incl", "__total")


def shard_assign(
    df: DataFrame,
    key: str | Column,
    n_shards: int,
    salt: str = "",
    key_name: str = "shard_key",
    shard_name: str = "shard",
) -> DataFrame:
    """Deterministic training-shard assignment (the export stage's
    global shuffle): ``key_name`` = md5-60 of the row key + a version
    salt — a pseudo-random but fully reproducible position — and
    ``shard_name`` = that key mod ``n_shards``. No RNG, no
    order-dependence: a retried task, a different cluster, or a
    different engine produces the same shard for every row; bumping
    ``salt`` re-deals the whole corpus (the sampling.py re-draw
    idiom).

    Map-only. The scale write path is
    ``repartition(n, shard).sortWithinPartitions(shard, key)`` + a
    partitioned store — one shuffle sized by the corpus, in-shard
    order established during the shuffle sort, never a global
    orderBy (`test_training_shard_store_order` drives it end-to-end
    and checks per-file order)."""
    from ..functions.dedup import md5_60

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    key_col = F.col(key) if isinstance(key, str) else key
    k = md5_60(F.concat(key_col.cast("string"), F.lit(salt)))
    return df.withColumn(key_name, k).withColumn(
        shard_name, (F.col(key_name) % n_shards).cast("long")
    )


def pack_strict(
    df: DataFrame,
    tokens: str | Column,
    budget: int,
    order: str,
    shard: str | None = None,
    bucket_col: str = "bucket",
    pack_col: str = "pack",
) -> DataFrame:
    """STRICT-cap packing — the per-shard capped re-pack the module
    docstring promises (VERDICT r10 #8): :func:`pack_by_budget` may
    overshoot by one boundary-straddling document; when the budget is
    a hard ceiling (a context window, not a target), each coarse
    bucket re-packs EXACT-greedily so no (bucket, pack) group exceeds
    ``budget`` unless it is a single document larger than the budget
    (which must stay whole — the tight strict bound).

    Shape (the nested-FOREACH idiom): coarse buckets are
    budget-BOUNDED by construction (≤ budget + max-doc tokens), so
    collecting one bucket's (order, tokens) pairs into a bag is a
    bounded-size aggregate — never a data-sized bag; the exact greedy
    fold (inherently sequential — the reset point depends on every
    prior reset) runs IN-ROW over that sorted bag via ``aggregate``
    (codegen, no Python, no driver collect), and the assignments
    explode back and equi-join to the rows on the unique ``order``
    key. One extra shuffle pair vs pack_by_budget, both on bounded
    groups. ``order`` is required: strict greedy has no meaning
    without a deterministic sequence."""
    tok = F.col(tokens) if isinstance(tokens, str) else tokens
    shard_cols = [shard] if shard else []
    coarse = pack_by_budget(
        df, tokens, budget, shard=shard, order=order, bucket_col="__coarse"
    )
    otype = dict(df.dtypes)[order]
    slim = coarse.select(
        *shard_cols,
        "__coarse",
        F.col(order).alias("o"),
        tok.cast("long").alias("t"),
    )
    bags = slim.groupBy(*shard_cols, "__coarse").agg(
        F.array_sort(F.collect_list(F.struct("o", "t"))).alias("__bag")
    )

    def _step(acc, x):
        # close the current pack when adding x would overshoot a
        # NON-EMPTY pack; an oversized document opens its own pack
        reset = (acc["cur"] + x["t"] > F.lit(budget)) & (acc["cur"] > 0)
        idx = F.when(reset, acc["idx"] + 1).otherwise(acc["idx"])
        cur = F.when(reset, x["t"]).otherwise(acc["cur"] + x["t"])
        return F.struct(
            cur.alias("cur"),
            idx.alias("idx"),
            F.concat(
                acc["out"], F.array(F.struct(x["o"].alias("o"), idx.alias("idx")))
            ).alias("out"),
        )

    init = F.struct(
        F.lit(0).cast("bigint").alias("cur"),
        F.lit(0).alias("idx"),
        F.array().cast(f"array<struct<o:{otype},idx:int>>").alias("out"),
    )
    packed = bags.select(
        *shard_cols,
        "__coarse",
        F.explode(F.aggregate("__bag", init, _step)["out"]).alias("__a"),
    ).select(
        *shard_cols,
        F.col("__coarse").alias(bucket_col),
        F.col("__a.o").alias("__o"),
        F.col("__a.idx").alias(pack_col),
    )
    joined = df.join(
        packed,
        on=[df[order] == packed["__o"]]
        + [df[c] == packed[c] for c in shard_cols],
        how="inner",
    )
    return joined.drop(packed["__o"]).drop(*[packed[c] for c in shard_cols])


def sequence_spans(
    df: DataFrame,
    tokens: str | Column,
    seq_len: int,
    order: str,
    id_col: str = "doc_id",
    base_offset: int = 0,
) -> DataFrame:
    """Fixed-length sequence ASSEMBLY manifest — the GPT-style
    pretraining data format: the token stream (documents concatenated
    in ``order``) is cut into back-to-back sequences of EXACTLY
    ``seq_len`` tokens, documents crossing boundaries are split (no
    padding, no document alignment), and the output records every
    (sequence, document) span: where in the doc it starts, where in
    the sequence it lands, and its length. This manifest IS the
    .bin/.idx index a training loader consumes; downstream the text
    gather is one equi-join on doc_id.

    All integer math, fully deterministic given ``order``: a doc with
    exclusive token offset ``off`` and length ``n`` covers sequences
    floor(off/L) .. floor((off+n-1)/L), contributing one span per
    crossed sequence. The final (partial) sequence is emitted too —
    the trainer's drop-last is a filter on span accounting, not lost
    data. ZERO-token documents contribute no span and are dropped
    from the manifest (they have no bytes to pack); count them
    upstream if their ids must be accounted for.

    100 TB design: the exclusive offset is
    :func:`~pig_spark.operators.prefix.running_sums` (never a
    data-sized window partition); the explode emits ~n/L + 1 rows per
    doc (stream-sized / L, the output's own size) in the SAME map
    stage.

    ``base_offset`` shifts the whole token stream: a streaming ingest
    continuing an existing manifest passes the committed corpus total
    so the new batch's spans land after (and possibly inside the
    partial tail of) the sequences already written — see
    ``streaming.write_sequence_manifest_stream``."""
    if seq_len <= 0:
        raise ValueError(f"sequence_spans: seq_len must be positive, got {seq_len}")
    tok = F.col(tokens) if isinstance(tokens, str) else tokens
    keep = list(dict.fromkeys((id_col, order)))  # id_col may be the order
    parts = df.select(*keep, tok.cast("long").alias("__n")).where(F.col("__n") > 0)
    sums = running_sums(parts, order=[F.col(order)], weight=F.col("__n"))
    staged = sums.select(
        *keep, "__n", (F.col("__excl") + F.lit(int(base_offset))).alias("__doc_off")
    )
    # explode one span per crossed sequence: sequences floor(off/L) ..
    # floor((off+n-1)/L); F.sequence is ascending here (lo ≤ hi always,
    # since n ≥ 1)
    lo = F.floor(F.col("__doc_off") / seq_len).cast("long")
    hi = F.floor((F.col("__doc_off") + F.col("__n") - 1) / seq_len).cast("long")
    spans = staged.select(
        *keep,
        "__n",
        "__doc_off",
        F.explode(F.sequence(lo, hi)).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * seq_len  # global token pos of seq head
    span_start_glob = F.greatest(F.col("__doc_off"), seq_start)
    span_end_glob = F.least(
        F.col("__doc_off") + F.col("__n"), seq_start + seq_len
    )
    return spans.select(
        F.col("seq_id"),
        F.col(id_col),
        (span_start_glob - F.col("__doc_off")).alias("start_in_doc"),
        (span_start_glob - seq_start).alias("start_in_seq"),
        (span_end_glob - span_start_glob).alias("span_len"),
    )


def gather_sequences(spans: DataFrame, docs: DataFrame,
                     tokens_col: str = "tk",
                     id_col: str = "doc_id") -> DataFrame:
    """Assemble training sequences from a span manifest: join the
    (sequence, document) spans back to the token arrays, slice each
    span out of its doc, and concatenate in span order. Output:
    (seq_id, n_spans, toks) — ``toks`` is the assembled ≤ L-token
    stream. This is q159's gather factored out so the persisted store
    (:func:`sequence_store`) and the in-memory query share ONE body.

    100 TB design: ONE equi-join on ``id_col`` (manifest side is
    spans-sized = corpus/L) and ONE groupBy(seq_id) whose groups are
    ≤ L tokens by construction — the in-group sort is an array_sort
    over a bounded bag, never a window; text shuffles once, sliced to
    exactly the spans needed."""
    joined = spans.join(docs.select(id_col, tokens_col), id_col).select(
        "seq_id",
        "start_in_seq",
        F.slice(
            tokens_col,
            F.col("start_in_doc").cast("int") + 1,
            F.col("span_len").cast("int"),
        ).alias("piece"),
    )
    return joined.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("start_in_seq", "piece"))),
                lambda x: x["piece"],
            )
        ).alias("toks"),
    )


def sequence_store(
    df: DataFrame,
    path: str,
    seq_len: int,
    tokens_col: str = "tk",
    id_col: str = "doc_id",
    block: int = 1024,
) -> None:
    """Materialize the packed-sequence artifact a training loader
    consumes (the parquet-native .bin/.idx pair): the span MANIFEST
    (:func:`sequence_spans` over the token counts) and the ASSEMBLED
    sequences (seq_id, n_spans, toks), both written PARTITIONED BY
    seq_id BLOCK (floor(seq_id / block)) so a loader rank reading its
    contiguous seq_id range prunes to its blocks via PartitionFilters
    before a file opens — the q157 ANN-index deployment shape applied
    to the loader artifact.

    100 TB design: manifest + gather reuse q158/q159's shapes (two-pass
    prefix sum, one doc_id equi-join, ≤ L-token array_sort bags); the
    partitioned writes are the only extra cost and they ARE the
    product — the assembled table is written once and read every
    epoch by every rank, so the write amortizes immediately. ``block``
    sizes a partition directory at block × L tokens (default ~0.5M
    tokens at L=512): big enough that file counts stay sane at 100 TB,
    small enough that a rank's range maps to whole blocks."""
    sized = df.select(id_col, F.size(tokens_col).cast("long").alias("__n"))
    # spans feed TWO consumers (manifest write + gather join): store
    # them once (corpus/L rows) so the prefix-sum plan and the scan
    # under it don't re-execute
    spans = materialize(sequence_spans(sized, "__n", seq_len, order=id_col, id_col=id_col))
    # r12 (guide §6 output sizing): repartition by the partition
    # column before each partitioned write — otherwise every task
    # opens a writer per block it touches (tasks × blocks tiny
    # files); the extra shuffle is manifest/sequence-row-sized and
    # yields one right-sized file per block (in-session A/B: build
    # 1.63 → 1.45 s, −11%; readers prune by PartitionFilters either
    # way). Skew note (ADVICE r12): `part` is a fixed-size range of
    # seq_ids, so partitions are uniform by construction; the
    # maxRecordsPerFile caps below are insurance for a caller passing
    # a block size far above the default (manifest rows are ~tens of
    # bytes, sequence rows carry the seq_len token array).
    spans.withColumn("part", F.floor(F.col("seq_id") / block)).repartition(
        "part"
    ).write.option("maxRecordsPerFile", 8_000_000).mode("overwrite").partitionBy(
        "part"
    ).parquet(f"{path}/manifest")
    assembled = gather_sequences(spans, df, tokens_col=tokens_col, id_col=id_col)
    assembled.withColumn("part", F.floor(F.col("seq_id") / block)).repartition(
        "part"
    ).write.option("maxRecordsPerFile", 500_000).mode("overwrite").partitionBy(
        "part"
    ).parquet(f"{path}/sequences")


def pack_ffd(
    df: DataFrame,
    tokens: str | Column,
    budget: int,
    order: str,
    shard: str | None = None,
    bucket_col: str = "bucket",
    bin_col: str = "bin",
    coarse_factor: int = 4,
) -> DataFrame:
    """First-Fit-Decreasing bin packing — the padding-MINIMIZING
    packer SFT pipelines use when samples must not cross bin
    boundaries (no doc splitting, no cross-contamination): sort each
    group's documents by token count DESCENDING (ties by ``order``),
    then place each into the FIRST bin with enough remaining
    capacity, opening a new bin when none fits. FFD is the classic
    11/9·OPT + 6/9 bin-packing approximation — materially fewer
    padding tokens than the greedy in-order pack when lengths vary.

    Distributed shape (the pack_strict contract): global FFD is
    inherently sequential, so the scalable formulation runs FFD
    EXACTLY within budget-bounded coarse buckets (``coarse_factor`` ×
    ``budget`` per bucket via :func:`pack_by_budget`'s two-pass
    prefix sum — each holds ~``coarse_factor`` bins). The in-bucket
    fold runs IN-ROW over the sorted bounded bag via ``aggregate``
    (codegen: the bin-capacity array rides in the accumulator —
    first-fit = array_position over a capacity predicate, capacity
    update = index-aware transform), and assignments explode back and
    equi-join on the unique ``order`` key. An oversized document
    (> budget) opens its own bin and nothing joins it (remaining
    capacity goes negative, which no document fits).

    100 TB design: bags are ≤ coarse_factor × budget tokens by
    construction — never data-sized; the accumulator holds ≤
    coarse_factor + 1 bins; no Python, no driver collect, two bounded
    shuffle pairs total."""
    tok = F.col(tokens) if isinstance(tokens, str) else tokens
    shard_cols = [shard] if shard else []
    coarse = pack_by_budget(
        df, tokens, budget * coarse_factor, shard=shard, order=order,
        bucket_col="__coarse",
    )
    otype = dict(df.dtypes)[order]
    slim = coarse.select(
        *shard_cols,
        "__coarse",
        F.col(order).alias("o"),
        tok.cast("long").alias("t"),
    )
    # sort key (-t, o): token count DESC, order key ASC — the
    # "decreasing" in FFD, deterministic under ties
    bags = slim.groupBy(*shard_cols, "__coarse").agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("t")).alias("nt"), "o", "t"))
        ).alias("__bag")
    )

    def _step(acc, x):
        fits = F.transform(acc["bins"], lambda b: b >= x["t"])
        pos = F.array_position(fits, F.lit(True))  # 1-based; 0 = no fit
        newb = pos == 0
        bin_ = F.when(newb, F.size(acc["bins"])).otherwise(pos - 1).cast("int")
        grown = F.concat(
            acc["bins"], F.array((F.lit(budget) - x["t"]).cast("bigint"))
        )
        updated = F.transform(
            acc["bins"],
            lambda b, i: F.when(i == pos - 1, b - x["t"]).otherwise(b),
        )
        return F.struct(
            F.when(newb, grown).otherwise(updated).alias("bins"),
            F.concat(
                acc["out"],
                F.array(F.struct(x["o"].alias("o"), bin_.alias("bin"))),
            ).alias("out"),
        )

    init = F.struct(
        F.array().cast("array<bigint>").alias("bins"),
        F.array().cast(f"array<struct<o:{otype},bin:int>>").alias("out"),
    )
    packed = bags.select(
        *shard_cols,
        "__coarse",
        F.explode(F.aggregate("__bag", init, _step)["out"]).alias("__a"),
    ).select(
        *shard_cols,
        F.col("__coarse").alias(bucket_col),
        F.col("__a.o").alias("__o"),
        F.col("__a.bin").alias(bin_col),
    )
    joined = df.join(
        packed,
        on=[df[order] == packed["__o"]]
        + [df[c] == packed[c] for c in shard_cols],
        how="inner",
    )
    return joined.drop(packed["__o"]).drop(*[packed[c] for c in shard_cols])
