"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.

Design for 100 TB:

- **exact**: hash-groupBy on the content key — one shuffle, fully
  distributed; survivor = min id per group (deterministic).
- **MinHash+LSH**: shingle → k min-hashes → band buckets → self-join
  *within buckets only* (the LSH point: candidate pairs ≪ n²), then
  exact-Jaccard verification of candidates. Shuffles are on band-hash
  (uniform) and doc id; no cross join anywhere.
- **SimHash**: one pass to a 64-bit signature, near-dups = equal
  signature buckets (or banded XOR for distance>0).
- **n-gram Jaccard**: inverted-index self-join on shared n-grams —
  exact, but candidate generation is |postings|² per gram; use for
  bounded corpora or after LSH filtering. Join key is a 60-bit gram
  hash (8-byte shuffle rows, not ~20-byte strings).

Evaluation-order rules learned from `.explain`/timing (these shape the
whole module):

- NEVER put a non-trivial expression inside a higher-order-function
  lambda: Spark re-evaluates lambda-body subtrees per array element
  (no subexpression elimination across the lambda boundary), so
  `transform(seq, i -> slice(tokenize(text), i, n))` re-runs the regex
  tokenizer once per shingle per row. Every stage here materializes
  its input as a real projection and lambdas only touch bound column
  refs — 5× on the LSH pipeline at sf0.1.
- A self-join (or sig + verify) pipeline references the shingle stage
  2-3×; Catalyst duplicates the subtree per reference. The stage is
  materialized (``operators.materialize``) — at 100 TB this is the
  standard "materialize signatures" step (alternatively write the stage
  to parquet between jobs); re-deriving shingles per branch costs 3
  full corpus scans + tokenizations.

Build-cost rule: fixed expressions are SQL templates. Every PySpark
``F.*`` or ``Column`` call is about eight py4j round trips to the JVM
(two reflection lookups, the call-site origin calls, a later proxy
delete; see ``stats.count_py4j``), ≈0.12 ms of build wall time each.
Built from Columns, a warm q41 build sent 2,348 of them and took
0.62 s wall (4-vCPU VM, local[2]). Each stage's expressions are
therefore written once as SQL text, from this module's constants, and
applied with ``selectExpr``/``F.expr``, one call per expression
whatever its size: 137 calls and 0.35 s, with the same optimized plan
(``tests/test_build_cost.py``).

All hashing is md5-derived (F.conv(substr(md5,…),16,10)) so the DuckDB
oracle can reproduce values bit-for-bit (cast('0x'||substr(md5,…) as
bigint)). Hash parameters live here and are imported by oracles.py —
one source of truth.

Reference parity: Pig has only DISTINCT (whole-row exact dedup —
reference newplan/logical/relational/LODistinct.java) — the near-dup
family is the training-data-pipeline extension surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compat import sql_ident
from ..operators.materialize import materialize
from .text import TOKENIZE_WS_SQL, sliding_grams_sql, tokenize_ws

# ---------------------------------------------------------------------
# shared deterministic hash parameters (mirrored into oracle SQL)
# ---------------------------------------------------------------------
MINHASH_K = 16  # signature length
MINHASH_BANDS = 4  # bands × rows = K
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
SHINGLE_N = 3  # word-shingle width


def _lcg(seed: int, n: int) -> list[int]:
    """Tiny deterministic LCG for (a,b) hash params — not security, just
    fixed pseudo-random multipliers shared with the oracle. Kept below
    2^30 so h*a+b (h < 2^32) stays under 2^63: the whole permutation
    runs in plain long arithmetic inside whole-stage codegen, no
    decimal/hugeint on either engine."""
    out, x = [], seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        out.append(x % ((1 << 30) - 1) + 1)
    return out

MINHASH_A = _lcg(42, MINHASH_K)
MINHASH_B = _lcg(1337, MINHASH_K)

#: md5_32 of the string expression ``{}``, as SQL text
_MD5_32_SQL = "CAST(conv(substring(md5({}), 1, 8), 16, 10) AS BIGINT)"
#: per-shingle hashes: md5_32 for signatures, xxhash64 for verification
_H_SQL = f"transform(__sh, g -> {_MD5_32_SQL.format('g')}) AS __h"
_HV_SQL = "transform(__sh, g -> xxhash64(g)) AS __hv"
# The K permuted mins of `__h`, unrolled into K top-level
# transform+array_min trees. r12 note (measured, kept UNROLLED on
# purpose — the simhash rule): folding the K trees into one zip_with
# over the (a, b) coefficient literals (`zip_with(a, b, lambda:
# array_min(transform(__h, …)))`) measured a 5× REGRESSION in isolation
# (1.33 → 6.75 s on documents, 1.64 → 7.80 s on paragraphs at sf0.1): a
# lambda nested inside another lambda's body drops the whole tree to
# interpreted per-element evaluation, while K separate top-level HOF
# trees each evaluate efficiently. K = 16 is far below the
# compile-cost threshold where the expression-count rewrite pays.
_SIG_SQL = "array({}) AS signature".format(", ".join(
    f"array_min(transform(__h, h -> (h * {a} + {b}) % {MINHASH_PRIME}))"
    for a, b in zip(MINHASH_A, MINHASH_B)
))


def md5_32(col: Column) -> Column:
    """Deterministic 32-bit hash of a string via md5 prefix (oracle:
    cast(('0x'||substr(md5(x),1,8)) as bigint))."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_60(col: Column) -> Column:
    """60-bit variant: gram join keys, SimHash bit sampling. Collision
    probability is negligible at 60 bits (vs 32: birthday at ~80k
    values), and it still fits signed-long arithmetic."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_shingles(col: Column, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles of a text column, as a single
    Column expression (the zip_with-chain gram builder — r8: ~5×
    faster than the per-element-slice form on the gram hot paths).

    Prefer :func:`shingle_stage` in pipelines — this form re-runs the
    tokenizer per shifted slice when evaluated (n slices, bounded);
    it exists for one-shot projections where the input is short."""
    from .text import sliding_grams

    toks = tokenize_ws(F.lower(col))
    return F.array_distinct(sliding_grams(toks, n, clamp_to_one=True))


def shingle_stage(
    df: DataFrame, text_col: str, id_col: str, n: int = SHINGLE_N, keep: Sequence[str] = ()
) -> DataFrame:
    """(id, __sh: array<string>) with tokenization materialized first.

    Two chained projections (Catalyst keeps them in one codegen stage,
    but the lambda bodies only reference the bound `__t` column, so the
    regex tokenizer runs exactly once per row). ``keep`` names extra
    passthrough columns (e.g. an event-time column a streaming caller
    must preserve for its watermark)."""
    cols = [sql_ident(c) for c in (id_col, *keep)]
    toks = TOKENIZE_WS_SQL.format(f"lower({sql_ident(text_col)})")
    staged = df.selectExpr(*cols, f"{toks} AS __t")
    sh = sliding_grams_sql("__t", n, clamp_to_one=True)
    return staged.selectExpr(*cols, f"array_distinct({sh}) AS __sh")


# ---------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------


def first_occurrence(
    df: DataFrame,
    key: Column | str,
    order: Sequence[str],
    keep: Sequence[str] | None = None,
) -> DataFrame:
    """Keep the FIRST row per `key`, ordered ascending by `order` —
    the skew-safe shape for first-occurrence dedup on recurrence-heavy
    keys (shared boilerplate paragraphs, canonical URLs, rolling
    substring fingerprints).

    Why not ``row_number() over (partition by key order by ...)``:
    a window gets NO map-side partial aggregation and AQE's skew-join
    splitting does not apply to window partitions, so a hot key (the
    whole point of boilerplate dedup is that one paragraph recurs in
    ~half the corpus) funnels every occurrence — payload included —
    into a single sort task. ``groupBy(key).agg(min(struct(order…,
    keep…)))`` is semantically identical for a total `order` but
    combines map-side: at most one row per key per map task reaches
    the reducer, so the hot key costs O(tasks), not O(occurrences).

    `order` columns must be non-null and totally order rows within a
    key (ties broken by the remaining struct fields). Output columns =
    order + keep (defaults to every other column of `df`), one row per
    distinct key; the key itself is dropped (re-derive from the
    payload if needed).

    Reference parity: Pig expresses this as a nested FOREACH
    ``{ o = ORDER g BY …; LIMIT o 1 }`` (GruntParser nested-limit) —
    which its MR backend runs through the combiner-less secondary-sort
    path, the exact analogue of the window shape this operator avoids.
    """
    if keep is None:
        keep = [c for c in df.columns if c not in set(order)]
    cols = [*order, *keep]
    key_col = key if isinstance(key, Column) else F.col(key)
    fields = [sql_ident(c) for c in cols]
    agg = df.groupBy(key_col.alias("__fo_key")).agg(F.expr(f"min(struct({', '.join(fields)})) AS __fo"))
    return agg.selectExpr(*[f"__fo.{c} AS {c}" for c in fields])


def paragraph_index(
    df: DataFrame, text_col: str, id_col: str, para_tokens: int = 25
) -> DataFrame:
    """Distinct-paragraph hash index for ingest-time paragraph dedup
    (the q100/q109 stored-index pattern at paragraph granularity): one
    row per distinct paragraph — ``(ph, first_id, first_pos)`` where
    ``ph = md5(paragraph)`` and the id/pos are the corpus-wide first
    occurrence (via :func:`first_occurrence`, so the build is
    skew-safe). Store it partitioned however ingestion probes it; the
    streaming twin (``streaming.paragraph_dedup_stream``) anti-joins
    arriving paragraphs against ``ph``. Paragraphs are fixed
    ``para_tokens``-token blocks (``text.token_blocks``) — swap in a
    real paragraph splitter upstream when the corpus carries breaks."""
    from .text import token_blocks, tokenize_ws

    tk = df.select(F.col(id_col), tokenize_ws(F.col(text_col)).alias("__tk"))
    ps = tk.select(
        id_col, F.posexplode(token_blocks(F.col("__tk"), para_tokens)).alias("pos", "para")
    )
    first = first_occurrence(ps, F.md5("para"), [id_col, "pos"])
    return first.select(
        F.md5("para").alias("ph"),
        F.col(id_col).alias("first_id"),
        F.col("pos").alias("first_pos"),
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one survivor (min id) per identical content value.

    Single hash shuffle on the content key; at 100 TB pre-hash long
    texts (md5) so the shuffle key is 16 bytes, not the document.
    """
    key = F.md5(F.col(content_col)).alias("__ck")
    return (
        df.select(key, F.col(id_col))
        .groupBy("__ck")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__ck")
    )


# ---------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, keep: Sequence[str] = ()
) -> DataFrame:
    """id → array<long> of MINHASH_K min-hash values over word shingles.

    Stays columnar: no explode, no shuffle for the signature stage. The
    K permuted mins scan the materialized `__h` hashed-shingle array
    (column ref inside the lambdas — hashing runs once)."""
    cols = [sql_ident(c) for c in (id_col, *keep)]
    shingled = shingle_stage(df, text_col, id_col, keep=keep)
    return shingled.selectExpr(*cols, "__sh", _H_SQL).selectExpr(*cols, _SIG_SQL)


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.5
) -> DataFrame:
    """Candidate generation via banding + exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    The shingle stage is materialized: it feeds signatures AND both
    sides of the verification join (3 references). At cluster scale
    this is the canonical two-job shape (materialize signatures, then
    bucket-join).

    r12: the stored stage carries two HASH arrays per doc — __h
    (md5_32, the signature contract) and __hv (xxhash64, the verify
    key) — and never the gram strings, so the store and both verify-
    join shuffles move 8 bytes/gram instead of ~20-char strings.
    Verification intersects __hv: xxhash64 is injective on the
    distinct gram sets up to the same negligible 64-bit collision
    class the fingerprint/band paths already accept, so |∩| and |∪|
    — hence every Jaccard — are identical. In-session A/B: q41
    1.68 → 1.45 s (−14%) at sf0.1.
    """
    rows = MINHASH_K // MINHASH_BANDS
    idc = sql_ident(id_col)
    sh = shingle_stage(df, text_col, id_col)
    docs = materialize(sh.selectExpr(idc, _H_SQL, _HV_SQL))
    sigs = docs.selectExpr(idc, _SIG_SQL)
    # band hash = xxhash64 of the signature slice (r12: was md5 of the
    # comma-joined stringified slice — string build + crypto hash per
    # band for a value that is only ever an equality join key; equal
    # slices hash equal under any hash, so candidates are identical)
    band_structs = ", ".join(
        f"struct({b} AS band, xxhash64(slice(signature, {b * rows + 1}, {rows})) AS bh)"
        for b in range(MINHASH_BANDS)
    )
    bands = sigs.selectExpr(idc, f"explode(array({band_structs})) AS bb").selectExpr(idc, "bb.band", "bb.bh")
    # candidate pairs as ONE shuffle of the band stream: groupBy bucket
    # → sorted member array → in-array pair expansion (same scheme as
    # ngram_jaccard_pairs' posting groupBy — a band self-join exchanges
    # the band stream twice plus a sort-merge). LSH buckets are small
    # by construction (that's the point of banding), so the m²/2
    # in-bucket expansion is bounded; a degenerate corpus (all docs
    # identical) degrades identically under either formulation.
    ids_arr = F.expr(f"array_sort(collect_list({idc})) AS __ids")
    grouped = bands.groupBy("band", "bh").agg(ids_arr).where("size(__ids) > 1")
    later = "transform(slice(__ids, i + 2, size(__ids)), y -> struct(x AS a, y AS b))"
    pairs = f"flatten(transform(__ids, (x, i) -> {later}))"
    cand = (
        grouped.selectExpr(f"explode({pairs}) AS __p")
        .selectExpr("__p.a AS id_a", "__p.b AS id_b")
        .distinct()
    )
    return _verify_jaccard(cand, docs, id_col, threshold, sh_col="__hv")


def _verify_jaccard(
    pairs: DataFrame, docs: DataFrame, id_col: str, threshold: float, sh_col: str = "__sh"
) -> DataFrame:
    """Exact Jaccard on candidate pairs; `docs` carries one distinct-
    shingle array per id in ``sh_col`` (gram strings, or any
    injective per-gram hash — set sizes are identical either way)."""
    idc, shc = sql_ident(id_col), sql_ident(sh_col)
    a = docs.selectExpr(f"{idc} AS id_a", f"{shc} AS sh_a")
    b = docs.selectExpr(f"{idc} AS id_b", f"{shc} AS sh_b")
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)"
    union = "CAST(size(array_union(sh_a, sh_b)) AS DOUBLE)"
    jac = f"round(CASE WHEN {union} > 0 THEN {inter} / {union} ELSE 0.0D END, 6)"
    scored = joined.selectExpr("*", f"{jac} AS jaccard")
    return scored.where(f"jaccard >= {float(threshold)!r}D").select("id_a", "id_b", "jaccard")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    n: int = SHINGLE_N,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via inverted-index self-join.

    explode(hashed shingles) → join on gram hash → count shared per
    pair → |A∩B| / (|A|+|B|-|A∩B|). Distributed: shuffle keys are
    8-byte gram hashes then pair ids. Quadratic only within a gram's
    posting list; `max_doc_freq` drops grams appearing in more than
    that many docs (stopword-grams — THE skew control at corpus scale;
    None = exact, matches the oracle).
    """
    # r13: the stored stage carries the polynomial gram HASHES, not
    # gram strings (word_gram_hash_stage — store and posting shuffle
    # move 8 bytes/gram; pairs + Jaccard counts are identical under an
    # injective relabeling, verified row-identical at both SFs).
    # explode_OUTER per the InferFiltersFromGenerate pushdown lesson.
    docs = materialize(word_gram_hash_stage(df, text_col, id_col, n))
    sizes = docs.select(id_col, F.size("__gha").alias("__n"))
    posting = docs.select(F.col(id_col), F.explode_outer("__gha").alias("g"))
    if max_doc_freq is not None:
        hot = posting.groupBy("g").count().filter(F.col("count") > max_doc_freq).select("g")
        posting = posting.join(F.broadcast(hot), "g", "left_anti")
    # shared-gram counting as ONE shuffle of the posting list: groupBy
    # gram → sorted posting array → in-array pair expansion. A posting
    # self-join computes the same pairs but exchanges the posting list
    # TWICE (both join sides) plus a sort-merge; at corpus scale the
    # saved exchange dominates. Skew bound: a gram shared by m docs
    # materializes an m-array and m²/2 pairs — same blowup the join
    # has, and exactly what `max_doc_freq` exists to cap.
    ids_arr = F.array_sort(F.collect_list(id_col))
    grouped = posting.groupBy("g").agg(ids_arr.alias("__ids")).filter(F.size("__ids") > 1)
    pairs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice("__ids", i + 2, F.size("__ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    shared = (
        grouped.select(F.explode(pairs).alias("__p"))
        .groupBy(F.col("__p.a").alias("id_a"), F.col("__p.b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    out = shared.join(na, "id_a").join(nb, "id_b")
    jac = F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))
    return (
        out.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------
SIMHASH_BITS = 32


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash over whitespace tokens (unit weights).

    bit_b(doc) = 1 iff Σ_tokens (bit_b(md5_32(token)) ? 1 : -1) > 0.
    Two projections, no shuffle; near-dup grouping = groupBy(simhash).
    The token-hash array is materialized before the 32 per-bit
    aggregates so md5 runs once per token, not 32×.

    r12 note (measured, kept UNROLLED on purpose): rewriting the 32
    per-bit folds as one transform-over-pows nested lambda (the
    expression-count rule that wins elsewhere) measured a 3×
    REGRESSION in-session (2.35 → 7.33 s at sf0.1) — the unrolled
    aggregates stay inside whole-stage codegen while nested
    transform(aggregate(...)) evaluates interpreted per element.
    Expression count here is 32, well under the compile-cost
    threshold; runtime dominates."""
    toks = tokenize_ws(F.lower(F.col(text_col)))
    staged = df.select(F.col(id_col), F.transform(toks, md5_32).alias("__th"))

    def _bit_vote(b: int):
        return lambda acc, h: acc + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))

    bit_sums = [F.aggregate(F.col("__th"), F.lit(0), _bit_vote(b)) for b in range(SIMHASH_BITS)]
    sig = None
    for b, s in enumerate(bit_sums):
        bit = F.when(s > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) * F.lit(1 << b).cast("long")
        sig = bit if sig is None else (sig + bit)
    return staged.select(F.col(id_col), sig.alias("simhash"))


def signature_index(
    df: DataFrame, text_col: str, id_col: str, keep: Sequence[str] = ()
) -> DataFrame:
    """The STORED dedup index of a continuously-ingesting corpus:
    one row per (doc, band) with the banded bucket hash AND the full
    minhash signature — ``(id, signature, band, bh)``. Write it
    partitioned by ``band`` (``store(..., partition_by=['band'])``) so
    an incremental batch's band join prunes to matching partitions.
    Building it is the same no-shuffle signature projection as
    :func:`minhash_signatures`."""
    rows = MINHASH_K // MINHASH_BANDS
    sigs = minhash_signatures(df, text_col, id_col, keep=keep)
    # band hash = xxhash64 of the signature slice (r12, the
    # minhash_lsh_pairs note: bh is only ever an equality join key)
    return sigs.select(
        F.col(id_col),
        *keep,
        "signature",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.slice("signature", b * rows + 1, rows)).alias("bh"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(id_col, *keep, "signature", "bb.band", "bb.bh")


def incremental_minhash_pairs(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    index_df: DataFrame,
    threshold: float = 0.5,
    verify_with: DataFrame | None = None,
    verify_threshold: float | None = None,
) -> DataFrame:
    """Incremental near-dup detection: match a NEW batch against the
    stored :func:`signature_index` (which already contains the new
    batch's own rows if self-matches within the batch are wanted)
    WITHOUT rescanning the corpus.

    Returns ``(new_id, match_id, est_jaccard)`` — every corpus doc
    sharing an LSH band bucket with a new doc, scored by minhash
    signature agreement (the fraction of equal signature positions —
    an unbiased Jaccard estimate), ``est_jaccard >= threshold``.

    100 TB shape: the only full-size table is the index, which is
    pre-partitioned by band on disk; the new batch's band rows are
    tiny and broadcast into the index join (daily batch << corpus).
    Corpus text is never re-read, old×old pairs never form, and
    verification needs no shingles — signatures alone score the match.
    Pass ``verify_with=<corpus text df>`` to add the exact re-verify
    stage: survivors' docs ONLY are re-read (semi-join pruned) and
    scored by exact shingle Jaccard against ``verify_threshold``."""
    new_idx = signature_index(new_df, text_col, id_col)
    new_bands = new_idx.select(
        F.col(id_col).alias("new_id"), F.col("signature").alias("sig_new"), "band", "bh"
    )
    corpus = index_df.select(
        F.col(id_col).alias("match_id"), F.col("signature").alias("sig_old"), "band", "bh"
    )
    # daily batches broadcast (batch << corpus); a backfill-sized batch
    # must NOT be forced onto the driver — fall back to the plain
    # equi-join and let AQE pick the build side from runtime sizes
    from ..operators.skew import plan_size_bytes

    probe = new_bands
    try:
        if plan_size_bytes(new_df) <= 256 << 20:
            probe = F.broadcast(new_bands)
    except Exception:  # statistics unavailable (e.g. streaming plans)
        pass
    cand = (
        probe.join(corpus, ["band", "bh"])
        .filter(F.col("new_id") != F.col("match_id"))
        .select("new_id", "match_id", "sig_new", "sig_old")
        .dropDuplicates(["new_id", "match_id"])
    )
    agree = F.aggregate(
        F.zip_with("sig_new", "sig_old", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = F.round(agree.cast("double") / F.lit(float(MINHASH_K)), 6)
    out = (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "match_id", "est_jaccard")
    )
    if verify_with is None:
        return out
    # Optional exact re-verify (the byte-grade precision pass the
    # estimate-only mode documents): shingle ONLY the matched docs —
    # semi-joins prune both text scans to the survivor ids, so the
    # corpus read is survivors-sized, never corpus-sized — and keep
    # pairs whose EXACT Jaccard clears verify_threshold (defaults to
    # ``threshold``). Emits (new_id, match_id, est_jaccard, jaccard).
    vt = threshold if verify_threshold is None else verify_threshold
    new_ids = out.select(F.col("new_id").alias(id_col)).distinct()
    match_ids = out.select(F.col("match_id").alias(id_col)).distinct()
    # match_ids can include NEW docs (the index usually carries the new
    # batch's own rows, so new×new pairs are legitimate survivors) —
    # union the batch text in so an old-corpus verify_with never
    # silently drops those pairs at the inner join
    # the NEW batch's text wins deterministically when an id exists in
    # both sources (a re-ingested doc whose text changed) — an
    # arbitrary dropDuplicates pick would make borderline pairs flip
    # across runs
    match_src = new_df.select(id_col, text_col).unionByName(
        verify_with.select(id_col, text_col).join(
            new_df.select(id_col), id_col, "left_anti"
        )
    )
    # r12: the exact re-verify intersects xxhash64 gram arrays, not
    # gram strings — set sizes (hence Jaccard) are identical under an
    # injective hash, and the two verify joins shuffle 8 bytes/gram
    # (the minhash_lsh_pairs __hv rule)
    _hv = lambda c: F.transform(c, lambda g: F.xxhash64(g))  # noqa: E731
    new_sh = shingle_stage(
        new_df.join(new_ids, id_col, "left_semi"), text_col, id_col
    ).select(F.col(id_col).alias("new_id"), _hv(F.col("__sh")).alias("sh_new"))
    old_sh = shingle_stage(
        match_src.join(match_ids, id_col, "left_semi"), text_col, id_col
    ).select(F.col(id_col).alias("match_id"), _hv(F.col("__sh")).alias("sh_old"))
    inter = F.size(F.array_intersect("sh_new", "sh_old"))
    union = F.size("sh_new") + F.size("sh_old") - inter
    return (
        out.join(new_sh, "new_id")
        .join(old_sh, "match_id")
        .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .filter(F.col("jaccard") >= vt)
        .select("new_id", "match_id", "est_jaccard", "jaccard")
    )


def contamination_check(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    n: int = SHINGLE_N,
    threshold: float = 0.1,
) -> DataFrame:
    """Benchmark-contamination detection: for every training document,
    the fraction of its word n-grams that also occur in an evaluation
    corpus. Output: (id, n_shared, n_grams, ratio, contaminated).

    Training pipelines must decontaminate against eval sets before
    training; this is the distributed n-gram-overlap formulation.

    100 TB shape: the benchmark side is SMALL (eval suites are
    thousands of docs) — its distinct gram-hash set is broadcast, so
    the train side is ONE map-side semi-join over the exploded gram
    stream followed by ONE groupBy on doc id (co-partitioned with the
    size join under AQE). No shuffle ever carries gram strings — only
    60-bit hashes — and the train corpus is scanned once.
    """
    # ONE corpus pass: every doc has ≥1 shingle (word_shingles clamps),
    # so n_grams = exploded-gram count and the broadcast LEFT join lets
    # a single groupBy produce both totals and hit counts — no second
    # scan/tokenization, no join-back for zero-overlap docs.
    # r13: gram hashes come from the doubling polynomial over per-token
    # xxhash64 values (word_gram_hash_stage) — the gram hash never
    # surfaces in the output, only overlap COUNTS do, which any
    # injective relabeling reproduces (verified row-identical at
    # sf0.001/0.01/0.1); md5_60 stays the contract only where hash
    # VALUES persist or cross to the oracle (incremental index, bloom).
    # explode_OUTER per the InferFiltersFromGenerate pushdown lesson.
    tr = word_gram_hash_stage(train, text_col, id_col, n)
    tr_grams = tr.select(id_col, F.explode_outer("__gha").alias("__gh"))
    bench_grams = (
        word_gram_hash_stage(bench, text_col, id_col, n)
        .select(F.explode_outer("__gha").alias("__gh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    counts = (
        tr_grams.join(F.broadcast(bench_grams), "__gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_shared"),
        )
    )
    ratio = F.round(F.col("n_shared") / F.greatest(F.col("n_grams"), F.lit(1)), 6)
    return counts.select(
        F.col(id_col),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_grams").cast("long").alias("n_grams"),
        ratio.alias("ratio"),
        (ratio >= threshold).alias("contaminated"),
    )


CHAR_SHINGLE_N = 20


def _char_shingles_staged(t: Column, n: int = CHAR_SHINGLE_N) -> Column:
    """Distinct character n-gram shingles over a PRE-STAGED lowered
    text column (the module staging rule: `t` must be a column
    attribute, not an inline lower() — lambda bodies re-evaluate per
    element). Texts shorter than n clamp to ONE whole-string shingle
    (the word_shingles clamp)."""
    n_sh = F.greatest(F.length(t) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n_sh), lambda i: t.substr(i.cast("int"), F.lit(n)))
    )


def char_shingles(col: Column, n: int = CHAR_SHINGLE_N) -> Column:
    """One-shot char n-gram shingles of lower(text): the lowered text
    is bound through the 1-element-array trick so lower() runs once
    per row even though the shingle lambda references it per element."""
    staged = F.array(F.lower(col))
    return F.element_at(
        F.transform(staged, lambda t: _char_shingles_staged(t, n)), 1
    )


_POLY_C = 0x9E3779B97F4A7C15 | 1  # odd 64-bit multiplier (golden-ratio mix)


def _poly_c_pow(k: int) -> int:
    """C^k mod 2^64 as a SIGNED long literal (Java-wrap arithmetic —
    the session runs ANSI off, so long overflow wraps like Java)."""
    v = pow(_POLY_C, k, 1 << 64)
    return v - (1 << 64) if v >= (1 << 63) else v


def _poly_gram_hashes(
    df: DataFrame, id_col: str, n: int, empty_is_gram: bool
) -> DataFrame:
    """Shared doubling-polynomial core: ``df`` carries (id_col, __len,
    __p1: array<long> of per-element codes); returns (id_col, __gha:
    array<long>) — the DISTINCT hashes of every stride-1 n-element
    window, with the short-input clamp (one whole-input gram, width-
    tagged via the final ``xxhash64(poly, width)`` mix so cross-width
    collisions are impossible). ``empty_is_gram`` keeps the clamp gram
    even for __len == 0 (the word_shingles ``[""]`` clamp; char inputs
    always have __len ≥ 1 because split("") is [""]).

    Every level is its own projection (the module staging rule);
    consumers must explode __gha with explode_OUTER — outer=false lets
    InferFiltersFromGenerate inject a size>0 filter whose pushdown
    inlines this whole chain into one interpreted Filter (measured
    13× regression, r13)."""
    widths: list[int] = []
    w, rem, pows = 1, n, []
    while w <= n:
        pows.append(w)
        w *= 2
    for p in reversed(pows):
        while rem >= p:
            widths.append(p)
            rem -= p
    max_pow = max(widths)

    def _mul_add(width: int):
        cw = F.lit(_poly_c_pow(width))
        return lambda a, b: a * cw + b

    out = df
    lvl, w = {1: "__p1"}, 1
    while w < max_pow:
        nxt, prev = w * 2, lvl[w]
        out = out.select(
            "*",
            F.zip_with(
                prev,
                F.slice(F.col(prev), 1 + w, F.greatest(F.size(prev) - w, F.lit(0))),
                _mul_add(w),
            ).alias(f"__p{nxt}"),
        )
        lvl[nxt] = f"__p{nxt}"
        w = nxt
    acc_col, acc_w = lvl[widths[0]], widths[0]
    for wd in widths[1:]:
        nm = f"__q{acc_w + wd}"
        out = out.select(
            "*",
            F.zip_with(
                acc_col,
                F.slice(
                    F.col(lvl[wd]), 1 + acc_w, F.greatest(F.size(lvl[wd]) - acc_w, F.lit(0))
                ),
                _mul_add(wd),
            ).alias(nm),
        )
        acc_col, acc_w = nm, acc_w + wd
    assert acc_w == n
    full = F.aggregate(
        F.col("__p1"), F.lit(0).cast("bigint"), lambda acc, c: acc * F.lit(_poly_c_pow(1)) + c
    )
    # zip_with pads the shorter side with nulls — every level carries a
    # null tail, so only the first __len-n+1 positions are valid grams
    clamp = F.array(F.xxhash64(full, F.col("__len")))
    grams = F.when(
        F.col("__len") >= n,
        F.transform(
            F.slice(F.col(acc_col), 1, F.col("__len") - F.lit(n - 1)),
            lambda h: F.xxhash64(h, F.lit(n)),
        ),
    ).otherwise(
        clamp
        if empty_is_gram
        else F.when(F.col("__len") > 0, clamp).otherwise(F.array().cast("array<long>"))
    )
    return out.select(F.col(id_col), F.array_distinct(grams).alias("__gha"))


def word_gram_hash_stage(
    df: DataFrame, text_col: str, id_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """(id, __gha: array<long>) — distinct word n-gram hashes via the
    doubling polynomial over per-TOKEN xxhash64 values (r13, guide
    §1.2): each token is hashed once, then ⌈log2 n⌉ staged multiply-
    add levels replace the zip_with concat chain + per-gram string
    hash (two ~6·n-byte string allocations and an ~18-byte hash input
    per gram at n = 3). Matches :func:`word_shingles`' distinct +
    clamp semantics (short doc → one whole-doc gram; empty doc → one
    width-0 gram, the ``[""]`` clamp) under an injective relabeling —
    consumers that only COUNT gram equality (contamination_check,
    ngram_jaccard_pairs) get identical results, verified row-identical
    at sf0.001/sf0.01/sf0.1. NOT for the minhash/signature paths:
    their gram hash (md5_32 of the gram STRING) is the oracle-pinned
    signature contract."""
    toks = tokenize_ws(F.lower(F.col(text_col)))
    staged = df.select(F.col(id_col), toks.alias("__t"))
    coded = staged.select(
        F.col(id_col),
        F.size("__t").alias("__len"),
        F.transform("__t", lambda t: F.xxhash64(t)).alias("__p1"),
    )
    return _poly_gram_hashes(coded, id_col, n, empty_is_gram=True)


def char_gram_hash_stage(
    df: DataFrame, chars_col: str, id_col: str, n: int = CHAR_SHINGLE_N
) -> DataFrame:
    """(id, __gha: array<long>) — distinct hashes of the stride-1
    character n-grams of a PRE-STAGED char-array column, via the
    DOUBLING polynomial (r13, guide §1.2 per-task work).

    The r12 form hashed ``slice(chars, i, n)`` per position — n
    per-element hash calls per gram (~28M one-char string hashes at
    sf0.1, 2.5 s of the q134 body). This builds the Rabin-Karp
    polynomial H(gram) = Σ code(c_{i+k})·C^(n-1-k) mod 2^64 with the
    doubling construction — ⌈log2 n⌉ zip_with levels, ONE multiply-add
    per position per level (p_{2w}[j] = p_w[j]·C^w + p_w[j+w]), each
    level staged as its own projection column (the module staging
    rule). Total O(L·log n) long ops instead of O(L·n) string hashes —
    q134 body 3.41 → 2.26 s in-session (−34%).

    Equal char windows hash equal by construction; distinct windows
    collide only in the negligible 64-bit class the pipeline already
    accepts (gram hashes are equality keys only — verified
    row-identical on q134/q136/q147 at sf0.001/sf0.01/sf0.1). The
    final ``xxhash64(poly, width)`` mixes the polynomial and tags the
    gram WIDTH, so the short-doc clamp gram (one whole-string gram for
    docs under n chars, the word_shingles clamp) can never collide
    with a full-width gram."""
    coded = df.select(
        F.col(id_col),
        F.size(chars_col).alias("__len"),
        F.transform(chars_col, lambda c: F.ascii(c).cast("bigint")).alias("__p1"),
    )
    # __len >= 1 always (split("") is [""]) so empty_is_gram is moot
    return _poly_gram_hashes(coded, id_col, n, empty_is_gram=True)


def char_contamination_check(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    n: int = CHAR_SHINGLE_N,
    threshold: float = 0.1,
) -> DataFrame:
    """Character-level benchmark contamination — the decontamination
    granularity for CODE and short text, where token grams are too
    coarse (whitespace, punctuation and identifier boundaries carry
    the signal; cf. the char-n-gram decontamination used for code
    corpora). Same distributed shape as the word-gram
    :func:`contamination_check`: the eval side's distinct char-gram
    hashes broadcast, ONE train scan, ONE doc-id groupBy; only 64-bit
    hash values ever shuffle (counts are hash-agnostic — the oracle
    compares raw-string overlap and gets identical counts).
    r12: grams hashed straight off a staged char array — O(len·n),
    was O(len²) byte scanning. r13: the doubling polynomial
    (:func:`char_gram_hash_stage`) — O(len·log n) long ops.

    Both explodes are explode_OUTER on purpose (r13): outer=true stops
    InferFiltersFromGenerate from injecting a size>0 filter whose
    pushdown INLINES the whole staging chain into one interpreted
    Filter (measured 3.8 → 50 s!); the clamp guarantees every doc ≥ 1
    gram, so outer is semantically identical to explode here."""
    tr = char_gram_hash_stage(
        train.select(id_col, F.split(F.lower(F.col(text_col)), "").alias("__c")),
        "__c", id_col, n,
    )
    tr_grams = tr.select(id_col, F.explode_outer("__gha").alias("__gh"))
    bgr = char_gram_hash_stage(
        bench.select(F.lit(1).alias("__bid"), F.split(F.lower(F.col(text_col)), "").alias("__c")),
        "__c", "__bid", n,
    )
    bench_grams = (
        bgr.select(F.explode_outer("__gha").alias("__gh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    counts = (
        tr_grams.join(F.broadcast(bench_grams), "__gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_shared"),
        )
    )
    ratio = F.round(F.col("n_shared") / F.greatest(F.col("n_grams"), F.lit(1)), 6)
    return counts.select(
        F.col(id_col),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_grams").cast("long").alias("n_grams"),
        ratio.alias("ratio"),
        (ratio >= threshold).alias("contaminated"),
    )


def contamination_check_bloom(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    n: int = SHINGLE_N,
    threshold: float = 0.1,
    bloom_m: int = 1 << 22,
    bloom_k: int = 4,
) -> DataFrame:
    """:func:`contamination_check` for eval sets too large to broadcast
    exactly (the fallback SCALE.md promises): a packed bloom of the
    bench gram hashes broadcasts instead of the exact set (~m/8 bytes
    regardless of gram count), the train gram stream is prefiltered
    map-side, and only the tiny surviving stream takes a shuffle join
    against the bench hashes for EXACT verification — output is
    identical to the exact path (false positives are re-checked, no
    false negatives exist).

    Size ``bloom_m`` ≈ 10-15 bits per distinct bench gram for a ~1% FP
    rate; survivors ≈ true hits + FP·|train grams|.
    """
    from .bloom import build_bloom_packed, might_contain_packed

    # polynomial gram hashes like the exact path (r13): bloom false
    # positives are exactly re-verified below, so the output is
    # identical under any collision-free hash — the bloom's bit
    # positions just move. explode_OUTER per the
    # InferFiltersFromGenerate pushdown lesson.
    tr_grams = word_gram_hash_stage(train, text_col, id_col, n).select(
        id_col, F.explode_outer("__gha").alias("__gh")
    )
    bench_grams = (
        word_gram_hash_stage(bench, text_col, id_col, n)
        .select(F.explode_outer("__gha").alias("__gh"))
        .distinct()
    )
    bloom = build_bloom_packed(bench_grams, "__gh", bloom_m, bloom_k)
    survivors = (
        tr_grams.join(F.broadcast(bloom))
        .filter(might_contain_packed(F.col("words"), F.col("__gh"), bloom_m, bloom_k))
        .drop("words")
    )
    shared = (
        survivors.join(bench_grams, "__gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    totals = tr_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    joined = totals.join(shared, id_col, "left").fillna(0, ["n_shared"])
    ratio = F.round(F.col("n_shared") / F.greatest(F.col("n_grams"), F.lit(1)), 6)
    return joined.select(
        F.col(id_col),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_grams").cast("long").alias("n_grams"),
        ratio.alias("ratio"),
        (ratio >= threshold).alias("contaminated"),
    )
