"""Text-analysis operators for large-scale training-data pipelines:
whitespace/BPE-ish tokenization, token counting, n-gram language ID,
quality scoring, and document fingerprinting.

These go beyond the Pig reference surface (closest analogue:
builtin/TOKENIZE.java) — they are first-class engine ops for the
100 TB document-pipeline use case. Everything is a JVM-side Column
expression (split / filter / transform / aggregate higher-order
functions) — no Python in the hot path — so whole-stage codegen
applies and throughput scales linearly with executors.

The module doubles as the single source of truth for the DuckDB
correctness oracles: constants (stopword lists, scoring weights) are
consumed by both the Spark expressions here and the SQL generators in
``oracles.py``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic per-language marker lists for the n-gram/stopword
# language-ID heuristic (tiny on purpose: broadcast as literals).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "que"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "mit"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}
LANG_ORDER = ["en", "es", "fr", "de", "zh"]

# quality-score weights (formula mirrored in oracles.py)
QUALITY_TARGET_AVG_WORD_LEN = 5.0

# BPE-ish token regex: word pieces, numbers, or single non-space symbols
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokenize_ws(col: Column) -> Column:
    """Whitespace tokenization; empty tokens dropped."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


#: :func:`tokenize_ws` as SQL text over the expression ``{}``
TOKENIZE_WS_SQL = r"filter(split(trim({}), '\\s+'), t -> t != '')"


def token_count(col: Column) -> Column:
    return F.size(tokenize_ws(col)).cast("long")


def token_blocks(tokens: Column, n: int = 25) -> Column:
    """Fixed-``n``-token paragraph blocks over a STAGED token array
    (the q129 corpus-synthesis chunker, reusable): array of
    space-joined n-token runs; the tail block may be short; an empty
    array yields an empty array (``sequence`` counts DOWN when its
    bounds invert, so the block count is guarded). ``tokens`` must be
    a bound column attribute — the slice lambda probes it per block
    (the module staging rule)."""
    n_blocks = F.ceil(F.size(tokens) / F.lit(n)).cast("int")
    return F.when(
        n_blocks > 0,
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.array_join(F.slice(tokens, i * n + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_token_count(col: Column) -> Column:
    """Approximate BPE token count via regex pieces (regexp_count is
    JVM-side; a real tokenizer would be a pandas UDF at the UDF
    boundary)."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE)).cast("long")


def _stopword_hits(tokens: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens, lambda t: F.lower(t).isin(*words)))


def lang_scores(col: Column) -> dict[str, Column]:
    toks = tokenize_ws(col)
    return {lang: _stopword_hits(toks, lang) for lang in LANG_ORDER}


def lang_id_from_tokens(toks: Column) -> Column:
    """lang_id over a PRE-STAGED token array column — stage the
    tokenizer as a projection when combining with other token
    consumers (quality, repetition) so it runs once per row."""
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in reversed(LANG_ORDER):
        s = _stopword_hits(toks, lang)
        cond = (s > F.lit(0)) & (s >= best_score)
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return best


def lang_id(col: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits,
    ties broken by LANG_ORDER; 'und' when nothing matches."""
    return lang_id_from_tokens(tokenize_ws(col))


def quality_score_from_tokens(toks: Column) -> Column:
    """quality_score over a PRE-STAGED token array column."""
    return _quality_from_tokens(toks)


def quality_score(col: Column) -> Column:
    """Deterministic quality heuristic in [0,1]:

    0.4 * english-stopword ratio (clamped at 0.2 → 1.0)
    + 0.3 * length factor  min(n_tokens/50, 1)
    + 0.3 * word-shape factor  1 - min(|avg_len - 5| / 5, 1)
    """
    return _quality_from_tokens(tokenize_ws(col))


def _quality_from_tokens(toks: Column) -> Column:
    n = F.size(toks).cast("double")
    sw = _stopword_hits(toks, "en").cast("double")
    sw_ratio = F.when(n > 0, sw / n).otherwise(F.lit(0.0))
    sw_factor = F.least(sw_ratio / F.lit(0.2), F.lit(1.0))
    len_factor = F.least(n / F.lit(50.0), F.lit(1.0))
    avg_len = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)) / n,
    ).otherwise(F.lit(0.0))
    shape_factor = F.lit(1.0) - F.least(F.abs(avg_len - QUALITY_TARGET_AVG_WORD_LEN) / F.lit(5.0), F.lit(1.0))
    return F.round(F.lit(0.4) * sw_factor + F.lit(0.3) * len_factor + F.lit(0.3) * shape_factor, 6)


def fingerprint(col: Column) -> Column:
    """Key-collision fingerprint (OpenRefine-style): lowercase, split,
    dedup, sort, rejoin, md5 — identical texts modulo word order and
    repetition collide."""
    toks = F.array_sort(F.array_distinct(tokenize_ws(F.lower(col))))
    return F.md5(F.array_join(toks, " "))


def rolling_hash_fingerprint(col: Column, window: int = 4) -> Column:
    """Winnowing-style content fingerprint: min 32-bit hash over
    word ``window``-shingles (a 1-hash MinHash — robust to local edits).

    The token array is bound through a single-entry map_filter-free
    trick: wrapping it in a 1-element array and transforming binds it
    to a lambda variable, so the regex tokenizer runs once per row
    even though the shingle lambda references it per element (Spark
    does no common-subexpression elimination across lambda bodies).
    """

    def _fp(toks: Column) -> Column:
        # zip_with-chain grams (r8 — the per-element slice form was
        # the slow shape), same clamp: short doc → one whole-text
        # shingle, empty doc → md5("")
        shingles = F.transform(
            sliding_grams(toks, window, clamp_to_one=True),
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
        )
        return F.array_min(shingles)

    staged = F.array(tokenize_ws(F.lower(col)))  # 1-element array<array<string>>
    return F.element_at(F.transform(staged, _fp), 1)


def window_fingerprints(tokens: Column, w: int) -> Column:
    """xxhash64 fingerprint of every stride-1 ``w``-token window:
    ``array<long>``, one entry per start position (empty when fewer
    than ``w`` tokens). O(w) per position — slice (reference copy) +
    one xxhash64 over the w-element sub-array; the zip_with chain that
    wins at n = 2..4 is O(w²) at this width (SCALE.md expression
    rules). r12 optimization (guide §1.2 "per-task work"): the
    original shape was md5-60 of ``array_join(slice, " ")`` — per
    position that allocated a ~6·w-byte string, ran a cryptographic
    hash, and parsed hex via ``conv``; hashing the sliced token array
    directly drops all three (and removes the join-separator collision
    class: ["a b","c"] vs ["a","b c"] no longer collide). Fingerprints
    are equality keys only — every consumer (q137/q138/q150, the
    streaming twin, their DuckDB oracles) compares counts derived from
    fingerprint equality, never the hash values themselves, so any
    collision-free hash yields identical results. Shared by the
    ExactSubstr family (q137/q138/q150 via ``queries._substr_wins``)
    and its streaming twin (``streaming.substring_dedup_stream``)."""
    n_g = (F.size(tokens) - F.lit(w - 1)).cast("int")
    return F.when(
        n_g > 0,
        F.transform(
            F.sequence(F.lit(0), n_g - 1),
            lambda i: F.xxhash64(F.slice(tokens, i + 1, w)),
        ),
    ).otherwise(F.array().cast("array<long>"))


def window_fingerprint_stage(
    df: "DataFrame", tokens_col: str, keep: Sequence[str], w: int
) -> "DataFrame":
    """(keep..., __wfp: array<long>) — :func:`window_fingerprints`
    lowered through the DOUBLING polynomial (r13, guide §1.2; the
    dedup.char_gram_hash_stage construction): each token is xxhash64'd
    ONCE, then ⌈log2 w⌉ staged zip_with levels build every w-wide
    window hash with one long multiply-add per position per level —
    O(L·log w) instead of O(L·w) per-element hashing (at w = 50 the
    r12 form hashed 50 strings per position). Fingerprints stay
    equality keys only (the window_fingerprints contract): equal
    windows hash equal by construction, distinct windows collide in
    the accepted 64-bit class. Empty array when fewer than w tokens
    (same clamp).

    Callers must explode the staged column with posexplode_OUTER (not
    posexplode): outer=false lets InferFiltersFromGenerate inject a
    size>0 filter whose pushdown inlines the whole level chain into
    one interpreted Filter (the q134 r13 lesson — a measured 13×
    regression class). Filter the null row above the Generate instead.
    In-session A/B on the q137 fingerprint slice: 0.98 → 0.84 s."""
    from .dedup import _poly_c_pow

    widths: list[int] = []
    rem, p, pows = w, 1, []
    while p <= w:
        pows.append(p)
        p *= 2
    for p in reversed(pows):
        while rem >= p:
            widths.append(p)
            rem -= p
    max_pow = max(widths)

    def _mul_add(width: int):
        cw = F.lit(_poly_c_pow(width))
        return lambda a, b: a * cw + b

    out = df.select(
        *keep,
        F.size(tokens_col).alias("__wlen"),
        F.transform(tokens_col, lambda t: F.xxhash64(t)).alias("__w1"),
    )
    lvl, cur = {1: "__w1"}, 1
    while cur < max_pow:
        nxt, prev = cur * 2, lvl[cur]
        out = out.select(
            "*",
            F.zip_with(
                prev,
                F.slice(F.col(prev), 1 + cur, F.greatest(F.size(prev) - cur, F.lit(0))),
                _mul_add(cur),
            ).alias(f"__w{nxt}"),
        )
        lvl[nxt] = f"__w{nxt}"
        cur = nxt
    acc_col, acc_w = lvl[widths[0]], widths[0]
    for wd in widths[1:]:
        nm = f"__wq{acc_w + wd}"
        out = out.select(
            "*",
            F.zip_with(
                acc_col,
                F.slice(F.col(lvl[wd]), 1 + acc_w, F.greatest(F.size(lvl[wd]) - acc_w, F.lit(0))),
                _mul_add(wd),
            ).alias(nm),
        )
        acc_col, acc_w = nm, acc_w + wd
    assert acc_w == w
    fps = F.when(
        F.col("__wlen") >= w,
        F.slice(F.col(acc_col), 1, F.col("__wlen") - F.lit(w - 1)),
    ).otherwise(F.array().cast("array<long>"))
    return out.select(*keep, fps.alias("__wfp"))


# repetition thresholds (Gopher-style corpus-quality rules; mirrored
# in oracles.py q89)
REP_DUP_2GRAM_MAX = 0.20
REP_TOP_2GRAM_MAX = 0.08


def sliding_grams(tokens: Column, n: int, clamp_to_one: bool = False) -> Column:
    """Sliding word n-grams via a zip_with CHAIN over shifted slices —
    the LINEAR shape: n slices + (n-1) zip_withs per ROW. The old
    ``sequence(1, n_g)`` + per-element ``slice`` form allocates a
    fresh sub-array per gram and measured ~5× slower on the sf0.1
    bigram hot path (9.2 s → 0.9 s for the same 265k-pair count;
    SCALE.md r8). ``concat_ws`` skips the nulls ``zip_with`` pads
    when a shifted slice runs short, so tail-clamp output is
    IDENTICAL to the old form (diff-tested n=2..4 corpus-wide).

    ``clamp_to_one`` reproduces the dedup-shingle ≥1 clamp: docs
    shorter than n tokens yield ONE whole-text shingle, and an EMPTY
    doc yields ``[""]`` (what array_join over an empty slice gave)."""
    if n < 1:
        raise ValueError(f"sliding_grams: n must be >= 1, got {n}")
    floor = 1 if clamp_to_one else 0
    n_g = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(floor))
    out = F.slice(tokens, 1, n_g)
    for k in range(2, n + 1):
        out = F.zip_with(
            out, F.slice(tokens, k, n_g), lambda a, b: F.concat_ws(" ", a, b)
        )
    if clamp_to_one:
        out = F.when(F.size(tokens) == 0, F.array(F.lit(""))).otherwise(out)
    return out


def sliding_grams_sql(tokens: str, n: int, clamp_to_one: bool = False) -> str:
    """:func:`sliding_grams` as SQL text over the column ``tokens``."""
    n_g = f"greatest(size({tokens}) - {n - 1}, {1 if clamp_to_one else 0})"
    out = f"slice({tokens}, 1, {n_g})"
    for k in range(2, n + 1):
        out = f"zip_with({out}, slice({tokens}, {k}, {n_g}), (a, b) -> concat_ws(' ', a, b))"
    if clamp_to_one:
        out = f"CASE WHEN size({tokens}) = 0 THEN array('') ELSE {out} END"
    return out


def _grams(tokens: Column, n: int) -> Column:
    """Non-distinct sliding word n-grams (repetition needs multiplicity,
    unlike dedup's distinct shingles); empty array when the doc has
    fewer than n tokens. Lowers to the zip_with chain
    (:func:`sliding_grams`)."""
    return sliding_grams(tokens, n)


def hashed_grams(tokens: Column, n: int) -> Column:
    """Sliding n-gram xxhash64es with NO gram-string materialization
    (r12, guide §1.2 per-task work): the zip_with chain concats the
    first n-1 tokens and the FINAL step hashes the (prefix, last)
    FIELD PAIR directly — whitespace-split tokens cannot contain the
    separator, so the pair uniquely decodes the gram and the hash is
    injective on grams up to the accepted 64-bit collision class
    (the fingerprint/band-hash contract). For consumers that only
    count equality over grams (dup fraction, max equal-run), the
    counts are identical while distinct/sort run over longs instead
    of built strings — q89 measured 1.65 → 1.25 s (−24%) in-session.
    The slices are all exactly n_g long (n_g = size-(n-1) ≥ 0), so
    zip_with never null-pads."""
    if n < 1:
        raise ValueError(f"hashed_grams: n must be >= 1, got {n}")
    if n == 1:
        return F.transform(tokens, lambda t: F.xxhash64(t))
    n_g = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    out = F.slice(tokens, 1, n_g)
    for k in range(2, n):
        out = F.zip_with(out, F.slice(tokens, k, n_g), lambda a, b: F.concat_ws(" ", a, b))
    return F.zip_with(out, F.slice(tokens, n, n_g), lambda a, b: F.xxhash64(a, b))


def dup_frac_from_grams(g: Column) -> Column:
    """1 - distinct/total over a PRE-STAGED gram array column (stage
    the grams as a projection first — per the module rule, lambda
    bodies re-evaluate per element with no CSE)."""
    total = F.size(g)
    return F.when(total > 0, F.round(1 - F.size(F.array_distinct(g)) / total, 6)).otherwise(
        F.lit(0.0)
    )


def dup_ngram_frac(tokens: Column, n: int) -> Column:
    """Fraction of n-gram occurrences that are repeats of an earlier
    one: 1 - distinct/total (0 for docs shorter than n tokens)."""
    return dup_frac_from_grams(_grams(tokens, n))


def top_ngram_frac(tokens: Column, n: int) -> Column:
    """Occurrence share of the single most frequent n-gram — the
    "stuck-in-a-loop" signal boilerplate and generation loops trip.

    All-codegen: sort the gram array, then one ``aggregate`` pass
    computing the longest equal-run (struct accumulator: previous
    value, current run, max run). No explode, no shuffle — O(k log k)
    per row inside whole-stage codegen.
    """
    return top_frac_from_grams(_grams(tokens, n))


def top_frac_from_grams(grams: Column, hashed: bool = False) -> Column:
    """Max-run/total over a PRE-STAGED gram array column. With
    ``hashed=True`` the array is :func:`hashed_grams` longs and the
    fold's sentinel is a typed NULL (x == NULL is never true, so the
    first element opens a run of 1 exactly like the "" sentinel does
    for non-empty gram strings)."""
    g = F.array_sort(grams)
    total = F.size(g)
    prev0 = F.lit(None).cast("bigint") if hashed else F.lit("")
    acc0 = F.struct(
        prev0.alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("mx")
    )
    run = lambda acc, x: F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))  # noqa: E731
    step = lambda acc, x: F.struct(  # noqa: E731
        x.alias("prev"),
        run(acc, x).alias("run"),
        F.greatest(acc["mx"], run(acc, x)).alias("mx"),
    )
    mx = F.aggregate(g, acc0, step, lambda acc: acc["mx"])
    return F.when(total > 0, F.round(mx / total, 6)).otherwise(F.lit(0.0))


def repetition_stats(col: Column) -> dict[str, Column]:
    """Gopher-style repetition signals over lower-cased whitespace
    tokens: duplicate 2-/3-gram fractions, top-2-gram share, and the
    composite ``repetitive`` flag. Returns named Columns so callers
    select only what they pay for."""
    toks = tokenize_ws(F.lower(col))
    d2 = dup_ngram_frac(toks, 2)
    d3 = dup_ngram_frac(toks, 3)
    t2 = top_ngram_frac(toks, 2)
    return {
        "dup_2gram_frac": d2,
        "dup_3gram_frac": d3,
        "top_2gram_frac": t2,
        "repetitive": (d2 > REP_DUP_2GRAM_MAX) | (t2 > REP_TOP_2GRAM_MAX),
    }


# PII redaction patterns — RE2-safe (no lookarounds) so the DuckDB
# oracle evaluates the IDENTICAL regex; order matters (ssn before
# phone: a bare \d{3}[-]\d{2}[-]\d{4} would otherwise half-match)
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind PII match counts (regexp_count — JVM codegen)."""
    return {f"n_{name}": F.regexp_count(col, F.lit(pat)).cast("long") for name, pat, _ in PII_PATTERNS}


def redact(col: Column, kinds: list[str] | None = None) -> Column:
    """Scrub PII spans with typed placeholder tokens — one chained
    regexp_replace per kind, entirely inside whole-stage codegen (the
    standard pre-training scrub stage; map-only at any scale)."""
    out = col
    for name, pat, token in PII_PATTERNS:
        if kinds is None or name in kinds:
            out = F.regexp_replace(out, pat, token)
    return out


# ----------------------------------------------------------------------
# hashed linear classifier (fastText-style quality scoring) — r7
# ----------------------------------------------------------------------

# feature-hash table size (power of two: bucket weights are exact
# multiples of 2^-12, so per-row weight sums are exactly representable
# doubles and the DuckDB oracle compares EXACTLY, no rounding policy)
HASH_DIM = 4096
# Knuth multiplicative constant — scrambles bucket → pseudo-weight
HASH_MIX = 2654435761


def _feature_bucket(f: Column) -> Column:
    """Feature → hash bucket: first 15 md5 hex digits as a 60-bit int
    (the engine-wide gram-hash idiom, functions/dedup.md5_60) mod
    HASH_DIM. Both engines compute this bit-identically."""
    return F.conv(F.substring(F.md5(f), 1, 15), 16, 10).cast("bigint") % HASH_DIM


def hashed_features(tokens: Column) -> Column:
    """fastText's feature set: the unigrams plus the sliding word
    bigrams, in document order (Joulin et al. 2016, 'Bag of Tricks for
    Efficient Text Classification')."""
    return F.concat(tokens, _grams(tokens, 2))


def hashed_score_from_features(feats: Column) -> Column:
    """Mean hashed-bucket weight over a PRE-STAGED feature array
    column (stage ``hashed_features`` as its own projection first —
    the module rule: lambda bodies re-evaluate per reference with no
    CSE, and CollapseProject keeps a staged non-cheap producer staged
    when the consumer references it more than once)."""
    w = lambda f: (  # noqa: E731
        ((_feature_bucket(f) * HASH_MIX) % HASH_DIM) / F.lit(float(HASH_DIM)) - 0.5
    )
    total = F.aggregate(feats, F.lit(0.0), lambda acc, f: acc + w(f))
    n = F.size(feats)
    return F.when(n > 0, total / n)


def hashed_score_from_weights(feats: Column, weights: Column) -> Column:
    """Mean TRAINED-weight score over a PRE-STAGED feature array: each
    feature hashes to a bucket and probes ``weights`` (an
    ``array<double>`` of length HASH_DIM) by index — the production
    shape for a fastText-style classifier whose trained weight vector
    ships with the job. Pass the weights as a literal array
    (``F.lit([...])``) or a 1-row folded column; a literal is a
    codegen constant, so the whole operator stays map-only with zero
    exchanges and zero Python. If ``weights`` is a NON-literal
    expression, stage it as its own projection first (the module's
    lambda-re-evaluation rule)."""
    total = F.aggregate(
        feats,
        F.lit(0.0),
        lambda acc, f: acc
        + F.element_at(weights, (_feature_bucket(f) + 1).cast("int")),
    )
    n = F.size(feats)
    return F.when(n > 0, total / n)


def hashed_linear_score(tokens: Column) -> Column:
    """Linear text classifier over hashed n-gram features — the
    fastText architecture used as the quality/toxicity filter stage of
    training-data pipelines (e.g. GPT-3/PaLM quality classifiers):
    score = mean over features of weight[hash(feature)].

    The weight table here is a deterministic stand-in (weight[b] =
    ((b * HASH_MIX) mod D)/D - 0.5 — in production it would be a
    trained broadcast array; the Spark-side plumbing is identical:
    per-feature hash → bucket → weight lookup → in-row mean). The
    entire operator is per-row JVM expression evaluation: tokenize,
    gram, hash, score — ZERO shuffles and no Python, so it is
    map-only at any corpus size.
    """
    return hashed_score_from_features(hashed_features(tokens))


def run_starts(sorted_tokens: Column) -> Column:
    """1-based run-start positions of a PRE-STAGED sorted token array:
    ``array<struct<term,pos>>`` — a start is the first element or one
    that differs from its predecessor (element_at is O(1) against a
    staged column attribute). STAGE the sorted array as its own
    projection first — the module rule: a lambda body re-evaluates
    per element, so an inline array_sort here would re-sort the whole
    array once per element (O(n² log n), measured catastrophic).
    Token arrays must be null-free (tokenize_ws output is): a null
    element would sort last and fold its run into the predecessor's
    gap count."""
    return F.filter(
        F.transform(
            sorted_tokens, lambda x, i: F.struct(x.alias("term"), (i + 1).alias("pos"))
        ),
        lambda s: (s["pos"] == 1)
        | (F.element_at(sorted_tokens, s["pos"] - 1) != s["term"]),
    )


def counts_from_starts(starts: Column, n: Column) -> Column:
    """``array<struct<term,cnt>>`` from PRE-STAGED run starts + the
    total token count: each run's count is the gap to the next start.
    Positional arithmetic, O(distinct) per row — no accumulator-array
    appends (an aggregate that array_appends per distinct term is
    O(distinct²) in copies, measured slower than even a naive rescan
    on 2k-distinct docs)."""
    d = F.size(starts)
    return F.transform(
        starts,
        lambda s, j: F.struct(
            s["term"].alias("term"),
            (
                F.when(j + 2 <= d, F.element_at(starts, j + 2)["pos"]).otherwise(n + 1)
                - s["pos"]
            ).cast("int").alias("cnt"),
        ),
    )


def term_counts(tokens: Column) -> Column:
    """Per-row term frequencies in O(n log n): convenience composition
    of :func:`run_starts` + :func:`counts_from_starts`, safe at ANY
    token-array length. Both intermediates — the sorted array and the
    run-start structs — are bound through the 1-element-array lambda
    trick (see :func:`rolling_hash_fingerprint`): each is computed
    once per row and referenced inside the downstream lambdas as an
    O(1) lambda-variable lookup, so the lambda-re-evaluation rule
    (no CSE across lambda bodies) cannot degrade this to the
    O(n² log n) inline composition would be. Staging the pieces as
    explicit projections (q124's form) remains equivalent."""

    def _counts(st: Column) -> Column:
        staged_starts = F.array(run_starts(st))  # bind starts once
        return F.element_at(
            F.transform(
                staged_starts, lambda starts: counts_from_starts(starts, F.size(st))
            ),
            1,
        )

    staged_sorted = F.array(F.array_sort(tokens))  # bind sorted array once
    return F.element_at(F.transform(staged_sorted, _counts), 1)


# ----------------------------------------------------------------------
# URL canonicalization (crawl dedup / frequency analysis) — r8
# ----------------------------------------------------------------------

#: query parameters stripped by canonical_url (tracking noise that
#: multiplies surface forms of the same page in crawl data)
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)="


def canonical_url(col: Column) -> Column:
    """Canonical form of a URL for crawl-level dedup (the
    C4/CommonCrawl preprocessing rule set): lowercase scheme+host,
    strip one leading ``www.``, drop default ports (:80/:443), drop
    the fragment, strip trailing path slashes (root stays ``/``),
    remove tracking query params (utm_*, fbclid, gclid, msclkid, ref)
    and SORT the survivors so param order can't split a page.

    Pure per-row codegen — regex/split/filter/sort/join, no UDF, no
    lookaround (portable to RE2 oracles). NULL/empty pass through."""
    u = F.trim(col)
    nofrag = F.regexp_replace(u, r"#.*$", "")
    head = F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1)
    rest = nofrag.substr(F.length(head) + 1, F.length(nofrag))
    h = F.lower(head)
    # default ports are SCHEME-MATCHED: :80 is only a default for
    # http, :443 only for https — https://x:80 stays as written
    h = F.regexp_replace(h, r"^(http://[^:/]+):80$", r"$1")
    h = F.regexp_replace(h, r"^(https://[^:/]+):443$", r"$1")
    h = F.regexp_replace(h, r"^(https?://)www\.", r"$1")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    cpath = F.regexp_replace(path, r"/+$", "")
    cpath = F.when(cpath == "", F.lit("/")).otherwise(cpath)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    cquery = F.array_join(F.array_sort(params), "&")
    out = F.concat(
        h,
        cpath,
        F.when(cquery == "", F.lit("")).otherwise(F.concat(F.lit("?"), cquery)),
    )
    # unparseable (no scheme://host) or empty input: pass through
    return F.when(col.isNull() | (head == ""), u).otherwise(out)


# ----------------------------------------------------------------------
# bucketed broadcast maps (r8) — O(V/B) probes instead of O(V)
# ----------------------------------------------------------------------

#: bucket count for fold_bucketed_map/bucketed_probe (two-level maps)
LM_PROBE_BUCKETS = 256


def fold_bucketed_map(df, key_col: str, val_col: str, alias: str,
                      n_buckets: int = LM_PROBE_BUCKETS):
    """Fold a (key, val) statistics table into ONE row holding a
    TWO-LEVEL map: ``map<int, map<key,val>>`` keyed by
    ``pmod(xxhash64(key), n_buckets)``.

    Why: Spark's map access (GetMapValue) is a LINEAR scan over the
    entries — a flat 12k-entry broadcast map probed per gram cost
    q130's scoring stage 10.3 s at sf0.1. Bucketing cuts each probe
    to ~V/B string comparisons after one cheap int lookup
    (measured: scoring 10.3 s → ~1 s). Probe with
    :func:`bucketed_probe` using the SAME n_buckets."""
    val = F.col(val_col) if isinstance(val_col, str) else val_col
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    inner = df.groupBy(bucket.alias("__b")).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col(key_col), val.alias("__v")))
        ).alias("__m")
    )
    return inner.agg(
        F.map_from_entries(F.collect_list(F.struct("__b", "__m"))).alias(alias)
    )


def bucketed_probe(outer: Column, key: Column,
                   n_buckets: int = LM_PROBE_BUCKETS) -> Column:
    """Lookup into a :func:`fold_bucketed_map` column: int bucket hop,
    then the small inner map; missing key/bucket → null (the same
    contract as try_element_at on a flat map)."""
    b = F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    return F.try_element_at(F.try_element_at(outer, b), key)
