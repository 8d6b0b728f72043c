"""Distributed model training for the training-data pipeline's own
models — the piece that closes the classifier lifecycle in-engine:
q139 TRAINS the hashed linear quality classifier, the fixture file
ships it (fixtures/classifier_weights.json), and q125/q128 APPLY it.

Reference parity: none — Pig has no trainer (this is the
training-data-pipeline extension surface, like functions/dedup.py).
The architecture is fastText's linear bag-of-hashed-features model
(Joulin et al. 2016) fit by full-batch gradient descent on logistic
loss.

Design for 100 TB (the shapes, not the defaults):

- **Features staged once, materialized.** Tokenize → hashed feature
  buckets is the expensive pass; it runs once and the bucket arrays
  (array<int>, ~4 B/feature) are stored for the iteration loop
  (``operators.materialize``) — the standard "materialize the design
  matrix" step (same idiom as the LSH signature stage).
- **Weights travel driver → executors as a broadcast 1-row column**
  (the q128 shape; a 4096-double literal costs a flat ~3 s janino
  compile — SCALE.md r9). Scoring is an in-row fold over the staged
  buckets: deterministic per row, whole-stage codegen, no Python.
- **Gradients travel executors → driver as ONE model-sized
  aggregate**: per-doc residual in codegen, explode(buckets) →
  groupBy(bucket) → sum — a single token-sized shuffle per iteration
  with map-side partial aggregation (hot stopword buckets combine
  early), then ≤ HASH_DIM rows collect to the driver. This is the
  sanctioned driver-side exception class (model-sized, like the IVF
  centroid bootstrap — never corpus-sized).
- **Loss/accuracy are one tiny global aggregate per iteration** for
  the convergence record the caller gates on.

Total per iteration: 2 jobs over the cached features, one
HASH_DIM-row collect, one weight broadcast. Iterations are inherently
sequential (it is gradient descent); everything inside an iteration
is distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.materialize import materialize, release
from .text import HASH_DIM, _feature_bucket, hashed_features, tokenize_ws


def stage_hashed_buckets(df: DataFrame, text_col: str, label_col, id_col: str = "doc_id") -> DataFrame:
    """(id, y, bk): label as double + the doc's hashed feature-bucket
    array, hashed ONCE (the scorers' _feature_bucket, so a model
    trained here is bit-compatible with hashed_score_from_weights).
    Empty-feature docs are dropped (no gradient, undefined score)."""
    lab = label_col if isinstance(label_col, F.Column) else F.col(label_col)
    staged = df.select(
        F.col(id_col),
        lab.cast("double").alias("y"),
        F.transform(
            hashed_features(tokenize_ws(F.col(text_col))),
            lambda f: _feature_bucket(f).cast("int"),
        ).alias("bk"),
    )
    return staged.where(F.size("bk") > 0)


def train_hashed_classifier(
    feats: DataFrame,
    iters: int = 5,
    lr: float = 800.0,
    dim: int = HASH_DIM,
) -> tuple[list[float], list[dict]]:
    """Full-batch logistic-regression fit of the mean-score hashed
    linear model (score = mean over features of w[bucket]; the exact
    parameterization q125/q128 apply). ``feats`` is
    :func:`stage_hashed_buckets` output; it is materialized for the
    loop, and every store under it is released on exit.

    Returns ``(weights, history)`` — weights as a plain list (write it
    through the fixture path for q128 to apply), history as one dict
    per iteration: iter, loss/accuracy BEFORE the step (so history[0]
    is the w=0 baseline: loss exactly ln 2, p = 0.5 everywhere).

    lr=800 is measured monotone on the fixture corpora at every SF
    (sf0.001/0.01/0.1 — SCALE.md r9); full-batch GD on the convex
    logistic loss decreases monotonically whenever lr < 2/L, and the
    mean-score features make L tiny (entries 1/n_feats).
    """
    spark = feats.sparkSession
    feats = materialize(feats)
    try:
        n = feats.count()
        if n == 0:
            raise ValueError("train_hashed_classifier: no rows with features")
        w = [0.0] * dim
        history: list[dict] = []
        for it in range(iters + 1):
            wdf = spark.createDataFrame([(w,)], "w array<double>")
            j = feats.crossJoin(F.broadcast(wdf))
            score = F.aggregate(
                F.col("bk"), F.lit(0.0), lambda a, b: a + F.element_at(F.col("w"), b + 1)
            ) / F.size(F.col("bk"))
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-score))
            scored = j.select("y", "bk", p.alias("p"))
            la = scored.select(
                F.avg(
                    -(
                        F.col("y") * F.log(F.greatest(F.col("p"), F.lit(1e-12)))
                        + (1 - F.col("y")) * F.log(F.greatest(1 - F.col("p"), F.lit(1e-12)))
                    )
                ).alias("loss"),
                F.avg(((F.col("p") > 0.5).cast("double") == F.col("y")).cast("double")).alias("acc"),
            ).first()
            history.append({"iter": it, "loss": float(la["loss"]), "acc": float(la["acc"])})
            if it == iters:
                break  # final record only — no step after the last eval
            grads = (
                scored.select(
                    ((F.col("p") - F.col("y")) / F.size(F.col("bk"))).alias("g"),
                    F.explode(F.col("bk")).alias("b"),
                )
                .groupBy("b")
                .agg(F.sum("g").alias("gsum"))
                .collect()  # model-sized: <= dim rows
            )
            for r in grads:
                w[r["b"]] -= lr * float(r["gsum"]) / n
        return w, history
    finally:
        release(feats)


def stage_word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, syms): the classic BPE training input — DISTINCT
    lowercased whitespace words with occurrence counts, each word
    split into its initial character symbols. ONE token-sized shuffle
    (the word-count groupBy); everything after it is vocabulary-sized.
    :func:`train_bpe` stores it before the merge loop (each iteration
    rewrites ``syms``)."""
    toks = tokenize_ws(F.lower(F.col(text_col)))
    words = df.select(F.explode(toks).alias("w"))
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("w", "cnt", F.split("w", "").alias("syms"))
    )


def _merge_pair(syms, a: str, b: str):
    """Apply one BPE merge to a symbol array in-row: greedy
    left-to-right replacement of adjacent (a, b) with a+b — the
    reference BPE semantics ('aaa' + merge (a,a) -> [aa, a]). A pure
    codegen fold: accumulator = struct(out array, prev symbol);
    emitting is deferred one element so the pair test sees (prev,
    cur)."""
    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )
    step = lambda acc, s: F.when(  # noqa: E731
        (acc["prev"] == F.lit(a)) & (s == F.lit(b)),
        F.struct(
            F.concat(acc["out"], F.array(F.lit(a + b))).alias("out"),
            F.lit(None).cast("string").alias("prev"),
        ),
    ).otherwise(
        F.struct(
            F.when(acc["prev"].isNull(), acc["out"])
            .otherwise(F.concat(acc["out"], F.array(acc["prev"])))
            .alias("out"),
            s.alias("prev"),
        )
    )
    finish = lambda acc: F.when(  # noqa: E731
        acc["prev"].isNull(), acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["prev"])))
    return F.aggregate(syms, zero, step, finish)


def train_bpe(types: DataFrame, merges: int) -> tuple[list[dict], DataFrame]:
    """Learn ``merges`` BPE merge rules over a staged word-type table
    (:func:`stage_word_types` output) — the tokenizer-training half of
    the in-engine model lifecycle (q139 trains the classifier; this
    trains the vocabulary). Returns ``(merge_table, final_types)``;
    the merge table rows are ``{step, a, b, cnt}`` in learned order.

    Distributed shape per iteration (100 TB design):

    - pair counting: one explode of adjacent symbol pairs weighted by
      the word-type count + a partial-aggregated groupBy — the input
      is the word-TYPE table (vocabulary-sized: the corpus-sized
      token stream was already collapsed by stage_word_types' single
      shuffle), so every iteration's shuffle is statistics-sized;
    - argmax: distributed TakeOrdered LIMIT 1 + a 1-row collect (the
      scalar-projection exception class) with the deterministic
      (cnt DESC, a ASC, b ASC) tie-break;
    - merge application: pure in-row codegen fold (:func:`_merge_pair`
      — no Python, no shuffle), then an eager localCheckpoint cuts the
      lineage and the previous round's store is released.

    The selected counts are provably non-increasing (merging can only
    remove occurrences of existing pairs, and every NEW pair involves
    the just-created symbol, whose count is bounded by the merged
    pair's), and no pair is ever selected twice — q144 gates both
    invariants; the exact step-1 argmax is SQL-checkable from raw
    text and gated against the DuckDB oracle."""
    out: list[dict] = []
    cur = types.localCheckpoint()
    for step_no in range(1, merges + 1):
        n_p = F.greatest(F.size("syms") - 1, F.lit(0))
        pairs = cur.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, n_p),
                    F.slice(F.col("syms"), 2, n_p),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
            "cnt",
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        out.append({"step": step_no, "a": a, "b": b, "cnt": c})
        merged = cur.withColumn("syms", _merge_pair(F.col("syms"), a, b))
        cur, spent = merged.localCheckpoint(), cur
        release(spent)
    return out, cur
