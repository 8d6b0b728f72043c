"""RANK (QueryParser.g:512, LORank.java:35-41, PORank.java:47,
POCounter.java).

Pig's RANK prepends a 1-based rank column:

- ``RANK rel`` (no BY): a *global contiguous row number* in input
  order — Pig's two-pass plan (per-task counters, then a
  cumulative-offset pass), which is exactly
  :func:`~pig_spark.operators.prefix.running_sums` with unit weights.
- ``RANK rel BY cols [DESC] [DENSE]``: SQL rank()/dense_rank() by the
  sort key. A naive ``Window.orderBy`` without partitioning drags the
  whole relation to one task; instead:

  1. aggregate per distinct key (one distributed shuffle);
  2. running sums over the key domain in sort order — rows per key
     for RANK, one per key for DENSE; a key's rank is the sum before
     it plus one;
  3. join ranks back on the key (Catalyst/AQE picks broadcast when
     the key domain is small, sort-merge when it isn't).

  This is POCounter/PORank's two-pass scheme applied to the key
  domain — no single-partition pass over data-sized input anywhere.

Like Pig's counter pass, the running sums store their input once (see
:mod:`~pig_spark.operators.prefix`): building a ranked frame runs the
input's shuffle stages as a job, and the stored rows — the whole
relation without BY or with ``unique_keys``, the distinct-key domain
otherwise — stay in executor storage until the plan is collected.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .prefix import running_sums


def rank(
    df: DataFrame,
    by: Sequence[Column],
    ascending: bool | Sequence[bool] = True,
    dense: bool = False,
    name: str = "rank",
    unique_keys: bool = False,
) -> DataFrame:
    """``unique_keys=True`` is the caller's guarantee that ``by`` is
    unique PER ROW (e.g. an id column is part of the key). Then
    rank == dense_rank == the row's position in total key order, and
    the key-domain aggregate + join-back of the generic scheme are
    pure overhead: the rows themselves are numbered in key order —
    two full exchanges and a sort-merge join fewer (r12, guide §2.4),
    identical rank values. A caller passing non-unique keys here
    would silently get row numbers instead of ranks — only opt in
    where uniqueness holds by construction
    (``SPARK_GRAFT_DEBUG_ASSERTS=1`` checks it)."""
    if not by:
        return running_sums(df).select(F.col("__incl").alias(name), *df.columns)
    if isinstance(ascending, bool):
        ascending = [ascending] * len(by)
    key_names = [f"__rk{i}" for i in range(len(by))]
    tagged = df.select(F.struct(*[c.alias(k) for c, k in zip(by, key_names)]).alias("__key"), "*")
    order = [
        F.col(f"__key.{k}").asc_nulls_first() if a else F.col(f"__key.{k}").desc_nulls_last()
        for k, a in zip(key_names, ascending)
    ]

    if unique_keys:
        rank_col = F.col("__incl")
        if os.environ.get("SPARK_GRAFT_DEBUG_ASSERTS") == "1":
            # opt-in uniqueness validation (ADVICE r12): assert_true
            # yields NULL when the guard holds; it is folded into the
            # rank (+0) so column pruning cannot remove it
            guard = F.assert_true(
                F.count(F.lit(1)).over(Window.partitionBy("__key")) == 1,
                F.lit("rank(unique_keys=True): duplicate sort key"),
            )
            rank_col = rank_col + F.coalesce(guard.cast("long"), F.lit(0))
        return running_sums(tagged, order=order).select(rank_col.alias(name), *df.columns)

    # 1. distinct-key domain with per-key row counts (one shuffle)
    key_counts = tagged.groupBy("__key").agg(F.count(F.lit(1)).alias("__cnt"))
    # 2. rank = rows (RANK) or keys (DENSE) strictly before the key, + 1
    sums = running_sums(key_counts, order=order, weight=None if dense else F.col("__cnt"))
    ranks = sums.select("__key", (F.col("__excl") + 1).alias(name))
    # 3. join back on the key — no forced broadcast: AQE broadcasts a
    #    small key domain and falls back to SMJ for huge ones.
    out = tagged.join(ranks, "__key").drop("__key")
    return out.select(name, *df.columns)
