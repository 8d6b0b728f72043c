"""Distributed running sums — the one POCounter/PORank primitive.

Pig numbers rows in two passes (POCounter.java, PORank.java): each task
counts its rows, then every row adds the totals of the tasks before it.
RANK, token packing and sequence assembly all need that shape with a
weight (1 per row, or a token count), so they share
:func:`running_sums`.

The two passes must agree on which rows form partition ``p``. Deriving
the partition id twice — ``spark_partition_id()`` evaluated once under
the totals branch and once under the row branch — does not guarantee
that: column pruning gives each branch a different projection under
the exchange, so each samples its own range bounds and AQE coalesces
each read on its own, and the same id names different rows (rows are
dropped and duplicated at ~10⁵ rows). Here the layout is evaluated
ONCE: the input (range-partitioned and sorted when an order is given)
is stored with ``monotonically_increasing_id`` — partition index in
the high 31 bits, position within the partition in the low 33 — and a
local checkpoint. Everything after reads that stored column, so the
partition id ``__pos >> 33`` is a pure function of the row.

Limit: a stored partition must hold fewer than 2³³ (8.6·10⁹) rows, or
its positions carry into the partition bits. One task never holds
that many rows.

Scale shape: no window over data-sized input without a partition key.
The local running sum partitions by (group, partition id) — bounded by
partition size; unit weights without a group skip that window and read
the position bits directly. Cross-partition offsets come from a totals
table of ≤ groups × partitions rows, broadcast back.

The stored layout is a lazy local checkpoint of every input column,
with the costs ``operators/materialize.py`` states: under AQE every
shuffle stage of the input (its own exchanges, and the range exchange
with its bounds sample when an order is given) runs while the frame is
BUILT — in DSL construction, Latin translation and ``explain`` too
(``tests/test_prefix_sums.py`` pins the job count); a caller that owns
the frame frees it with ``materialize.release`` (a streaming
micro-batch); a lost block fails the job. Plans built on the result
show the input only as a ``LogicalRDD`` leaf; plan audits must read the
stored frame as well (``tests/conftest.py`` ``checkpointed``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_POS_BITS = 33


def running_sums(
    df: DataFrame,
    order: Sequence[Column] = (),
    group: Sequence[str] = (),
    weight: Column | None = None,
) -> DataFrame:
    """``df`` plus ``__excl`` / ``__incl``: the sum of ``weight`` over
    the rows before / up to and including each row, within its
    ``group``, in ``order``. ``weight=None`` counts rows (1 each), so
    ``__incl`` is the 1-based row number. Sort expressions in ``order``
    may carry a direction (``asc_nulls_first()`` …). With no ``order``
    rows run in the incoming partition layout — input order for a scan.
    Ties in ``order`` are numbered in an arbitrary but single order. A
    null weight contributes nothing and gets a null ``__excl``."""
    cols = df.columns
    if order:
        keys = [*map(F.col, group), *order]
        df = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
    staged = (
        df.select(
            "*",
            (F.lit(1) if weight is None else weight).alias("__w"),
            F.monotonically_increasing_id().alias("__pos"),
        )
        .localCheckpoint(eager=False)
        .withColumn("__pid", F.shiftright("__pos", _POS_BITS))
    )
    part = [*group, "__pid"]
    if weight is None and not group:
        local = F.col("__pos").bitwiseAND(F.lit((1 << _POS_BITS) - 1)) + 1
    else:
        local = F.sum("__w").over(
            Window.partitionBy(*part)
            .orderBy("__pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    before = Window.partitionBy(*group).orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        staged.groupBy(*part)
        .agg(F.sum("__w").alias("__tot"))
        .select(
            *[F.col(c).alias(f"__o{i}") for i, c in enumerate(part)],
            F.coalesce(F.sum("__tot").over(before), F.lit(0)).alias("__off"),
        )
    )
    joined = staged.join(
        F.broadcast(offsets),
        [staged[c].eqNullSafe(offsets[f"__o{i}"]) for i, c in enumerate(part)],
    ).withColumn("__incl", F.col("__off") + local)
    return joined.select(*cols, (F.col("__incl") - F.col("__w")).alias("__excl"), "__incl")
