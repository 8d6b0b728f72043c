"""SPLIT rel INTO a IF c1, b IF c2 [, z OTHERWISE]
(QueryParser.g:493-504, LOSplit.java / LOSplitOutput.java, POSplit.java).

Pig routes one pass over the input to multiple outputs; conditions are
independently evaluated (a row can land in several outputs, or none —
OTHERWISE catches rows matching no condition). Spark has no native
multi-output operator, so a SPLIT is N filters over a shared parent and
stores nothing. Branches written by several STOREs share the parent's
upstream work through ``operators.multisink`` (Pig's MultiQuery
optimizer, MultiQueryOptimizer.java); a caller that reads several
branches in one plan stores the parent with ``operators.materialize``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def split(df: DataFrame, conds: Sequence[Column], otherwise: bool = False) -> list[DataFrame]:
    outs = [df.filter(c) for c in conds]
    if otherwise:
        none_match = None
        for c in conds:
            nc = ~F.coalesce(c, F.lit(False))
            none_match = nc if none_match is None else (none_match & nc)
        outs.append(df.filter(none_match))
    return outs
