"""Distributed connected components — alternating large-star / small-star.

Pig itself has no graph operator; this belongs to the training-data
pipeline surface: the near-dup detectors (``dedup.minhash_lsh_pairs``,
``similarity.cosine_lsh_pairs``) emit PAIRS, but a 100 TB dedup job
needs transitively-closed GROUPS with a deterministic canonical
representative per group ("keep min doc_id, drop the rest").  A pair
list is not enough: A~B and B~C must collapse into one group even when
A~C was never emitted.

Algorithm: the alternating large-star/small-star label contraction
from the published MapReduce connected-components literature
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14).  Each round is two map-reduce-shaped steps:

* **large-star** — per node ``u``, connect every *strictly larger*
  neighbor to ``m = min(Γ(u) ∪ {u})``.
* **small-star** — orient edges larger→smaller; per node ``u``,
  connect every smaller-or-equal neighbor (and ``u`` itself) to the
  minimum of that closed neighborhood.

Both steps strictly shrink the potential function and converge to
stars rooted at each component's minimum node in O(log n) rounds —
the 100 TB-scale property (min-label *propagation* needs O(diameter)
rounds, which a chain-shaped dup cluster turns into O(n)).

Stop rule, exact: canonical distinct edges (u < v) form a star forest
exactly when no node has both a smaller neighbor and a second neighbor
(``min(Γ(n)) < n`` and ``deg(n) > 1``); each component is then one
star rooted at its minimum.  The loop stops at that fixpoint, with no
confirming round after it, and a star-forest input takes zero rounds.

Spark mapping: a round starts with ONE window pass partitioned by node
over the bidirected edges (``__mn = min(Γ(u))``, ``__deg = |Γ(u)|``),
stored with a lazy ``localCheckpoint``.  That pass serves the stop
test (a count of violating rows, which also materializes the store),
the large-star emit, and the final (node, component) output, which
needs no exchange.  Small-star is one window partitioned by node plus
the canonical distinct.  The store truncates lineage, so the
iteration count never deepens the plan (on a cluster with a
checkpoint dir, ``DataFrame.checkpoint`` is the durable variant, same
call shape); each round frees the previous round's store once its own
is materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..compat import sql_ident
from .materialize import release

__all__ = ["connected_components"]


def _canon(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected canonical edge set: (u < v), self-loops dropped."""
    s, d = sql_ident(src), sql_ident(dst)
    return (
        edges.selectExpr(f"least({s}, {d}) AS u", f"greatest({s}, {d}) AS v")
        .where("u IS NOT NULL AND v IS NOT NULL AND u != v")
        .distinct()
    )


def _by_node(e: DataFrame) -> DataFrame:
    """The round's stored pass: every (u, v) of the bidirected edges
    with ``__mn = min(Γ(u))`` and ``__deg = |Γ(u)|``."""
    b = e.selectExpr("inline(array(struct(u, v), struct(v AS u, u AS v)))")
    return b.selectExpr(
        "u",
        "v",
        "min(v) OVER (PARTITION BY u) AS __mn",
        "count(1) OVER (PARTITION BY u) AS __deg",
    ).localCheckpoint(eager=False)


def _star_forest(p: DataFrame) -> bool:
    """The exact stop test over a :func:`_by_node` pass: no node has
    both a smaller neighbor and a second neighbor.  Counting the
    violating rows also materializes the stored pass.  An RDD count is
    one job; ``DataFrame.count`` adds a single-partition exchange (a
    second job), and ``isEmpty`` scans partitions in growing batches."""
    bad = p.where("__mn < u AND __deg > 1")
    return bad._jdf.rdd().count() == 0  # noqa: SLF001


def _star_round(p: DataFrame) -> DataFrame:
    """Large-star then small-star over a :func:`_by_node` pass."""
    # large-star: (m, v) for every neighbor v > u, m = least(u, __mn),
    # emitted oriented larger→smaller (u=v, v=m) for small-star; m ≤ u < v
    b = p.where("v > u").selectExpr("v AS u", "least(u, __mn) AS v")
    # small-star: connect N(u) ∪ {u} to min(N(u)) (all of N(u) < u)
    s = b.selectExpr("*", "min(v) OVER (PARTITION BY u) AS __mn")
    pairs = "array(struct(v AS a, __mn AS b), struct(u AS a, __mn AS b))"
    return _canon(s.selectExpr(f"inline({pairs})"), "a", "b")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    canonical: bool = False,
) -> DataFrame:
    """Return (node, component) for every node in ``edges``.

    ``component`` is the minimum node id of the connected component —
    a deterministic canonical representative (ids must be orderable;
    any numeric/string key works).  Nodes with no edges are absent —
    a singleton maps to itself trivially, so callers left-join and
    ``coalesce(component, node)`` if full coverage is needed.

    ``canonical=True`` is the caller's guarantee that the edges are
    ALREADY canonical — src < dst, distinct, no nulls (true for every
    LSH pair stream: id_a < id_b by construction, deduped, verified) —
    which skips the initial least/greatest + distinct pass.  Raises
    ``RuntimeError`` when ``max_iter`` star rounds do not converge.
    ``edges`` is read only while this runs (each pass is stored before
    the next), so a caller that owns it may ``release`` it on return.
    """
    if canonical:
        e = edges.selectExpr(f"{sql_ident(src)} AS u", f"{sql_ident(dst)} AS v")
    else:
        e = _canon(edges, src, dst)
    p = _by_node(e)
    star = _star_forest(p)
    for _ in range(max_iter):
        if star:
            break
        p, spent = _by_node(_star_round(p)), p
        star = _star_forest(p)
        release(spent)
    if not star:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # one row per node: its edge to its minimum neighbor
    return p.where("v = __mn").selectExpr("u AS node", "least(u, __mn) AS component")
