"""Connected components: on the driver for a small graph, alternating
large-star / small-star rounds on the cluster for a large one.

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

Two paths.  Each Spark job costs tens of milliseconds of driver CPU
whatever its size, and a round is four of them, so a dedup graph of a
few hundred edges spent most of its time launching jobs.  The
canonical edges are therefore stored once (a lazy local checkpoint)
and at most ``DRIVER_MAX_EDGES + 1`` of them collected as Arrow in one
job.  If no more came back, a union-find on the driver (each root the
minimum id) finishes, and its result is a local frame over Arrow
batches, read with no job.  Otherwise the star-forest loop runs on the
stored edges, so the upstream plan is not computed twice.  Only
integer, decimal, date and plain string ids take the driver path, the
types whose Python order is Spark's; any other id type takes the loop.

``DRIVER_MAX_EDGES`` is a driver-memory bound, not a crossover: on
random sparse graphs (local[2], 4-vCPU VM) the driver path used
0.35/0.20/0.96/2.8/11.3 CPU-s at 1k/10k/100k/300k/1M edges against
4.2/3.6/7.7/19.9/50.3 for the loop, so the loop never won up to 1M
edges.  The union-find's Python heap grows by ~150 bytes per edge
(15 MB at 100k, 137 MB at 1M, plus 16 bytes per edge of Arrow), and a
graph over the bound pays one wasted collect of that size before the
loop.  100k edges keeps both to ~16 MB and well under a second; it
sits beside ``SPARK_GRAFT_CKPT_MAX_BYTES`` in ``materialize``'s rule.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..compat import sql_ident
from .materialize import release

if TYPE_CHECKING:
    import pyarrow as pa

__all__ = ["connected_components", "DRIVER_MAX_EDGES"]

# Canonical edges up to which the components are found on the driver
# (the module docstring gives the measurements behind it).
DRIVER_MAX_EDGES = 100_000


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


def _driver_orderable(dt: T.DataType) -> bool:
    """Id types whose Python order is Spark's (UTF-8 byte order is code
    point order); not floats (NaN, -0.0) nor collated strings."""
    return isinstance(dt, (T.IntegralType, T.DecimalType, T.DateType)) or dt == T.StringType()


def _driver_components(spark, head: "pa.Table", dt: T.DataType) -> DataFrame:
    """(node, component) of the canonical edges in ``head`` by
    union-find, each root the minimum id of its component, as a local
    frame over Arrow batches (a frame built from a Python list would
    run a pickled Python RDD through the workers instead)."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for a, b in zip(head.column("u").to_pylist(), head.column("v").to_pylist()):
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    t = head.schema.field("u").type
    table = pa.table({"node": pa.array(nodes, t), "component": pa.array([find(n) for n in nodes], t)})
    schema = T.StructType([T.StructField("node", dt), T.StructField("component", dt)])
    return spark.createDataFrame(table, schema)


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
    ``RuntimeError`` when ``max_iter`` star rounds do not converge (a
    graph the driver finishes takes none).
    ``edges`` is read only while this runs (each pass is stored before
    the next), so a caller that owns it may ``release`` it on return.
    """
    if canonical:
        e = edges.selectExpr(f"{sql_ident(src)} AS u", f"{sql_ident(dst)} AS v")
    else:
        e = _canon(edges, src, dst)
    dt = e.schema["u"].dataType
    stored = DRIVER_MAX_EDGES > 0 and _driver_orderable(dt)
    if stored:
        # stored, so a graph too large for the driver is not computed
        # again (a local checkpoint like every pass here: ``materialize``
        # would persist, since a pair stream's size estimate inherits
        # its join's blow-up, and AQE builds a persist in a job of its
        # own); one job: a single task reads the partitions in turn and
        # stops after DRIVER_MAX_EDGES + 1 rows
        e = e.localCheckpoint(eager=False)
        head = e.coalesce(1).limit(DRIVER_MAX_EDGES + 1).toArrow()
        if head.num_rows <= DRIVER_MAX_EDGES:
            release(e)
            return _driver_components(e.sparkSession, head, dt)
    p = _by_node(e)
    star = _star_forest(p)
    if stored:
        release(e)
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
