"""Connected components over an edge list — large-star / small-star.

Implements the alternating large-star/small-star algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14) —
the same scheme GraphFrames uses — as pure DataFrame joins/aggregations so
Catalyst/AQE handle skew and physical strategy (SURVEY.md §2 J2).

The algorithm runs directly on *string* node ids: Spark's ``min`` on strings
is lexicographic, so the component label is deterministically the
lexicographically-smallest member (the W2 canonical tie-break of SURVEY.md
§2) without a global id-assignment step — a driver-side ``row_number`` over
all nodes would be a single-partition bottleneck at 10^12 scale.

Its caller is ``operators/training.neardup_clusters`` (the driver query
``train_neardup_clusters``), whose MinHash pairs chain across documents.
The entity layer does not need the loop: its same-as edges are disjoint
per-block stars, so it labels each block with its minimum directly
(``entity.block_canon``). ``simple_edges`` and ``undirected`` below are
the graph operators' edge normal form.

Scale notes:
- Each iteration is join + groupBy().min(); lineage is cut with
  ``localCheckpoint`` every iteration so Catalyst's plan doesn't grow
  unboundedly and AQE re-plans each round (SURVEY.md §4.2).
- Convergence in O(log^2 n) rounds; hub-heavy graphs converge faster since
  stars centralize mass onto min-ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def simple_edges(edges: DataFrame) -> DataFrame:
    """The directed simple graph of an edge table: its (src, dst) pairs
    with self-loops, parallel edges and null endpoints dropped
    (``src != dst`` is null, hence false, when either side is null).

    This is the one edge normal form every graph operator starts from.
    The result is materialized with ``localCheckpoint``: the loops read
    it every round, and the checkpoint cuts the input's lineage so each
    read is a scan.  Plan: one shuffle (the ``distinct``) and one
    checkpoint, i.e. two Spark jobs, since AQE runs the shuffle's map
    stage as a job of its own (``tests/test_plan_properties.py`` pins
    this budget).
    """
    return (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )


def undirected(edges: DataFrame) -> DataFrame:
    """The undirected simple graph of an edge table, as both directions
    (src, dst) and (dst, src) of every edge of ``simple_edges(edges)``.
    Direction, self-loops, parallel edges and null endpoints collapse;
    a node's degree is its row count as ``src``.  Same plan and job
    budget as ``simple_edges``.
    """
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return _symmetrize(e).distinct().localCheckpoint()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect strictly-larger neighbors to min(N(u) ∪ u)."""
    nbr = _symmetrize(edges)
    with_min = nbr.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        nbr.join(with_min, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect smaller-or-equal neighbors to min(N≤(u) ∪ u)."""
    nbr = _symmetrize(edges).where(F.col("dst") < F.col("src"))
    with_min = nbr.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        nbr.join(with_min, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(with_min.select("src", F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Return (id: string, component: string) for every endpoint of
    ``edges`` (src, dst); ``component`` is the lexicographically-smallest
    member of the node's component in ``undirected(edges)``.

    Raises ``RuntimeError`` when the labelling has not converged within
    ``max_iterations`` rounds, instead of returning a wrong one.
    """
    ids = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    e = simple_edges(edges)

    def _fingerprint(df: DataFrame):
        """(count, xor-of-row-hashes) — one cheap aggregate job."""
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    fp = _fingerprint(e)
    for _ in range(max_iterations):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        fp2 = _fingerprint(e2)
        # cheap O(1)-row gate every iteration; the exact symmetric-difference
        # check runs only when the fingerprints agree (i.e. once, at
        # convergence) instead of 2 full exceptAll jobs per iteration
        if fp2 == fp and e2.exceptAll(e).isEmpty() and e.exceptAll(e2).isEmpty():
            e = e2
            break
        e, fp = e2, fp2
    else:
        raise RuntimeError(
            f"connected components did not converge within {max_iterations} rounds"
        )
    # at convergence the graph is a union of stars rooted at component minima
    membership = (
        _symmetrize(e)
        .groupBy("src")
        .agg(F.min("dst").alias("root"))
        .select(F.col("src").alias("id"), F.least("src", "root").alias("component"))
    )
    return (
        ids.join(membership, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
