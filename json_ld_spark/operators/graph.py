"""Graph analytics over the canonical KG edge table.

``pagerank_fixed_point`` — iterative PageRank as pure DataFrame
joins/aggregations (the same execution shape as pipeline/cc.py: per-round
join + groupBy, ``localCheckpoint`` each iteration to cut lineage, AQE
re-planning each round).

Arithmetic is INTEGER fixed-point (ranks in 1e-12 units of total mass,
shares via floor division) rather than float: float PageRank sums are
order-nondeterministic across partitionings (1e-16-ulp drift per
aggregation, amplified over iterations), which would break the bit-exact
DuckDB oracle and replayability. Floor division drops a bounded rounding
remainder per edge per round (< outdeg units, i.e. < 1e-11 of total mass)
— an explicitly chosen determinism-over-mass-conservation trade; dangling
nodes' mass is likewise dropped rather than redistributed (documented,
mirrored exactly by the golden oracle).

Scale: each round shuffles the edge list once (join on src) and the
contribution list once (groupBy dst) — identical cost profile to one CC
round; 10 rounds of a 10^12-edge graph are 20 bounded shuffles with no
driver-side state beyond the loop counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline.cc import simple_edges, undirected

TOTAL_MASS = 10**12
DAMP_NUM, DAMP_DEN = 85, 100


def pagerank_fixed_point(edges: DataFrame, n_iters: int = 10) -> DataFrame:
    """Returns (node, rank) — integer fixed-point PageRank over
    ``simple_edges(edges)`` after ``n_iters`` rounds with damping 0.85.
    Deterministic: integer sums are associative, floor-division shares
    are exact, so any partitioning or engine produces identical ranks."""
    e = simple_edges(edges)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    init = TOTAL_MASS // n
    base = (TOTAL_MASS * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * n)
    degrees = e.groupBy("src").agg(F.count("*").alias("deg"))

    ranks = nodes.withColumn("rank", F.lit(init).cast("long"))
    for _ in range(n_iters):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .join(degrees, "src")
            .select(
                F.col("dst").alias("node"),
                # share = (rank * 85) div (100 * outdeg): integral `div`
                # keeps the arithmetic exact — a float `/` would reintroduce
                # rounding nondeterminism (rank*85 ≤ 8.5e13 stays well
                # inside long range; all operands non-negative so div ==
                # floor division, matching the oracle's `//`)
                F.expr(
                    f"(rank * {DAMP_NUM}L) div ({DAMP_DEN}L * deg)"
                ).alias("share"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("share").alias("inflow"))
        ranks = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce("inflow", F.lit(0))).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def khop_reachability(edges: DataFrame, seeds: DataFrame, k: int) -> DataFrame:
    """Bounded multi-source BFS: every node reachable from ``seeds`` in
    at most ``k`` directed hops along ``edges`` (src, dst), with
    ``dist`` = MINIMUM hop count (seeds themselves at dist 0). ``seeds``
    must carry one column named ``node``.

    Level-synchronous frontier expansion — the distributed-BFS shape every
    Pregel-style system uses, as plain DataFrame ops:

        frontier(i+1) = distinct(frontier(i) |> join edges on src) \\ visited

    The left-anti subtraction against ``visited`` is what makes first
    discovery == minimum distance (level i only ever adds nodes unseen at
    levels < i) AND bounds the work on cyclic graphs: each node enters a
    frontier at most once, so total cost over all rounds is one edge-scan
    per frontier membership — O(E) across the whole run, not O(E*k).

    Scale: per round, one equi-join (frontier x edges, AQE free to
    broadcast a small frontier and shuffle a wavefront-sized one), one
    distinct, one anti-join against visited; ``localCheckpoint`` cuts the
    per-round lineage exactly like the CC and PageRank loops. The early
    exit when a frontier empties costs one count action on an
    already-materialized checkpoint. Driver state is the loop counter —
    never row data.

    Deterministic: set semantics throughout (distinct frontiers, anti-join
    visited), so partitioning cannot change the result — the DuckDB
    recursive-CTE oracle is bit-exact.
    """
    visited = seeds.select("node").distinct().withColumn(
        "dist", F.lit(0).cast("int")
    ).localCheckpoint()
    frontier = visited.select("node")
    for level in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(level).cast("int"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt.select("node")
    return visited


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node exact triangle participation counts over
    ``undirected(edges)``. Returns (node, n_triangles) for nodes in
    ≥1 triangle.

    Degree-ordered orientation — the standard bound that makes exact
    triangle counting feasible at scale (Chiba–Nishizeki / the MR
    formulation of Suri & Vassilvitskii's "Counting Triangles and the
    Curse of the Last Reducer", WWW 2011): orient every undirected edge
    from the endpoint with smaller (degree, node) rank to the larger,
    build wedges only from each vertex's ORIENTED out-neighborhood, and
    close them against oriented edges. Every vertex's oriented out-degree
    is O(sqrt(E)) regardless of its raw degree, so a 10^8-degree hub
    generates O(E) wedges instead of the O(hub_degree^2) that a
    lexicographic orientation (what the naive SQL does) would — the
    "curse of the last reducer" this operator exists to dodge. Each
    triangle materializes exactly once, at its lowest-rank vertex.

    Plan: two groupBy/join rounds to rank, one self-join on the wedge
    pivot, one equi-join to close — all JVM equi-joins on single keys,
    AQE free to pick broadcast for the rank side when small.
    """
    # sym (checkpointed) feeds deg and und; oriented feeds both wedge
    # sides and the closer. Without materialization each reference
    # re-executes the ENTIRE upstream lineage (with a KG-extraction input
    # that was 63 exchanges for one count) — the same lineage-cut
    # discipline as the CC/PageRank/BFS loops.
    sym = undirected(edges)
    und = sym.where(F.col("src") < F.col("dst")).toDF("a", "b")
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("dg"))
    ranked = (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("dg", "da")
        .join(
            deg.withColumnRenamed("node", "b").withColumnRenamed("dg", "db"),
            "b",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(
            a_first,
            F.struct(F.col("db").alias("dg"), F.col("b").alias("nd")),
        )
        .otherwise(
            F.struct(F.col("da").alias("dg"), F.col("a").alias("nd"))
        )
        .alias("rv"),
    ).localCheckpoint()
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.rv") < F.col("e2.rv")),
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    closer = oriented.select(
        F.col("u").alias("y"), F.col("v").alias("z")
    )
    tri = wedges.join(closer, ["y", "z"])
    return (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def comention_pairs(
    triples: DataFrame,
    max_per_turn: int = 64,
    top_k: int = 50,
) -> DataFrame:
    """Entity co-mention edges — the standard KG relatedness signal: for
    every unordered pair of entity IRIs appearing in the SAME turn's
    extracted triples (as subject or IRI object; blank nodes excluded),
    count the number of distinct turns containing both, alongside each
    side's own turn count (``a_turns``/``b_turns``) so PMI/lift stay
    derivable downstream from exact integers — no floating-point log in
    the operator, which would make cross-engine bit-equality depend on
    libm rounding. Returns the ``top_k`` pairs by
    (pair_turns DESC, a, b).

    Skew guard: pair fan-out per turn is C(k,2) for k entities — a
    pathological turn mentioning 10^4 entities would emit 5*10^7 pairs
    from one row. Turns with more than ``max_per_turn`` entities are
    EXCLUDED (not truncated: a truncated pair set would silently bias
    counts), via a count window over the same (conv_id, turn_idx) key
    the pair self-join shuffles on — the window's exchange IS the
    join's exchange, so the guard is free.
    """
    from pyspark.sql import Window

    base = triples.where(F.col("error_code").isNull())
    ents = (
        base.where(~F.col("subj").startswith("_:"))
        .select("conv_id", "turn_idx", F.col("subj").alias("iri"))
        .union(
            base.where(
                (F.col("obj_kind") == "iri")
                & ~F.col("obj_value").startswith("_:")
            ).select("conv_id", "turn_idx", F.col("obj_value").alias("iri"))
        )
        .distinct()
    )
    turn_w = Window.partitionBy("conv_id", "turn_idx")
    # bounded feeds ent_turns and BOTH pair-join sides — localCheckpoint
    # so the upstream lineage (with a KG extraction input, an Arrow
    # kernel pass) executes once, not three times
    bounded = (
        ents.withColumn("__k", F.count("*").over(turn_w))
        .where(F.col("__k") <= max_per_turn)
        .select("conv_id", "turn_idx", "iri")
        .localCheckpoint()
    )

    ent_turns = bounded.groupBy("iri").agg(F.count("*").alias("turns"))
    e1, e2 = bounded.alias("e1"), bounded.alias("e2")
    pairs = (
        e1.join(
            e2,
            (F.col("e1.conv_id") == F.col("e2.conv_id"))
            & (F.col("e1.turn_idx") == F.col("e2.turn_idx"))
            & (F.col("e1.iri") < F.col("e2.iri")),
        )
        .groupBy(
            F.col("e1.iri").alias("a"), F.col("e2.iri").alias("b")
        )
        .agg(F.count("*").alias("pair_turns"))
    )
    return (
        pairs.join(
            ent_turns.select(
                F.col("iri").alias("a"), F.col("turns").alias("a_turns")
            ),
            "a",
        )
        .join(
            ent_turns.select(
                F.col("iri").alias("b"), F.col("turns").alias("b_turns")
            ),
            "b",
        )
        .select("a", "b", "pair_turns", "a_turns", "b_turns")
        .orderBy(F.desc("pair_turns"), "a", "b")
        .limit(top_k)
    )


def label_propagation(edges: DataFrame, n_iters: int = 5) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, the LPA variant GraphX ships): returns (node, community).

    Every node starts labeled with its own id; each round every node
    adopts the most frequent label among its NEIGHBORS in
    ``undirected(edges)``, ties broken by the lexicographically least
    label.  The synchronous update
    + total tie order makes the result a pure function of (graph,
    n_iters): bit-identical on any partitioning, any engine — so a
    plain-Python mirror can serve as the oracle.  (Run-to-convergence
    LPA is ill-defined under synchronous updates — bipartite structures
    oscillate — which is why the round count is part of the contract,
    exactly like pagerank_fixed_point above.)

    Scale: per round, one join of the undirected edge list to the label
    table (shuffle on node id) and two grouped aggregations — the
    (node, label) count combines map-side, so a hub's million neighbors
    arrive pre-reduced per partition; argmax-with-tie is
    ``min(struct(-cnt, label))``, another combining aggregate, never a
    whole-neighborhood sort.  localCheckpoint per round cuts the
    iterative lineage like the CC/PageRank loops.
    """
    und = undirected(edges)
    labels = und.select(F.col("src").alias("node")).distinct().withColumn(
        "community", F.col("node")
    )
    for _ in range(n_iters):
        nbr = und.join(
            labels, und.dst == labels.node, "inner"
        ).select(F.col("src").alias("node"), "community")
        counted = nbr.groupBy("node", "community").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = (
            counted.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"),
                        F.col("community").alias("community"),
                    )
                ).alias("best")
            )
            .select("node", F.col("best.community").alias("community"))
            .localCheckpoint()
        )
    return labels


def kcore(edges: DataFrame, k: int = 2, max_rounds: int = 100) -> DataFrame:
    """Maximal k-core of ``undirected(edges)``: returns
    (node, core_degree) for every node of the unique maximal subgraph in
    which all degrees are ≥ k — the standard dense-region filter before
    expensive per-node analytics (and the classic noise cut for
    entity-resolution output: singletons and hair are < k by definition).

    The maximal k-core is UNIQUE (the union of subgraphs with min degree
    ≥ k is itself one), so iterative peeling reaches the same fixpoint in
    any removal order — bit-exact against a plain-Python mirror, like the
    other fixed-point operators in this module.

    Scale: each round is one map-side-combining degree aggregation plus
    two semi-joins that drop edges touching sub-k nodes; work shrinks
    monotonically (a round never adds edges).  The only driver-side data
    is one survivor COUNT per round (a scalar), and the loop exits at the
    first round that drops nobody.  Peeling depth is bounded by
    ``max_rounds`` (degenerate chains can need O(n) rounds; a production
    run on 10^12 edges would switch to the O(log n)-round h-index
    variant if this bound ever triggers — raising instead of silently
    returning a non-core keeps the contract exact).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    alive = undirected(edges)
    prev_nodes = -1
    for _ in range(max_rounds):
        keep = (
            alive.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .localCheckpoint()
        )
        n_nodes = keep.count()
        if n_nodes == prev_nodes:
            # the survivors are the previous round's, so every node of
            # ``alive`` is in ``keep`` and its degree there is final
            return keep.toDF("node", "core_degree")
        prev_nodes = n_nodes
        alive = (
            alive.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .localCheckpoint()
        )
    raise RuntimeError(
        f"k-core peeling did not converge within {max_rounds} rounds"
    )


def link_candidates(
    edges: DataFrame, max_center_degree: int = 64, k: int = 50
) -> DataFrame:
    """Link prediction by common neighbors in ``undirected(edges)``: the
    top-``k`` NON-adjacent node pairs ranked by shared-neighbor count
    (entity-resolution's "are these two the same thing?" shortlist, and a
    KG-completion candidate generator).  Returns (a, b, n_common, deg_a,
    deg_b, jaccard_s) with ``jaccard_s = (n_common * 10^6) div (deg_a + deg_b - n_common)`` —
    scaled-integer Jaccard over the neighbor sets, exact in any engine.

    Hub guard (the wedge-explosion killer): common neighbors are counted
    through CENTER nodes of degree ≤ ``max_center_degree`` only.  A hub
    with 10^6 neighbors would otherwise emit 10^12 wedges; capping the
    *center* bounds per-node wedge fan-out at cap² while leaving the
    candidates themselves unrestricted — and a shared hub is weak
    linkage evidence anyway (the same reasoning as TF-IDF downweighting
    a stopword).  The statistic is "common neighbors of degree ≤ cap",
    deterministic — not a sample — so the oracle replicates it exactly.
    ``deg_a``/``deg_b`` stay FULL degrees (the Jaccard denominator is
    not capped; documented asymmetry).

    Plan: degree agg → center-restricted wedge self-join on the center
    (per-task fan-out ≤ cap per center row) → pair count with map-side
    combine → anti-join the existing undirected edges → join full
    degrees → TakeOrdered.  Tie-break (score, n_common) DESC then (a, b)
    ASC makes the top-k unique.
    """
    und = undirected(edges).toDF("a", "b")
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.where(F.col("deg") <= max_center_degree).select(
        F.col("a").alias("c")
    )
    spokes = und.select(F.col("a").alias("c"), F.col("b").alias("n")).join(
        centers, "c", "left_semi"
    )
    wedges = (
        spokes.alias("l")
        .join(spokes.alias("r"), "c")
        .where(F.col("l.n") < F.col("r.n"))
        .select(F.col("l.n").alias("a"), F.col("r.n").alias("b"))
    )
    pairs = wedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_common"))
    non_adjacent = pairs.join(
        und.select(F.col("a"), F.col("b")), ["a", "b"], "left_anti"
    )
    with_deg = (
        non_adjacent.join(deg.select(F.col("a"), F.col("deg").alias("deg_a")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
        .withColumn(
            "jaccard_s",
            F.expr("(n_common * 1000000L) div (deg_a + deg_b - n_common)"),
        )
    )
    return (
        with_deg.select("a", "b", "n_common", "deg_a", "deg_b", "jaccard_s")
        .orderBy(
            F.col("jaccard_s").desc(),
            F.col("n_common").desc(),
            F.col("a").asc(),
            F.col("b").asc(),
        )
        .limit(k)
    )
