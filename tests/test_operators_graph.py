"""Fixed-point PageRank invariants (operators/graph.py)."""

import pytest


@pytest.fixture(scope="module")
def pr(spark):
    from json_ld_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "a"),  # 3-cycle
            ("d", "a"),                           # feeder into the cycle
            ("e", "e"),                           # self-loop: dropped
        ],
        "src string, dst string",
    )
    return {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(edges, n_iters=20).collect()
    }


def test_pagerank_structure(pr):
    # self-loop-only node vanishes with its degenerate edge
    assert set(pr) == {"a", "b", "c", "d"}
    # the cycle accumulates mass; the source-only feeder keeps base rank
    assert pr["d"] < min(pr["a"], pr["b"], pr["c"])
    # a receives from both c and d → highest
    assert pr["a"] == max(pr.values())
    # bounded: no rank exceeds total mass; all positive
    assert all(0 < v < 10**12 for v in pr.values())


def test_pagerank_deterministic_across_partitionings(spark):
    from json_ld_spark.operators.graph import pagerank_fixed_point

    chain = [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(40)]
    base = spark.createDataFrame(chain, "src string, dst string")
    r1 = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(base.repartition(1)).collect()
    }
    r8 = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(base.repartition(8, "dst")).collect()
    }
    assert r1 == r8  # integer arithmetic: partitioning-independent


# ---------------------------------------------------------------- k-hop BFS


def _khop(spark, edges, seed_nodes, k):
    from json_ld_spark.operators.graph import khop_reachability

    e = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([(n,) for n in seed_nodes], "node string")
    return {
        r["node"]: r["dist"]
        for r in khop_reachability(e, seeds, k).collect()
    }


def test_khop_min_distance_on_diamond(spark):
    # a→b→d and a→c→d plus a long way d→e→f: min dist wins at d
    edges = [
        ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"), ("e", "f"),
    ]
    assert _khop(spark, edges, ["a"], 3) == {
        "a": 0, "b": 1, "c": 1, "d": 2, "e": 3,
    }  # f at dist 4 is beyond k=3; direction matters (nothing enters a)


def test_khop_cycle_terminates_and_multi_seed(spark):
    # 3-cycle with two seeds: each node takes the smaller seed distance
    edges = [("a", "b"), ("b", "c"), ("c", "a")]
    assert _khop(spark, edges, ["a", "c"], 5) == {"a": 0, "c": 0, "b": 1}


def test_khop_early_exit_and_unreachable(spark):
    # frontier empties at level 2; the disconnected x→y never appears
    edges = [("a", "b"), ("x", "y")]
    assert _khop(spark, edges, ["a"], 10) == {"a": 0, "b": 1}


def test_khop_partitioning_independent(spark):
    from json_ld_spark.operators.graph import khop_reachability

    edges = [(f"n{i}", f"n{(i * 3 + 1) % 20}") for i in range(20)]
    e = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("n0",), ("n7",)], "node string")
    r1 = sorted(map(tuple, khop_reachability(e.repartition(1), seeds, 4).collect()))
    r8 = sorted(map(tuple, khop_reachability(e.repartition(8, "dst"), seeds, 4).collect()))
    assert r1 == r8


# ------------------------------------------------------------- triangles


def _tri(spark, edges):
    from json_ld_spark.operators.graph import triangle_counts

    e = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["n_triangles"] for r in triangle_counts(e).collect()}


def test_triangle_counts_basic(spark):
    # K4 minus one edge (a-d): triangles abc and bcd; b,c in both
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("b", "d"), ("c", "d"),
        ("e", "f"),  # no triangle
    ]
    assert _tri(spark, edges) == {"a": 1, "b": 2, "c": 2, "d": 1}


def test_triangle_counts_direction_loops_parallels_collapse(spark):
    # reversed duplicates, a self-loop and a parallel edge must not
    # change the undirected simple graph's single triangle
    edges = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
        ("c", "a"), ("a", "a"), ("a", "b"),
    ]
    assert _tri(spark, edges) == {"a": 1, "b": 1, "c": 1}


def test_triangle_counts_hub_star_has_none(spark):
    # star around a hub: many wedges, zero triangles
    edges = [("hub", f"n{i}") for i in range(12)]
    assert _tri(spark, edges) == {}


# ------------------------------------------------------------ co-mention


def test_comention_pairs_counts_and_guard(spark):
    from json_ld_spark.operators.graph import comention_pairs

    def t(conv, turn, subj, kind, obj):
        return (conv, turn, subj, "http://p/", kind, obj, None)

    rows = [
        # turn 1: entities A, B (B via iri object; literal ignored)
        t("c", 1, "http://A", "iri", "http://B"),
        t("c", 1, "http://A", "literal", "x"),
        # turn 2: A, B again + C; blank-node subject ignored
        t("c", 2, "http://A", "iri", "http://B"),
        t("c", 2, "http://C", "literal", "y"),
        t("c", 2, "_:b0", "iri", "http://A"),
        # turn 3: a quarantined row contributes nothing
        ("c", 3, "http://A", "http://p/", "iri", "http://B", "ERR"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subj string, pred string, "
        "obj_kind string, obj_value string, error_code string",
    )
    out = {
        (r["a"], r["b"]): (r["pair_turns"], r["a_turns"], r["b_turns"])
        for r in comention_pairs(df).collect()
    }
    assert out[("http://A", "http://B")] == (2, 2, 2)
    assert out[("http://A", "http://C")] == (1, 2, 1)
    assert out[("http://B", "http://C")] == (1, 2, 1)
    assert len(out) == 3

    # guard: a turn with k > max_per_turn is excluded wholesale
    wide = spark.createDataFrame(
        [t("c", 1, f"http://E{i}", "literal", "x") for i in range(5)]
        + [t("c", 2, "http://E0", "iri", "http://E1")],
        "conv_id string, turn_idx int, subj string, pred string, "
        "obj_kind string, obj_value string, error_code string",
    )
    guarded = {
        (r["a"], r["b"]): r["pair_turns"]
        for r in comention_pairs(wide, max_per_turn=4).collect()
    }
    # turn 1 (5 entities) dropped entirely; only turn 2's single pair
    assert guarded == {("http://E0", "http://E1"): 1}


def _lpa_mirror(pairs, n_iters):
    from collections import defaultdict

    und = sorted({(a, b) for a, b in pairs if a != b} | {
        (b, a) for a, b in pairs if a != b
    })
    nbrs = defaultdict(list)
    for a, b in und:
        nbrs[a].append(b)
    label = {v: v for v in nbrs}
    for _ in range(n_iters):
        label = {
            v: min(
                ((sum(1 for u in ns if label[u] == l), l)
                 for l in {label[u] for u in ns}),
                key=lambda kv: (-kv[0], kv[1]),
            )[1]
            for v, ns in nbrs.items()
        }
    return label


def test_label_propagation_two_cliques(spark):
    from json_ld_spark.operators.graph import label_propagation

    # two disjoint triangles: each collapses to one community, labels
    # never cross components; a bridged variant is covered by the mirror
    # check below (min-label ties CAN flood across a bridge — that is
    # LPA's documented behavior, not a bug)
    pairs = [
        ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
        ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
    ]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r.node: r.community
        for r in label_propagation(edges, n_iters=5).collect()
    }
    assert got == _lpa_mirror(pairs, 5)
    assert len({got["a1"], got["a2"], got["a3"]}) == 1
    assert len({got["b1"], got["b2"], got["b3"]}) == 1
    assert got["a1"] != got["b1"]

    bridged = pairs + [("a1", "b1")]
    edges_b = spark.createDataFrame(bridged, "src string, dst string")
    got_b = {
        r.node: r.community
        for r in label_propagation(edges_b, n_iters=5).collect()
    }
    assert got_b == _lpa_mirror(bridged, 5)


def test_label_propagation_direction_selfloop_parallel_collapse(spark):
    from json_ld_spark.operators.graph import label_propagation

    pairs = [
        ("x", "y"), ("y", "x"),          # both directions = one edge
        ("x", "y"),                       # parallel duplicate
        ("z", "z"),                       # self-loop: dropped entirely
        ("y", "w"),
    ]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    got = {
        r.node: r.community
        for r in label_propagation(edges, n_iters=3).collect()
    }
    assert set(got) == {"x", "y", "w"}  # z had only the self-loop
    assert got == _lpa_mirror(pairs, 3)


def test_label_propagation_partitioning_invariant(spark):
    from json_ld_spark.operators.graph import label_propagation

    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    a = sorted(
        map(tuple, label_propagation(edges, n_iters=4).collect())
    )
    b = sorted(
        map(
            tuple,
            label_propagation(edges.repartition(13), n_iters=4).collect(),
        )
    )
    assert a == b == sorted(_lpa_mirror(pairs, 4).items())


def _kcore_mirror(pairs, k):
    from collections import defaultdict

    und = {(a, b) for a, b in pairs if a != b}
    und |= {(b, a) for a, b in und}
    nbrs = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
    alive = set(nbrs)
    while True:
        drop = {v for v in alive if len(nbrs[v] & alive) < k}
        if not drop:
            break
        alive -= drop
    return sorted((v, len(nbrs[v] & alive)) for v in alive)


def test_kcore_peels_hair_keeps_cliques(spark):
    from json_ld_spark.operators.graph import kcore

    # triangle + pendant chain: 2-core = the triangle only
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    got = sorted(map(tuple, kcore(edges, k=2).collect()))
    assert got == [("a", 2), ("b", 2), ("c", 2)] == _kcore_mirror(pairs, 2)


def test_kcore_cascading_removal(spark):
    from json_ld_spark.operators.graph import kcore

    # removing the chain end cascades: every round drops one more node
    pairs = [("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n4")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    assert kcore(edges, k=2).count() == 0
    assert _kcore_mirror(pairs, 2) == []


def test_kcore_k3_and_validation(spark):
    from json_ld_spark.operators.graph import kcore

    import pytest as _pytest

    # K4 minus one edge has max core 2; full K4 is a 3-core
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    edges = spark.createDataFrame(k4, "src string, dst string")
    assert sorted(map(tuple, kcore(edges, k=3).collect())) == _kcore_mirror(k4, 3)
    assert len(_kcore_mirror(k4, 3)) == 4

    missing = k4[:-1]
    e2 = spark.createDataFrame(missing, "src string, dst string")
    assert kcore(e2, k=3).count() == 0

    with _pytest.raises(ValueError, match="k must be"):
        kcore(edges, k=0)


def test_link_candidates_basic(spark):
    from json_ld_spark.operators.graph import link_candidates

    # path a-c-b: a,b share center c and are non-adjacent
    # plus adjacent pair (a,c) must never appear
    pairs = [("a", "c"), ("c", "b"), ("a", "d"), ("d", "b")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    rows = link_candidates(edges, k=10).collect()
    got = {(r.a, r.b): (r.n_common, r.deg_a, r.deg_b, r.jaccard_s) for r in rows}
    # a,b share c and d -> n_common=2, deg 2 each, jaccard 2/(2+2-2)=1.0
    assert got[("a", "b")] == (2, 2, 2, 1_000_000)
    # c,d share a and b -> symmetric candidate
    assert got[("c", "d")] == (2, 2, 2, 1_000_000)
    assert len(got) == 2  # no adjacent pair leaks in


def test_link_candidates_center_degree_guard(spark):
    from json_ld_spark.operators.graph import link_candidates

    # hub h connects x and y; with max_center_degree below h's degree the
    # hub cannot vouch for them
    pairs = [("h", f"s{i}") for i in range(5)] + [("h", "x"), ("h", "y")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    assert link_candidates(edges, max_center_degree=6, k=100).count() == 0
    # raising the cap re-admits the hub as a center: all spoke pairs appear
    n = link_candidates(edges, max_center_degree=7, k=1000).count()
    assert n == 21  # C(7,2) spoke pairs, none adjacent to each other


def test_link_candidates_deterministic_topk(spark):
    from json_ld_spark.operators.graph import link_candidates

    pairs = [(f"u{i}", f"v{i % 3}") for i in range(9)]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    a = [tuple(r) for r in link_candidates(edges, k=5).collect()]
    b = [tuple(r) for r in link_candidates(edges.repartition(7), k=5).collect()]
    assert a == b and len(a) == 5


# ------------------------------------------------------- edge normal form


@pytest.mark.parametrize(
    "op, kwargs, dup",
    [
        # PageRank is directed: a reversed edge is a new edge there, so
        # its duplicate row repeats an edge as given
        ("pagerank_fixed_point", {"n_iters": 5}, ("c", "a")),
        ("label_propagation", {"n_iters": 3}, ("a", "c")),
        ("kcore", {"k": 2}, ("a", "c")),
        ("link_candidates", {"k": 10}, ("a", "c")),
        ("triangle_counts", {}, ("a", "c")),
    ],
)
def test_edge_normal_form_ignores_noise_rows(spark, op, kwargs, dup):
    from json_ld_spark.operators import graph

    # triangles abc and abd; c and d share neighbours a and b
    base = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("d", "b")]
    noise = [(None, "a"), ("b", None), (None, None), ("c", "c"), dup]

    def rows(pairs):
        e = spark.createDataFrame(pairs, "src string, dst string")
        return sorted(map(tuple, getattr(graph, op)(e, **kwargs).collect()))

    want = rows(base)
    assert want and rows(base + noise) == want
