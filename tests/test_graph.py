"""Unit tests for operators/graph.py — graph analytics over edge-list
DataFrames (the query layer downstream of KG triple materialization).

Hand-checkable graphs throughout: ranks/hops/triangle counts are
verified against values computed independently (numpy power iteration,
enumerated paths, brute-force triangle enumeration)."""

import itertools

import pytest
from pyspark.sql import functions as F

from informers_spark.operators.graph import (
    SMALL_EDGES,
    degrees,
    k_hop,
    label_propagation,
    pagerank,
    personalized_pagerank,
    triangle_count,
)

# (tier, small_cutoff) of the size-tiered operators: the default cutoff
# runs these small graphs on the driver, 0 forces the distributed loop.
# Each reference test checks both tiers against the same reference.
TIERS = [("driver", SMALL_EDGES), ("distributed", 0)]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _assert_ranks(got, want, tier):
    assert set(got) == set(want), tier
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-12), (tier, node)


def test_degrees_counts_both_directions(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")])
    rows = {r["node"]: r for r in degrees(e).collect()}
    assert rows["a"].asDict() == {"node": "a", "out_deg": 2, "in_deg": 1, "degree": 3}
    assert rows["c"].asDict() == {"node": "c", "out_deg": 0, "in_deg": 2, "degree": 2}
    assert rows["d"].asDict() == {"node": "d", "out_deg": 1, "in_deg": 0, "degree": 1}


def _pagerank_reference(pairs, iterations, damping, weights=None):
    """Independent dense power iteration with dangling redistribution;
    `weights` aligns with `pairs` (None = classic unweighted)."""
    ws = weights or [1.0] * len(pairs)
    nodes = sorted({n for p in pairs for n in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = [0.0] * n
    for (s, _), w in zip(pairs, ws):
        out[idx[s]] += w
    rank = [1.0 / n] * n
    for _ in range(iterations):
        contrib = [0.0] * n
        for (s, d), w in zip(pairs, ws):
            contrib[idx[d]] += rank[idx[s]] * w / out[idx[s]]
        dangling = sum(r for i, r in enumerate(rank) if out[i] == 0)
        rank = [
            (1.0 - damping) / n + damping * (c + dangling / n) for c in contrib
        ]
    return dict(zip(nodes, rank))


def test_pagerank_matches_dense_power_iteration(spark):
    # c is dangling; a is the hub
    pairs = [("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"), ("d", "a")]
    want = _pagerank_reference(pairs, iterations=4, damping=0.85)
    for tier, cutoff in TIERS:
        m = {}
        ranks = pagerank(_edges(spark, pairs), iterations=4, metrics=m, small_cutoff=cutoff)
        _assert_ranks({r["node"]: r["rank"] for r in ranks.collect()}, want, tier)
        assert m["path"] == f"{tier}_power_iteration"


def test_pagerank_weighted_matches_dense_power_iteration(spark):
    pairs = [("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"), ("d", "a")]
    weights = [3.0, 1.0, 2.0, 5.0, 4.0]
    e = spark.createDataFrame(
        [(s, d, w) for (s, d), w in zip(pairs, weights)],
        "src string, dst string, w double",
    )
    want = _pagerank_reference(pairs, iterations=4, damping=0.85, weights=weights)
    ones = e.withColumn("w", F.lit(1.0))
    for tier, cutoff in TIERS:
        ranks = pagerank(e, iterations=4, weight="w", small_cutoff=cutoff)
        _assert_ranks({r["node"]: r["rank"] for r in ranks.collect()}, want, tier)
        # uniform weights must reproduce the classic unweighted ranks exactly
        a = pagerank(ones, iterations=4, weight="w", small_cutoff=cutoff).collect()
        b = pagerank(e.drop("w"), iterations=4, small_cutoff=cutoff).collect()
        assert sorted((r.node, r.rank) for r in a) == sorted((r.node, r.rank) for r in b), tier


def test_pagerank_mass_conserved_and_deterministic(spark):
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(40)]
    pairs = [(s, d) for s, d in pairs if s != d]
    e = _edges(spark, pairs)
    m = {}
    r1 = pagerank(e, iterations=6, metrics=m).collect()
    assert sum(r["rank"] for r in r1) == pytest.approx(1.0, abs=1e-9)
    assert m == {
        "iterations": 6,
        "n_nodes": len({n for p in pairs for n in p}),
        "path": "driver_power_iteration",
    }
    r2 = pagerank(e, iterations=6).collect()
    assert sorted((r["node"], r["rank"]) for r in r1) == sorted(
        (r["node"], r["rank"]) for r in r2
    )


def test_pagerank_empty_edges(spark):
    e = _edges(spark, []).filter("src IS NOT NULL")
    assert pagerank(e, iterations=3).count() == 0


def test_k_hop_min_hops_and_early_exit(spark):
    # chain a->b->c->d plus a shortcut a->c: c must report hops=1 (min), not 2
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    seeds = spark.createDataFrame([("a",)], "node string")
    m = {}
    got = {r["node"]: r["hops"] for r in k_hop(e, seeds, k=2, metrics=m).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}
    assert m["rounds"] == 2


def test_k_hop_frontier_exhausts_before_k(spark):
    e = _edges(spark, [("a", "b")])
    seeds = spark.createDataFrame([("a",)], "node string")
    m = {}
    got = {r["node"]: r["hops"] for r in k_hop(e, seeds, k=10, metrics=m).collect()}
    assert got == {"a": 0, "b": 1}
    assert m["rounds"] == 1  # early-exited, did not run 10 rounds


def test_k_hop_unreachable_nodes_absent(spark):
    e = _edges(spark, [("a", "b"), ("x", "y")])
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r["node"] for r in k_hop(e, seeds, k=3).collect()}
    assert got == {"a", "b"}


def _brute_triangles(pairs):
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nodes = sorted({n for p in und for n in p})
    return sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in und and (a, c) in und and (b, c) in und
    )


def test_triangle_count_matches_bruteforce(spark):
    # K4 on a..d (4 triangles) plus a pendant and a duplicate/reverse/self edge
    pairs = (
        [(x, y) for x, y in itertools.combinations("abcd", 2)]
        + [("d", "e"), ("b", "a"), ("a", "b"), ("e", "e")]
    )
    row = triangle_count(_edges(spark, pairs)).collect()[0]
    assert row["n_triangles"] == _brute_triangles(pairs) == 4
    assert row["n_nodes"] == 5
    assert row["n_edges"] == 7  # 6 K4 edges + d-e, dupes/self collapsed


def test_triangle_count_hub_graph(spark):
    # star hub h-.. with one rim edge: exactly 1 triangle; exercises the
    # degree-orientation path where the hub's raw degree is large
    pairs = [("h", f"r{i}") for i in range(12)] + [("r0", "r1")]
    row = triangle_count(_edges(spark, pairs)).collect()[0]
    assert row["n_triangles"] == 1
    assert row["n_edges"] == 13


def test_triangle_count_no_triangles(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "d")]  # path graph
    row = triangle_count(_edges(spark, pairs)).collect()[0]
    assert row["n_triangles"] == 0


def test_triangle_wedge_join_is_equi_join(spark):
    """The adjacency-attach joins must plan as hash equi-joins, never a
    nested-loop, and the per-edge closing counts must sum to the exact
    triangle count."""
    from informers_spark.operators.graph import _und_degrees, _wedge_close

    pairs = [(x, y) for x, y in itertools.combinations("abcde", 2)]
    und = _edges(spark, pairs).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    tri = _wedge_close(und, _und_degrees(und))
    plan = tri._sc._jvm.PythonSQLUtils.explainString(
        tri._jdf.queryExecution(), "formatted"
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert tri.agg(F.sum("c")).collect()[0][0] == 10  # C(5,3) triangles on K5


def _lpa_reference(pairs, iterations):
    """Independent synchronous LPA with (max count, min label) pick."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(set)
    for s, d in pairs:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    labels = {n: n for n in nbrs}
    for _ in range(iterations):
        nxt = {}
        for n in nbrs:
            cnt = Counter(labels[m] for m in nbrs[n])
            # tie-break: max count, then MIN label (string order)
            top = max(cnt.values())
            nxt[n] = min(l for l, c in cnt.items() if c == top)
        labels = nxt
    return labels


def test_label_propagation_two_communities(spark):
    # two triangles joined by one bridge: LPA should settle into two
    # communities matching the independent reference implementation
    pairs = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    e = _edges(spark, pairs)
    for tier, cutoff in TIERS:
        m = {}
        labels = label_propagation(e, iterations=3, metrics=m, small_cutoff=cutoff)
        got = {r.node: r.label for r in labels.collect()}
        assert got == _lpa_reference(pairs, 3), tier
        assert m == {"iterations": 3, "path": f"{tier}_label_vote"}
        # the two triangle cores agree internally
        assert got["a"] == got["b"] == got["c"] or len({got["a"], got["b"], got["c"]}) <= 2


def test_label_propagation_star_absorbs_min_label(spark):
    # star: after iter1 every rim node takes the hub's label ("h"),
    # hub takes min rim label; matches reference exactly
    pairs = [("h", f"r{i}") for i in range(5)]
    for tier, cutoff in TIERS:
        labels = label_propagation(_edges(spark, pairs), iterations=2, small_cutoff=cutoff)
        assert {r.node: r.label for r in labels.collect()} == _lpa_reference(pairs, 2), tier


def _lpa_rows(e):
    return [(r.node, r.label) for r in label_propagation(e, iterations=3).collect()]


def _lpa_distributed_rows(e):
    labels = label_propagation(e, iterations=3, small_cutoff=0)
    return [(r.node, r.label) for r in labels.collect()]


def _khop_rows(e):
    seeds = e.sparkSession.createDataFrame([("n0",), ("n7",)], "node string")
    return [(r.node, r.hops) for r in k_hop(e, seeds, k=4).collect()]


def _sssp_rows(e):
    from informers_spark.operators.graph import shortest_paths

    w = e.withColumn("w", (F.length("src") + F.length("dst")) / F.lit(3.0))
    seeds = e.sparkSession.createDataFrame([("n0",), ("n7",)], "node string")
    return [(r.node, r.dist) for r in shortest_paths(w, seeds, k=4, weight="w").collect()]


def _cc_rows(e):
    from informers_spark.operators.canon import connected_components

    # small_cutoff=0: the distributed pointer-jumping loop, not union-find
    return [(r.node, r.component) for r in connected_components(e, small_cutoff=0).collect()]


@pytest.mark.parametrize(
    "run",
    [_lpa_rows, _lpa_distributed_rows, _khop_rows, _sssp_rows, _cc_rows],
    ids=["lpa", "lpa_distributed", "k_hop", "sssp", "cc"],
)
def test_label_propagation_deterministic_across_partitionings(spark, run):
    # MIN and integer votes are exact, so rows must not depend on how
    # the edges are partitioned
    pairs = [(f"n{i}", f"n{(i * 5 + 2) % 23}") for i in range(40)]
    e1 = _edges(spark, pairs)
    e2 = _edges(spark, pairs).repartition(7)
    a = sorted(run(e1))
    assert a and a == sorted(run(e2))


def _ppr_reference(pairs, seeds, iterations, damping, weights=None):
    """Independent dense personalized power iteration; `weights` aligns
    with `pairs` (None = unweighted)."""
    ws = weights or [1.0] * len(pairs)
    nodes = sorted({n for p in pairs for n in p} | set(seeds))
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = [0.0] * n
    for (s, _), w in zip(pairs, ws):
        out[idx[s]] += w
    sv = [1.0 / len(set(seeds)) if x in set(seeds) else 0.0 for x in nodes]
    rank = list(sv)
    for _ in range(iterations):
        contrib = [0.0] * n
        for (s, d), w in zip(pairs, ws):
            contrib[idx[d]] += rank[idx[s]] * w / out[idx[s]]
        dangling = sum(r for i, r in enumerate(rank) if out[i] == 0)
        rank = [
            (1.0 - damping) * sv[i] + damping * (contrib[i] + dangling * sv[i])
            for i in range(n)
        ]
    return dict(zip(nodes, rank))


@pytest.mark.parametrize("weights", [None, [3.0, 1.0, 2.0, 1.0]], ids=["unweighted", "weighted"])
def test_personalized_pagerank_matches_dense_reference(spark, weights):
    # a->b->c chain plus shortcut a->c reachable from the seed (a's
    # out-weight split is what the weighted case tests), x->y
    # disconnected, plus an isolated seed node "s2" not present in the edges
    pairs = [("a", "b"), ("b", "c"), ("x", "y"), ("a", "c")]
    e = spark.createDataFrame(
        [(s, d, w) for (s, d), w in zip(pairs, weights or [1.0] * len(pairs))],
        "src string, dst string, w double",
    )
    seeds = spark.createDataFrame([("a",), ("s2",)], "node string")
    kw = {"weight": "w"} if weights else {}
    want = _ppr_reference(pairs, ["a", "s2"], iterations=4, damping=0.85, weights=weights)
    for tier, cutoff in TIERS:
        m = {}
        ranks = personalized_pagerank(
            e, seeds, iterations=4, metrics=m, small_cutoff=cutoff, **kw
        )
        got = {r.node: r.rank for r in ranks.collect()}
        _assert_ranks(got, want, tier)
        assert m == {"iterations": 4, "n_seeds": 2, "path": f"{tier}_power_iteration"}
        # mass conserved; nodes unreachable from the seeds are EXACTLY zero
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
        assert got["x"] == 0.0 and got["y"] == 0.0
        assert got["s2"] > 0  # isolated seed keeps its teleport share


def test_personalized_pagerank_empty_seeds_raises(spark):
    e = _edges(spark, [("a", "b")])
    empty = spark.createDataFrame([], "node string")
    with pytest.raises(ValueError):
        personalized_pagerank(e, empty, iterations=2)


def test_size_tier_boundary(spark):
    # exactly small_cutoff edges take the driver tier, one more edge the
    # distributed loop; personalized pagerank also probes its seeds
    from informers_spark.operators.canon import connected_components

    cutoff = 4
    seeds = spark.createDataFrame([("a",)], "node string")

    def paths(pairs, seeds=seeds):
        e = _edges(spark, pairs)
        pr, ppr, lp, cc = {}, {}, {}, {}
        pagerank(e, iterations=2, metrics=pr, small_cutoff=cutoff)
        personalized_pagerank(e, seeds, iterations=2, metrics=ppr, small_cutoff=cutoff)
        label_propagation(e, iterations=2, metrics=lp, small_cutoff=cutoff)
        connected_components(e, metrics=cc, small_cutoff=cutoff)
        return pr["path"], ppr["path"], lp["path"], cc["path"]

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    assert paths(pairs) == (
        "driver_power_iteration", "driver_power_iteration",
        "driver_label_vote", "driver_union_find",
    )
    assert paths(pairs + [("d", "e")]) == (
        "distributed_power_iteration", "distributed_power_iteration",
        "distributed_label_vote", "distributed_pointer_jumping",
    )
    many = spark.createDataFrame([(n,) for n in "abcde"], "node string")
    m = {}
    personalized_pagerank(_edges(spark, pairs), many, iterations=2, metrics=m, small_cutoff=cutoff)
    assert m["path"] == "distributed_power_iteration"


def test_null_endpoint_tiers_agree(spark):
    # every size-tiered operator drops an edge with a NULL endpoint (the
    # rank walk also one with a NULL weight, personalized pagerank a NULL
    # seed) before either tier runs: both tiers return the same rows, no
    # NULL node appears and pagerank's rank mass stays 1
    from informers_spark.operators.canon import connected_components

    pairs = [("a", "b"), ("b", None), (None, "c"), ("c", "a"), ("b", "c"), ("d", "a")]
    weights = [1.0, 2.0, 3.0, 1.0, None, 2.0]
    e = spark.createDataFrame(
        [(s, d, w) for (s, d), w in zip(pairs, weights)], "src string, dst string, w double"
    )
    seeds = spark.createDataFrame([("a",), (None,)], "node string")
    runs = {
        "cc": lambda c, m: connected_components(e, metrics=m, small_cutoff=c),
        "pagerank": lambda c, m: pagerank(e, iterations=3, metrics=m, small_cutoff=c),
        "pagerank_weighted": lambda c, m: pagerank(
            e, iterations=3, weight="w", metrics=m, small_cutoff=c
        ),
        "ppr": lambda c, m: personalized_pagerank(
            e, seeds, iterations=3, metrics=m, small_cutoff=c
        ),
        "lp": lambda c, m: label_propagation(e, iterations=3, metrics=m, small_cutoff=c),
    }
    for name, run in runs.items():
        got, paths = {}, {}
        for tier, cutoff in TIERS:
            m = {}
            got[tier] = dict(run(cutoff, m).collect())
            paths[tier] = m["path"]
        driver, loop = got["driver"], got["distributed"]
        assert paths["driver"].startswith("driver_"), name
        assert paths["distributed"].startswith("distributed_"), name
        assert set(driver) == {"a", "b", "c", "d"}, name
        assert None not in driver.values(), name
        if name in ("cc", "lp"):
            assert driver == loop, name
        else:
            _assert_ranks(loop, driver, name)
            assert sum(driver.values()) == pytest.approx(1.0, abs=1e-12), name
            assert sum(loop.values()) == pytest.approx(1.0, abs=1e-12), name


def _sssp_reference(pairs, weights, seeds, k):
    """Independent bounded Bellman-Ford."""
    dist = {s: 0.0 for s in seeds}
    for _ in range(k):
        nxt = dict(dist)
        for (s, d), w in zip(pairs, weights):
            if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + w
        dist = nxt
    return dist


@pytest.mark.parametrize(
    "pairs, weights, want, rounds",
    [
        # diamond: a->b->d (1+1=2) vs a->c->d (5+0.5=5.5); plus unreachable
        # z; the third round improves nothing -> early exit
        (
            [("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"), ("y", "z")],
            [1.0, 1.0, 5.0, 0.5, 2.0],
            {"d": 2.0},
            2,
        ),
        # late improvement: c is reached at 5 in round 1 and improves to 2
        # in round 2, so round 3 must re-expand c (d: 6 -> 3); a frontier
        # of newly reached nodes only would leave d at 6
        (
            [("a", "c"), ("a", "b"), ("b", "c"), ("c", "d")],
            [5.0, 1.0, 1.0, 1.0],
            {"c": 2.0, "d": 3.0},
            3,
        ),
    ],
    ids=["diamond", "late_improvement"],
)
def test_shortest_paths_weighted_matches_bellman_ford(spark, pairs, weights, want, rounds):
    from informers_spark.operators.graph import shortest_paths

    e = spark.createDataFrame(
        [(s, d, w) for (s, d), w in zip(pairs, weights)],
        "src string, dst string, w double",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    m = {}
    got = {r.node: r.dist for r in shortest_paths(e, seeds, k=3, weight="w", metrics=m).collect()}
    assert got == _sssp_reference(pairs, weights, ["a"], 3)
    assert {n: got[n] for n in want} == want
    assert "z" not in got  # unreachable absent
    assert m["rounds"] == rounds


def test_shortest_paths_unweighted_equals_hop_counts(spark):
    from informers_spark.operators.graph import k_hop, shortest_paths

    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
    e = _edges(spark, pairs)
    seeds = spark.createDataFrame([("a",)], "node string")
    dists = {r.node: r.dist for r in shortest_paths(e, seeds, k=3).collect()}
    hops = {r.node: float(r.hops) for r in k_hop(e, seeds, k=3).collect()}
    assert dists == hops  # unit weights: distance == min-hop count


def test_shortest_paths_rejects_negative_weights(spark):
    from informers_spark.operators.graph import shortest_paths

    e = spark.createDataFrame([("a", "b", -1.0)], "src string, dst string, w double")
    seeds = spark.createDataFrame([("a",)], "node string")
    with pytest.raises(ValueError):
        shortest_paths(e, seeds, k=2, weight="w")
