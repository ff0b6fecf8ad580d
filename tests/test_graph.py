"""Graph-analytics operator tests (kg/graph.py): known-answer graphs,
loop/parallel-edge handling, BFS min-hop semantics, PageRank mass
conservation and dangling redistribution, degree-ordered triangle
enumeration, and plan shape (equi-joins only)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delm_spark.kg.graph import (
    degree_distribution,
    k_hop_neighbors,
    pagerank,
    triangle_count,
    triangles,
    undirected_edges,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


def test_degree_distribution_counts_endpoints(spark):
    # parallel edge counts twice, self-loop contributes 2 to its node
    e = _edges(spark, [(1, 2), (1, 2), (2, 3), (4, 4)])
    got = {
        r["degree"]: r["n_nodes"]
        for r in degree_distribution(e).collect()
    }
    # degrees: 1 -> 2, 2 -> 3, 3 -> 1, 4 -> 2
    assert got == {1: 1, 2: 2, 3: 1}


def test_undirected_edges_canonicalize(spark):
    e = _edges(spark, [(2, 1), (1, 2), (3, 3), (1, 3)])
    got = sorted((r["u"], r["v"]) for r in undirected_edges(e).collect())
    assert got == [(1, 2), (1, 3)]


def test_k_hop_min_hops_with_shortcut(spark):
    # path 1-2-3-4-5 plus shortcut 1-3: 3 is 1 hop away, 4 is 2
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3)])
    got = {
        r["node"]: r["hops"]
        for r in k_hop_neighbors(e, _seeds(spark, [1]), k=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_k_hop_emits_absent_seed_at_hop_zero(spark):
    e = _edges(spark, [(1, 2)])
    got = {
        r["node"]: r["hops"]
        for r in k_hop_neighbors(e, _seeds(spark, [99]), k=2).collect()
    }
    assert got == {99: 0}


def test_pagerank_uniform_on_cycle(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    rows = pagerank(e, iters=5).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["rank"] == pytest.approx(0.25, abs=1e-12)


def test_pagerank_dangling_mass_redistributes(spark):
    # 1 -> 2, node 2 dangling; one iteration closed-form:
    # rank(1) = 0.15/2 + 0.85 * (0.5/2)          = 0.2875
    # rank(2) = 0.15/2 + 0.85 * (0.5 + 0.5/2)    = 0.7125
    e = _edges(spark, [(1, 2)])
    got = {r["node"]: r["rank"] for r in pagerank(e, iters=1).collect()}
    assert got[1] == pytest.approx(0.075 + 0.85 * 0.25, abs=1e-12)
    assert got[2] == pytest.approx(0.075 + 0.85 * 0.75, abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_conserves_mass(spark):
    e = _edges(
        spark,
        [(i, i + 1) for i in range(9)] + [(i, 0) for i in range(1, 9, 2)],
    )
    total = (
        pagerank(e, iters=3).agg(F.sum("rank").alias("s")).collect()[0]["s"]
    )
    assert total == pytest.approx(1.0, abs=1e-9)


def test_triangles_k4(spark):
    e = _edges(
        spark, [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    )
    got = sorted(
        (r["a"], r["b"], r["c"]) for r in triangles(e).collect()
    )
    assert got == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]


def test_triangles_ignore_loops_parallel_and_direction(spark):
    e = _edges(spark, [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (1, 1)])
    got = [(r["a"], r["b"], r["c"]) for r in triangles(e).collect()]
    assert got == [(1, 2, 3)]


def test_triangle_count_skewed_hub(spark):
    # hub 0 touches 1..6; only (1,2) and (3,4) close triangles — the
    # degree-ordered orientation never uses the hub as an apex
    e = _edges(
        spark,
        [(0, i) for i in range(1, 7)] + [(1, 2), (3, 4)],
    )
    assert triangle_count(e).collect()[0]["n_triangles"] == 2


def test_triangles_plan_equi_joins_only(spark):
    e = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    plan = triangles(e)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_harmonic_centrality_path_graph(spark):
    """Closed form on the undirected path a-b-c-d with every node
    sampled: ends score 1/1+1/2+1/3, middles 1/1+1/1+1/2 (micro)."""
    from delm_spark.kg.graph import harmonic_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        r.node: (r.harmonic_micro, r.n_reached)
        for r in harmonic_centrality(edges, n_sources=4, max_depth=6).collect()
    }
    end = 1_000_000 + 500_000 + 333_333
    mid = 1_000_000 + 1_000_000 + 500_000
    assert got == {
        "a": (end, 3), "b": (mid, 3), "c": (mid, 3), "d": (end, 3),
    }


def test_harmonic_centrality_depth_truncation(spark):
    from delm_spark.kg.graph import harmonic_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        r.node: (r.harmonic_micro, r.n_reached)
        for r in harmonic_centrality(edges, n_sources=4, max_depth=1).collect()
    }
    assert got == {
        "a": (1_000_000, 1), "b": (2_000_000, 2),
        "c": (2_000_000, 2), "d": (1_000_000, 1),
    }


def test_harmonic_centrality_directed_and_disconnected(spark):
    """Path a-b-c plus isolated pair x-y: harmonic is defined on the
    disconnected graph (unreached pairs contribute nothing)."""
    from delm_spark.kg.graph import harmonic_centrality

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got = {
        r.node: (r.harmonic_micro, r.n_reached)
        for r in harmonic_centrality(edges, n_sources=5, max_depth=6).collect()
    }
    # a <- b (1), <- c (2); b <- a, c (1 each); x and y reach each other
    assert got == {
        "a": (1_500_000, 2),
        "b": (2_000_000, 2),
        "c": (1_500_000, 2),
        "x": (1_000_000, 1),
        "y": (1_000_000, 1),
    }


def test_harmonic_centrality_source_sample_is_md5_deterministic(spark):
    from pyspark.sql import functions as F
    from delm_spark.kg.graph import harmonic_centrality

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], "src string, dst string"
    )
    nodes = [f"n{i}" for i in range(7)]
    import hashlib

    picked = sorted(nodes, key=lambda n: hashlib.md5(n.encode()).hexdigest())[:2]
    # rerun twice: same result frame both times, and only the two
    # md5-smallest sources contribute (n_reached <= 2 everywhere)
    a = harmonic_centrality(edges, n_sources=2, max_depth=10).collect()
    b = harmonic_centrality(edges, n_sources=2, max_depth=10).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert max(r.n_reached for r in a) <= 2
    # a sampled source at distance d contributes 1e6 div d: check one
    # closed-form cell against the python-side md5 pick
    import collections

    dist = {}
    for s in picked:
        si = int(s[1:])
        for t in nodes:
            ti = int(t[1:])
            if s != t:
                dist.setdefault(t, []).append(abs(si - ti))
    expect = {
        t: (sum(1_000_000 // d for d in ds), len(ds))
        for t, ds in dist.items()
    }
    got = {r.node: (r.harmonic_micro, r.n_reached) for r in a}
    assert got == expect


def test_personalized_pagerank_mass_and_seed_bias(spark):
    """Ranks stay a probability vector every iteration and concentrate
    on/around the seed, and an edge-absent seed keeps its teleport mass
    instead of being dropped."""
    from pyspark.sql import functions as F
    from delm_spark.kg.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    ranks = {r.node: r.rank for r in
             personalized_pagerank(edges, seeds, iters=8).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # the seed and its direct successor dominate; d, fed only by c's
    # split and getting no teleport, trails everything
    assert ranks["d"] == min(ranks.values())
    assert ranks["a"] > ranks["c"] > ranks["d"]

    lonely = spark.createDataFrame([("zzz",)], "node string")
    r2 = {r.node: r.rank for r in
          personalized_pagerank(edges, lonely, iters=3).collect()}
    assert abs(sum(r2.values()) - 1.0) < 1e-9
    assert r2["zzz"] > 0  # unioned into the node set, teleport kept


def test_personalized_pagerank_uniform_seeds_equal_pagerank(spark):
    """With EVERY node seeded, PPR's teleport vector is uniform — it
    must reproduce plain pagerank exactly (same FP formula)."""
    from delm_spark.kg.graph import pagerank, personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "node string"
    )
    pr = {r.node: r.rank for r in pagerank(edges, iters=4).collect()}
    ppr = {r.node: r.rank for r in
           personalized_pagerank(edges, seeds, iters=4).collect()}
    assert pr.keys() == ppr.keys()
    for k in pr:
        assert abs(pr[k] - ppr[k]) < 1e-12, (k, pr[k], ppr[k])


def test_personalized_pagerank_empty_seeds_refused(spark):
    import pytest as _pytest
    from delm_spark.kg.graph import personalized_pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    empty = spark.createDataFrame([], "node string")
    with _pytest.raises(ValueError, match="non-empty seed"):
        personalized_pagerank(edges, empty)
