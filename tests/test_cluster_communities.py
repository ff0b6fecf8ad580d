"""Closed-form tests for exact-integer k-means (operators/cluster.py) and
synchronous LPA communities (kg/communities.py). Oracle parity at sf0.001
lives in test_oracle_parity.py; these pin hand-computed values and the
driver-side construction cost of the assignment expression."""

import pytest
from pyspark.sql import functions as F

from delm_spark.kg.communities import label_propagation
from delm_spark.operators.cluster import (
    _assign_best_expr,
    _kmeans_fit_rows,
    kmeans_cluster,
    vec_micro,
)
from tests.conftest import py4j_calls

# ------------------------------------------------------------------ k-means


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_two_obvious_clusters(spark):
    """Points at ~(0,0) and ~(10,10) must split into two clusters with
    exact integer distances to the integer-mean centroids."""
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.2, 0.0]),
        (2, [0.0, 0.2]),
        (3, [10.0, 10.0]),
        (4, [10.2, 10.0]),
        (5, [10.0, 10.2]),
    ]
    out = {r.vec_id: r for r in kmeans_cluster(_emb(spark, rows), k=2, iters=3).collect()}
    low = {out[i].cluster_id for i in (0, 1, 2)}
    high = {out[i].cluster_id for i in (3, 4, 5)}
    assert len(low) == 1 and len(high) == 1 and low != high
    # centroid of the low cluster: mean of (0,0),(200000,0),(0,200000)
    # = (66666, 66666) micro (truncated); dist for point 0 = 2*66666^2
    assert out[0].dist_micro2 == 2 * 66_666**2


def test_kmeans_deterministic_and_exact_integer(spark):
    rows = [(i, [float(i % 5), float((i * 7) % 11)]) for i in range(40)]
    a = kmeans_cluster(_emb(spark, rows), k=4, iters=3).orderBy("vec_id").collect()
    b = kmeans_cluster(_emb(spark, rows), k=4, iters=3).orderBy("vec_id").collect()
    assert a == b
    assert all(isinstance(r.dist_micro2, int) for r in a)


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """With k=3 over 3 identical points, two clusters lose all members
    after the first assignment; their centroids must persist (no NULL
    centroids, the fit kmeans_cluster assigns against keeps k rows)."""
    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])]
    cent, _ = _kmeans_fit_rows(_emb(spark, rows), 3, 2)
    assert len(cent) == 3
    assert all(c is not None for _, c in cent)
    out = kmeans_cluster(_emb(spark, rows), k=3, iters=2).collect()
    assert len(out) == 3 and all(r.dist_micro2 == 0 for r in out)


def test_assign_best_expr_py4j_calls_independent_of_k(spark):
    """The centroid literal is ONE SQL-text expression: constructing the
    assignment costs the same few py4j calls at k=4 and at the documented
    k=4096, dim=64 ceiling (one `F.lit` per number made ~1.3M calls,
    ~36 s per Lloyd iteration). It still assigns exactly: negative
    micro-units parse, and an equidistant point goes to the smaller
    cluster_id."""
    def cents(k, dim):
        return [(c, [(c * 7919 + j) % 2_000_001 - 1_000_000 for j in range(dim)])
                for c in range(k)]

    _assign_best_expr(cents(4, 64), "vm")  # warm
    calls = {}
    for k in (4, 4096):
        c = cents(k, 64)
        with py4j_calls() as n:
            _assign_best_expr(c, "vm")
        calls[k] = n[0]
    assert calls[4096] == calls[4] <= 200, calls

    vm = spark.createDataFrame([(0, [0, 0]), (1, [-9, 1])], "id int, vm array<bigint>")
    best = _assign_best_expr([(3, [-2, 0]), (1, [2, 0]), (2, [-10, 0])], "vm")
    got = {r["id"]: (r["b"]["cluster_id"], r["b"]["dist_micro2"])
           for r in vm.select("id", best.alias("b")).collect()}
    assert got == {0: (1, 4), 1: (2, 2)}


def test_kmeans_micro_quantization_floor(spark):
    rows = [(0, [0.1234567891, -0.1234567891])]
    got = (
        _emb(spark, rows)
        .select(vec_micro(F.col("embedding")).alias("vm"))
        .collect()[0]
        .vm
    )
    assert got == [123456, -123457]  # floor, not truncate, on negatives


# ------------------------------------------------------------------ LPA


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_lpa_two_triangles_bridge(spark):
    """Two triangles joined by one bridge edge: LPA must keep them as two
    communities (each node has 2 intra-triangle neighbors vs at most 1
    bridge neighbor)."""
    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    out = {r.node: r for r in label_propagation(_edges(spark, pairs), iters=4).collect()}
    left = {out[n].community for n in (1, 2, 3)}
    right = {out[n].community for n in (4, 5, 6)}
    assert len(left) == 1 and len(right) == 1 and left != right
    assert all(out[n].n_members == 3 for n in (1, 2, 3, 4, 5, 6))


def test_lpa_min_label_tie_break_deterministic(spark):
    """A single edge: each node's only neighbor label wins, so after one
    round both carry the other's label; after two rounds both are back.
    With iters even, labels return to start — the fixed-round contract
    makes this deterministic, and repeated runs agree."""
    pairs = [(10, 20)]
    a = sorted(map(tuple, label_propagation(_edges(spark, pairs), iters=4).collect()))
    b = sorted(map(tuple, label_propagation(_edges(spark, pairs), iters=4).collect()))
    assert a == b
    assert a == [(10, 10, 1), (20, 20, 1)]


def test_lpa_self_loops_and_parallel_edges_ignored(spark):
    pairs = [(1, 1), (1, 2), (2, 1), (1, 2), (2, 3)]
    out = {r.node: r.community for r in label_propagation(_edges(spark, pairs), iters=4).collect()}
    # simple graph is the path 1-2-3; min-frequent label floods to 1
    assert set(out) == {1, 2, 3}
    assert len(set(out.values())) >= 1  # deterministic, no crash on loops


def test_lpa_star_converges_to_hub_vote(spark):
    """A star: leaves see only the hub; hub sees all leaves (all distinct
    labels -> min leaf label). Round 1: leaves take hub's label, hub takes
    min leaf. Round 2: leaves take hub's new label (= min leaf), hub takes
    the leaves' round-1 label (= hub id)... fixed 4 rounds, deterministic;
    assert the exact fixture output to pin the contract."""
    pairs = [(100, i) for i in (1, 2, 3)]
    out = {r.node: r.community for r in label_propagation(_edges(spark, pairs), iters=4).collect()}
    # round-by-round by hand: labels l(hub)=100, l(leaf i)=i
    # r1: leaves -> 100; hub -> 1
    # r2: leaves -> 1;   hub -> 100
    # r3: leaves -> 100; hub -> 1
    # r4: leaves -> 1;   hub -> 100
    assert out == {100: 100, 1: 1, 2: 1, 3: 1}


def test_lpa_no_python_stage(spark):
    pairs = [(1, 2), (2, 3)]
    plan = (
        label_propagation(_edges(spark, pairs), iters=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
