"""Pairwise ER-clustering metrics (kg/er_eval.py): hand values, a
brute-force pair-enumeration cross-check (hypothesis), side-missing
singleton semantics, degenerate denominators."""

from __future__ import annotations

from itertools import combinations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from delm_spark.kg.er_eval import pairwise_er_metrics

SCHEMA = "node string, cluster string"


def _row(spark, pred, gold):
    p = spark.createDataFrame(list(pred.items()), SCHEMA)
    g = spark.createDataFrame(list(gold.items()), SCHEMA)
    return pairwise_er_metrics(p, g).collect()[0]


def _brute(pred, gold):
    """Reference pairwise P/R over the union of nodes, missing side =
    singleton (no same-cluster pair)."""
    nodes = sorted(set(pred) | set(gold))
    same = lambda lab, a, b: a in lab and b in lab and lab[a] == lab[b]
    pp = {(a, b) for a, b in combinations(nodes, 2) if same(pred, a, b)}
    gp = {(a, b) for a, b in combinations(nodes, 2) if same(gold, a, b)}
    return len(pp), len(gp), len(pp & gp)


def test_hand_values(spark):
    # pred: {a,b,c} {d,e} | gold: {a,b} {c,d} {e}
    pred = {"a": "x", "b": "x", "c": "x", "d": "y", "e": "y"}
    gold = {"a": "1", "b": "1", "c": "2", "d": "2", "e": "3"}
    r = _row(spark, pred, gold)
    assert (r.pred_pairs, r.gold_pairs, r.agree_pairs) == (4, 2, 1)
    assert r.precision_micro == 250_000
    assert r.recall_micro == 500_000
    assert r.f1_micro == (2 * 250_000 * 500_000) // 750_000
    assert (r.n_nodes, r.n_pred_clusters, r.n_gold_clusters) == (5, 2, 3)


def test_perfect_and_degenerate(spark):
    pred = {"a": "x", "b": "x"}
    r = _row(spark, pred, {"a": "g", "b": "g"})
    assert (r.precision_micro, r.recall_micro, r.f1_micro) == (
        1_000_000,
    ) * 3
    # all-singletons vs all-singletons: both denominators 0 -> perfect
    r = _row(spark, {"a": "x", "b": "y"}, {"a": "1", "b": "2"})
    assert (r.precision_micro, r.recall_micro) == (1_000_000, 1_000_000)


def test_side_missing_nodes_are_singletons(spark):
    # 'c' only in pred, 'd' only in gold: each behaves as a singleton
    # on the missing side and can never form an agreeing pair there
    pred = {"a": "x", "b": "x", "c": "x"}
    gold = {"a": "1", "b": "1", "d": "1"}
    r = _row(spark, pred, gold)
    assert r.n_nodes == 4
    assert (r.pred_pairs, r.gold_pairs, r.agree_pairs) == (3, 3, 1)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    assign=st.lists(
        st.tuples(
            st.integers(0, 11),  # node
            st.integers(0, 3),  # pred cluster
            st.integers(0, 3),  # gold cluster
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    drop_pred=st.sets(st.integers(0, 11), max_size=3),
    drop_gold=st.sets(st.integers(0, 11), max_size=3),
)
def test_matches_brute_force(spark, assign, drop_pred, drop_gold):
    pred = {f"n{n}": f"p{c}" for n, c, _ in assign if n not in drop_pred}
    gold = {f"n{n}": f"g{c}" for n, _, c in assign if n not in drop_gold}
    if not pred or not gold:
        return
    r = _row(spark, pred, gold)
    pp, gp, ap = _brute(pred, gold)
    assert (r.pred_pairs, r.gold_pairs, r.agree_pairs) == (pp, gp, ap)
    exp_p = (1_000_000 * ap) // pp if pp else 1_000_000
    exp_r = (1_000_000 * ap) // gp if gp else 1_000_000
    assert (r.precision_micro, r.recall_micro) == (exp_p, exp_r)
