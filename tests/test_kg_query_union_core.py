"""Round-5 KG query-family extensions: SPARQL UNION (match_union),
VALUES inline data (match_pattern values=), property-path predicate
alternation, and the k-core density gate — hand values, exhaustive
references, and the API's refusal edges."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from delm_spark.kg.graph import k_core
from delm_spark.kg.query import match_pattern, match_union, property_path

TRIPLE_SCHEMA = "subj_id string, pred string, obj_id string"


# ---------------------------------------------------------------- UNION


def test_match_union_pads_unshared_variables_with_null(spark):
    t = spark.createDataFrame(
        [("a", "works_at", "o1"), ("b", "uses_tool", "t1"),
         ("a", "works_at", "o1")],  # duplicate support
        TRIPLE_SCHEMA,
    )
    got = {
        tuple(r[c] for c in ("x", "org", "tool"))
        for r in match_union(
            t, [[("?x", "works_at", "?org")], [("?x", "uses_tool", "?tool")]]
        ).collect()
    }
    assert got == {("a", "o1", None), ("b", None, "t1")}


def test_match_union_distinct_vs_bag_semantics(spark):
    # the same binding produced by BOTH branches: distinct collapses it
    t = spark.createDataFrame(
        [("a", "p", "z"), ("a", "q", "z")], TRIPLE_SCHEMA
    )
    groups = [[("?x", "p", "?y")], [("?x", "q", "?y")]]
    per_branch_same = spark.createDataFrame(
        [("a", "p", "z"), ("a", "q", "z")], TRIPLE_SCHEMA
    )
    assert match_union(per_branch_same, groups).count() == 1
    assert match_union(t, groups).columns == sorted(["x", "y"])


def test_match_union_refuses_empty_groups(spark):
    t = spark.createDataFrame([("a", "p", "b")], TRIPLE_SCHEMA)
    with pytest.raises(ValueError, match="non-empty"):
        match_union(t, [])
    with pytest.raises(ValueError, match="non-empty"):
        match_union(t, [[("?x", "p", "?y")], []])


union_groups_st = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(["?x", "?y", "a", "b"]),
            st.sampled_from(["p", "q"]),
            st.sampled_from(["?x", "?y", "?z", "a", "c"]),
        ),
        min_size=1,
        max_size=2,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    triples=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from(["p", "q"]),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=8,
    ),
    groups=union_groups_st,
)
def test_match_union_equals_per_group_reference(spark, triples, groups):
    from tests.test_kg_query_property import _connected, _ref_match, _vars_of

    tdf = spark.createDataFrame(triples, TRIPLE_SCHEMA)
    if not all(
        _connected(g) and all(_vars_of(p) for p in g) for g in groups
    ):
        return  # engine-refusal shapes are pinned by the BGP tests
    all_vars = sorted(set().union(*(_vars_of(p) for g in groups for p in g)))
    want = set()
    for g in groups:
        gvars = sorted(set().union(*(_vars_of(p) for p in g)))
        for row in _ref_match(triples, g):
            env = dict(zip(gvars, row))
            want.add(tuple(env.get(v) for v in all_vars))
    got = match_union(tdf, groups)
    assert got.columns == all_vars
    have = {tuple(r[v] for v in all_vars) for r in got.collect()}
    assert have == want


# --------------------------------------------------------------- VALUES


def test_values_equals_post_filter_of_unconstrained_match(spark):
    t = spark.createDataFrame(
        [("a", "works_at", "o1"), ("b", "works_at", "o1"),
         ("c", "works_at", "o2"), ("d", "works_at", "o3")],
        TRIPLE_SCHEMA,
    )
    pats = [("?a", "works_at", "?org"), ("?b", "works_at", "?org")]
    constrained = match_pattern(t, pats, values={"org": ["o1", "o2"]})
    unconstrained = match_pattern(t, pats).filter(
        F.col("org").isin("o1", "o2")
    )
    key = sorted(constrained.columns)
    assert {tuple(r[c] for c in key) for r in constrained.collect()} == {
        tuple(r[c] for c in key) for r in unconstrained.collect()
    }


def test_values_applies_to_optional_and_not_exists_groups(spark):
    # VALUES scopes the whole WHERE clause: the OPTIONAL branch must
    # also see the constraint (SPARQL evaluates VALUES as a join with
    # every group's solutions)
    t = spark.createDataFrame(
        [("a", "works_at", "o1"), ("a", "reports_to", "m1"),
         ("a", "reports_to", "m2")],
        TRIPLE_SCHEMA,
    )
    got = match_pattern(
        t,
        [("?x", "works_at", "?org")],
        optional=[[("?x", "reports_to", "?mgr")]],
        values={"mgr": ["m1"]},
    ).collect()
    assert {(r["x"], r["org"], r["mgr"]) for r in got} == {("a", "o1", "m1")}


def test_values_pushes_isin_below_the_join(spark):
    t = spark.createDataFrame(
        [("a", "works_at", "o1"), ("b", "works_at", "o2")], TRIPLE_SCHEMA
    )
    plan = (
        match_pattern(
            t,
            [("?a", "works_at", "?org"), ("?b", "works_at", "?org")],
            values={"org": ["o1"]},
        )
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    # the isin lands in each per-scan Filter (below the Join), not above
    # it — scan-level pushdown over parquet sources is pinned by
    # test_plan_quality's KG-query gates; this pins the compiler's
    # placement
    join_pos = plan.find("Join")
    assert join_pos != -1
    assert plan[join_pos:].count("o1") >= 2  # both branch scans filtered


def test_values_refuses_unknown_variable_and_empty_list(spark):
    t = spark.createDataFrame([("a", "p", "b")], TRIPLE_SCHEMA)
    with pytest.raises(ValueError, match="appears in no pattern"):
        match_pattern(t, [("?x", "p", "?y")], values={"zzz": ["a"]})
    with pytest.raises(ValueError, match="empty"):
        match_pattern(t, [("?x", "p", "?y")], values={"x": []})


# --------------------------------------------- property-path alternation


def test_property_path_alternation_equals_union_pred_bfs(spark):
    from tests.test_kg_query_property import _ref_paths

    rows = [
        ("a", "p", "b"), ("b", "q", "c"), ("c", "p", "d"),
        ("a", "r", "z"),  # non-listed predicate: invisible to the path
    ]
    tdf = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    got = {
        (r["src"], r["dst"]): r["hops"]
        for r in property_path(tdf, ["p", "q"], max_hops=3).collect()
    }
    union_edges = {(s, d) for s, p, d in rows if p in ("p", "q")}
    assert got == _ref_paths(union_edges, 3)
    with pytest.raises(ValueError, match="empty"):
        property_path(tdf, [], max_hops=2)


# ---------------------------------------------------------------- k-core


def _ref_k_core(edges, k):
    """Reference peeling on the simple undirected graph."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg: dict[str, int] = {}
        for u, v in und:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in und if u in keep and v in keep}
        if nxt == und:
            return {n: deg[n] for n in keep}
        und = nxt


def test_k_core_hand_graph(spark):
    # triangle a-b-c with pendant d and a chain e-f: 2-core = the triangle
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "f")]
    df = spark.createDataFrame(edges, "src string, dst string")
    counters: dict = {}
    got = {
        r["node"]: r["core_degree"]
        for r in k_core(df, k=2, counters=counters).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 2}
    assert counters["rounds"] >= 2 and counters["nodes"] == 3
    # chain only: 2-core is empty
    chain = spark.createDataFrame(
        [("e", "f"), ("f", "g")], "src string, dst string"
    )
    assert k_core(chain, k=2).count() == 0
    with pytest.raises(ValueError, match="k must"):
        k_core(df, k=0)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            st.sampled_from(["a", "b", "c", "d", "e"]),
        ),
        min_size=1,
        max_size=12,
    ),
    k=st.integers(min_value=1, max_value=3),
)
def test_k_core_equals_reference_peeling(spark, edges, k):
    df = spark.createDataFrame(edges, "src string, dst string")
    want = _ref_k_core(edges, k)
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=k).collect()}
    assert got == want


def test_kg_core_oracle_unroll_depth_suffices(spark):
    """The DuckDB oracle for kg_core_entities unrolls SIX peeling
    rounds; this pins that the fixture graph actually converges within
    six — if the fixture ever changes shape, this fails before the
    oracle silently diverges."""
    import __spark_entry__ as e
    from delm_spark.kg.pipeline import PipelineConfig, run_pipeline

    res = run_pipeline(
        spark,
        e._fixture_transcripts(spark),
        e._fixture_dictionary(spark),
        PipelineConfig(),
    )
    counters: dict = {}
    k_core(
        res.triples.select(
            F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
        ),
        k=2,
        counters=counters,
    ).count()
    assert counters["rounds"] <= 6
