"""SPARQL aggregation / FILTER / CONSTRUCT over the BGP engine
(kg/query.py match_aggregate, match_pattern(filter_expr=), construct):
hand values, RDF set-of-triples semantics, null-template drops."""

from __future__ import annotations

import pytest

from delm_spark.kg.query import construct, match_aggregate, match_pattern

SCHEMA = "subj_id string, pred string, obj_id string"

TRIPLES = [
    ("alice", "works_at", "acme"),
    ("alice", "works_at", "acme"),  # duplicate support: counts ONCE
    ("bob", "works_at", "acme"),
    ("cara", "works_at", "initech"),
    ("alice", "uses_tool", "grep"),
    ("bob", "uses_tool", "grep"),
    ("bob", "uses_tool", "sed"),
]


@pytest.fixture()
def triples(spark):
    return spark.createDataFrame(TRIPLES, SCHEMA)


def test_aggregate_hand_values(triples):
    rows = {
        r.org: r
        for r in match_aggregate(
            triples,
            [("?p", "works_at", "?org")],
            group_by=["org"],
            aggs=[
                ("count_distinct", "p", "n_people"),
                ("count", None, "n_solutions"),
                ("min", "p", "first_person"),
            ],
        ).collect()
    }
    assert rows["acme"].n_people == 2
    # the duplicate (alice, works_at, acme) triple is SET semantics: the
    # solution multiset has 2 rows for acme, not 3
    assert rows["acme"].n_solutions == 2
    assert rows["acme"].first_person == "alice"
    assert rows["initech"].n_people == 1


def test_aggregate_join_multiplicity_is_bag(triples):
    # (?p works_at ?org),(?p uses_tool ?t): bob contributes 2 solutions
    # to acme (grep, sed), alice 1 — join multiplicity is legitimate bag
    rows = {
        r.org: r.n_solutions
        for r in match_aggregate(
            triples,
            [("?p", "works_at", "?org"), ("?p", "uses_tool", "?t")],
            group_by=["org"],
            aggs=[("count", None, "n_solutions")],
        ).collect()
    }
    assert rows == {"acme": 3}


def test_aggregate_rejects_bad_specs(triples):
    with pytest.raises(ValueError, match="unsupported aggregate"):
        match_aggregate(
            triples, [("?p", "works_at", "?org")],
            group_by=["org"], aggs=[("sum", "p", "s")],
        )
    with pytest.raises(ValueError, match="not bound"):
        match_aggregate(
            triples, [("?p", "works_at", "?org")],
            group_by=["nope"], aggs=[("count", None, "n")],
        )
    with pytest.raises(ValueError, match="unbound variable"):
        match_aggregate(
            triples, [("?p", "works_at", "?org")],
            group_by=["org"], aggs=[("min", "tool", "t")],
        )


def test_filter_expr_on_bindings(triples):
    rows = match_pattern(
        triples,
        [("?a", "works_at", "?org"), ("?b", "works_at", "?org")],
        filter_expr="a < b",
    ).collect()
    assert [(r.a, r.b, r.org) for r in rows] == [("alice", "bob", "acme")]


def test_bind_computes_and_chains(triples):
    """BIND introduces computed variables; later binds see earlier
    ones; FILTER sees all of them."""
    rows = match_pattern(
        triples,
        [("?p", "works_at", "?org")],
        bind={
            "p_len": "length(p)",
            "tag": "concat(org, ':', cast(p_len as string))",
        },
        filter_expr="p_len >= 5",
        order_by=["p", "org"],
    ).collect()
    assert [(r.p, r.org, r.p_len, r.tag) for r in rows] == [
        ("alice", "acme", 5, "acme:5")
    ]


def test_bind_over_optional_null_is_usable(triples):
    """An OPTIONAL-introduced variable reaches BIND as null and is
    handled explicitly — the SPARQL COALESCE idiom."""
    rows = {
        r.p: r.tool_label
        for r in match_pattern(
            triples,
            [("?p", "works_at", "?org")],
            optional=[[("?p", "uses_tool", "?tool")]],
            bind={"tool_label": "coalesce(tool, '<none>')"},
        ).collect()
    }
    assert rows["cara"] == "<none>"
    assert rows["alice"] == "grep"


def test_inverse_path_equals_swapped_forward(triples):
    """(?org, ^works_at, ?p) is exactly (?p, works_at, ?org)."""
    inv = match_pattern(triples, [("?org", "^works_at", "?p")])
    fwd = match_pattern(triples, [("?p", "works_at", "?org")])
    assert sorted((r.p, r.org) for r in inv.collect()) == sorted(
        (r.p, r.org) for r in fwd.collect()
    )


def test_inverse_path_composes_in_joins(triples):
    """works_at/^works_at is the colleague zig-zag — same answer as
    the two-forward-pattern self-join."""
    zig = match_pattern(
        triples,
        [("?a", "works_at", "?org"), ("?org", "^works_at", "?b")],
        filter_expr="a < b",
    )
    ref = match_pattern(
        triples,
        [("?a", "works_at", "?org"), ("?b", "works_at", "?org")],
        filter_expr="a < b",
    )
    assert sorted(map(tuple, zig.select("a", "b", "org").collect())) == sorted(
        map(tuple, ref.select("a", "b", "org").collect())
    )


def test_inverse_path_refuses_variable_predicate(triples):
    with pytest.raises(ValueError, match="inverse path"):
        match_pattern(triples, [("?a", "^?p", "?b")])
    with pytest.raises(ValueError, match="inverse path"):
        match_pattern(triples, [("?a", "^", "?b")])


def test_bind_rejects_rebind_and_bad_name(triples):
    with pytest.raises(ValueError, match="re-binds"):
        match_pattern(
            triples,
            [("?p", "works_at", "?org")],
            bind={"org": "upper(p)"},
        )
    with pytest.raises(ValueError, match="bare variable"):
        match_pattern(
            triples,
            [("?p", "works_at", "?org")],
            bind={"?k": "1"},
        )


def test_construct_colleague_graph(triples):
    g = construct(
        triples,
        [("?a", "works_at", "?org"), ("?b", "works_at", "?org")],
        template=[
            ("?a", "colleague_of", "?b"),
            ("?b", "colleague_of", "?a"),
        ],
        filter_expr="a < b",
    )
    assert g.columns == ["subj_id", "pred", "obj_id"]
    got = sorted(map(tuple, g.collect()))
    assert got == [
        ("alice", "colleague_of", "bob"),
        ("bob", "colleague_of", "alice"),
    ]


def test_construct_drops_null_instantiations(triples):
    # ?t comes from an OPTIONAL group: cara has no tool, so her
    # template triple has a null object and must be dropped
    g = construct(
        triples,
        [("?p", "works_at", "?org")],
        template=[("?p", "ever_used", "?t")],
        optional=[[("?p", "uses_tool", "?t")]],
    )
    got = sorted(map(tuple, g.collect()))
    assert got == [
        ("alice", "ever_used", "grep"),
        ("bob", "ever_used", "grep"),
        ("bob", "ever_used", "sed"),
    ]


def test_construct_is_a_set(triples):
    # two bindings (alice, bob both at acme) instantiate the SAME
    # constant-object triple: a CONSTRUCT result is a graph, one row
    g = construct(
        triples,
        [("?p", "works_at", "acme")],
        template=[("acme", "has_staff", "yes")],
    )
    assert [tuple(r) for r in g.collect()] == [("acme", "has_staff", "yes")]


def test_construct_rejects_unbound_template_var(triples):
    with pytest.raises(ValueError, match="bound by no pattern"):
        construct(
            triples,
            [("?p", "works_at", "?org")],
            template=[("?p", "uses", "?tool")],
        )
    with pytest.raises(ValueError, match="at least one template"):
        construct(triples, [("?p", "works_at", "?org")], template=[])
