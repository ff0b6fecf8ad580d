"""BGP pattern matching (kg/query.py) and predicate canonicalization
(kg/ontology.py) — north-star extensions round 5."""

import pytest
from pyspark.sql import functions as F

from delm_spark.kg.ontology import canonicalize_predicates, predicate_similarity
from delm_spark.kg.query import match_pattern


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("alice", "works_at", "acme"),
        ("bob", "works_at", "acme"),
        ("carol", "works_at", "globex"),
        ("acme", "located_in", "berlin"),
        ("globex", "located_in", "paris"),
        ("alice", "likes", "alice"),
        ("alice", "likes", "bob"),
        # duplicate support row for bag-semantics check
        ("bob", "works_at", "acme"),
    ]
    return spark.createDataFrame(
        rows, "subj_id string, pred string, obj_id string"
    )


def test_two_hop_chain_pattern(triples):
    got = sorted(
        tuple(r)
        for r in match_pattern(
            triples,
            [("?x", "works_at", "?o"), ("?o", "located_in", "?c")],
        )
        .select("x", "o", "c")
        .collect()
    )
    assert got == [
        ("alice", "acme", "berlin"),
        ("bob", "acme", "berlin"),
        ("carol", "globex", "paris"),
    ]


def test_colleague_pattern_and_constants(triples):
    out = match_pattern(
        triples, [("?a", "works_at", "?org"), ("?b", "works_at", "?org")]
    ).filter(F.col("a") < F.col("b"))
    assert [tuple(r) for r in out.select("a", "b", "org").collect()] == [
        ("alice", "bob", "acme")
    ]
    # constant subject narrows to one binding
    got = match_pattern(triples, [("alice", "works_at", "?o")]).collect()
    assert [r["o"] for r in got] == ["acme"]


def test_repeated_variable_within_pattern(triples):
    got = match_pattern(triples, [("?x", "likes", "?x")]).collect()
    assert [r["x"] for r in got] == ["alice"]


def test_distinct_vs_bag_semantics(triples):
    pat = [("?a", "works_at", "acme")]
    assert match_pattern(triples, pat).count() == 2
    assert match_pattern(triples, pat, distinct=False).count() == 3


def test_disconnected_pattern_refused(triples):
    with pytest.raises(ValueError, match="disconnected"):
        match_pattern(
            triples,
            [("?x", "works_at", "?o"), ("?c", "located_in", "paris")],
        )
    # opt-in cross product works and has the product cardinality
    out = match_pattern(
        triples,
        [("?x", "works_at", "?o"), ("?c", "located_in", "paris")],
        allow_cartesian=True,
    )
    assert out.count() == 3  # 3 distinct (x, o) x 1 (c)


def test_invalid_patterns(triples):
    with pytest.raises(ValueError, match="at least one"):
        match_pattern(triples, [])
    with pytest.raises(ValueError, match="binds no variable"):
        match_pattern(triples, [("alice", "works_at", "acme")])


def test_no_cartesian_in_connected_plan(triples):
    out = match_pattern(
        triples,
        [("?x", "works_at", "?o"), ("?o", "located_in", "?c")],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


@pytest.fixture(scope="module")
def aliased(spark):
    # works_at / works_at_alt assert overlapping pair sets (variants of
    # one relation); mentors is extensionally disjoint and must survive
    # as a singleton
    rows = [
        ("a1", "works_at", "o1"),
        ("a2", "works_at", "o1"),
        ("a3", "works_at", "o2"),
        ("a1", "works_at_alt", "o1"),
        ("a2", "works_at_alt", "o1"),
        ("a4", "works_at_alt", "o2"),
        ("a1", "mentors", "a2"),
    ]
    return spark.createDataFrame(
        rows, "subj_id string, pred string, obj_id string"
    )


def test_predicate_similarity_exact_integers(aliased):
    rows = predicate_similarity(aliased).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["pred_a"], r["pred_b"]) == ("works_at", "works_at_alt")
    assert (r["n_shared"], r["n_a"], r["n_b"]) == (2, 3, 3)
    assert r["jaccard_micro"] == 500_000  # floor(1e6 * 2 / 4)


def test_canonicalize_predicates_clusters_and_singletons(aliased):
    got = {
        r["pred"]: r
        for r in canonicalize_predicates(
            aliased, min_jaccard_micro=500_000
        ).collect()
    }
    assert got["works_at"]["canonical_pred"] == "works_at"
    assert got["works_at_alt"]["canonical_pred"] == "works_at"
    assert got["works_at"]["n_members"] == 2
    assert got["mentors"]["canonical_pred"] == "mentors"
    assert got["mentors"]["n_members"] == 1
    assert got["works_at"]["n_pairs"] == 3
    # tighter threshold: no cluster survives
    loose = canonicalize_predicates(aliased, min_jaccard_micro=600_000)
    assert all(r["n_members"] == 1 for r in loose.collect())


def test_resolve_functional_ranking_and_statuses(spark):
    """Rank 1 = most support, then most recent, then smallest obj;
    losers kept as superseded; non-functional predicates excluded."""
    from delm_spark.kg.quality import resolve_functional

    rows = [
        # e1 works_at: o_new asserted twice (wins on support)
        ("e1", "works_at", "o_new", "c1", 1),
        ("e1", "works_at", "o_new", "c2", 5),
        ("e1", "works_at", "o_old", "c1", 9),
        # e2 works_at: support tie -> recency decides
        ("e2", "works_at", "later", "c3", 7),
        ("e2", "works_at", "earlier", "c3", 2),
        # e3: support+recency tie -> smallest obj
        ("e3", "works_at", "bbb", "c4", 1),
        ("e3", "works_at", "aaa", "c4", 1),
        ("e1", "likes", "x", "c1", 1),  # not functional: excluded
    ]
    t = spark.createDataFrame(
        rows,
        "subj_id string, pred string, obj_id string, "
        "conv_id string, turn_idx int",
    )
    got = {
        (r["subj"], r["obj"]): r
        for r in resolve_functional(t).collect()
    }
    assert len(got) == 6  # 'likes' row excluded
    assert got[("e1", "o_new")]["status"] == "current"
    assert got[("e1", "o_new")]["n_support"] == 2
    assert got[("e1", "o_old")]["status"] == "superseded"
    assert got[("e1", "o_old")]["rank"] == 2
    assert got[("e2", "later")]["status"] == "current"
    assert got[("e2", "later")]["last_seen"] == "c3#000007"
    assert got[("e2", "earlier")]["status"] == "superseded"
    assert got[("e3", "aaa")]["status"] == "current"
    assert got[("e3", "bbb")]["status"] == "superseded"


def test_infer_entity_types_majority_and_conflicts(spark):
    """Domain/range votes, majority win, smallest-type tie-break,
    unsigned predicates ignored, null endpoints dropped."""
    from delm_spark.kg.typing import infer_entity_types, signature_table

    rows = [
        ("alice", "works_at", "acme"),     # alice: person, acme: org
        ("alice", "works_at", "acme"),     # repeat vote
        ("alice", "located_in", "berlin"), # conflict: alice as org
        ("acme", "located_in", "berlin"),  # acme: org; berlin: place
        ("bob", "reports_to", "alice"),    # bob+alice person votes
        ("bob", "unsigned_pred", "x"),     # no signature: no votes
        (None, "works_at", "acme"),        # null endpoint dropped
    ]
    t = spark.createDataFrame(
        rows, "subj_id string, pred string, obj_id string"
    )
    got = {
        r["entity"]: r
        for r in infer_entity_types(t, signature_table(spark)).collect()
    }
    assert "x" not in got and None not in got
    # alice: person x3 (2 works_at subj + 1 reports_to obj), org x1
    a = got["alice"]
    assert (a["entity_type"], a["n_votes"], a["n_total"], a["n_types"]) == (
        "person", 3, 4, 2
    )
    # acme: org x3 (2 works_at range + 1 located_in domain)
    assert got["acme"]["entity_type"] == "org"
    assert got["acme"]["n_types"] == 1
    assert got["berlin"]["entity_type"] == "place"
    assert got["bob"]["entity_type"] == "person"
    # tie-break: entity with equal person/org votes -> lexicographic
    tie = spark.createDataFrame(
        [("e", "works_at", "o"), ("z", "located_in", "e")],
        "subj_id string, pred string, obj_id string",
    )
    r = {
        x["entity"]: x
        for x in infer_entity_types(tie, signature_table(spark)).collect()
    }["e"]
    assert r["n_types"] == 2 and r["n_votes"] == 1
    assert r["entity_type"] == "person"  # 'person' < 'place'


def test_type_violations_domain_range_both(spark):
    """A place in a person slot is a domain violation, a person in an
    org slot a range violation, both at once 'both'; un-judged entities
    (no induced type) never flag; consistent triples pass."""
    from delm_spark.kg.typing import signature_table, type_violations

    rows = [
        # establish majority types
        ("alice", "works_at", "acme"),
        ("alice", "works_at", "acme"),
        # berlin needs 3 place votes: the two violation rows below cast
        # 2 person votes for it and a 2-2 tie would break to 'person'
        ("acme", "located_in", "berlin"),
        ("acme", "located_in", "berlin"),
        ("acme", "located_in", "berlin"),
        # violations
        ("berlin", "works_at", "acme"),    # domain: place in person slot
        ("alice", "works_at", "alice"),    # range: person in org slot
        ("berlin", "works_at", "alice"),   # both
        # unsigned predicate never judged
        ("berlin", "unsigned", "alice"),
        # endpoint with no induced type: not judged
        ("alice", "works_at", "mystery"),
    ]
    t = spark.createDataFrame(
        rows, "subj_id string, pred string, obj_id string"
    )
    got = {
        (r["subj"], r["pred"], r["obj"]): r["violation"]
        for r in type_violations(t, signature_table(spark)).collect()
    }
    assert got == {
        ("berlin", "works_at", "acme"): "domain",
        ("alice", "works_at", "alice"): "range",
        ("berlin", "works_at", "alice"): "both",
    }


def test_property_path_minimal_hops_diamond_and_cycle(spark):
    """Diamond: two routes to the same pair stay ONE row with minimal
    hops; cycle: bounded, self-reachability reported at its cycle
    length; shortcut edge wins over the longer chain."""
    import pytest

    from delm_spark.kg.query import property_path

    rows = [
        # diamond a->b->d, a->c->d
        ("a", "p", "b"), ("a", "p", "c"), ("b", "p", "d"), ("c", "p", "d"),
        # shortcut: a->d directly (hops must be 1, not 2)
        ("a", "p", "d"),
        # 3-cycle x->y->z->x
        ("x", "p", "y"), ("y", "p", "z"), ("z", "p", "x"),
        # other predicate never traversed
        ("a", "q", "zzz"),
    ]
    t = spark.createDataFrame(
        rows, "subj_id string, pred string, obj_id string"
    )
    got = {
        (r["src"], r["dst"]): r["hops"]
        for r in property_path(t, "p", max_hops=3).collect()
    }
    assert got[("a", "d")] == 1  # shortcut beats the 2-hop routes
    assert got[("a", "b")] == 1 and got[("b", "d")] == 1
    assert ("a", "zzz") not in got
    # cycle: each node reaches the other two and itself at hop 3
    assert got[("x", "y")] == 1 and got[("x", "z")] == 2
    assert got[("x", "x")] == 3 and got[("y", "y")] == 3
    # one row per pair
    assert len(got) == sum(
        1 for _ in property_path(t, "p", max_hops=3).collect()
    )
    with pytest.raises(ValueError, match="max_hops"):
        property_path(t, "p", max_hops=0)


def test_match_pattern_optional_and_not_exists(triples, spark):
    from delm_spark.kg.query import match_pattern

    # OPTIONAL: employer city where known — globex/acme both have one,
    # so extend the corpus with an org that has none
    t2 = triples.unionByName(
        spark.createDataFrame(
            [("dave", "works_at", "initech")],
            "subj_id string, pred string, obj_id string",
        )
    )
    got = {
        (r["x"], r["org"]): r["c"]
        for r in match_pattern(
            t2,
            [("?x", "works_at", "?org")],
            optional=[[("?org", "located_in", "?c")]],
        ).collect()
    }
    assert got[("alice", "acme")] == "berlin"
    assert got[("carol", "globex")] == "paris"
    assert got[("dave", "initech")] is None
    assert len(got) == 4

    # NOT EXISTS: employees whose org has NO known city
    kept = match_pattern(
        t2,
        [("?x", "works_at", "?org")],
        not_exists=[[("?org", "located_in", "?c")]],
    ).collect()
    assert [(r["x"], r["org"]) for r in kept] == [("dave", "initech")]

    # uncorrelated clauses are refused
    for kw in ("optional", "not_exists"):
        with pytest.raises(ValueError, match="shares no variable"):
            match_pattern(
                t2,
                [("?x", "works_at", "?org")],
                **{kw: [[("?a", "located_in", "?b")]]},
            )

    # OPTIONAL must not multiply bindings on multi-support inner rows
    t3 = t2.unionByName(
        spark.createDataFrame(
            [("acme", "located_in", "berlin")],
            "subj_id string, pred string, obj_id string",
        )
    )
    dup = match_pattern(
        t3,
        [("?x", "works_at", "?org")],
        optional=[[("?org", "located_in", "?c")]],
        distinct=False,
    )
    assert dup.filter("x = 'alice'").count() == 1


def test_optional_var_correlation_refused(triples, spark):
    """Review r5c: clauses correlated only through an OPTIONAL-bound
    (nullable) variable diverge between Spark null-key joins and SPARQL
    unbound semantics — refused, not mis-answered."""
    from delm_spark.kg.query import match_pattern

    with pytest.raises(ValueError, match="bound only by an earlier"):
        match_pattern(
            triples,
            [("?x", "works_at", "?org")],
            optional=[
                [("?org", "located_in", "?c")],
                [("?c", "located_in", "?d")],
            ],
        )
    with pytest.raises(ValueError, match="bound only by an earlier"):
        match_pattern(
            triples,
            [("?x", "works_at", "?org")],
            optional=[[("?org", "located_in", "?c")]],
            not_exists=[[("?c", "located_in", "?d")]],
        )


def test_signature_table_empty_list_is_empty(spark):
    """Review r5c: an explicit empty signature list must yield an empty
    table (and hence no votes), not fall back to the defaults."""
    from delm_spark.kg.typing import infer_entity_types, signature_table

    sig = signature_table(spark, [])
    assert sig.count() == 0
    t = spark.createDataFrame(
        [("a", "works_at", "b")], "subj_id string, pred string, obj_id string"
    )
    assert infer_entity_types(t, sig).count() == 0


def test_consistency_report_occurrence_grained_duplicates(spark):
    """Review r5d: over an occurrence-grained edge table, restatements
    of a fact in different turns are SUPPORT, not duplicates; only a
    repeated occurrence key (upstream idempotency bug) counts."""
    from delm_spark.kg.quality import consistency_report

    rows = [
        ("a", "works_at", "b", "c1", 1),
        ("a", "works_at", "b", "c2", 5),   # legit restatement
        ("a", "works_at", "b", "c2", 5),   # SAME occurrence: a real dup
    ]
    t = spark.createDataFrame(
        rows,
        "subj_id string, pred string, obj_id string, "
        "conv_id string, turn_idx int",
    )
    fact = {
        r["check_name"]: r["n_violations"]
        for r in consistency_report(t).collect()
    }
    occ = {
        r["check_name"]: r["n_violations"]
        for r in consistency_report(
            t, occurrence_cols=["conv_id", "turn_idx"]
        ).collect()
    }
    assert fact["duplicate_triple"] == 2  # fact contract: 3 copies - 1
    assert occ["duplicate_triple"] == 1   # only the repeated occurrence
