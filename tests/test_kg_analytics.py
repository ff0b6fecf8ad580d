"""Closed-form unit tests for the round-5 KG analytics operators
(delm_spark/kg/analytics.py) and asymmetric containment dedup
(operators/dedup.py containment_pairs). Oracle parity at sf0.001 lives in
test_oracle_parity.py; these pin exact hand-computed values on tiny
fixtures, including the edge cases the oracle corpus may not hit."""

import pytest
from pyspark.sql import functions as F

from delm_spark.kg.analytics import entity_cooccurrence, triple_provenance
from delm_spark.operators.dedup import containment_pairs


# ---------------------------------------------------------------- containment


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_subset_scores_full(spark):
    """A doc whose shingle set is a strict subset of another's scores
    exactly 1.0 containment (1_000_000 micro) regardless of the size gap —
    the case symmetric Jaccard under-scores."""
    long_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short_text = "beta gamma delta epsilon"  # all its 3-shingles are in long
    docs = _docs(spark, [(1, long_text), (2, short_text)])
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = containment_pairs(
        docs, "text", "doc_id", n=3, candidates=cand, threshold_micro=0
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.containment_micro == 1_000_000
    assert r.contained_id == 2  # the smaller shingle set


def test_containment_exact_integer_value(spark):
    """Partial overlap: containment is floor(1e6 * |A∩B| / min) in BIGINT."""
    # 3-shingles of a: {ab c, b c d, c d e} ; of b: {b c x, c x y, x y z}... use
    # word shingles — construct overlap explicitly.
    a = "w1 w2 w3 w4 w5"        # shingles: (w1 w2 w3)(w2 w3 w4)(w3 w4 w5) -> 3
    b = "w1 w2 w3 q1 q2"        # shingles: (w1 w2 w3)(w2 w3 q1)(w3 q1 q2) -> 3
    docs = _docs(spark, [(1, a), (2, b)])
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = containment_pairs(
        docs, "text", "doc_id", n=3, candidates=cand, threshold_micro=0
    ).collect()[0]
    # |A∩B| = 1, min = 3 -> floor(1e6/3) = 333333
    assert r.containment_micro == 1_000_000 // 3
    assert r.contained_id == 1  # equal sizes tie-break to smaller id


def test_containment_threshold_drops_pair(spark):
    docs = _docs(spark, [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 q1 q2")])
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = containment_pairs(
        docs, "text", "doc_id", n=3, candidates=cand, threshold_micro=600_000
    ).collect()
    assert out == []


def test_containment_lsh_blocking_finds_near_subset(spark):
    """Without an explicit candidate table, the MinHash-LSH blocking path
    surfaces a high-Jaccard near-subset pair end to end."""
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(38))  # drop the last 2 tokens
    docs = _docs(spark, [(10, base), (11, near), (12, "entirely different words here")])
    out = {
        (r.id_a, r.id_b): r
        for r in containment_pairs(
            docs, "text", "doc_id", n=3, k=16, bands=4, threshold_micro=600_000
        ).collect()
    }
    assert (10, 11) in out
    assert out[(10, 11)].containment_micro == 1_000_000
    assert out[(10, 11)].contained_id == 11


# ---------------------------------------------------------------- provenance


def _triples(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subj string, pred string, obj string,"
        " subj_id long, obj_id long",
    )


def test_triple_provenance_counts_and_first_seen(spark):
    t = _triples(
        spark,
        [
            # same canonical triple, 3 extractions, 2 convs, 2 surface pairs
            ("c1", 5, "Acme Corp", "acquired", "Widgets Inc", 1, 2),
            ("c1", 9, "Acme", "acquired", "Widgets Inc", 1, 2),
            ("c2", 1, "Acme Corp", "acquired", "Widgets Inc", 1, 2),
            # a singleton triple
            ("c2", 3, "Bob", "works_at", "Acme", 3, 1),
        ],
    )
    rows = {(r.subj_id, r.pred, r.obj_id): r for r in triple_provenance(t).collect()}
    a = rows[(1, "acquired", 2)]
    assert a.n_support == 3
    assert a.n_convs == 2
    assert a.n_surfaces == 2
    assert a.first_seen == "c1#000005"
    b = rows[(3, "works_at", 1)]
    assert (b.n_support, b.n_convs, b.n_surfaces, b.first_seen) == (
        1, 1, 1, "c2#000003",
    )


def test_triple_provenance_first_seen_zero_pad_orders_numerically(spark):
    """turn 12 must sort after turn 2 (lexicographic '12' < '2' would be
    wrong without the zero padding)."""
    t = _triples(
        spark,
        [
            ("c1", 12, "s", "p", "o", 1, 2),
            ("c1", 2, "s", "p", "o", 1, 2),
        ],
    )
    r = triple_provenance(t).collect()[0]
    assert r.first_seen == "c1#000002"


# ---------------------------------------------------------------- cooccurrence


def test_entity_cooccurrence_lift_exact(spark):
    t = _triples(
        spark,
        [
            # conv1 entities {1,2}; conv2 {1,3}; conv3 {1,2}
            ("c1", 0, "a", "p", "b", 1, 2),
            ("c2", 0, "a", "p", "c", 1, 3),
            ("c3", 0, "a", "p", "b", 1, 2),
            ("c3", 1, "b", "q", "a", 2, 1),  # duplicate mentions, same conv
        ],
    )
    rows = {(r.entity_a, r.entity_b): r for r in entity_cooccurrence(t).collect()}
    assert set(rows) == {(1, 2), (1, 3)}
    r12 = rows[(1, 2)]
    # N=3, c_ab=2, c_a=3, c_b=2 -> floor(1e6*3*2/(3*2)) = 1_000_000
    assert (r12.n_cooccur, r12.n_a, r12.n_b) == (2, 3, 2)
    assert r12.lift_micro == 1_000_000
    r13 = rows[(1, 3)]
    # N=3, c_ab=1, c_a=3, c_b=1 -> floor(3e6/3) = 1_000_000
    assert (r13.n_cooccur, r13.n_a, r13.n_b) == (1, 3, 1)
    assert r13.lift_micro == 1_000_000


def test_entity_cooccurrence_positive_association(spark):
    """Entities that always appear together in a larger corpus get
    lift > 1e6; loosely-coupled ones get < 1e6."""
    rows = []
    # 4 convs: {1,2} twice (always together), {3,4}, {3,5}
    rows += [("c1", 0, "s", "p", "o", 1, 2), ("c2", 0, "s", "p", "o", 1, 2)]
    rows += [("c3", 0, "s", "p", "o", 3, 4), ("c4", 0, "s", "p", "o", 3, 5)]
    t = _triples(spark, rows)
    out = {(r.entity_a, r.entity_b): r.lift_micro for r in entity_cooccurrence(t).collect()}
    # (1,2): N=4, c_ab=2, c_a=c_b=2 -> 4*2/(2*2)=2 -> 2_000_000
    assert out[(1, 2)] == 2_000_000
    # (3,4): N=4, c_ab=1, c_a=2, c_b=1 -> 4/2=2 -> 2_000_000
    assert out[(3, 4)] == 2_000_000


def test_entity_cooccurrence_singleton_conv_emits_nothing(spark):
    """A conversation mentioning one entity (self-loop triple) yields no
    pairs and still counts toward N."""
    t = _triples(
        spark,
        [
            ("c1", 0, "s", "p", "o", 1, 1),  # single entity
            ("c2", 0, "s", "p", "o", 1, 2),
        ],
    )
    rows = entity_cooccurrence(t).collect()
    assert len(rows) == 1
    r = rows[0]
    # N=2 (c1 counts), c_ab=1, c_a=2 (entity 1 in both), c_b=1
    assert (r.entity_a, r.entity_b, r.n_cooccur, r.n_a, r.n_b) == (1, 2, 1, 2, 1)
    assert r.lift_micro == 1_000_000


def test_entity_cooccurrence_pair_expansion_is_native(spark):
    """The pair expansion must stay a native HOF expression — no Python
    stage, no join, in the plan up to the pair aggregation."""
    t = _triples(spark, [("c1", 0, "s", "p", "o", 1, 2)])
    plan = entity_cooccurrence(t)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
