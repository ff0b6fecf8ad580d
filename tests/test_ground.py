"""Pronoun-grounding operator: deictic subjects bind to speaker
entities, non-pronouns pass through, unresolvable lineage is flagged
rather than guessed."""

from __future__ import annotations

from delm_spark.kg.ground import ground_pronouns

TRIPLE_SCHEMA = "conv_id string, turn_idx int, subj string, pred string, obj string"
TURN_SCHEMA = "conv_id string, turn_idx int, role string"


def _rows(df):
    return {
        tuple(r) for r in df.select(
            "conv_id", "turn_idx", "subj", "pred", "obj", "grounded"
        ).collect()
    }


def test_grounding_rewrites_flags_and_preserves(spark):
    triples = spark.createDataFrame(
        [
            ("c1", 0, "I", "works_at", "acme"),        # grounded -> user
            ("c1", 1, "My", "reports_to", "bob"),      # grounded -> assistant
            ("c1", 0, "alice", "works_at", "acme"),    # not a pronoun
            ("c2", 7, "we", "located_in", "paris"),    # no transcript row
        ],
        TRIPLE_SCHEMA,
    )
    turns = spark.createDataFrame(
        [("c1", 0, "user"), ("c1", 1, "assistant"), ("c1", 2, "tool")],
        TURN_SCHEMA,
    )
    out = ground_pronouns(triples, turns)
    assert out.count() == triples.count()
    assert _rows(out) == {
        ("c1", 0, "speaker:c1:user", "works_at", "acme", 1),
        ("c1", 1, "speaker:c1:assistant", "reports_to", "bob", 1),
        ("c1", 0, "alice", "works_at", "acme", 0),
        ("c2", 7, "we", "located_in", "paris", 0),
    }


def test_duplicate_turn_rows_do_not_duplicate_triples(spark):
    """A feed that violates (conv_id, turn_idx) uniqueness must not fan
    the pronoun triple out; min-role wins deterministically."""
    triples = spark.createDataFrame(
        [("c1", 0, "i", "works_at", "acme")], TRIPLE_SCHEMA
    )
    turns = spark.createDataFrame(
        [("c1", 0, "user"), ("c1", 0, "assistant")], TURN_SCHEMA
    )
    out = ground_pronouns(triples, turns)
    assert out.count() == 1
    assert _rows(out) == {("c1", 0, "speaker:c1:assistant", "works_at", "acme", 1)}


def test_plan_no_cartesian_no_python(spark):
    triples = spark.createDataFrame(
        [("c1", 0, "i", "works_at", "acme")], TRIPLE_SCHEMA
    )
    turns = spark.createDataFrame([("c1", 0, "user")], TURN_SCHEMA)
    df = ground_pronouns(triples, turns)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_second_person_binds_to_addressee(spark):
    """'you' grounds to the other role in a two-party conversation;
    monologues and 3+-party conversations leave it ungrounded."""
    from delm_spark.kg.ground import SECOND_PERSON, ground_pronouns

    triples = spark.createDataFrame(
        [
            ("two", 0, "you", "works_at", "acme"),   # user turn -> assistant
            ("two", 1, "You", "reports_to", "bob"),  # assistant -> user
            ("two", 0, "I", "works_at", "acme"),     # first person unchanged
            ("solo", 0, "you", "works_at", "acme"),  # one role -> ambiguous
            ("multi", 0, "you", "works_at", "acme"), # three roles -> ambiguous
        ],
        TRIPLE_SCHEMA,
    )
    turns = spark.createDataFrame(
        [
            ("two", 0, "user"), ("two", 1, "assistant"),
            ("solo", 0, "user"),
            ("multi", 0, "user"), ("multi", 1, "assistant"),
            ("multi", 2, "tool"),
        ],
        TURN_SCHEMA,
    )
    out = ground_pronouns(triples, turns, second_person=SECOND_PERSON)
    assert out.count() == triples.count()
    assert _rows(out) == {
        ("two", 0, "speaker:two:assistant", "works_at", "acme", 1),
        ("two", 1, "speaker:two:user", "reports_to", "bob", 1),
        ("two", 0, "speaker:two:user", "works_at", "acme", 1),
        ("solo", 0, "you", "works_at", "acme", 0),
        ("multi", 0, "you", "works_at", "acme", 0),
    }


def test_second_person_off_by_default(spark):
    triples = spark.createDataFrame(
        [("two", 0, "you", "works_at", "acme")], TRIPLE_SCHEMA
    )
    turns = spark.createDataFrame(
        [("two", 0, "user"), ("two", 1, "assistant")], TURN_SCHEMA
    )
    assert _rows(ground_pronouns(triples, turns)) == {
        ("two", 0, "you", "works_at", "acme", 0)
    }


def test_null_subject_passes_through(spark):
    """A NULL subject must survive as grounded=0, not vanish (isin() on
    NULL is NULL, which an unguarded filter and its negation both drop)."""
    from delm_spark.kg.ground import SECOND_PERSON

    triples = spark.createDataFrame(
        [("c1", 0, None, "works_at", "acme"),
         ("c1", 0, "i", "works_at", "acme")],
        TRIPLE_SCHEMA,
    )
    turns = spark.createDataFrame([("c1", 0, "user")], TURN_SCHEMA)
    out = ground_pronouns(triples, turns, second_person=SECOND_PERSON)
    assert out.count() == 2
    assert _rows(out) == {
        ("c1", 0, None, "works_at", "acme", 0),
        ("c1", 0, "speaker:c1:user", "works_at", "acme", 1),
    }
