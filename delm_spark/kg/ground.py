"""First-person pronoun grounding: bind deictic triple subjects to
per-conversation speaker entities.

Agent/conversation transcripts routinely yield triples whose subject is
a first-person pronoun — "I work at Acme" extracted from a user turn
means (THE SPEAKER, works_at, acme), not ("I", works_at, acme). Left
ungrounded, every conversation's "I" collides into one meaningless node
that entity linking then welds into a giant false component. The
reference (Center-for-Applied-AI/delm) stops at emitting the raw
extraction (`src/delm/core/extraction_manager.py` keeps the schema's
verbatim strings); speaker grounding is a transcript-KG extension this
engine adds on top.

The grounding rule is deterministic and purely structural: a triple
whose subject (case-insensitive) is in the pronoun set, and whose
(conv_id, turn_idx) lineage resolves to a transcript turn, gets the
synthetic speaker entity ``speaker:<conv_id>:<role>`` as its subject —
per-conversation, per-role, so two conversations (or the user and the
assistant within one) never collide. Triples whose lineage does not
resolve (orphan extraction, transcript retention lapsed) keep their
subject and are flagged ungrounded rather than guessed.

Scale shape (100 TB framing): the pronoun slice is filtered FIRST, so
the role join's left side is bounded by pronoun frequency (<<1% of
triples in practice), not corpus size; the transcript side is cut to
exactly the needed (conv_id, turn_idx) keys by a semi-join before the
role lookup, so no full-corpus row survives to the join. All three
exchanges hash on (conv_id, turn_idx) — the pipeline's native
partitioning — and the non-pronoun complement never shuffles at all.
Roles are min-aggregated per key, making the result deterministic even
if an upstream feed violated the (conv_id, turn_idx) uniqueness
invariant (the transcript integrity gate flags that separately).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

#: deictic subject set — first-person singular and plural,
#: subject/object/possessive forms, matched case-insensitively
FIRST_PERSON: tuple[str, ...] = (
    "i", "me", "my", "mine", "myself", "we", "us", "our", "ours",
)

#: second-person forms — grounded to the ADDRESSEE, which is only
#: well-defined in two-party conversations (see ground_pronouns)
SECOND_PERSON: tuple[str, ...] = (
    "you", "your", "yours", "yourself", "yourselves",
)


def ground_pronouns(
    triples: DataFrame,
    transcripts: DataFrame,
    second_person: Sequence[str] = (),
) -> DataFrame:
    """Rewrite pronoun subjects to ``speaker:<conv_id>:<role>`` entities.

    :data:`FIRST_PERSON` subjects bind to the SPEAKER of the turn the
    triple came from. ``second_person`` forms (off by default — pass
    :data:`SECOND_PERSON`) bind to the ADDRESSEE, which is only
    well-defined when the conversation has exactly two distinct roles:
    the addressee is then the other role. Conversations with one role
    (monologue), or three or more (multi-party — "you" is genuinely
    ambiguous), leave second-person subjects ungrounded rather than
    guessed; same for a turn with no transcript row.

    Returns ``triples`` with the same columns plus an int ``grounded``
    flag: 1 = subject was rewritten, 0 = passed through (not a pronoun,
    unresolvable lineage, or ambiguous addressee). Row count and
    non-subject columns are preserved exactly.
    """
    pron_set = list(FIRST_PERSON)
    second_set = [p.lower() for p in second_person]
    # null-safe: a NULL subject makes isin() NULL, which both a filter
    # and its negation drop — coalesce so null-subject triples pass
    # through the rest branch (grounded=0) instead of vanishing
    is_first = F.coalesce(
        F.lower(F.col("subj")).isin(pron_set), F.lit(False)
    )
    is_second = (
        F.coalesce(F.lower(F.col("subj")).isin(second_set), F.lit(False))
        if second_set
        else F.lit(False)
    )

    rest = triples.filter(~is_first & ~is_second).withColumn(
        "grounded", F.lit(0)
    )
    pron = triples.filter(is_first | is_second).withColumn(
        "__second", is_second
    )

    # cut the transcript table to exactly the keys the pronoun slice
    # needs, THEN resolve one deterministic role per key
    keys = pron.select("conv_id", "turn_idx").distinct()
    roles = (
        transcripts.join(keys, ["conv_id", "turn_idx"], "left_semi")
        .groupBy("conv_id", "turn_idx")
        .agg(F.min("role").alias("__role"))
    )
    joined = pron.join(roles, ["conv_id", "turn_idx"], "left")

    if second_set:
        # addressee map: for each needed conversation with EXACTLY two
        # distinct roles, each role points at the other — built from the
        # semi-cut slice, so its size is bounded by the pronoun volume
        convs = pron.filter(F.col("__second")).select("conv_id").distinct()
        addressee = (
            transcripts.join(convs, "conv_id", "left_semi")
            .select("conv_id", "role")
            .distinct()
            .groupBy("conv_id")
            .agg(F.collect_set("role").alias("__rs"))
            .filter(F.size("__rs") == 2)
            .select(
                "conv_id",
                F.explode(
                    F.array(
                        F.struct(
                            F.array_min("__rs").alias("__role"),
                            F.array_max("__rs").alias("__other"),
                        ),
                        F.struct(
                            F.array_max("__rs").alias("__role"),
                            F.array_min("__rs").alias("__other"),
                        ),
                    )
                ).alias("__p"),
            )
            .select("conv_id", "__p.__role", "__p.__other")
        )
        joined = joined.join(addressee, ["conv_id", "__role"], "left")
    else:
        joined = joined.withColumn("__other", F.lit(None).cast("string"))

    target = F.when(~F.col("__second"), F.col("__role")).otherwise(
        F.col("__other")
    )
    grounded = (
        joined.withColumn(
            "subj",
            F.when(
                target.isNotNull(),
                F.concat(
                    F.lit("speaker:"),
                    F.col("conv_id"),
                    F.lit(":"),
                    target,
                ),
            ).otherwise(F.col("subj")),
        )
        .withColumn(
            "grounded",
            F.when(target.isNotNull(), F.lit(1)).otherwise(F.lit(0)),
        )
        .drop("__role", "__other", "__second")
    )
    return rest.unionByName(grounded)
