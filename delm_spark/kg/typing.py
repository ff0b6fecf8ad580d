"""Entity-type induction from predicate domain/range signatures.

A constructed KG's entities arrive untyped — the extraction emits
(subj, pred, obj) strings. But every predicate carries an implicit type
signature (works_at: person -> org; located_in: org -> place), so each
triple VOTES on the types of both endpoints, and the per-entity majority
over all its mentions is the standard unsupervised typing step that
downstream consumers (type-aware link prediction, SHACL-style shape
checks, per-type partitioning of the node table) depend on. The
reference (Center-for-Applied-AI/delm) has no notion of entity types —
``src/delm/schemas/schemas.py`` types FIELDS of a record, never graph
nodes — so this is a north-star extension under the repo's oracle
discipline: counts and deterministic tie-breaks only, no floats.

Scale notes (100 TB / 1000-executor framing):

- The signature table is predicate-vocabulary-sized and ALWAYS
  broadcast; the corpus-side work is one native two-struct inline
  explode (no join fan-out beyond the fixed x2).
- Vote counting is ONE map-side-combinable aggregation on
  (entity, type); the winner pick is a second aggregation on entity
  whose input is already type-vocabulary-bounded per entity. A
  celebrity entity mentioned in millions of turns shuffles as partial
  counts, never as payload rows.
- ``n_types`` rides along so consumers can gate on typing ambiguity
  (n_types > 1 = the entity played conflicting roles) without a second
  pass — the same explicit-conflict-surfacing convention as
  ``kg/quality.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: fixture-schema predicate type signatures (pred -> domain, range)
DEFAULT_SIGNATURES = [
    ("works_at", "person", "org"),
    ("reports_to", "person", "person"),
    ("located_in", "org", "place"),
    ("uses_tool", "person", "tool"),
    ("created", "person", "artifact"),
]


def signature_table(spark, signatures=None) -> DataFrame:
    """(pred, domain_type, range_type) frame from a list of 3-tuples."""
    return spark.createDataFrame(
        DEFAULT_SIGNATURES if signatures is None else signatures,
        "pred string, domain_type string, range_type string",
    )


def infer_entity_types(
    triples: DataFrame,
    signatures: DataFrame,
    subj_col: str = "subj_id",
    obj_col: str = "obj_id",
) -> DataFrame:
    """Majority-vote entity typing.

    Each triple whose predicate has a signature casts one domain-type
    vote for its subject and one range-type vote for its object.
    Returns one row per entity that received any vote:

      entity      — the entity id,
      entity_type — the most-voted type, ties to the lexicographically
                    smallest (deterministic, engine-independent),
      n_votes     — votes for the winning type,
      n_total     — votes across all types,
      n_types     — distinct types voted (> 1 flags a role conflict).

    Predicates without a signature contribute nothing (unknown verbs
    must not invent types). Null endpoints are dropped — malformed rows
    are ``kg/quality.py``'s null_endpoint problem, not a type vote.
    """
    sig = F.broadcast(
        signatures.select("pred", "domain_type", "range_type")
    )
    votes = (
        triples.select(
            F.col(subj_col).alias("__s"),
            F.col("pred").alias("pred"),
            F.col(obj_col).alias("__o"),
        )
        .join(sig, "pred")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("__s").alias("entity"),
                        F.col("domain_type").alias("etype"),
                    ),
                    F.struct(
                        F.col("__o").alias("entity"),
                        F.col("range_type").alias("etype"),
                    ),
                )
            ).alias("v")
        )
        .select("v.entity", "v.etype")
        .filter(F.col("entity").isNotNull())
        .groupBy("entity", "etype")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        votes.groupBy("entity")
        .agg(
            F.min(
                F.struct((-F.col("__c")).alias("__nc"), F.col("etype"))
            ).alias("__w"),
            F.sum("__c").cast("long").alias("n_total"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
        )
        .select(
            "entity",
            F.col("__w.etype").alias("entity_type"),
            (-F.col("__w.__nc")).cast("long").alias("n_votes"),
            "n_total",
            "n_types",
        )
    )


def type_violations(
    triples: DataFrame,
    signatures: DataFrame,
    subj_col: str = "subj_id",
    obj_col: str = "obj_id",
    types: DataFrame | None = None,
) -> DataFrame:
    """SHACL-style shape check: triples whose endpoints' INDUCED types
    contradict the predicate's declared signature.

    Composes ``infer_entity_types`` with a per-triple re-check: a triple
    violates when its subject's majority type differs from the
    predicate's domain type, or its object's from the range type. That
    catches the classic extraction confusion ("Berlin works_at Acme" —
    an entity the corpus overwhelmingly types as a place sitting in a
    person slot). One distinct over the triple key, two equi-joins
    against the induced-type table (entity-keyed — NOT broadcast: the
    entity vocabulary scales with the corpus), signature table
    broadcast. Returns one row per violating distinct triple:

      (subj, pred, obj, subj_type, obj_type, violation) where violation
      in ('domain', 'range', 'both').

    Entities whose induced type table has no row (they only appear
    under unsigned predicates) are not judged — absence of evidence is
    not a violation, mirroring the left-join + coalesce convention of
    the linking stage.

    ``types`` short-circuits the internal ``infer_entity_types`` call
    with a precomputed (entity, entity_type, ...) frame — a caller that
    also materializes the type table (e.g. ``submit_job --quality``)
    should pass it rather than pay the corpus-wide vote aggregation
    twice.
    """
    if types is None:
        types = infer_entity_types(triples, signatures, subj_col, obj_col)
    types = types.select("entity", "entity_type")
    sig = F.broadcast(signatures.select("pred", "domain_type", "range_type"))
    t = (
        triples.select(
            F.col(subj_col).alias("subj"),
            F.col("pred").alias("pred"),
            F.col(obj_col).alias("obj"),
        )
        .distinct()
        .join(sig, "pred")
    )
    st = types.select(
        F.col("entity").alias("subj"), F.col("entity_type").alias("subj_type")
    )
    ot = types.select(
        F.col("entity").alias("obj"), F.col("entity_type").alias("obj_type")
    )
    joined = t.join(st, "subj", "left").join(ot, "obj", "left")
    dom_bad = F.col("subj_type").isNotNull() & (
        F.col("subj_type") != F.col("domain_type")
    )
    rng_bad = F.col("obj_type").isNotNull() & (
        F.col("obj_type") != F.col("range_type")
    )
    return (
        joined.filter(dom_bad | rng_bad)
        .select(
            "subj",
            "pred",
            "obj",
            "subj_type",
            "obj_type",
            F.when(dom_bad & rng_bad, F.lit("both"))
            .when(dom_bad, F.lit("domain"))
            .otherwise(F.lit("range"))
            .alias("violation"),
        )
    )
