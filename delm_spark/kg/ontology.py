"""Ontology induction: predicate canonicalization over the extracted KG.

LLM extraction emits relation SURFACE FORMS, not ontology predicates —
the same fact arrives as ``works_at`` from one prompt phrasing and
``employed_by`` from another. The repo canonicalizes *entities*
(dictionary + embedding linking + connected components in
``kg/canonicalize.py``); this module closes the symmetric gap for
*predicates*: two predicates that assert largely the same set of
(subj_id, obj_id) pairs are surface variants of one relation, and the
extensional-overlap signal (distributional similarity of their pair
sets) is the standard unsupervised cue for collapsing them.

The reference (Center-for-Applied-AI/delm) has no predicate layer at all
— ``src/delm/schemas/schemas.py`` validates each record against a fixed
Pydantic schema and never relates predicates across records — so this is
a north-star extension following the repo's oracle discipline: exact
BIGINT arithmetic only (Jaccard in micro-units via integer div), so
DuckDB re-derives every value bit-for-bit.

Scale notes (100 TB / 1000-executor framing):

- The pair table is ONE distinct over (pred, subj, obj) — a single
  shuffle on the composite key, map-side pre-aggregated.
- Predicate co-counts NEVER self-join the pair table on (subj, obj)
  (the naive plan; a hot pair asserted under k predicates would emit
  k^2 join rows through a shuffle). Instead each (subj, obj) group's
  DISTINCT predicate set is collected (bounded by the predicate
  vocabulary, which is tiny relative to the corpus — thousands at
  most), and the C(k,2) predicate pairs are expanded with the native
  nested-transform expression shared with ``entity_cooccurrence`` —
  no join, no Python, whole-stage codegen.
- Everything after the co-count aggregation lives in PREDICATE space:
  |vocabulary| rows, not |corpus| rows. The per-predicate size table
  broadcasts; the similarity graph and its connected components are
  vocabulary-sized, so the CC step takes ``connected_components``'s
  driver union-find fast path by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from delm_spark.kg.analytics import _pair_counts
from delm_spark.kg.canonicalize import connected_components

#: predicate pairs below this extensional Jaccard (micro-units) are not
#: similar
MIN_JACCARD_MICRO = 500_000


def _pair_table(triples: DataFrame) -> DataFrame:
    """Distinct (pred, subj, obj) — the ONE corpus-sized shuffle of this
    module. Both public entry points derive everything from this single
    subplan so Spark's ReuseExchange dedupes the scan+distinct when they
    compose into one query."""
    return triples.select(
        F.col("pred").alias("__p"),
        F.col("subj_id").alias("__s"),
        F.col("obj_id").alias("__o"),
    ).distinct()


def _similarity_from_pairs(
    pairs: DataFrame, sizes: DataFrame, min_jaccard_micro: int
) -> DataFrame:
    per_so = pairs.groupBy("__s", "__o").agg(
        F.sort_array(F.collect_set("__p")).alias("__ps")
    )
    co = _pair_counts(per_so, "__ps", "__pp", "pred", "n_shared")
    sizes = F.broadcast(sizes)
    return (
        co.join(sizes.select(F.col("__p").alias("pred_a"), F.col("__n").alias("n_a")), "pred_a")
        .join(sizes.select(F.col("__p").alias("pred_b"), F.col("__n").alias("n_b")), "pred_b")
        .select(
            "pred_a",
            "pred_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("(1000000 * n_shared) div (n_a + n_b - n_shared)")
            .cast("long")
            .alias("jaccard_micro"),
        )
        .filter(F.col("jaccard_micro") >= F.lit(min_jaccard_micro))
    )


def predicate_similarity(triples: DataFrame) -> DataFrame:
    """Extensional-overlap similarity between predicate pairs.

    For each unordered predicate pair (pred_a < pred_b) sharing at least
    one distinct (subj, obj) pair:

      n_shared      — distinct (subj, obj) pairs asserted under BOTH,
      n_a, n_b      — distinct pairs asserted under each,
      jaccard_micro — floor(1e6 * n_shared / (n_a + n_b - n_shared)),
                      exact BIGINT end to end.

    Rows below ``MIN_JACCARD_MICRO`` are dropped. Plan shape: one
    distinct (shuffle on the triple key) -> per-(subj, obj) predicate
    set (shuffle on the pair key) -> native pair expansion (no join) ->
    vocabulary-sized aggregation -> two broadcast joins against the
    per-predicate size table.
    """
    pairs = _pair_table(triples)
    sizes = pairs.groupBy(F.col("__p")).agg(F.count(F.lit(1)).alias("__n"))
    return _similarity_from_pairs(pairs, sizes, MIN_JACCARD_MICRO)


def canonicalize_predicates(
    triples: DataFrame, min_jaccard_micro: int = MIN_JACCARD_MICRO
) -> DataFrame:
    """Collapse predicate surface variants to canonical predicates.

    Builds the ``predicate_similarity`` graph at ``min_jaccard_micro``,
    takes connected components over it (min-label canonical — the
    lexicographically smallest predicate names the relation, matching
    the entity-canonicalization convention in ``kg/canonicalize.py``),
    and returns one row per DISTINCT input predicate:

      pred           — the surface predicate,
      canonical_pred — component representative (= pred for predicates
                       with no similar partner: singletons survive),
      n_members      — predicates in the cluster,
      n_pairs        — distinct (subj, obj) pairs asserted under pred.

    The similarity graph is vocabulary-sized, so ``connected_components``
    resolves it on the driver union-find fast path; the final join of
    the vocabulary against the component map broadcasts both sides.
    The vocabulary (and its n_pairs, which IS the similarity stage's
    per-predicate size) derives from the SAME pair-table subplan the
    similarity graph uses — one corpus-sized distinct, not two.
    """
    # the CC step is its own action (driver union-find collects the
    # vocabulary-sized edge list), so without a checkpoint the corpus
    # scan+distinct would re-run for the final labeled query
    pairs = _pair_table(triples).localCheckpoint(eager=False)
    sizes = pairs.groupBy(F.col("__p")).agg(F.count(F.lit(1)).alias("__n"))
    sim = _similarity_from_pairs(pairs, sizes, min_jaccard_micro)
    comp = connected_components(
        sim.select(F.col("pred_a").alias("src"), F.col("pred_b").alias("dst"))
    )
    vocab = sizes.select(
        F.col("__p").alias("pred"), F.col("__n").alias("n_pairs")
    )
    labeled = vocab.join(
        F.broadcast(comp.withColumnRenamed("node", "pred")), "pred", "left"
    ).select(
        "pred",
        F.coalesce(F.col("component"), F.col("pred")).alias("canonical_pred"),
        "n_pairs",
    )
    members = labeled.groupBy("canonical_pred").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return labeled.join(F.broadcast(members), "canonical_pred").select(
        "pred", "canonical_pred", "n_members", "n_pairs"
    )
