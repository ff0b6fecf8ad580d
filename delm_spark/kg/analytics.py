"""Post-construction KG analytics: triple provenance/support and entity
co-occurrence association strength (north-star extensions).

A KG built from noisy LLM extraction needs *support accounting* before
anyone trusts an edge: how many independent extractions back this triple,
from how many distinct conversations, across how many surface-form
variants, and where was it first seen. That support table is the standard
confidence input for downstream triple filtering (single-support triples
from one conversation are the classic hallucination signature). The
reference (Center-for-Applied-AI/delm) stops at per-row extraction
(`src/delm/delm.py` emits per-record results and never aggregates across
records), so these operators have no reference counterpart; they follow
the repo's oracle discipline — exact integer arithmetic only, so DuckDB
re-derives every value bit-for-bit.

Scale notes (100 TB / 1000-executor framing):

- `triple_provenance` is ONE hash aggregation shuffled on the canonical
  triple key. All measures (count, count-distinct, min-string) are
  map-side combinable except the two count-distincts, which Spark plans
  as a two-level expand+agg — still a single shuffle pass, no joins. Hot
  triples (a fact restated in millions of turns) land on one reducer but
  carry only partial counts, never row payloads.
- `entity_cooccurrence` NEVER self-joins the mention table on conv_id
  (the naive plan — a hot conversation with k entities would shuffle k^2
  join rows). Instead it aggregates each conversation's DISTINCT entity
  set (one shuffle, map-side pre-dedup via collect_set), emits the
  C(k,2) pairs with a native nested-transform expression (no Python, no
  join), and hash-aggregates pair counts (second shuffle). Per-entity
  conversation counts are an independent aggregate of the same exploded
  frame, joined back by broadcast.
  The association measure is the co-occurrence LIFT
  (`P(a,b) / (P(a)P(b))` = exp(PMI)) in exact micro-units:
  `(1_000_000 * N * c_ab) div (c_a * c_b)` — pure BIGINT arithmetic,
  aggregation-order independent, oracle-reproducible (no float log).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def triple_provenance(triples: DataFrame) -> DataFrame:
    """Support statistics per canonical triple.

    Returns one row per (subj_id, pred, obj_id) with
      n_support  — total supporting extractions,
      n_convs    — distinct conversations asserting it,
      n_surfaces — distinct (subj, obj) surface-form pairs,
      first_seen — lexicographically smallest `conv_id#turn_idx` pointer
                   (zero-padded turn index so string order == numeric
                   order), a deterministic provenance anchor.

    One groupBy — a single shuffle on the triple key.
    """
    first_ptr = F.min(
        F.concat(
            F.col("conv_id"),
            F.lit("#"),
            F.lpad(F.col("turn_idx").cast("string"), 6, "0"),
        )
    )
    return triples.groupBy("subj_id", "pred", "obj_id").agg(
        F.count(F.lit(1)).alias("n_support"),
        F.countDistinct(F.col("conv_id")).alias("n_convs"),
        F.countDistinct(
            F.concat_ws("|", F.col("subj"), F.col("obj"))
        ).alias("n_surfaces"),
        first_ptr.alias("first_seen"),
    )


def _sorted_pairs(arr: Column) -> Column:
    """All ordered pairs (a < b) of a SORTED distinct array, as an array
    of structs — a native nested-transform expression (whole-stage
    codegen-able HOF chain), no join, no Python.

    For an element at index i the partner slice is arr[i+1:]; `slice`
    clamps an over-long length, so size(arr) is a safe length bound.
    """
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _pair_counts(sets: DataFrame, col: str, pair: str, prefix: str, n: str) -> DataFrame:
    """(`prefix`_a, `prefix`_b, `n`) for every pair a < b of the sorted
    distinct arrays in column `col` of `sets`: `n` counts the rows whose
    array holds both. The pairs explode as the struct column `pair`."""
    return (
        sets.select(F.explode(_sorted_pairs(F.col(col))).alias(pair))
        .groupBy(
            F.col(f"{pair}.a").alias(f"{prefix}_a"),
            F.col(f"{pair}.b").alias(f"{prefix}_b"),
        )
        .agg(F.count(F.lit(1)).alias(n))
    )


def entity_cooccurrence(triples: DataFrame) -> DataFrame:
    """Entity-pair co-occurrence counts and exact-integer lift.

    Two entities co-occur when both are mentioned (as subject or object
    of any triple) in the same conversation. For each unordered pair
    (entity_a < entity_b):

      n_cooccur  — conversations mentioning both,
      n_a, n_b   — conversations mentioning each,
      lift_micro — floor(1e6 * N * n_cooccur / (n_a * n_b)) where N is
                   the number of conversations with >= 1 entity. Lift is
                   exp(PMI): > 1e6 means positive association. Exact
                   BIGINT arithmetic end to end.

    Plan shape: conv-level distinct entity sets (1 shuffle) -> native
    pair expansion (no join) -> pair counts (1 shuffle) -> two
    broadcast joins against the per-entity count table. A conversation
    with k entities emits C(k,2) pairs map-side; k is bounded by
    conversation length, not corpus size, so there is no skew blow-up.
    """
    ents = triples.select(
        F.col("conv_id").alias("__conv"),
        F.explode(F.array(F.col("subj_id"), F.col("obj_id"))).alias("__e"),
    ).distinct()
    per_conv = ents.groupBy("__conv").agg(
        F.sort_array(F.collect_set("__e")).alias("__es")
    )
    pair_counts = _pair_counts(per_conv, "__es", "__p", "entity", "n_cooccur")
    ent_counts = F.broadcast(
        ents.groupBy("__e").agg(F.count(F.lit(1)).alias("__c"))
    )
    # N as a broadcast one-row cross join: keeps the result a pure
    # DataFrame (no driver action) and AQE plans it as BNLJ of 1 row.
    n_convs = per_conv.agg(F.count(F.lit(1)).alias("__n"))
    ca = ent_counts.select(
        F.col("__e").alias("entity_a"), F.col("__c").alias("n_a")
    )
    cb = ent_counts.select(
        F.col("__e").alias("entity_b"), F.col("__c").alias("n_b")
    )
    return (
        pair_counts.join(ca, "entity_a")
        .join(cb, "entity_b")
        .crossJoin(F.broadcast(n_convs))
        .select(
            "entity_a",
            "entity_b",
            "n_cooccur",
            "n_a",
            "n_b",
            F.expr(
                "(1000000 * __n * n_cooccur) div (n_a * n_b)"
            ).cast("long").alias("lift_micro"),
        )
    )
