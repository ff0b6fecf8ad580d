"""Temporal fact management: validity intervals per distinct triple and
point-in-time (AS OF) snapshots of the knowledge graph.

A KG built from a transcript stream is a HISTORY, not a state: "alice
works_at acme" observed in January and "alice works_at initech" in June
are both true extractions, and for a FUNCTIONAL predicate (at most one
current object per subject — the same contract kg/quality.py's
consistency gate and resolve_functional enforce) the later fact
supersedes the earlier one. The reference (Center-for-Applied-AI/delm,
``src/delm/delm.py``) emits per-record extractions with no temporal
model at all; this module is the standard temporal-KG treatment
(validity intervals / time-travel a la Iceberg snapshots, applied at
FACT granularity rather than table granularity).

``fact_intervals`` derives, per DISTINCT (subj, pred, obj):

- ``first_seen`` / ``last_seen`` / ``n_support`` — observation stats;
- ``valid_from`` = first_seen;
- ``valid_to`` — for functional predicates, the first_seen of the NEXT
  object asserted for the same (subj, pred) (successor in
  (first_seen, obj) order — the obj tie-break makes simultaneous
  assertions deterministic); null for the currently-valid fact and for
  every non-functional predicate (facts accumulate, nothing
  supersedes);
- ``is_current`` — valid_to IS NULL.

``facts_asof`` filters an interval table to the graph state at a
timestamp: ``valid_from <= ts < coalesce(valid_to, +inf)``.

Scale shape: one map-side-combinable aggregation over the occurrence
stream collapses it to DISTINCT FACTS (the only corpus-sized shuffle),
then the supersession window partitions by (subj, pred) over that
already-aggregated table — partition width = distinct objects ever
asserted per subject-predicate, bounded by vocabulary not by corpus
size, so a hot conversation cannot skew it. ``facts_asof`` is a pure
filter: at scale the interval table is the thing you materialize
(partitioned by pred), and every AS-OF query is a partition-pruned
scan, never a recomputation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def fact_intervals(
    triples: DataFrame,
    functional_preds: list[str] | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Collapse a timestamped (subj_id, pred, obj_id) occurrence stream
    to one validity interval per distinct fact. See module docstring for
    semantics."""
    functional_preds = functional_preds or []
    facts = (
        triples.select("subj_id", "pred", "obj_id", F.col(ts_col).alias("__ts"))
        .filter(F.col("__ts").isNotNull())
        .groupBy("subj_id", "pred", "obj_id")
        .agg(
            F.min("__ts").alias("first_seen"),
            F.max("__ts").alias("last_seen"),
            F.count(F.lit(1)).cast("long").alias("n_support"),
        )
    )
    w = Window.partitionBy("subj_id", "pred").orderBy("first_seen", "obj_id")
    successor = F.lead("first_seen").over(w)
    valid_to = F.when(
        F.col("pred").isin(*functional_preds) if functional_preds else F.lit(False),
        successor,
    ).otherwise(F.lit(None).cast(facts.schema["first_seen"].dataType))
    return facts.select(
        "subj_id",
        "pred",
        "obj_id",
        "first_seen",
        "last_seen",
        "n_support",
        F.col("first_seen").alias("valid_from"),
        valid_to.alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def facts_asof(intervals: DataFrame, ts) -> DataFrame:
    """The graph state at ``ts``: facts with valid_from <= ts < valid_to
    (open-ended for current facts). ``ts`` is anything Spark can compare
    against the interval columns (a timestamp/long literal or Column)."""
    t = F.lit(ts)
    return intervals.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
