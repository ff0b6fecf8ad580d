"""KG consistency checks — the publish gate of a graph-materialization
pipeline.

Not a reference operator (DELM stops at extraction); required in practice
before a triple table is served: a KG built from 10^12 turns WILL contain
contradictions, and downstream consumers (link prediction, retrieval)
want them quantified per build. Every check is a single aggregation or
one self-equi-join — map-side combinable, no driver-side iteration, and
the whole report is one DataFrame so a scheduler can alert on it.

Checks over a linked triple table (subj_id, pred, obj_id):

* ``self_loop``          — subj_id == obj_id (extraction echo artifacts)
* ``duplicate_triple``   — extra copies of an identical (s, p, o) beyond
                           the first (idempotency regressions upstream)
* ``unresolved_subj`` /
  ``unresolved_obj``     — endpoints still carrying the ``mention:``
                           prefix (linking residue that needs dictionary
                           growth or a lower embedding threshold)
* ``functional_violation``— for predicates declared functional (an entity
                           works_at ONE org), subjects asserting >1
                           distinct object; counted as the number of
                           excess objects, i.e. distinct_obj - 1 summed
                           over violating subjects (floored at 0 per
                           group: an all-null-object group is a
                           null_endpoint problem, not negative credit
                           against real violations)
* ``null_endpoint``       — triples with a NULL subject or object
                           (malformed rows no other check would surface)

At 100 TB: self_loop/unresolved are map-only filters folded into one
scan-level aggregate; duplicate_triple and functional_violation are each
one hash aggregation on (s,p,o) / (p,s) — partial-aggregated map-side,
skew-tolerant because hot predicates spread over their subjects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixture-schema predicates where a subject may assert only one object
DEFAULT_FUNCTIONAL_PREDS = ["works_at", "reports_to", "located_in"]

MENTION_PREFIX = "mention:"


def consistency_report(
    triples: DataFrame,
    subj_col: str = "subj_id",
    obj_col: str = "obj_id",
    occurrence_cols: list[str] | None = None,
) -> DataFrame:
    """One (check_name, n_violations) row per check, always all checks (a
    clean build reports explicit zeros — absence of a row is not
    evidence of absence of a check).

    ``occurrence_cols`` selects the duplicate_triple granularity. The
    default (None) keeps the one-row-per-FACT contract: extra copies of
    an identical (subj, pred, obj) are violations. Over an
    OCCURRENCE-grained table (the pipeline's written edges keep one row
    per extraction, and a fact legitimately restated in a million turns
    is SUPPORT, not a defect), pass the provenance columns that make a
    row unique — e.g. ["conv_id", "turn_idx", "chunk_pos", "item_pos"]
    — and duplicate_triple counts extra copies of the full
    (triple + occurrence) key instead: genuine upstream idempotency
    regressions, zero on a healthy build."""
    s, p, o = F.col(subj_col), F.col("pred"), F.col(obj_col)

    # one scan: the three row-local checks as conditional counts
    row_local = triples.select(
        F.sum((s == o).cast("long")).alias("self_loop"),
        F.sum((s.isNull() | o.isNull()).cast("long")).alias("null_endpoint"),
        F.sum(F.startswith(s, F.lit(MENTION_PREFIX)).cast("long")).alias(
            "unresolved_subj"
        ),
        F.sum(F.startswith(o, F.lit(MENTION_PREFIX)).cast("long")).alias(
            "unresolved_obj"
        ),
    )

    dup_key = [s.alias("s"), p.alias("p"), o.alias("o")] + [
        F.col(c) for c in (occurrence_cols or [])
    ]
    dup = (
        triples.groupBy(*dup_key)
        .agg((F.count(F.lit(1)) - 1).alias("extra"))
        .agg(F.sum("extra").alias("duplicate_triple"))
    )

    func = (
        triples.filter(p.isin(DEFAULT_FUNCTIONAL_PREDS))
        .groupBy(p.alias("p"), s.alias("s"))
        .agg(
            F.greatest(F.count_distinct(o) - 1, F.lit(0)).alias("excess")
        )
        .agg(F.sum("excess").alias("functional_violation"))
    )

    wide = row_local.crossJoin(dup).crossJoin(func)  # three 1-row frames
    checks = [
        "self_loop",
        "duplicate_triple",
        "unresolved_subj",
        "unresolved_obj",
        "functional_violation",
        "null_endpoint",
    ]
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("check_name"),
                        F.coalesce(F.col(c), F.lit(0)).cast("long").alias(
                            "n_violations"
                        ),
                    )
                    for c in checks
                ]
            )
        ).alias("r")
    )
    return stacked.select("r.check_name", "r.n_violations")


def functional_violations(triples: DataFrame) -> DataFrame:
    """The violating (pred, subj_id) groups of the
    ``DEFAULT_FUNCTIONAL_PREDS`` themselves, with their distinct object
    count — the drill-down a data steward triages from."""
    return (
        triples.filter(F.col("pred").isin(DEFAULT_FUNCTIONAL_PREDS))
        .groupBy("pred", "subj_id")
        .agg(F.count_distinct(F.col("obj_id")).alias("n_objects"))
        .filter(F.col("n_objects") > 1)
    )


def resolve_functional(
    triples: DataFrame,
    subj_col: str = "subj_id",
    obj_col: str = "obj_id",
) -> DataFrame:
    """Contradiction RESOLUTION for functional predicates — the repair
    step after ``functional_violations`` has quantified the damage.

    For each (subj, pred) group of a functional predicate, every
    asserted object becomes one row ranked by evidential strength:
    support count (more independent extractions win) desc, then
    last-seen pointer (more recent assertions win — people change
    employers) desc, then object id asc as the total-order tiebreak.
    Rank 1 is the ``current`` fact; the rest are ``superseded`` — kept,
    not dropped, because the losing assertions are the audit trail a
    steward reviews and a temporal KG keeps as history.

    Returns (subj, pred, obj, n_support, last_seen, rank, status), one
    row per distinct asserted object. ``last_seen`` is the
    lexicographically greatest ``conv_id#turn_idx`` pointer with a
    zero-padded turn index, so string max == chronological max under
    the fixture's sortable conv ids — the same deterministic-pointer
    convention as ``triple_provenance``'s first_seen.

    Scale shape: one hash aggregation on (subj, pred, obj) whose FIRST
    exchange carries map-side-combined partials (a hot fact restated in
    millions of turns shuffles as one count row per mapper, not a
    million payload rows), then a row_number window on (subj, pred)
    whose second exchange moves only the AGGREGATED rows — one row per
    distinct asserted object, corpus-size-independent. Collapsing to a
    single exchange by pre-partitioning on (subj, pred) would force the
    RAW rows through the shuffle un-combined; two exchanges is strictly
    fewer bytes whenever facts repeat, which is the regime this
    operator exists for. Window width = distinct objects per
    (subj, pred): bounded by assertion diversity, not corpus size.
    """
    from pyspark.sql.window import Window

    per_obj = (
        triples.filter(F.col("pred").isin(DEFAULT_FUNCTIONAL_PREDS))
        .groupBy(
            F.col(subj_col).alias("subj"),
            F.col("pred").alias("pred"),
            F.col(obj_col).alias("obj"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_support"),
            F.max(
                F.concat_ws(
                    "#",
                    F.col("conv_id"),
                    F.lpad(F.col("turn_idx").cast("string"), 6, "0"),
                )
            ).alias("last_seen"),
        )
    )
    w = Window.partitionBy("subj", "pred").orderBy(
        F.col("n_support").desc(), F.col("last_seen").desc(), F.col("obj").asc()
    )
    return per_obj.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).withColumn(
        "status",
        F.when(F.col("rank") == 1, F.lit("current")).otherwise(
            F.lit("superseded")
        ),
    )
