"""Incremental KG maintenance: merge a new transcript batch's extraction
into existing nodes/edges tables.

The north-star pipeline materializes partitioned nodes/edges tables; in
production those tables are APPENDED to per ingestion batch, not rebuilt
from 10^12 turns. Incremental correctness here is exact, not
approximate, because every per-triple output is batch-local by
construction: the canonical map derives from the DICTIONARY alone
(kg/canonicalize.canonical_map — driver union-find over the alias graph,
corpus-independent) and embedding residue resolution is per-surface
against the same dictionary. Therefore

    merge(run_pipeline(batch1), run_pipeline(batch2))
        == run_pipeline(batch1 UNION batch2)          (as row sets)

— pinned by tests/test_incremental_kg.py, the same invariant style as
incremental_dedup (exact == from-scratch).

Re-delivered batches are the operational hazard (at-least-once ingestion
feeds): `merge_graph` drops incoming edges whose conv_id is already
present — exactly-once per conversation — so the merge is idempotent.

Scale shape: the edge merge is ONE left-anti semi-join of the (small)
incremental batch against the existing table's conv_id projection — a
pruned single-column scan (Iceberg: partition/bloom pruning serves it
without a full read); the union itself is a metadata append. Nodes are
re-derived from edge endpoints (two map-side projections + one dedup on
entity_id), preserving the build invariant nodes == endpoints(edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def nodes_from_edges(edges: DataFrame) -> DataFrame:
    """Node table implied by an edge table: every endpoint with its
    canonical component (run_pipeline's s5_nodes stage is this)."""
    return (
        edges.select(
            F.col("subj_id").alias("entity_id"),
            F.col("subj_canonical").alias("canonical_id"),
        )
        .unionByName(
            edges.select(
                F.col("obj_id").alias("entity_id"),
                F.col("obj_canonical").alias("canonical_id"),
            )
        )
        .dropDuplicates(["entity_id"])
    )


def merge_graph(
    existing_edges: DataFrame,
    new_edges: DataFrame,
    counters: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Merge a new batch's edges into the existing edge table with
    exactly-once-per-conversation semantics; returns (nodes, edges).

    Conversations already present in `existing_edges` are dropped from
    the incoming batch wholesale (a re-delivered batch is a no-op), so
    calling merge_graph twice with the same batch is idempotent.

    PRECONDITION — conv-disjoint batches: the merge == from-scratch
    invariant holds only when each conversation's turns arrive in ONE
    batch. A batch carrying NEW edges for a conv_id already merged (a
    conversation continuing across ingestion windows, or a corrected
    re-extraction) is dropped at conversation granularity, NOT merged
    turn-by-turn. Pass `counters` (any dict) to detect this: it is
    filled with `dropped_conv_ids` (incoming conversations suppressed by
    the exactly-once guard) and `fresh_conv_ids` — a nonzero drop count
    on a feed believed conv-disjoint means re-delivery or a split
    conversation upstream. The two counts cost two single-column
    distinct-count jobs on the (small) batch side only.

    Edges from genuinely new conversations append as-is — per-triple
    outputs are batch-local (see module docstring), so no
    recanonicalization pass is needed.
    """
    fresh = new_edges.join(
        existing_edges.select("conv_id").distinct(), "conv_id", "left_anti"
    )
    if counters is not None:
        n_incoming = new_edges.select("conv_id").distinct().count()
        n_fresh = fresh.select("conv_id").distinct().count()
        counters["dropped_conv_ids"] = n_incoming - n_fresh
        counters["fresh_conv_ids"] = n_fresh
    edges = existing_edges.unionByName(fresh)
    return nodes_from_edges(edges), edges


def graph_diff(edges_old: DataFrame, edges_new: DataFrame) -> DataFrame:
    """Set-level diff between two KG snapshots: rows in `edges_new` but
    not `edges_old` tagged 'added', rows in `edges_old` but not
    `edges_new` tagged 'removed' — the audit table an incremental
    maintenance run (merge_graph) publishes alongside the merged graph
    so downstream consumers can subscribe to changes instead of
    re-scanning the snapshot.

    The key is the columns the two tables share. Set
    semantics (distinct by key, null-safe equality — two null-keyed rows
    compare equal, like SQL EXCEPT), so support-duplicate edge rows
    collapse and the diff is symmetric-difference exact.

    Scale shape: two distincts + two anti joins, all hash-keyed on the
    same composite key (Spark plans one exchange per side which both the
    distinct and the join reuse). No broadcast of either snapshot, no
    all-pairs."""
    cols = [c for c in edges_old.columns if c in edges_new.columns]
    if not cols:
        raise ValueError("graph_diff: no shared key columns")
    old = edges_old.select(*cols).distinct()
    new = edges_new.select(*cols).distinct()

    def anti(left: DataFrame, right: DataFrame) -> DataFrame:
        cond = None
        for c in cols:
            term = left[c].eqNullSafe(right[c])
            cond = term if cond is None else cond & term
        return left.join(right, cond, "left_anti")

    return anti(new, old).withColumn(
        "change", F.lit("added")
    ).unionByName(anti(old, new).withColumn("change", F.lit("removed")))
