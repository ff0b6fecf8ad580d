"""Community detection on the knowledge graph: synchronous label
propagation (LPA) with deterministic tie-breaks.

Connected components (kg/canonicalize.py) answers "what is transitively
linked"; communities answer the finer question "which entities form a
densely-connected module" — the standard KG post-processing step for
topic/domain grouping of entities and for scoping expensive downstream
passes (e.g. run disambiguation only within a community). The reference
(Center-for-Applied-AI/delm) stops at per-record extraction and has no
graph stage at all; public precedent for this exact operator shape is
GraphX's ``LabelPropagation.run`` (fixed-iteration synchronous LPA).

Algorithm (Raghavan et al. 2007, synchronous variant):
  * every node starts with its own id as label;
  * each round, every node adopts the label most frequent among its
    neighbors; ties break to the SMALLEST label — together with the
    synchronous schedule this makes the output a pure function of the
    edge set (no RNG, no visit order), so a DuckDB SQL replica
    reproduces it bit-for-bit;
  * a fixed number of rounds (GraphX semantics). Synchronous LPA can
    oscillate on bipartite structures — fixed rounds make that a defined
    outcome, not nontermination.

Scale shape: each round is ONE equi-join of the (undirected, de-duplicated)
edge list with the label table on the neighbor key, a hash aggregation on
(node, label) with map-side combine, and an argmax fold min(struct(-count,
label)) — two shuffles per round, both on node keys, no all-pairs
structure anywhere. Labels are localCheckpoint-ed per round so the plan
stays linear in `iters`. Hot nodes (celebrity entities) concentrate one
groupBy key but carry only (label, partial-count) rows, never payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Fixed-round synchronous LPA over a (src, dst) edge list.

    Self-loops are dropped and parallel edges collapse to one (simple
    undirected graph — vote counts are neighbor counts, not mention
    counts). Returns one row per node of the ORIGINAL edge list —
    including nodes whose every edge is a self-loop: they have no
    neighbors to vote, so they keep their own label and come back as
    singleton communities rather than silently disappearing. Output is
    (node, community, n_members), ordered by nothing (caller sorts).
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        # null endpoints are malformed rows, not nodes: without this
        # filter a (x, null) edge would seed a (node=null, lbl=null)
        # label row that no vote join ever touches and surface as a
        # garbage null community (connected_components filters the
        # same way)
        .filter(F.col("node").isNotNull())
        .distinct()
    )
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = nodes.withColumn("lbl", F.col("node")).localCheckpoint(
        eager=True
    )
    for _ in range(iters):
        votes = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"), F.col("lbl").alias("__vl"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        best = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("__c")).alias("__nc"), F.col("__vl"))
                ).alias("__b")
            )
            .select("node", F.col("__b.__vl").alias("__vlbl"))
        )
        # neighbor-less nodes have no vote row: left join keeps them on
        # their previous (= own) label every round
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("__vlbl"), F.col("lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select(
        "node",
        F.col("lbl").alias("community"),
        F.count(F.lit(1)).over(Window.partitionBy("lbl")).alias("n_members"),
    )
