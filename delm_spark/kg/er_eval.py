"""Entity-resolution clustering evaluation: pairwise P/R/F1 and cluster
counts of a predicted canonicalization against a gold one — WITHOUT
materializing pairs.

The north-star contract for this pipeline is P/R >= 0.95 against the
reference's outputs; once canonicalization (kg/canonicalize.py),
linking (kg/linking.py), or mention consolidation (kg/consolidate.py)
produces a (node -> cluster) assignment, this module scores it the way
the ER literature does (pairwise metrics over co-clustered pairs;
Menestrina et al., "Evaluating Entity Resolution Results", VLDB 2010 —
public methodology, no reference counterpart: DELM stops at per-record
extraction and never clusters).

Scale shape — the whole point of this implementation: a clustering of
N nodes induces up to sum C(n_c, 2) pairs, which is O(N^2) for skewed
clusters; enumerating them is a job killer at web scale. But every
pairwise count is a function of CLUSTER SIZES only:

- predicted-pair count   = sum over predicted clusters of C(n, 2)
- gold-pair count        = sum over gold clusters of C(n, 2)
- agreeing-pair count    = sum over nonempty (pred, gold) intersection
  CELLS of C(n_cell, 2) — two nodes are a true-positive pair iff they
  share both labels, i.e. live in the same cell.

So the job is three map-side-combinable size censuses (one groupBy
each, the largest keyed by the (pred, gold) label pair) followed by a
constant-size arithmetic reduction. Exact BIGINT throughout — C(n,2)
= n*(n-1)/2 is always an integer, and the final ratios are emitted in
integer micro-units (1e6-scaled, floor division) so the result is
bit-reproducible by any SQL engine regardless of aggregation order.

Nodes present on only one side are scored as singletons on the missing
side (the union of nodes is kept; a node with no cluster participates
in no same-cluster pair, which is exactly how a singleton behaves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MICRO = 1_000_000


def _pair_count(labeled: DataFrame, label_cols: list[str]) -> DataFrame:
    """sum over groups of C(n,2), one combinable census + 1-row agg."""
    return (
        labeled.groupBy(*label_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            # integer DIV, not float /: pair counts overflow double's
            # 2^53 integer range long before they overflow BIGINT
            F.coalesce(F.sum(F.expr("(n * (n - 1)) DIV 2")), F.lit(0))
            .cast("long")
            .alias("pairs")
        )
    )


def pairwise_er_metrics(predicted: DataFrame, gold: DataFrame) -> DataFrame:
    """Score a predicted (node, cluster) assignment against a gold one.

    Returns ONE row: (n_nodes, n_pred_clusters, n_gold_clusters,
    pred_pairs, gold_pairs, agree_pairs, precision_micro, recall_micro,
    f1_micro) — counts as BIGINT, ratios in integer micro-units
    (floor((1e6 * num) / den); 1e6 when the denominator is 0, the
    degenerate all-singletons-vs-all-singletons perfect score).

    Scores over the UNION of nodes, treating a node missing from one side
    as a singleton there.
    """
    p = predicted.select(
        F.col("node").alias("node"), F.col("cluster").alias("pc")
    ).distinct()
    g = gold.select(
        F.col("node").alias("node"), F.col("cluster").alias("gc")
    ).distinct()
    joined = p.join(g, "node", "full_outer")
    # a side-missing node is its own singleton: mint a per-node label
    # that can never collide with a real cluster id
    both = joined.select(
        "node",
        F.coalesce(F.col("pc"), F.concat(F.lit("\x00p:"), "node")).alias(
            "pc"
        ),
        F.coalesce(F.col("gc"), F.concat(F.lit("\x00g:"), "node")).alias(
            "gc"
        ),
    ).localCheckpoint(eager=True)

    pred_pairs = _pair_count(both, ["pc"]).withColumnRenamed(
        "pairs", "pred_pairs"
    )
    gold_pairs = _pair_count(both, ["gc"]).withColumnRenamed(
        "pairs", "gold_pairs"
    )
    agree_pairs = _pair_count(both, ["pc", "gc"]).withColumnRenamed(
        "pairs", "agree_pairs"
    )
    census = both.select(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.count_distinct("pc").cast("long").alias("n_pred_clusters"),
        F.count_distinct("gc").cast("long").alias("n_gold_clusters"),
    )
    # all four are 1-row frames: the cross joins are degenerate
    out = (
        census.crossJoin(pred_pairs)
        .crossJoin(gold_pairs)
        .crossJoin(agree_pairs)
    )
    micro = MICRO
    prec = F.when(
        F.col("pred_pairs") > 0,
        F.expr(f"({micro} * agree_pairs) DIV pred_pairs"),
    ).otherwise(F.lit(micro))
    rec = F.when(
        F.col("gold_pairs") > 0,
        F.expr(f"({micro} * agree_pairs) DIV gold_pairs"),
    ).otherwise(F.lit(micro))
    out = out.select(
        "*",
        prec.cast("long").alias("precision_micro"),
        rec.cast("long").alias("recall_micro"),
    )
    f1 = F.when(
        (F.col("precision_micro") + F.col("recall_micro")) > 0,
        F.expr(
            "(2 * precision_micro * recall_micro) "
            "DIV (precision_micro + recall_micro)"
        ),
    ).otherwise(F.lit(0))
    return out.select("*", f1.cast("long").alias("f1_micro"))
