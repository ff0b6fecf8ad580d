"""Deterministic random walks over the knowledge graph — the corpus
generator for graph-embedding training (DeepWalk / node2vec family,
Perozzi et al. 2014).

Graph-embedding trainers consume walk sequences, not edge lists; at
100 TB the walk corpus is produced by the same engine that built the
graph. This implements first-order (DeepWalk-style) walks with a
HASH-SEEDED next-hop choice instead of an RNG: from node u at step s the
walk moves to the neighbor v minimizing md5(u '>' v '#' s '|' seed).
Each md5 input is distinct, so argmin is unique: the whole walk corpus
is a pure function of (edges, length, seed) — reproducible across
retries, engines, and partitionings (the property the repo's DuckDB
oracles require, and the property that makes a 100-TB walk job safely
re-runnable per partition). A hash-ranked uniform choice is exactly how
distributed walk engines derandomize (e.g. reservoir-by-hash sampling);
statistically it is a uniform draw per (node, step).

The reference (Center-for-Applied-AI/delm) has no graph stage at all;
this extends the repo's kg family (canonicalize/graph/communities).

Scale notes: one equi-join + one aggregation per step, both keyed on the
current node — L steps = L bounded shuffles, never an all-pairs or
per-walk Python loop. The frontier holds exactly one row per walk at
every step (the argmin aggregation collapses the neighbor fan-out
map-side via min_by partial aggregation), so the working set never
exceeds n_walks rows regardless of degree skew; a celebrity node fans
out to its degree within one join stage only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def random_walks(edges: DataFrame, length: int = 4, seed: str = "walk") -> DataFrame:
    """One `length`-hop walk from every node of the undirected simple
    graph induced by the (src, dst) `edges` (self-loops dropped,
    direction ignored).

    Returns (walk_id, path, end_node): walk_id is the start node, path
    the '>'-joined node sequence (length+1 nodes). Symmetrizing the
    edge list guarantees every start node has >= 1 neighbor, so walks
    never dead-end and all paths have equal length.
    """
    if length < 1:
        raise ValueError(f"length must be >= 1, got {length}")
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    state = sym.select(F.col("a").alias("walk_id")).distinct().select(
        "walk_id",
        F.col("walk_id").alias("cur"),
        F.col("walk_id").alias("path"),
    )
    for s in range(1, length + 1):
        key = F.md5(
            F.concat(
                F.col("cur"), F.lit(">"), F.col("b"),
                F.lit(f"#{s}|{seed}"),
            )
        )
        state = (
            state.join(sym, state["cur"] == sym["a"])
            # cur/path are constant per walk_id; keeping them as group
            # keys (not first()) keeps the aggregation deterministic
            .groupBy("walk_id", "path")
            .agg(F.min_by("b", key).alias("cur"))
            .select(
                "walk_id",
                "cur",
                F.concat(F.col("path"), F.lit(">"), F.col("cur")).alias(
                    "path"
                ),
            )
        )
    return state.select("walk_id", "path", F.col("cur").alias("end_node"))
