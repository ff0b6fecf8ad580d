#!/usr/bin/env python
"""Graph-analytics scale bench (~5M edges).

The CORRECTNESS queries (kg_degree_distribution, kg_two_hop_entities,
pagerank_demo, triangle_blocks_demo) prove kg/graph.py semantics at
fixture scale; this is the scale evidence point: a deterministic
block graph (B blocks of 64 nodes, chain i->i+1 plus skip i->i+2 edges
per block) large enough that every phase shuffles for real, with every
answer closed-form:

- degree histogram: exactly {2: 2B, 3: 2B, 4: 60B}
- k-hop BFS from 1000 block heads: hop census {0:1000, 1:2000, 2:2000, 3:2000}
- PageRank: rank mass == 1, and rank is a pure function of the in-block
  offset (64 equivalence classes across B blocks — asserted per offset)
- triangles: exactly 62 * B

Per-phase wall and event-log attribution (bench_util). Writes
BENCH/GRAPH_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_graph.py [--scale S]`.
"""

from __future__ import annotations

from datetime import date

import bench_util

SCALE = bench_util.cli().scale
B = bench_util.scaled(40_000, SCALE)  # 64-node blocks
N_NODES = B * 64
N_EDGES = B * (63 + 62)
KHOP_SEEDS = min(1000, B)  # one seed per block head


def make_edges(spark):
    from pyspark.sql import functions as F

    ids = spark.range(0, N_NODES, 1, 64)
    chain = ids.filter(F.col("id") % 64 <= 62).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    skip = ids.filter(F.col("id") % 64 <= 61).select(
        F.col("id").alias("src"), (F.col("id") + 2).alias("dst")
    )
    return chain.unionByName(skip)


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.kg.graph import (
        degree_distribution,
        k_hop_neighbors,
        pagerank,
        triangle_count,
    )

    spark, evdir = bench_util.session("graph")
    edges, n_edges = bench_util.corpus(spark, f"graph_edges_{B}", make_edges)
    assert n_edges == N_EDGES, n_edges

    def phase_degree():
        hist = {
            int(r["degree"]): int(r["n_nodes"])
            for r in degree_distribution(edges).collect()
        }
        assert hist == {2: 2 * B, 3: 2 * B, 4: 60 * B}, hist
        return {"rows": len(hist)}

    def phase_khop():
        seeds = spark.range(0, KHOP_SEEDS).select((F.col("id") * 64).alias("node"))
        vis = k_hop_neighbors(edges, seeds, k=3)
        census = {
            int(r["hops"]): int(r["n"])
            for r in vis.groupBy("hops").agg(F.count("*").alias("n")).collect()
        }
        assert census == {
            0: KHOP_SEEDS,
            1: 2 * KHOP_SEEDS,
            2: 2 * KHOP_SEEDS,
            3: 2 * KHOP_SEEDS,
        }, census
        return {"visited": sum(census.values())}

    def phase_pagerank():
        pr = pagerank(edges, iters=3)
        agg = pr.agg(
            F.sum("rank").alias("mass"), F.count("*").alias("n")
        ).collect()[0]
        assert abs(agg["mass"] - 1.0) < 1e-6, agg["mass"]
        assert agg["n"] == N_NODES
        # rank must be a pure function of the in-block offset: B blocks
        # collapse to 64 equivalence classes
        classes = (
            pr.groupBy((F.col("node") % 64).alias("off"))
            .agg(F.countDistinct(F.round("rank", 12)).alias("k"))
            .agg(F.max("k").alias("mx"), F.count("*").alias("n_off"))
            .collect()[0]
        )
        assert classes["mx"] == 1 and classes["n_off"] == 64, classes
        return {"mass": round(float(agg["mass"]), 9)}

    def phase_triangles():
        n_tri = triangle_count(edges).collect()[0]["n_triangles"]
        assert n_tri == 62 * B, n_tri
        return {"n_triangles": int(n_tri)}

    phases = [
        ("degree_distribution", phase_degree),
        ("k_hop_bfs_k3", phase_khop),
        ("pagerank_3iters", phase_pagerank),
        ("triangles", phase_triangles),
    ]

    (run,), _ = bench_util.run_phases(spark, evdir, phases)
    summary = {
        "n_edges": n_edges,
        "n_nodes": N_NODES,
        "blocks": B,
        "cores": spark.sparkContext.defaultParallelism,
        **run,
    }

    rows = "\n".join(
        f"| {r['phase']} | {r['wall_sec']} | {r['shuffle_write_mb']} | {r['n_jobs']} |"
        for r in run["phases"]
    )
    md = f"""# BENCH — graph analytics at {n_edges:,} edges / {N_NODES:,} nodes

Generated {date.today().isoformat()} by bench_graph.py on local[{summary['cores']}]
(steal gate <= {bench_util.STEAL_GATE}%: {'MET' if run['steal_gate_met'] else 'NOT met — walls are upper bounds'}; best-attempt steal {run['steal_pct']}%).

Graph: {B:,} independent 64-node blocks, each carrying a chain (i, i+1)
and a skip (i, i+2) edge set — every phase's answer is closed-form and
asserted in-run (degree histogram {{2: {2*B:,}, 3: {2*B:,}, 4: {60*B:,}}},
BFS hop census from {KHOP_SEEDS:,} seeds, PageRank mass == 1 with rank a
pure function of the in-block offset across all blocks, {62*B:,}
triangles). Same `kg/graph.py` operators as the oracle-checked demos.

| phase | wall (s) | shuffle write (MB) | jobs |
|---|---|---|---|
{rows}

100-TB read: every phase is equi-join + hash-aggregation shapes.
Degree is two map-side-combinable aggregations (the reduce side of a hot
entity carries one partial count per map task, not its edge list). BFS
cost per hop is bounded by the frontier, not the graph — visited nodes
are anti-joined out before expansion. PageRank shuffles the rank frame
once per iteration on dst with map-side partial sums; dangling mass is a
broadcast one-row aggregate folded into the same plan, so each iteration
is a single checkpoint action (AQE splits it into query-stage jobs, which
is what the job counts above reflect). Triangle
wedges are generated at each edge's lower-(degree, id) endpoint, which
bounds per-apex fan-out by arboricity — hub-skewed graphs cannot blow up
the wedge count.
"""
    bench_util.report("GRAPH_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
