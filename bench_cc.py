#!/usr/bin/env python
"""Distributed connected-components scale bench (>=5M edges).

The CORRECTNESS query (connected_components_demo) proves the iterative
min-label + pointer-jumping path at 15k rows; this is the scale evidence
point: a deterministic mixed graph of STAR components (fan-in skew: 100
spokes per hub) and CHAIN components (diameter 64: the shape that breaks
plain O(diameter) propagation), run through the SAME
kg/canonicalize.connected_components code with driver_cutoff=0.

Reports: iteration count (pointer jumping => O(log diameter); asserted
<= 12 for diameter-64 chains where plain propagation would need 64),
per-iteration wall, shuffle write volume per iteration (event-log
TaskEnd metrics), the num_partitions derivation, and a closed-form
component census check (component count + exact size histogram + min-label
invariant). Steal-gated with event-log attribution (bench_util). Writes
BENCH/CC_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_cc.py [--scale S]`.
"""

from __future__ import annotations

from datetime import date

import bench_util

SCALE = bench_util.cli().scale
SPOKES = 100          # star fan-in
CHAIN_LEN = 64        # edges per chain (diameter 64)
# whole components only — a trailing partial star/chain would break the
# closed-form census
N_STAR_EDGES = bench_util.scaled(2_500_000, SCALE, SPOKES)
N_CHAIN_EDGES = bench_util.scaled(2_500_000, SCALE, CHAIN_LEN)
CHAIN_BASE = 10**10   # id offset separating chain nodes from star nodes


def make_edges(spark):
    """Star c: hub c*200 <- spokes c*200+1..+SPOKES. Chain c: nodes
    CHAIN_BASE + c*100 + (0..CHAIN_LEN), consecutive edges."""
    from pyspark.sql import functions as F

    stars = spark.range(0, N_STAR_EDGES, 1, 64).select(
        ((F.col("id") / SPOKES).cast("long") * 200).alias("src"),
        (
            (F.col("id") / SPOKES).cast("long") * 200
            + 1
            + F.col("id") % SPOKES
        ).alias("dst"),
    )
    chains = spark.range(0, N_CHAIN_EDGES, 1, 64).select(
        (
            F.lit(CHAIN_BASE)
            + (F.col("id") / CHAIN_LEN).cast("long") * 100
            + F.col("id") % CHAIN_LEN
        ).alias("src"),
    ).withColumn("dst", (F.col("src") + 1))
    return stars.unionByName(chains)


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.kg import canonicalize
    from delm_spark.kg.canonicalize import connected_components

    spark, evdir = bench_util.session("cc")
    edges, n_edges = bench_util.corpus(
        spark, f"cc_edges_{N_STAR_EDGES}_{N_CHAIN_EDGES}", make_edges
    )

    n_stars = N_STAR_EDGES // SPOKES
    n_chains = N_CHAIN_EDGES // CHAIN_LEN
    expected_components = n_stars + n_chains

    labels = {}

    def phase_cc():
        labels["cc"] = connected_components(edges, driver_cutoff=0)
        return {
            "n_nodes": labels["cc"].count(),
            "iterations": canonicalize.LAST_RUN_ITERATIONS,
            "iter_seconds": list(canonicalize.LAST_RUN_ITER_SECONDS),
        }

    (attempt,), _ = bench_util.run_phases(
        spark, evdir, [("connected_components", phase_cc)]
    )
    # the census below reads the last attempt's labels: every attempt
    # labels the same graph deterministically
    cc = labels["cc"]
    phase = attempt["phases"][0]
    run = {
        "wall_sec": phase["wall_sec"],
        "steal_pct": attempt["steal_pct"],
        "steal_gate_met": attempt["steal_gate_met"],
        **{k: phase[k] for k in ("n_nodes", "iterations", "iter_seconds")},
    }
    shuffle = {
        k: phase[k] for k in ("shuffle_write_mb", "shuffle_records", "n_tasks", "n_jobs")
    }

    # O(log diameter) evidence: plain propagation needs 64 rounds for the
    # chains; pointer jumping must land far under that
    assert run["iterations"] <= 12, run["iterations"]

    # closed-form component census: count, exact size histogram, min-label
    sizes = cc.groupBy("component").agg(
        F.count("*").alias("sz"), F.min("node").alias("mn")
    )
    census = {
        int(r["sz"]): int(r["n"])
        for r in sizes.groupBy("sz").agg(F.count("*").alias("n")).collect()
    }
    bad_min = sizes.filter(F.col("component") != F.col("mn")).count()
    assert bad_min == 0
    assert census == {SPOKES + 1: n_stars, CHAIN_LEN + 1: n_chains}, census

    # num_partitions derivation: ~1M symmetrized edges per partition,
    # clamped to the shuffle width
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    derived = max(1, min(width, 2 * n_edges // 1_000_000 + 1))

    summary = {
        "n_edges": n_edges,
        "n_star_components": n_stars,
        "n_chain_components": n_chains,
        "expected_components": expected_components,
        "census_ok": True,
        "num_partitions_derived": derived,
        "cores": spark.sparkContext.defaultParallelism,
        "run": run,
        "shuffle": shuffle,
        "edges_per_sec": round(n_edges / run["wall_sec"], 1),
    }
    iters = run["iter_seconds"]
    iter_rows = "\n".join(
        f"| {i + 1} | {s} |" for i, s in enumerate(iters)
    )
    md = f"""# BENCH — distributed connected components at {n_edges:,} edges

Generated {date.today().isoformat()} by bench_cc.py on local[{summary['cores']}]
(steal-gated <= {bench_util.STEAL_GATE}%; measured steal {run['steal_pct']}%).

Graph: {n_stars:,} star components ({SPOKES} spokes per hub — fan-in
skew) + {n_chains:,} chain components (diameter {CHAIN_LEN} — the shape
that defeats plain O(diameter) label propagation). 64-bit long node ids
(exercises the typed convergence sentinel). Same
`kg/canonicalize.connected_components` code as the oracle-checked demo,
`driver_cutoff=0`.

| metric | value |
|---|---|
| edges | {n_edges:,} |
| nodes labeled | {run['n_nodes']:,} |
| wall | {run['wall_sec']} s |
| edges/sec | {round(n_edges / run['wall_sec']):,} |
| iterations | {run['iterations']} (pointer jumping; plain propagation needs {CHAIN_LEN}) |
| shuffle write | {shuffle['shuffle_write_mb']} MB / {shuffle['shuffle_records']:,} records |
| jobs / tasks | {shuffle['n_jobs']} / {shuffle['n_tasks']} (window spans symmetrization, {run['iterations']} iteration checkpoints, AQE stage jobs, and the label count) |
| num_partitions (derived) | {derived} (~1M symmetrized edges per partition, clamped to {width}) |

Per-iteration wall (each row is ONE job: neighbor-min + pointer jump +
eager checkpoint, convergence observed via the same job's metrics):

| iteration | sec |
|---|---|
{iter_rows}

Correctness census (closed-form, no label-propagation logic): component
count == {expected_components:,} (= stars + chains), size histogram exactly
{{{SPOKES + 1}: {n_stars:,}, {CHAIN_LEN + 1}: {n_chains:,}}}, and every
component label equals the component's min node id. All asserted in-run.

100-TB read: per-iteration work is two hash-partitioned exchanges of the
label frame (bounded by node count, not edge count after the first
dedup), the iteration count is logarithmic in diameter, and the star
fan-in skew is absorbed by the groupBy partial aggregation (map-side
combine of neighbor-min messages) — no single-key hotspot reaches the
reduce side with more than its partial minima.
"""
    bench_util.report("CC_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
