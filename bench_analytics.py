#!/usr/bin/env python
"""Round-5 analytics-family scale bench: LPA communities, exact-integer
k-means, deterministic random walks, cardinality sketches, and
tool-sequence mining — each at a scale where every stage shuffles for
real, each with a CLOSED-FORM or cross-plan assertion (no
compare-to-self):

- communities: 50,000 disjoint 12-cliques. Synchronous LPA provably
  converges on a clique by round 2 to the clique's min node id (round 1:
  everyone adopts the min except the min node; round 2: the min's label
  is every node's majority), so the 4-round census must be exactly
  {50,000 communities x 12 members, label == 12 * (node div 12)}.
- k-means: 1M 16-dim vectors; the scale claims are determinism
  (bit-identical assignment under a different input partitioning — the
  operator's exact-integer headline) and the zero-corpus-shuffle
  assignment shape; walls give vectors/sec.
- walks: 4-hop walks from all 600k clique nodes — walks can never leave
  their clique (closed form: end_node div 12 == walk_id div 12 for every
  walk) and every path has exactly 5 nodes.
- sketches: 20M rows with exactly 3,000,000 distinct keys; KMV (k=256)
  and HLL (m=256) estimates must land within 4 sigma (25% / 26%).
- tool sequences: 200k-conversation synthetic transcripts; total bigram
  occurrences cross-checked against an independent per-conversation
  count plan (sum of max(tool_turns - 1, 0)).

Per-phase wall and event-log attribution (bench_util). Writes
BENCH/ANALYTICS_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_analytics.py [--scale S]`.
"""

from __future__ import annotations

import json
from datetime import date

import bench_util

SCALE = bench_util.cli().scale
N_CLIQUES = bench_util.scaled(50_000, SCALE)
CLIQUE = 12
N_NODES = N_CLIQUES * CLIQUE
N_EDGES = N_CLIQUES * (CLIQUE * (CLIQUE - 1) // 2)
N_VECS = bench_util.scaled(1_000_000, SCALE)
DIM = 16
N_SKETCH_ROWS = bench_util.scaled(20_000_000, SCALE)
N_DISTINCT = bench_util.scaled(3_000_000, SCALE)
N_CONVS = bench_util.scaled(200_000, SCALE)


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.data.synthetic import generate_transcripts
    from delm_spark.kg.communities import label_propagation
    from delm_spark.kg.trajectory import tool_sequences
    from delm_spark.kg.walks import random_walks
    from delm_spark.operators.cluster import kmeans_cluster
    from delm_spark.operators.sketch import hll_cardinality, kmv_distinct

    spark, evdir = bench_util.session("analytics")

    # ---- inputs, materialized once (untimed) -----------------------------
    def make_edges(spark):
        pairs = [(i, j) for i in range(CLIQUE) for j in range(i + 1, CLIQUE)]
        offs = F.array(
            *[F.struct(F.lit(i).alias("i"), F.lit(j).alias("j")) for i, j in pairs]
        )
        return spark.range(0, N_CLIQUES, 1, 64).select(
            (F.col("id") * CLIQUE).alias("base"), F.explode(offs).alias("p")
        ).select(
            F.lpad((F.col("base") + F.col("p.i")).cast("string"), 7, "0").alias("src"),
            F.lpad((F.col("base") + F.col("p.j")).cast("string"), 7, "0").alias("dst"),
        )

    edges, n = bench_util.corpus(spark, f"an_edges_{N_CLIQUES}", make_edges)
    assert n == N_EDGES

    def make_vecs(spark):
        # center c = vec_id % 8 at coordinate 100*c per dim, plus a small
        # deterministic jitter — clusters are trivially separable, which
        # keeps the DETERMINISM assertion the load-bearing one
        return spark.range(0, N_VECS, 1, 64).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(DIM - 1)),
                lambda d: (
                    (F.col("id") % 8) * 100.0
                    + ((F.col("id") * 31 + d) % 7) * 0.01
                ).cast("double"),
            ).alias("embedding"),
        )

    vecs, n = bench_util.corpus(spark, f"an_vecs_{N_VECS}", make_vecs)
    assert n == N_VECS

    trans, n_turns = bench_util.corpus(
        spark,
        f"an_trans_{N_CONVS}",
        lambda spark: generate_transcripts(spark, n_convs=N_CONVS),
    )

    # ---- phases -----------------------------------------------------------
    def phase_lpa():
        out = label_propagation(edges, iters=4)
        bad = out.filter(
            F.col("community")
            != F.lpad(
                ((F.col("node").cast("long") - F.col("node").cast("long") % CLIQUE)).cast("string"),
                7,
                "0",
            )
        ).count()
        assert bad == 0, f"{bad} nodes not labeled with their clique min"
        census = out.groupBy("n_members").agg(F.count("*").alias("n")).collect()
        assert {int(r["n_members"]): int(r["n"]) for r in census} == {
            CLIQUE: N_NODES
        }
        return {"nodes": N_NODES, "edges": N_EDGES}

    def phase_kmeans():
        fp = F.expr("bit_xor(xxhash64(vec_id, cluster_id))").alias("h")
        a = kmeans_cluster(vecs.repartition(8), k=8, iters=3)
        ha = a.agg(fp, F.count("*").alias("n")).collect()[0]
        assert ha["n"] == N_VECS
        b = kmeans_cluster(vecs.repartition(64), k=8, iters=3)
        hb = b.agg(fp).collect()[0]
        assert ha["h"] == hb["h"], "assignment not partitioning-independent"
        return {"vectors": N_VECS, "dim": DIM, "runs_compared": 2}

    def phase_walks():
        w = random_walks(edges, length=4, seed="bench")
        agg = w.agg(
            F.count("*").alias("n"),
            F.sum(
                (F.size(F.split("path", ">")) != 5).cast("int")
            ).alias("bad_len"),
            F.sum(
                (
                    F.floor(F.col("end_node").cast("long") / CLIQUE)
                    != F.floor(F.col("walk_id").cast("long") / CLIQUE)
                ).cast("int")
            ).alias("escaped"),
        ).collect()[0]
        assert agg["n"] == N_NODES and agg["bad_len"] == 0 and agg["escaped"] == 0, agg
        return {"walks": N_NODES, "hops": 4 * N_NODES}

    def phase_sketches():
        rows = spark.range(0, N_SKETCH_ROWS, 1, 64).select(
            F.concat(F.lit("u"), (F.col("id") % N_DISTINCT)).alias("v")
        )
        kmv = kmv_distinct(rows, "v", k=256).collect()[0]
        hll = hll_cardinality(rows, "v").collect()[0]
        kerr = abs(kmv["est_distinct"] - N_DISTINCT) / N_DISTINCT
        herr = abs(hll["est_distinct"] - N_DISTINCT) / N_DISTINCT
        assert kerr < 0.25, (kmv["est_distinct"], kerr)
        assert herr < 0.26, (hll["est_distinct"], herr)
        return {
            "rows": N_SKETCH_ROWS,
            "true_distinct": N_DISTINCT,
            "kmv_est": int(kmv["est_distinct"]),
            "kmv_rel_err": round(kerr, 4),
            "hll_est": int(hll["est_distinct"]),
            "hll_rel_err": round(herr, 4),
        }

    def phase_toolseq():
        out = tool_sequences(trans, n=2)
        total = out.agg(F.sum("n_occurrences").alias("s")).collect()[0]["s"]
        # independent cross-plan count: bigrams per conv = max(t - 1, 0)
        expect = (
            trans.filter((F.col("role") == "tool") & F.col("tool").isNotNull())
            .groupBy("conv_id")
            .agg(F.count("*").alias("t"))
            .agg(F.sum(F.greatest(F.col("t") - 1, F.lit(0))).alias("s"))
            .collect()[0]["s"]
        )
        assert total == expect, (total, expect)
        return {"convs": N_CONVS, "turns": n_turns, "bigram_occurrences": int(total)}

    phases = [
        ("lpa_communities_4r", phase_lpa),
        ("kmeans_1m_3iters_x2", phase_kmeans),
        ("random_walks_4hop", phase_walks),
        ("sketches_20m", phase_sketches),
        ("tool_sequences_200k", phase_toolseq),
    ]

    (run,), _ = bench_util.run_phases(spark, evdir, phases)
    summary = {"cores": spark.sparkContext.defaultParallelism, **run}

    p = {r["phase"]: r for r in run["phases"]}
    rows = "\n".join(
        f"| {r['phase']} | {r['wall_sec']} | {r['shuffle_write_mb']} | {r['n_jobs']} |"
        for r in run["phases"]
    )
    thr = {
        "lpa_edges_per_sec": int(N_EDGES / p["lpa_communities_4r"]["wall_sec"]),
        "kmeans_vecs_per_sec": int(
            2 * N_VECS / p["kmeans_1m_3iters_x2"]["wall_sec"]
        ),
        "walk_hops_per_sec": int(4 * N_NODES / p["random_walks_4hop"]["wall_sec"]),
        "sketch_rows_per_sec": int(N_SKETCH_ROWS / p["sketches_20m"]["wall_sec"]),
        "toolseq_convs_per_sec": int(N_CONVS / p["tool_sequences_200k"]["wall_sec"]),
    }
    md = f"""# BENCH — round-5 analytics family at scale

Generated {date.today().isoformat()} by bench_analytics.py on local[{summary["cores"]}]
(steal gate <= {bench_util.STEAL_GATE}%: {"MET" if run["steal_gate_met"] else "NOT met — walls are upper bounds"}; best-attempt steal {run["steal_pct"]}%).

Inputs: {N_CLIQUES:,} disjoint {CLIQUE}-cliques ({N_NODES:,} nodes /
{N_EDGES:,} edges), {N_VECS:,} {DIM}-dim vectors around 8 separable
centers, {N_SKETCH_ROWS:,} rows with exactly {N_DISTINCT:,} distinct
keys, {N_CONVS:,} synthetic conversations ({n_turns:,} turns). Every
phase asserts a closed form or an independent cross-plan in-run:

- **LPA**: synchronous LPA on a clique converges by round 2 to the
  clique min (round 1: all-but-min adopt the min; round 2: the min's
  label is every node's majority) — all {N_NODES:,} labels checked
  against `{CLIQUE} * (node div {CLIQUE})`, census pinned to
  {{{CLIQUE} members x {N_CLIQUES:,} communities}}.
- **k-means**: assignments at two different input partitionings (8 vs
  64) must be BIT-IDENTICAL (exact-BIGINT arithmetic claim); wall covers
  both fits.
- **walks**: all {N_NODES:,} walks have 5 nodes and never leave their
  clique ({"escaped == 0"}).
- **sketches**: KMV est {p["sketches_20m"]["kmv_est"]:,} (rel err
  {p["sketches_20m"]["kmv_rel_err"]}), HLL est
  {p["sketches_20m"]["hll_est"]:,} (rel err
  {p["sketches_20m"]["hll_rel_err"]}) vs true {N_DISTINCT:,} — both
  inside 4 sigma of their m=256 estimators.
- **tool sequences**: {p["tool_sequences_200k"]["bigram_occurrences"]:,}
  bigram occurrences == the independent per-conversation
  max(tool_turns - 1, 0) sum.

| phase | wall (s) | shuffle write (MB) | jobs |
|---|---|---|---|
{rows}

Throughput: {json.dumps(thr)}

100-TB read: LPA is two node-keyed exchanges per round (votes are
map-side-combinable counts, a celebrity node reduces partial counts
only); k-means assignment never shuffles the corpus (broadcast packed
centroids + native fold) and the fit's one exchange carries k x dim
BIGINT partial sums; walks keep the frontier at one row per walk with
min_by partial aggregation absorbing degree fan-out; sketches are a
map pass + bounded-register (256-row) / top-k (256-row) aggregations —
the canonical mergeable shapes; tool-sequence mining is one conv_id
exchange (window) + one combinable n-gram aggregation.
"""
    bench_util.report("ANALYTICS_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
