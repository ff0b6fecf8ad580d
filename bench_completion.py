#!/usr/bin/env python
"""KG-completion scale bench: negative sampling + link prediction.

The CORRECTNESS queries (negative_samples_kg, link_prediction_kg) prove
kg/completion.py semantics at fixture scale against the DuckDB oracle;
this is the scale evidence point:

- `link_prediction_scores` over the deterministic block graph (B blocks
  of 64 nodes, chain i->i+1 + skip i->i+2): every answer is closed-form.
  The non-edge pairs with a common neighbor are exactly (i, i+3) with
  CN=2 (via i+1 and i+2; 61 per block) and (i, i+4) with CN=1 (via i+2;
  60 per block), so the output is 121*B rows with an exact CN census,
  and every score is a pure function of (u mod 64, v-u) — asserted
  across all blocks.
- `negative_samples` over N distinct synthetic positives with a 100k
  entity vocabulary, k draws each: per-positive draw cap, zero
  degenerate rows, zero false negatives (inner-join count against the
  positives — a different plan shape than the operator's own anti-join),
  and a deterministic whole-result fingerprint that must agree across
  attempts (hash-sum of every output row).

Per-phase wall and event-log attribution (bench_util). Writes
BENCH/COMPLETION_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_completion.py [--scale S]`.
"""

from __future__ import annotations

from datetime import date

import bench_util

SCALE = bench_util.cli().scale
B = bench_util.scaled(40_000, SCALE)  # 64-node blocks
N_NODES = B * 64
N_EDGES = B * (63 + 62)
N_POS = bench_util.scaled(2_000_000, SCALE)
N_ENT = 100_000
K_NEG = 4


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


def make_positives(spark):
    # distinct by construction: two ids collide only if congruent mod
    # lcm(N_ENT, 97) = 9.7M > N_POS
    from pyspark.sql import functions as F

    ids = spark.range(0, N_POS, 1, 64)
    return ids.select(
        F.format_string("e%06d", F.col("id") % N_ENT).alias("subj"),
        F.format_string("p%02d", F.col("id") % 97).alias("pred"),
        F.format_string("e%06d", (F.col("id") * 31 + 7) % N_ENT).alias("obj"),
    )


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.kg.completion import link_prediction_scores, negative_samples

    spark, evdir = bench_util.session("completion")
    # the edge corpus is bench_graph.py's
    edges, n_edges = bench_util.corpus(spark, f"graph_edges_{B}", make_edges)
    pos, n_pos = bench_util.corpus(spark, f"neg_positives_{N_POS}", make_positives)
    assert n_edges == N_EDGES
    assert n_pos == N_POS

    fingerprints = []

    def phase_negatives():
        out = negative_samples(pos, k=K_NEG, seed=0)
        agg = out.agg(
            F.count("*").alias("n"),
            # deterministic whole-result fingerprint, aggregation-order
            # independent (sum of per-row 60-bit hashes)
            F.sum(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|", "subj", "pred", "obj", "neg_idx",
                                "corrupt_side", "neg_subj", "neg_obj",
                            )
                        ),
                        1, 15,
                    ),
                    16, 10,
                ).cast("long")
                # mod keeps the 8M-row sum inside a long
                % F.lit(1_000_000_000)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("neg_subj") == F.col("subj"))
                    & (F.col("neg_obj") == F.col("obj")),
                    1,
                ).otherwise(0)
            ).alias("degenerate"),
        ).collect()[0]
        n_out = int(agg["n"])
        assert agg["degenerate"] == 0
        assert n_out > 0.9 * N_POS * K_NEG, n_out  # most draws survive
        fingerprints.append(int(agg["fp"]))
        # per-positive draw cap
        mx = (
            out.groupBy("subj", "pred", "obj")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert mx <= K_NEG, mx
        # filtered property via a DIFFERENT plan shape: inner join of the
        # corrupted key against the positives must be empty
        fn = (
            out.select(
                F.col("neg_subj").alias("subj"),
                "pred",
                F.col("neg_obj").alias("obj"),
            )
            .join(pos, ["subj", "pred", "obj"])
            .count()
        )
        assert fn == 0, fn
        return {"n_negatives": n_out, "draws": N_POS * K_NEG}

    def phase_link_prediction():
        lp = link_prediction_scores(edges)
        census = {
            int(r["common_neighbors"]): int(r["n"])
            for r in lp.groupBy("common_neighbors")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert census == {2: 61 * B, 1: 60 * B}, census
        # every score is a pure function of (u mod 64, v-u): B blocks
        # collapse to the per-offset equivalence classes
        classes = (
            lp.groupBy(
                (F.col("u") % 64).alias("off"), (F.col("v") - F.col("u")).alias("d")
            )
            .agg(
                F.countDistinct(
                    F.concat_ws(",", "common_neighbors", "aa_micro", "ra_micro")
                ).alias("k")
            )
            .agg(F.max("k").alias("mx"), F.count("*").alias("n_cls"))
            .collect()[0]
        )
        assert classes["mx"] == 1, classes
        return {"n_pairs": 121 * B, "n_classes": int(classes["n_cls"])}

    phases = [
        ("negative_samples_k4", phase_negatives),
        ("link_prediction", phase_link_prediction),
    ]

    (run,), _ = bench_util.run_phases(spark, evdir, phases)

    # determinism across attempts: the hash-drawn sample is a pure
    # function of the input
    assert len(set(fingerprints)) == 1, fingerprints

    neg = run["phases"][0]
    lp = run["phases"][1]
    neg_rate = round(neg["n_negatives"] / neg["wall_sec"], 1)
    lp_rate = round(lp["n_pairs"] / lp["wall_sec"], 1)
    summary = {
        "n_positives": N_POS,
        "k": K_NEG,
        "n_entities": N_ENT,
        "n_edges": N_EDGES,
        "cores": spark.sparkContext.defaultParallelism,
        "steal_pct": run["steal_pct"],
        "steal_gate_met": run["steal_gate_met"],
        "negatives_per_sec": neg_rate,
        "pairs_per_sec": lp_rate,
        "phases": run["phases"],
    }

    md = f"""# BENCH — KG completion at scale

Generated {date.today().isoformat()} by bench_completion.py on local[{summary['cores']}]
(steal gate <= {bench_util.STEAL_GATE}%: {'MET' if run['steal_gate_met'] else 'NOT met — walls are upper bounds'}; best-attempt steal {run['steal_pct']}%).

Same `kg/completion.py` operators as the oracle-checked queries
(`negative_samples_kg`, `link_prediction_kg`); every assertion below ran
in-bench.

## Filtered negative sampling ({N_POS:,} positives, k={K_NEG}, {N_ENT:,}-entity vocabulary)

| metric | value |
|---|---|
| draws | {neg['draws']:,} |
| surviving negatives | {neg['n_negatives']:,} |
| wall (s) | {neg['wall_sec']} |
| negatives/s | {neg_rate:,} |

Checks: zero degenerate rows; per-positive draw cap <= k; ZERO false
negatives by an inner join of the corrupted keys against the positives
(a different plan shape than the operator's own left-anti join); the
whole-result hash-sum fingerprint agreed across all attempts (the
md5-drawn sample is a pure function of the input).

## Link prediction ({N_EDGES:,} edges, {N_NODES:,} nodes)

| metric | value |
|---|---|
| scored non-edge pairs | {lp['n_pairs']:,} |
| wall (s) | {lp['wall_sec']} |
| pairs/s | {lp_rate:,} |

Closed-form: the block graph's only common-neighbor non-edges are
(i, i+3) with CN=2 via {{i+1, i+2}} (61/block) and (i, i+4) with CN=1 via
i+2 (60/block) — census asserted exactly ({61*B:,} + {60*B:,} rows); every
(common_neighbors, aa_micro, ra_micro) triple is a pure function of
(u mod 64, v-u) across all {B:,} blocks ({lp['n_classes']} equivalence
classes, max 1 distinct score each).

## 100-TB read

Negative sampling never shuffles the positives beyond their own
distinct: draws are pure hash expressions, replacements arrive via a
broadcast join on the (vocabulary-sized) entity-rank dictionary, and the
filtered guarantee is one left-anti hash join on the corruption's own
key. The entity rank is the only global construct and is bounded by the
vocabulary, not the corpus (swap in the packing prefix-sum at extreme
vocabularies). Link prediction's wedge join fans out as sum deg(w)^2 —
bounded here by design; in the wild a hub-degree ceiling is the
principled cut since 1/ln(deg) vanishes for super-hubs; per-neighbor
terms are integer-quantized before the sum, so results are
aggregation-order independent at any parallelism.
"""
    bench_util.report("COMPLETION_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
