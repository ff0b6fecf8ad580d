#!/usr/bin/env python
"""Embedding-blocked entity-linking scale bench.

The oracle query proves `embedding_link_candidates` on ~44 mentions; this
is the scale point: a 10k-entity dictionary vs 100k DISTINCT mention
surfaces (the quantity the pipeline's residue pass feeds — bounded by
mention vocabulary, not corpus size), with planted one-char corruptions
whose recovery is measurable.

Mentions: 40% one-char-deleted dictionary surfaces (planted, recoverable),
10% exact dictionary surfaces, 50% unrelated noise (must mostly NOT link
at the threshold). Reports wall, mentions/sec, planted recall/accuracy,
noise link rate, and the histogram of the dictionary bucket index the
kernel probes (candidate volume vs the 1e9-pair cross join the blocking
avoids). Steal-gated with event-log attribution (bench_util). Writes
BENCH/LINK_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_link.py [--scale S]`.

It also times `resolve_mention_residue`, the pipeline's residue pass,
over the same mentions shaped as linked triples (`residue_triples`),
after one untimed warm-up run: that pass scores each surface once per
task that holds it, so it reports how many (task, surface) pairs it
scores per distinct surface.
"""

from __future__ import annotations

from datetime import date

import bench_util

SCALE = bench_util.cli().scale
N_DICT = bench_util.scaled(10_000, SCALE)
N_MENTIONS = bench_util.scaled(100_000, SCALE)
DIM, PLANES, RADIUS, BANDS, THRESHOLD = 64, 8, 0, 8, 0.75
VOCAB = 20000
#: triples of the resolver timing: ten per mention, so surfaces recur
N_TRIPLES = 10 * N_MENTIONS


def make_tables(spark):
    """Deterministic dictionary + mention tables (pure hash-derived).

    Dictionary surface e: three vocab words from xxhash64(e, j).
    Mention i (i in 0..N_MENTIONS):
      * i%10 < 4  -> surface of entity (i*7 % N_DICT) with ONE char deleted
                     at a hash-picked position (planted, expected link)
      * i%10 == 4 -> exact surface of entity (i*7 % N_DICT)
      * else      -> three vocab words from a DIFFERENT salt (noise)
    """
    from pyspark.sql import functions as F

    def words(col, salt, n=3):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda j: F.format_string(
                    "w%05d", F.pmod(F.xxhash64(col, j, F.lit(salt)), F.lit(VOCAB))
                ),
            ),
            " ",
        )

    d = spark.range(0, N_DICT, 1, 16).select(
        words(F.col("id"), "dictsurf").alias("surface"),
        F.format_string("ent:%05d", F.col("id")).alias("canonical_id"),
    )
    m = spark.range(0, N_MENTIONS, 1, 64)
    src = (F.col("id") * 7) % N_DICT
    base = words(src, "dictsurf")
    # delete one char at a hash-derived position (2..len-1 keeps the ends)
    pos = F.pmod(F.xxhash64(F.col("id"), F.lit("delpos")), F.length(base) - 2) + 2
    m = m.withColumn("surface_base", base).withColumn("delpos", pos)
    corrupted = F.concat(
        F.expr("substring(surface_base, 1, delpos - 1)"),
        F.expr("substring(surface_base, delpos + 1, 10000)"),
    )
    mention = (
        F.when(F.col("id") % 10 < 4, corrupted)
        .when(F.col("id") % 10 == 4, F.col("surface_base"))
        .otherwise(words(F.col("id"), "noise"))
    )
    kind = (
        F.when(F.col("id") % 10 < 4, F.lit("typo"))
        .when(F.col("id") % 10 == 4, F.lit("exact"))
        .otherwise(F.lit("noise"))
    )
    return d, m.select(
        F.col("id").alias("mention_id"),
        mention.alias("surface"),
        kind.alias("kind"),
        F.format_string("ent:%05d", src).alias("expected"),
    )


def residue_triples(spark, d, m):
    """N_TRIPLES cached triples for `resolve_mention_residue`, spread over
    4 x defaultParallelism partitions: subj_id is the `mention:` id of a
    hash-picked mention; obj_id is one too in 6 rows of 10, an exact
    `ent:` id in 3 and null in 1. Returns (triples, mention-id column,
    facts): the residue ids and surfaces, and `repeat`: the distinct
    (task, surface) pairs of the resolver's tasks over the distinct
    residue surfaces."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    n_m = m.count()

    def mention(side):
        return m.select(
            F.col("mention_id").alias(f"{side}i"),
            F.concat(F.lit("mention:"), "surface").alias(f"{side}m"),
        )

    k = F.pmod(F.xxhash64("id", F.lit("k")), F.lit(10))
    tri = (
        spark.range(0, N_TRIPLES, 1, 4 * sc.defaultParallelism)
        .select(
            "id",
            *[F.pmod(F.xxhash64("id", F.lit(c)), F.lit(n_m)).alias(f"{c}i") for c in "so"],
        )
        .join(F.broadcast(mention("s")), "si")
        .join(F.broadcast(mention("o")), "oi")
        .select(
            "id",
            F.col("sm").alias("subj_id"),
            F.when(k < 6, F.col("om"))
            .when(k < 9, F.format_string("ent:%05d", F.col("oi") % N_DICT))
            .alias("obj_id"),
        )
        .repartition(4 * sc.defaultParallelism)
        .cache()
    )
    tri.count()
    mid = F.explode(F.array("subj_id", "obj_id")).alias("mid")
    residue = F.col("mid").startswith("mention:")
    ids = tri.select(mid).filter(residue)
    n_ids, distinct = ids.count(), ids.distinct().count()
    pairs = (
        tri.coalesce(sc.defaultParallelism)
        .select(F.spark_partition_id().alias("task"), mid)
        .filter(residue)
        .distinct()
        .count()
    )
    return tri, mid, {
        "n_triples": N_TRIPLES,
        "residue_ids": n_ids,
        "residue_surfaces": distinct,
        "repeat": round(pairs / distinct, 2),
    }


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.kg.linking import (
        _dictionary_index,
        embedding_link_candidates,
        resolve_mention_residue,
    )

    spark, evdir = bench_util.session("link")
    d, n_dict = bench_util.corpus(
        spark, f"link_dict_{N_DICT}_v{VOCAB}", lambda spark: make_tables(spark)[0]
    )
    m, n_mentions = bench_util.corpus(
        spark, f"link_mentions_{N_MENTIONS}_v{VOCAB}", lambda spark: make_tables(spark)[1]
    )

    def phase_link():
        cands = embedding_link_candidates(
            m, d, dim=DIM, n_planes=PLANES, probe_radius=RADIUS,
            threshold=THRESHOLD, bands=BANDS,
        )
        linked = m.join(cands, "surface").select("mention_id", "kind",
                                                 "expected", "canonical_id")
        agg = (
            linked.groupBy("kind")
            .agg(
                F.count("*").alias("linked"),
                F.sum((F.col("canonical_id") == F.col("expected")).cast("long")).alias("correct"),
            )
            .collect()
        )
        return {"by_kind": {r["kind"]: (r["linked"], r["correct"]) for r in agg}}

    tri, mid, resolver = residue_triples(spark, d, m)

    def phase_resolver():
        residue = resolve_mention_residue(tri, d).select(mid)
        left = residue.filter(F.col("mid").startswith("mention:")).count()
        return {"resolved_ids": resolver["residue_ids"] - left}

    phase_resolver()  # warm-up (untimed)
    (attempt,), _ = bench_util.run_phases(
        spark, evdir, [("link_candidates", phase_link), ("residue_resolver", phase_resolver)]
    )
    tri.unpersist()
    link, res = attempt["phases"]
    run = {
        "wall_sec": link["wall_sec"],
        "steal_pct": attempt["steal_pct"],
        "steal_gate_met": attempt["steal_gate_met"],
        "by_kind": link["by_kind"],
    }
    resolver.update(wall_sec=res["wall_sec"], resolved_ids=res["resolved_ids"])

    totals = {r: int(c) for r, c in m.groupBy("kind").count().collect()}
    bk = run["by_kind"]
    typo_recall = bk.get("typo", (0, 0))[1] / max(totals.get("typo", 1), 1)
    exact_acc = bk.get("exact", (0, 0))[1] / max(totals.get("exact", 1), 1)
    noise_rate = bk.get("noise", (0, 0))[0] / max(totals.get("noise", 1), 1)

    # bucket histogram of the kernel's dictionary index: dictionary rows
    # probing each (band, bucket)
    import numpy as np

    index = _dictionary_index(d, DIM, PLANES, RADIUS, BANDS)
    loads = np.array([len(rows) for band in index["probes"] for rows in band.values()])
    hist = {
        "n_buckets": len(loads),
        "p50": int(np.percentile(loads, 50, method="inverted_cdf")),
        "p99": int(np.percentile(loads, 99, method="inverted_cdf")),
        "max": int(loads.max()),
    }

    summary = {
        "n_dict": n_dict,
        "n_mentions": n_mentions,
        "cores": spark.sparkContext.defaultParallelism,
        "run": run,
        "mentions_per_sec": round(n_mentions / run["wall_sec"], 1),
        "typo_recall": round(typo_recall, 4),
        "exact_accuracy": round(exact_acc, 4),
        "noise_link_rate": round(noise_rate, 4),
        "bucket_histogram": hist,
        "bands": BANDS, "planes": PLANES, "radius": RADIUS,
        "threshold": THRESHOLD,
        "cross_join_avoided_pairs": n_dict * n_mentions,
        "resolver": resolver,
    }

    from delm_spark.kg.linking import _MENTION_BLOCK as _MB

    md = f"""# BENCH — embedding-blocked entity linking at scale

Generated {date.today().isoformat()} by bench_link.py on local[{summary['cores']}]
(steal-gated <= {bench_util.STEAL_GATE}%; measured {run['steal_pct']}%).

{n_mentions:,} DISTINCT mention surfaces vs a {n_dict:,}-entity
dictionary (dim={DIM} trigram-hash embeddings, {PLANES} hyperplanes,
probe radius {RADIUS}, threshold {THRESHOLD}). Mentions: 40% planted
one-char deletions of dictionary surfaces, 10% exact surfaces, 50%
unrelated noise.

| metric | value |
|---|---|
| wall (candidates + verdict agg) | {run['wall_sec']} s |
| mentions/sec | {round(n_mentions / run['wall_sec']):,} |
| planted-typo recall (correct entity) | {typo_recall:.3f} |
| exact-surface accuracy | {exact_acc:.3f} |
| noise link rate (false positives at threshold) | {noise_rate:.3f} |
| LSH bucket histogram (dict x probe masks) | p50={hist['p50']} p99={hist['p99']} max={hist['max']} over {hist['n_buckets']:,} buckets |
| cross-join pairs avoided | {n_dict * n_mentions:,} |
| residue resolver: {resolver['n_triples']:,} triples, {resolver['residue_surfaces']:,} residue surfaces | {resolver['wall_sec']} s, {resolver['resolved_ids']:,} of {resolver['residue_ids']:,} ids resolved, {resolver['repeat']} scorings per surface |

## Scoring kernel

`embedding_link_candidates` is one Arrow pass (kg/linking.py). The
driver collects the dictionary once — distinct surfaces, smallest
canonical id each, rows sorted by canonical_id — and broadcasts a bucket
index: integer trigram counts, norms, the {BANDS}x{PLANES} hyperplanes,
and per band a map from each bucket to the sorted dictionary rows within
probe radius {RADIUS}. ONE mapInPandas stage over the distinct mention
surfaces then embeds and buckets each Arrow batch with one matmul
against the hyperplanes, groups the batch's mentions by bucket per band,
and scores each group against its probe rows with blocked numpy matmuls
({_MB}-mention blocks bound task memory under bucket skew; no dense
mention x dictionary matrix). Bands merge on (score desc, row asc);
row order is canonical_id order, so that is the (score desc,
canonical_id asc) tie-break. The embeddings are integer-valued, so
dots and norms are exact in float64 and every score equals the native
cosine bit for bit (pytest-pinned against an all-pairs reference,
tests/test_linking.py). The kernel changes wall, not results: recall,
accuracy and noise rate equal the previous cogroup kernel's.

## Parameter account (measured r4 on the same corpus; blocking unchanged)

Single-table multi-probe (the fixture-oracle configuration, 8 planes
radius 2) has only 256 buckets — fine for a broadcast-sized dictionary,
but at 10k entities its per-bucket load makes candidates ~1.4k/mention
AND a one-char typo flips >2 of 16 bits too often at 16 planes:

| config | typo recall | relative candidates |
|---|---|---|
| 1 table, 8 planes, radius 2 | 0.861 | ~14x this report |
| 1 table, 16 planes, radius 2 | 0.448 | 0.7x |
| 1 table, 12 planes, radius 2 | 0.647 | 3x |
| **{BANDS} bands x {PLANES} planes (this report)** | **{typo_recall:.3f}** | 1x |

Banding decouples the two knobs: per-band bucket count controls
blocking, band count controls recall (1-(1-p^r)^b with p~0.86 measured
for one-char deletions). The true cosine of a planted deletion is
>= 0.86 in every sampled case, so the {THRESHOLD} threshold never
rejects a true match — residual misses are purely LSH, bounded by the
formula above.

## 100-TB read

Mention volume scales the one Arrow stage linearly: each distinct
surface is embedded once and scored only against the dictionary rows its
buckets probe, with a bounded per-bucket load — the same blocking
discipline as the MinHash band join (BENCH/DEDUP_SCALE.md) — so nothing
in the plan is quadratic. The dictionary side is a broadcast: it must be
broadcast-sized, the same requirement `link_mentions`' exact lookup
already places on it, and each task holds the index (dictionary x
{DIM} floats, plus each band's probe lists) and the fixed-size
matmul block.

The residue resolver runs the same kernel inside one projection over
the triples, with no shuffle: each task scores the surfaces it holds
once, so a surface recurring across tasks is scored once per task
("scorings per surface" above, at most the default parallelism of
{summary['cores']}). That repeat is work the candidate search's global distinct
does not do; it grows with the task count, not with the vocabulary.
"""
    bench_util.report("LINK_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
