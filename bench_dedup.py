#!/usr/bin/env python
"""Dedup-family bench at >=100k docs (the small-SF CORRECTNESS queries run
on 500-5,000 docs; this is the scale evidence point).

Generates a deterministic synthetic corpus (hash-derived word sequences,
~120 words/doc, with planted near-duplicates: every id ending in 1 is a
one-word-append mutation of id-1), then times

  * minhash_lsh_pairs   (one-pass signatures + banded equi-join)
  * simhash_dedup_pairs (one-pass 60-bit signatures + rotating-block join)
  * near-dup pipeline   (LSH candidates -> exact Jaccard re-rank)

reporting docs/sec per operator plus the LSH bucket-size distribution —
the evidence that the equi-join buckets stay bounded (the property that
makes the shuffle shape survive a 100x scale-up). Steal-gated with
event-log attribution (bench_util). Writes BENCH/DEDUP_SCALE.md at full
scale; prints ONE JSON line. Usage: `python bench_dedup.py [--scale S]`.
"""

from __future__ import annotations

import json
from datetime import date

import bench_util

SCALE = bench_util.cli().scale
N_DOCS = bench_util.scaled(100_000, SCALE)
VOCAB = 2000
WORDS_PER_DOC = 120


def make_corpus(spark):
    """Deterministic doc table (doc_id long, text string): word w_j of doc i
    is vocab[xxhash64(seed_of(i), j) % VOCAB]; ids ending in 1 reuse id-1's
    seed and append one extra word -> planted near-dup pairs (i-1, i)."""
    from pyspark.sql import functions as F

    ids = spark.range(0, N_DOCS, 1, 128)
    seed = F.when(F.col("id") % 10 == 1, F.col("id") - 1).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)),
        lambda j: F.format_string(
            "w%05d", F.pmod(F.xxhash64(seed, j, F.lit("dedupbench")), F.lit(VOCAB))
        ),
    )
    text = F.array_join(words, " ")
    text = F.when(F.col("id") % 10 == 1, F.concat(text, F.lit(" extramutation"))).otherwise(text)
    return ids.select(F.col("id").alias("doc_id"), text.alias("text"))


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures_agg,
        ngram_jaccard_pairs,
        simhash_dedup_pairs,
    )

    spark, evdir = bench_util.session("dedup")
    docs, n = bench_util.corpus(spark, f"dedup_docs_{N_DOCS}", make_corpus)

    def near_dup():
        cand = minhash_lsh_pairs(docs, "text", "doc_id", k=16, bands=4)
        return {"rows_out": ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.8, candidates=cand
        ).count()}

    phases = [
        ("minhash_lsh_pairs", lambda: {"rows_out": minhash_lsh_pairs(
            docs, "text", "doc_id", k=16, bands=4).count()}),
        ("simhash_pairs", lambda: {"rows_out": simhash_dedup_pairs(
            docs, "text", "doc_id", max_hamming=3).count()}),
        ("near_dup_pipeline", near_dup),
    ]
    (run,), _ = bench_util.run_phases(spark, evdir, phases)
    results: dict = {
        r["phase"]: {
            "sec": r["wall_sec"],
            "docs_per_sec": round(n / r["wall_sec"], 1),
            "rows_out": r["rows_out"],
            "steal_pct": run["steal_pct"],
            "shuffle_write_mb": r["shuffle_write_mb"],
            "n_jobs": r["n_jobs"],
        }
        for r in run["phases"]
    }

    # planted-recall check: pairs (i, i+1) for i%10==0 must be found
    cand = minhash_lsh_pairs(docs, "text", "doc_id", k=16, bands=4)
    planted = n // 10
    found = cand.filter(
        (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_a") % 10 == 0)
    ).count()
    results["planted_recall"] = {"planted": planted, "found": found,
                                 "recall": round(found / planted, 4)}

    # bucket-size distribution of the MinHash band join (bounded buckets =
    # the shuffle shape survives scale; a mega-bucket would be quadratic)
    sig = minhash_signatures_agg(docs, "text", "doc_id", k=16)
    banded = sig.select(
        F.posexplode(
            F.array(*[
                F.md5(F.array_join(F.slice(F.col("__sig"), b * 4 + 1, 4), "|"))
                for b in range(4)
            ])
        ).alias("band", "bucket")
    )
    sizes = banded.groupBy("band", "bucket").count()
    hist = sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("count").alias("max"),
        F.expr("percentile_approx(count, 0.5)").alias("p50"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
        F.sum((F.col("count") * (F.col("count") - 1) / 2)).alias("candidate_pairs"),
    ).collect()[0]
    results["minhash_bucket_histogram"] = {
        "n_buckets": hist["n_buckets"], "p50": int(hist["p50"]),
        "p99": int(hist["p99"]), "max": int(hist["max"]),
        "candidate_pairs": int(hist["candidate_pairs"]),
    }

    summary = {
        "n_docs": n,
        "cores": spark.sparkContext.defaultParallelism,
        "steal_gate_met": run["steal_gate_met"],
        "results": results,
    }

    md = f"""# BENCH — dedup family at {n:,} docs

Generated {date.today().isoformat()} by bench_dedup.py on local[{summary['cores']}]
(steal-gated <= {bench_util.STEAL_GATE}%). Corpus: deterministic hash-derived docs,
{WORDS_PER_DOC} words from a {VOCAB}-word vocab, 10% planted near-dup
pairs (one-word mutation).

| operator | sec | docs/sec | pairs out | steal% |
|---|---|---|---|---|
""" + "\n".join(
        f"| {k} | {v.get('sec')} | {v.get('docs_per_sec')} | "
        f"{v.get('rows_out')} | {v.get('steal_pct')} |"
        for k, v in results.items()
        if k in ("minhash_lsh_pairs", "simhash_pairs", "near_dup_pipeline")
    ) + f"""

Planted-pair recall (LSH candidates): {results['planted_recall']['found']}
/ {results['planted_recall']['planted']}
= {results['planted_recall']['recall']}.

## MinHash band-bucket distribution

The (band, bucket) equi-join is the only shuffle of the LSH stage; its
cost is sum over buckets of |bucket|^2. Bounded buckets mean the join
survives a 100x corpus scale-up with the same plan:

| n_buckets | p50 | p99 | max | implied candidate pairs |
|---|---|---|---|---|
| {results['minhash_bucket_histogram']['n_buckets']:,} | {results['minhash_bucket_histogram']['p50']} | {results['minhash_bucket_histogram']['p99']} | {results['minhash_bucket_histogram']['max']} | {results['minhash_bucket_histogram']['candidate_pairs']:,} |

Raw JSON:

```json
{json.dumps(summary, indent=2)}
```
"""
    bench_util.report("DEDUP_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
