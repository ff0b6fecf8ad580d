#!/usr/bin/env python
"""Incremental-dedup scale bench: 500k-doc corpus index, 50k-doc batch.

The CORRECTNESS query (incremental_dedup_docs) proves semantics at
fixture scale; this is the scale point for the production shape: an LSH
index built ONCE over the corpus, then a much smaller batch probed
against it with the batch side broadcast (the corpus is never
reshuffled). Every check is closed-form:

- corpus docs are pairwise shingle-disjoint by construction (word v of
  doc d is a quadratic mix of (d, v), so two docs can never share a
  3-run of words unless identical);
- 25k batch docs are EXACT copies of corpus doc 10*j: each must come
  back (is_dup=1, dup_of=10*j, jaccard=1.0) — all bands match, so LSH
  recall is certain, and the best-match is unique by disjointness;
- 1k batch docs are single-word mutations of corpus doc 20*j+1: true
  Jaccard is exactly 45/51 (3 of 48 shingles change), so every CAUGHT
  doc must report round(45/51, 6) and dup_of=20*j+1; expected LSH
  recall at k=16, bands=4 is 1-(1-(45/51)^4)^4 ~ 0.974 — the run
  reports the measured recall and asserts >= 0.95;
- 24k fresh docs must all come back is_dup=0 (zero shingle overlap
  means even a band collision cannot pass the Jaccard filter).

Per-phase wall and event-log attribution (bench_util). Writes
BENCH/INCR_DEDUP_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_incr.py [--scale S]` (S >= 0.04: the 1k mutation sources
need a 20k-doc corpus).
"""

from __future__ import annotations

import tempfile
from datetime import date

import bench_util

SCALE = bench_util.cli().scale
N_CORPUS = bench_util.scaled(500_000, SCALE)
N_EXACT = bench_util.scaled(25_000, SCALE)
N_MUT = 1000  # the >= 0.95 recall floor needs this many mutations
N_FRESH = bench_util.scaled(24_000, SCALE)
DOC_WORDS = 50
P = 9_999_991
# exact copies of docs 10*j and mutations of docs 20*m+1 must exist
if N_CORPUS < max(10 * N_EXACT, 20 * N_MUT):
    raise SystemExit(f"--scale {SCALE}: a {N_CORPUS}-doc corpus is too small")
INDEX_BANDS = f"{tempfile.gettempdir()}/delm_incr_idx_bands_{N_CORPUS}"
INDEX_SH = f"{tempfile.gettempdir()}/delm_incr_idx_sh_{N_CORPUS}"


def _words(d: int) -> list:
    """Quadratic (d, i) mix: no two distinct docs can share 3 consecutive
    words (a shared run of length L needs 7(2di+d^2)+13d constant over
    L>=2 successive i, which forces the shift d=0 and then equal ids)."""
    return [f"v{(d * 1_000_003 + 7 * i * i + 13 * i) % P}" for i in range(DOC_WORDS)]


def _batch_text(j: int) -> tuple:
    if j < N_EXACT:  # exact copy of corpus doc 10*j
        return " ".join(_words(10 * j)), "exact", 10 * j
    if j < N_EXACT + N_MUT:  # single-word mutation of corpus doc 20*m+1
        m = j - N_EXACT
        w = _words(20 * m + 1)
        w[25] = f"mut{m}"
        return " ".join(w), "mut", 20 * m + 1
    return " ".join(_words(N_CORPUS + 1000 + j)), "fresh", -1  # disjoint ids


def _docs(n, fn):
    """Corpus builder: `fn(id)` -> (doc_id, text, kind, src) for ids 0..n-1."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [fn(int(v)) for v in pdf["id"].astype("int64")]
            yield pd.DataFrame(rows, columns=["doc_id", "text", "kind", "src"])

    return lambda spark: spark.range(
        0, n, 1, spark.sparkContext.defaultParallelism * 2
    ).mapInPandas(gen, schema="doc_id long, text string, kind string, src long")


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.operators.dedup import incremental_dedup, minhash_index

    spark, evdir = bench_util.session("incr")
    corpus, n = bench_util.corpus(
        spark,
        f"incr_corpus_{N_CORPUS}",
        _docs(N_CORPUS, lambda v: (v, " ".join(_words(v)), "corpus", -1)),
    )
    n_batch = N_EXACT + N_MUT + N_FRESH
    batch, n_b = bench_util.corpus(
        spark,
        f"incr_batch_{N_CORPUS}_{N_EXACT}_{N_FRESH}",
        _docs(n_batch, lambda j: (N_CORPUS + j, *_batch_text(j))),
    )
    assert n == N_CORPUS and n_b == n_batch

    def phase_index():
        bands_df, sh_df = minhash_index(corpus)
        bands_df.write.mode("overwrite").parquet(INDEX_BANDS)
        sh_df.write.mode("overwrite").parquet(INDEX_SH)
        n_bands = spark.read.parquet(INDEX_BANDS).count()
        assert n_bands == N_CORPUS * 4, n_bands
        return {"index_rows": int(n_bands)}

    def phase_probe():
        out = incremental_dedup(
            batch,
            spark.read.parquet(INDEX_BANDS),
            spark.read.parquet(INDEX_SH),
            jaccard_threshold=0.5,
        )
        joined = out.join(batch.select("doc_id", "kind", "src"), "doc_id")
        agg = joined.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_dup").alias("dups"),
            F.sum(
                F.when(
                    (F.col("is_dup") == 1) & (F.col("dup_of") == F.col("src")), 1
                ).otherwise(0)
            ).alias("right_src"),
            F.sum(
                F.when(F.col("jaccard") == 1.0, 1).otherwise(0)
            ).alias("jac_one"),
            F.sum(
                F.when(F.col("jaccard") == round(45 / 51, 6), 1).otherwise(0)
            ).alias("jac_mut"),
        ).collect()
        by = {r["kind"]: r for r in agg}
        e = by["exact"]
        assert (e["n"], e["dups"], e["right_src"], e["jac_one"]) == (
            N_EXACT,
            N_EXACT,
            N_EXACT,
            N_EXACT,
        ), e
        f = by["fresh"]
        assert (f["n"], f["dups"]) == (N_FRESH, 0), f
        m = by["mut"]
        recall = m["dups"] / N_MUT
        assert recall >= 0.95, m
        # every caught mutation reports the exact closed-form Jaccard
        # and the right source doc
        assert m["right_src"] == m["dups"] and m["jac_mut"] == m["dups"], m
        return {"batch": n_batch, "mut_recall": round(recall, 4)}

    phases = [
        ("index_build_500k", phase_index),
        ("batch_probe_50k", phase_probe),
    ]

    (run,), _ = bench_util.run_phases(spark, evdir, phases)
    summary = {
        "n_corpus": N_CORPUS,
        "n_batch": n_batch,
        "cores": spark.sparkContext.defaultParallelism,
        **run,
    }

    rows = "\n".join(
        f"| {r['phase']} | {r['wall_sec']} | {r['shuffle_write_mb']} | {r['n_jobs']} |"
        for r in run["phases"]
    )
    probe = next(r for r in run["phases"] if r["phase"].startswith("batch_probe"))
    md = f"""# BENCH — incremental dedup: {N_CORPUS:,}-doc index, {n_batch:,}-doc batch

Generated {date.today().isoformat()} by bench_incr.py on local[{summary['cores']}]
(steal gate <= {bench_util.STEAL_GATE}%: {'MET' if run['steal_gate_met'] else 'NOT met — walls are upper bounds'}; best-attempt steal {run['steal_pct']}%).

Corpus docs are pairwise shingle-disjoint by construction (quadratic
(doc, position) word mixing — a shared 3-word run forces identical
ids), so every verdict is closed-form: all {N_EXACT:,} planted exact
copies return (is_dup=1, dup_of=source, jaccard=1.0) — LSH recall on
identical signatures is certain; all {N_FRESH:,} fresh docs return
is_dup=0 (zero shingle overlap cannot pass the Jaccard filter even on
a band collision); the {N_MUT:,} single-word mutations have true
Jaccard exactly 45/51 — measured LSH recall
**{probe['mut_recall']}** (expected ~0.974 at k=16, bands=4), and every
caught mutation reports round(45/51, 6) and the right source.

| phase | wall (s) | shuffle write (MB) | jobs |
|---|---|---|---|
{rows}

100-TB read: the index is built ONCE (the only full-corpus shuffle —
the one-pass signature aggregation) and persisted; each arriving batch
broadcasts its own band table and shingles against the index scan, so
steady-state cost is O(batch) + one index scan, with only
(batch, candidate) pairs ever reaching an exchange. Writing the band
table bucketed by `__bucket` makes the probe
co-located on a real cluster; the exact-Jaccard re-rank touches only
LSH survivors.
"""
    bench_util.report("INCR_DEDUP_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
