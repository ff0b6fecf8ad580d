#!/usr/bin/env python
"""Corpus-curation scale bench (~1M synthetic docs, ~50M tokens).

The CORRECTNESS queries (decontam_ngram_docs, gopher_quality_docs,
unigram_lm_docs, bm25_search_docs, stratified_sample_docs) prove the
curation family's semantics at fixture scale; this is the scale
evidence point: a deterministic 1M-doc corpus large enough that every
phase shuffles for real, with every checked property closed-form:

- decontamination: docs with id % 100 == 0 embed an 8-word benchmark
  phrase built from tokens that never occur in the organic vocabulary,
  so exactly the planted docs (id % 100 == 0, excluding spam ids) are
  flagged and every other doc has zero
  overlap (asserted both ways).
- gopher rules: docs with id % 53 == 0 are a two-word phrase repeated
  40x (top-bigram share ~0.5 -> fail), all other docs draw 50 distinct
  in-vocab words (pass); the pass census is exact.
- unigram LM: every organic token is vocab word (id*7 + i*13) % 1000;
  a 200-doc deterministic sample's avg_surprisal_micro is recomputed
  exactly in numpy from the corpus counts.
- BM25: "needleterm" is planted in docs with id % 1000 == 0 with
  tf = 1 + (id/1000) % 3; the unique shortest max-tf doc must rank
  first and the full top-k must equal the numpy-recomputed ranking.
- stratified sampling: kept counts per stratum stay within 4 sigma of
  frac * n_s, and the kept-id checksum is identical when the input is
  repartitioned (membership is partitioning-independent).

Per-phase wall and event-log attribution (bench_util). Writes
BENCH/CURATION_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_curation.py [--scale S]`.
"""

from __future__ import annotations

from datetime import date

import bench_util

SCALE = bench_util.cli().scale
N_DOCS = bench_util.scaled(1_000_000, SCALE)
DOC_WORDS = 50
VOCAB = 1000
SPAM_MOD, CONTAM_MOD, NEEDLE_MOD = 53, 100, 1000  # 53 prime: plants never land on spam docs
BENCH_PHRASE = " ".join(f"benchtok{i}" for i in range(8))


def _doc_words(v: int) -> list:
    """Organic body of doc v: DOC_WORDS tokens from the 1000-word vocab.
    Spam docs (v % SPAM_MOD == 0) instead repeat a two-word phrase."""
    if v % SPAM_MOD == 0:
        return ["spamtok", "hamtok"] * 40
    return [f"w{(v * 7 + i * 13) % VOCAB:04d}" for i in range(DOC_WORDS)]


def _doc_text(v: int) -> str:
    words = _doc_words(v)
    if v % CONTAM_MOD == 0 and v % SPAM_MOD != 0:
        words = words + BENCH_PHRASE.split()
    if v % NEEDLE_MOD == 0 and v % SPAM_MOD != 0:
        words = words + ["needleterm"] * (1 + (v // NEEDLE_MOD) % 3)
    return " ".join(words)


def make_docs(spark):
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": [_doc_text(int(v)) for v in ids],
                    "lang": [f"l{int(v) % 5}" for v in ids],
                }
            )

    return spark.range(
        0, N_DOCS, 1, spark.sparkContext.defaultParallelism * 2
    ).mapInPandas(
        gen, schema="doc_id long, text string, lang string"
    )


def main() -> None:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from delm_spark.operators.curation import (
        decontaminate,
        gopher_quality,
        unigram_lm_score,
    )
    from delm_spark.operators.sample import stratified_sample
    from delm_spark.operators.search import bm25_topk

    spark, evdir = bench_util.session("curation")
    docs, n = bench_util.corpus(spark, f"cur_docs_{N_DOCS}", make_docs)
    assert n == N_DOCS, n

    # the held-out "benchmark": 1k docs carrying the planted phrase plus
    # organic filler that reuses the SAME vocab (so organic 4-gram
    # collisions are possible ONLY by exact phrase reuse, which the
    # arithmetic generator cannot produce for distinct ids)
    test_pdf = pd.DataFrame(
        {
            "doc_id": range(1000),
            "text": [
                BENCH_PHRASE + " " + " ".join(f"benchfill{i}_{j}" for j in range(6))
                for i in range(1000)
            ],
        }
    )
    test = spark.createDataFrame(test_pdf)

    expect_contam = len(
        [v for v in range(0, N_DOCS, CONTAM_MOD) if v % SPAM_MOD != 0]
    )

    def phase_decontam():
        out = decontaminate(docs, test, n=8)
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("contaminated").alias("flagged"),
            F.sum(
                F.when((F.col("contaminated") == 1) & (F.col("doc_id") % CONTAM_MOD != 0), 1)
                .otherwise(0)
            ).alias("false_pos"),
        ).collect()[0]
        assert agg["n"] == N_DOCS, agg
        assert agg["flagged"] == expect_contam, (agg, expect_contam)
        assert agg["false_pos"] == 0, agg
        return {"docs": N_DOCS, "flagged": int(agg["flagged"])}

    def phase_gopher():
        out = gopher_quality(docs)
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pass_quality").alias("passed"),
            F.sum(
                F.when((F.col("pass_quality") == 0) & (F.col("doc_id") % SPAM_MOD != 0), 1)
                .otherwise(0)
            ).alias("organic_fails"),
        ).collect()[0]
        assert agg["n"] == N_DOCS, agg
        # every spam doc fails on top-bigram share; every organic passes
        n_spam = len(range(0, N_DOCS, SPAM_MOD))
        assert agg["passed"] == N_DOCS - n_spam, (agg, n_spam)
        assert agg["organic_fails"] == 0, agg
        return {"passed": int(agg["passed"])}

    def phase_lm():
        out = unigram_lm_score(docs, vocab_size=VOCAB + 8)
        sample = {
            r["doc_id"]: r
            for r in out.filter(F.col("doc_id") % 5003 == 1).collect()
        }
        assert len(sample) == (N_DOCS - 2) // 5003 + 1, len(sample)
        # recompute the corpus vocabulary counts with numpy vectorization
        # (seconds, not a 1M-doc python loop)
        ids = np.arange(N_DOCS, dtype=np.int64)
        organic = ids[ids % SPAM_MOD != 0]
        grid = (organic[:, None] * 7 + np.arange(DOC_WORDS)[None, :] * 13) % VOCAB
        vocab_counts = np.bincount(grid.ravel(), minlength=VOCAB)
        n_spam = N_DOCS - organic.size
        c = {f"w{k:04d}": int(vocab_counts[k]) for k in range(VOCAB)}
        c["spamtok"] = n_spam * 40
        c["hamtok"] = n_spam * 40
        planted = ids[(ids % CONTAM_MOD == 0) & (ids % SPAM_MOD != 0)]
        for i in range(8):
            c[f"benchtok{i}"] = planted.size
        needle_ids = ids[(ids % NEEDLE_MOD == 0) & (ids % SPAM_MOD != 0)]
        c["needleterm"] = int((1 + (needle_ids // NEEDLE_MOD) % 3).sum())
        total = sum(c.values())
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[: VOCAB + 8]
        vocab = dict(top)
        ln_m = lambda x: int(np.floor(np.log(x) * 1e6 + 0.5))  # noqa: E731
        ln_total = ln_m(total)
        max_dev = 0
        for did, row in sample.items():
            ws = _doc_text(int(did)).split(" ")
            s = sum(ln_total - (ln_m(vocab[w]) if w in vocab else 0) for w in ws)
            # np.log vs JVM Math.log may differ in the final ulp; each
            # quantized term then moves by at most 1 micronat
            dev = abs(row["sum_surprisal_micro"] - s)
            assert dev <= len(ws), (did, row, s)
            max_dev = max(max_dev, dev)
            assert abs(row["avg_surprisal_micro"] - s // len(ws)) <= 1, did
        return {
            "sampled_checked": len(sample),
            "total_tokens": int(total),
            "max_micronat_dev": int(max_dev),
        }

    def phase_bm25():
        out = bm25_topk(docs, ["needleterm"], k=10).collect()
        ids = np.arange(N_DOCS, dtype=np.int64)
        spam = ids % SPAM_MOD == 0
        nmask = (ids % NEEDLE_MOD == 0) & ~spam
        nids = ids[nmask]
        tf = (1 + (nids // NEEDLE_MOD) % 3).astype(np.int64)
        base = np.where(spam, 80, DOC_WORDS).astype(np.int64)
        base[(ids % CONTAM_MOD == 0) & ~spam] += 8
        base[nmask] += tf
        dl = base[nmask]
        n_docs = N_DOCS
        df_ = nids.size
        avgdl = int(base.sum()) / n_docs
        k1, b = 1.2, 0.75
        idf = np.log((n_docs - df_ + 0.5) / (df_ + 0.5) + 1.0)
        # same operation grouping and literals as the operator
        score = idf * (tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))
        micro = np.floor(score * 1e6 + 0.5).astype(np.int64)
        order = np.lexsort((nids, -micro))[:10]
        expect_ids = [int(nids[i]) for i in order]
        got_ids = [r["doc_id"] for r in out]
        assert got_ids == expect_ids, (got_ids, expect_ids)
        for r, i in zip(out, order):
            assert abs(r["score_micro"] - int(micro[i])) <= 1, (r, int(micro[i]))
        return {"postings": int(df_)}

    def phase_stratified():
        fr = {"l0": 0.5, "l1": 0.25, "l2": 0.1, "l3": 1.0, "l4": 0.05}
        kept = stratified_sample(docs, "lang", fr, "doc_id")
        a = kept.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("chk")
        ).collect()[0]
        b = (
            stratified_sample(docs.repartition(17), "lang", fr, "doc_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("chk"))
            .collect()[0]
        )
        assert (a["n"], a["chk"]) == (b["n"], b["chk"]), (a, b)
        per = {
            r["lang"]: r["cnt"]
            for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        n_s = N_DOCS / 5
        for lang, frac in fr.items():
            mean = frac * n_s
            sigma = (n_s * frac * (1 - frac)) ** 0.5
            assert abs(per[lang] - mean) <= max(4 * sigma, 1), (lang, per[lang], mean)
        return {"kept": int(a["n"])}

    phases = [
        ("decontam_broadcast_semi_join", phase_decontam),
        ("gopher_repetition_rules", phase_gopher),
        ("unigram_lm_two_pass", phase_lm),
        ("bm25_topk", phase_bm25),
        ("stratified_sample_2x", phase_stratified),
    ]

    (run,), _ = bench_util.run_phases(spark, evdir, phases)
    summary = {"n_docs": N_DOCS, "cores": spark.sparkContext.defaultParallelism, **run}

    rows = "\n".join(
        f"| {r['phase']} | {r['wall_sec']} | {r['shuffle_write_mb']} | {r['n_jobs']} |"
        for r in run["phases"]
    )
    dec = next(r for r in run["phases"] if r["phase"].startswith("decontam"))
    md = f"""# BENCH — corpus curation at {N_DOCS:,} docs (~{N_DOCS * DOC_WORDS // 1_000_000}M tokens)

Generated {date.today().isoformat()} by bench_curation.py on local[{summary['cores']}]
(steal gate <= {bench_util.STEAL_GATE}%: {'MET' if run['steal_gate_met'] else 'NOT met — walls are upper bounds'}; best-attempt steal {run['steal_pct']}%).

Corpus: {N_DOCS:,} deterministic ~{DOC_WORDS}-word docs over a {VOCAB}-word
vocabulary; 1-in-{SPAM_MOD} docs are a repeated two-word phrase (Gopher
fail), 1-in-{CONTAM_MOD} embed an 8-token benchmark phrase (decontam
plant), 1-in-{NEEDLE_MOD} carry `needleterm` with tf 1-3 (BM25 plant).
Every phase's answer is closed-form and asserted in-run: decontamination
flags exactly {dec['flagged']:,} docs with zero false positives, the
Gopher pass census is exact, a 200-doc LM sample matches numpy's exact
integer surprisal recomputation, the BM25 top-10 equals the
numpy-recomputed ranking, and stratified sampling is bit-identical
after a repartition(17).

| phase | wall (s) | shuffle write (MB) | jobs |
|---|---|---|---|
{rows}

100-TB read: decontamination broadcasts only the benchmark n-gram set
(MBs) — the 50M-token train side is map-only until the final per-doc
aggregation, so scale-out is bounded by scan bandwidth. The Gopher pass
is a pure MAP pass — the per-doc top bigram comes from an in-row sorted
run-length scan, no bigram ever reaches an exchange; the LM pass
shuffles words once to build the bounded vocabulary then broadcasts it
(the corpus total reuses the same aggregate, so one scan serves both); BM25 never shuffles the token stream (tf is a native
per-row array filter, only per-(doc, matched-term) rows move);
stratified sampling is a pure map-side filter — zero exchange.
"""
    bench_util.report("CURATION_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
