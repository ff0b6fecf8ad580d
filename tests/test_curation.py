"""Unit tests for the corpus-curation operator family (decontamination,
repetition/Gopher filters, PII redaction, unigram-LM scoring, BM25
search, stratified sampling) — behaviors the oracle queries don't
exercise: multi-line repetition, overlap thresholds, redaction ordering,
OOV surprisal, hand-computed BM25, and mixture realization."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from delm_spark.operators.curation import (
    decontaminate,
    gopher_quality,
    pii_counts,
    redact_pii,
    repetition_stats,
    unigram_lm_score,
    word_ngrams,
)
from delm_spark.operators.sample import (
    SAMPLE_BUCKETS,
    domain_mix_fractions,
    stratified_sample,
)
from delm_spark.operators.search import bm25_topk


def _docs(spark, rows):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def test_word_ngrams_keeps_multiplicities(spark):
    df = _docs(spark, [(1, "a b a b a")])
    out = df.select(word_ngrams(F.col("text"), 2).alias("g")).head()
    assert out["g"] == ["a b", "b a", "a b", "b a"]
    dist = df.select(word_ngrams(F.col("text"), 2, distinct=True).alias("g")).head()
    assert dist["g"] == ["a b", "b a"]


def test_word_ngrams_short_doc_yields_whole_text(spark):
    df = _docs(spark, [(1, "only two")])
    out = df.select(word_ngrams(F.col("text"), 3).alias("g")).head()
    assert out["g"] == ["only two"]


def test_decontaminate_flags_and_threshold(spark):
    train = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),  # shares 3-grams with test
            (2, "zeta eta theta iota kappa"),  # clean
        ],
    )
    test = _docs(spark, [(100, "alpha beta gamma delta")])
    out = {r["doc_id"]: r for r in decontaminate(train, test, n=3).collect()}
    # doc 1 has 3 distinct 3-grams, 2 of them in the test set
    assert out[1]["n_ngrams"] == 3 and out[1]["n_contam"] == 2
    assert out[1]["contaminated"] == 1
    assert out[2]["n_contam"] == 0 and out[2]["contaminated"] == 0


def test_decontaminate_broadcasts_test_side(spark):
    train = _docs(spark, [(1, "a b c d")])
    test = _docs(spark, [(2, "a b c")])
    plan = decontaminate(train, test, n=3)._sc._jvm.PythonSQLUtils.explainString(
        decontaminate(train, test, n=3)._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan


def test_repetition_stats_multiline(spark):
    text = "one two\none two\nthree four\n\n  \n"
    df = _docs(spark, [(1, text)])
    r = repetition_stats(df).head()
    # 3 non-blank lines, 2 distinct -> 1/3 duplicated
    assert r["dup_line_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert r["word_count"] == 6 and r["n_distinct_words"] == 4
    assert r["dup_word_frac"] == pytest.approx(1 / 3, abs=1e-6)


def test_repetition_top_bigram_tie_breaks_lexicographically(spark):
    # "a b" and "b a" both occur twice; the smaller gram must win
    df = _docs(spark, [(1, "a b a b a")])
    r = repetition_stats(df).head()
    assert r["top_bigram"] == "a b" and r["top_bigram_cnt"] == 2
    assert r["top_bigram_frac"] == pytest.approx(0.5, abs=1e-6)


def test_repetition_stats_plan_is_map_only(spark):
    """The per-doc profile (incl. top bigram) must compile to a single
    map pass: no Exchange, no explode-side Generate, no join — the
    sorted-run scan replaces the (doc, gram) shuffle."""
    from tests.conftest import TESTDATA

    # a parquet scan, not createDataFrame: local relations constant-fold
    # straight to the answer and leave nothing to assert on
    df = spark.read.parquet(str(TESTDATA / "sf0.001" / "documents.parquet"))
    out = repetition_stats(df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan and "Join" not in plan
    # the run-scan struct must appear exactly once in the optimized plan
    # (CollapseProject must not inline it into its three consumers)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("aggregate(array_sort") == 1


def test_gopher_quality_composes_flags(spark):
    good = " ".join(f"word{i}" for i in range(30))
    short = "tiny doc"
    reps = " ".join(["spam ham"] * 40)
    df = _docs(spark, [(1, good), (2, short), (3, reps)])
    rows = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert rows[1]["pass_quality"] == 1
    assert rows[2]["ok_word_count"] == 0 and rows[2]["pass_quality"] == 0
    assert rows[3]["ok_top_bigram"] == 0 and rows[3]["pass_quality"] == 0


def test_pii_redaction_order_and_counts(spark):
    text = (
        "mail a.user+x@site.org, ssn 123-45-6789, phone 415-555-0199, "
        "host 10.0.0.1 end"
    )
    df = _docs(spark, [(1, text)])
    c = pii_counts(F.col("text"))
    r = df.select(
        c["email"].alias("e"),
        c["ssn"].alias("s"),
        c["phone"].alias("p"),
        c["ipv4"].alias("i"),
        redact_pii(F.col("text")).alias("red"),
    ).head()
    assert (r["e"], r["s"], r["p"], r["i"]) == (1, 1, 1, 1)
    assert r["red"] == "mail <EMAIL>, ssn <SSN>, phone <PHONE>, host <IP> end"


def test_pii_ssn_not_half_matched_by_phone(spark):
    # SSN runs first; the phone pattern must not corrupt 3-2-4 groups
    df = _docs(spark, [(1, "id 999-88-7777 and 222-333-4444")])
    r = df.select(redact_pii(F.col("text")).alias("red")).head()
    assert r["red"] == "id <SSN> and <PHONE>"


def test_unigram_lm_oov_gets_max_surprisal(spark):
    # corpus: 'common' x9, 'rare' x1 -> total 10 tokens
    rows = [(i, "common") for i in range(9)] + [(9, "rare")]
    df = _docs(spark, rows)
    out = {r["doc_id"]: r for r in unigram_lm_score(df, vocab_size=1).collect()}
    ln = lambda x: math.floor(math.log(x) * 1e6 + 0.5)  # noqa: E731
    # vocab keeps only 'common' (count 9); 'rare' is OOV -> count 1
    assert out[0]["avg_surprisal_micro"] == ln(10) - ln(9)
    assert out[9]["avg_surprisal_micro"] == ln(10) - 0
    assert out[0]["n_tokens"] == 1


def test_unigram_lm_sum_is_integer_exact(spark):
    df = _docs(spark, [(1, "a a b"), (2, "b c")])
    rows = {r["doc_id"]: r for r in unigram_lm_score(df, vocab_size=10).collect()}
    ln = lambda x: math.floor(math.log(x) * 1e6 + 0.5)  # noqa: E731
    t = ln(5)
    # counts: a=2, b=2, c=1
    assert rows[1]["sum_surprisal_micro"] == 2 * (t - ln(2)) + (t - ln(2))
    assert rows[2]["sum_surprisal_micro"] == (t - ln(2)) + (t - ln(1))
    assert rows[1]["avg_surprisal_micro"] == rows[1]["sum_surprisal_micro"] // 3


def test_bm25_matches_hand_computation(spark):
    docs = [
        (1, "spark spark engine"),
        (2, "spark rows"),
        (3, "pandas frame engine"),
    ]
    df = _docs(spark, docs)
    out = {r["doc_id"]: r for r in bm25_topk(df, ["spark"], k=10).collect()}
    assert set(out) == {1, 2}

    def score(tf, dl, dfreq, n=3, avgdl=8 / 3, k1=1.2, b=0.75):
        idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        # same operation grouping as the operator (float mul is not
        # associative; floor(x*1e6+0.5) must see the identical double)
        s = idf * (tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))
        return math.floor(s * 1e6 + 0.5)

    assert out[1]["score_micro"] == score(2, 3, 2)
    assert out[2]["score_micro"] == score(1, 2, 2)
    assert out[1]["score_micro"] > out[2]["score_micro"]
    assert out[1]["n_terms_hit"] == 1


def test_bm25_ranks_multi_term_queries(spark):
    df = _docs(
        spark,
        [(1, "x y z"), (2, "x q r"), (3, "q r s")],
    )
    rows = bm25_topk(df, ["x", "y"], k=2).collect()
    assert [r["doc_id"] for r in rows] == [1, 2]
    assert rows[0]["n_terms_hit"] == 2


def test_stratified_sample_is_deterministic_and_mixes(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": range(2000), "lang": ["en", "fr"] * 1000}
    )
    df = spark.createDataFrame(pdf)
    fr = {"en": 0.5, "fr": 0.1}
    a = sorted(r["doc_id"] for r in stratified_sample(df, "lang", fr, "doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(df.repartition(7), "lang", fr, "doc_id").collect()
    )
    assert a == b  # membership independent of partitioning
    counts = (
        stratified_sample(df, "lang", fr, "doc_id")
        .groupBy("lang")
        .count()
        .collect()
    )
    got = {r["lang"]: r["count"] for r in counts}
    assert abs(got["en"] - 500) < 80 and abs(got["fr"] - 100) < 40
    # stratum missing from fractions is dropped entirely
    assert "de" not in got


def test_stratified_sample_plan_is_shuffle_free(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(100), "lang": ["en"] * 100})
    )
    out = stratified_sample(df, "lang", {"en": 0.5}, "doc_id")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_domain_mix_fractions_hits_targets(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(3000),
            "lang": ["en"] * 2000 + ["fr"] * 800 + ["de"] * 200,
        }
    )
    df = spark.createDataFrame(pdf)
    fr = domain_mix_fractions(df, "lang", {"en": 1, "fr": 1, "de": 1})
    # de is the binding stratum: all 200 kept, others scaled to 200
    assert fr["de"] == pytest.approx(1.0)
    assert fr["en"] == pytest.approx(200 / 2000)
    assert fr["fr"] == pytest.approx(200 / 800)
    kept = stratified_sample(df, "lang", fr, "doc_id").groupBy("lang").count()
    got = {r["lang"]: r["count"] for r in kept.collect()}
    # realized mixture within binomial noise of the equal-weight target
    assert all(abs(got[s] - 200) < 60 for s in ("en", "fr", "de"))


def test_domain_mix_fractions_missing_stratum_raises(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(10), "lang": ["en"] * 10})
    )
    with pytest.raises(ValueError, match="absent"):
        domain_mix_fractions(df, "lang", {"en": 1, "xx": 1})


def test_pack_sequences_document_boundary_binning(spark):
    import pandas as pd

    from delm_spark.operators.packing import pack_sequences

    # 300-token docs, budget 500: doc 2 STARTS at offset 300 -> pack 0
    # (overflowing it), doc 3 starts at 600 -> pack 1
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [" ".join(["w"] * 300)] * 3}
    )
    df = spark.createDataFrame(pdf)
    out = {
        r["doc_id"]: r["pack_id"]
        for r in pack_sequences(df, budget=500, block_size=2).collect()
    }
    assert out == {1: 0, 2: 0, 3: 1}


def test_pack_sequences_block_size_invariant(spark):
    from tests.conftest import TESTDATA

    from delm_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(str(TESTDATA / "sf0.001" / "documents.parquet"))
    a = {
        r["doc_id"]: r["pack_id"]
        for r in pack_sequences(docs, budget=300, block_size=7).collect()
    }
    b = {
        r["doc_id"]: r["pack_id"]
        for r in pack_sequences(docs, budget=300, block_size=1000).collect()
    }
    assert a == b


def test_pack_sequences_window_is_partitioned(spark):
    """The corpus-wide cumsum must run under a block-partitioned window
    (shuffle on __blk), never a global single-partition sort."""
    from tests.conftest import TESTDATA

    from delm_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(str(TESTDATA / "sf0.001" / "documents.parquet"))
    out = pack_sequences(docs, budget=500)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(__blk" in plan


def test_run_curation_dispositions(spark):
    import pandas as pd

    from delm_spark.curate import CurationConfig, run_curation

    good = " ".join(f"tok{i}" for i in range(30))
    near = good.replace("tok29", "changed")
    spam = " ".join(["spam ham"] * 40)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                # doc 5 needs >= 20 words so it SURVIVES the quality
                # stage and reaches decontamination (first-drop-wins)
                "text": [good, good, near, spam, "held out benchmark phrase "
                         + " ".join(f"b{i}" for i in range(20))],
            }
        )
    )
    test = spark.createDataFrame(
        pd.DataFrame({"doc_id": [99], "text": [docs.collect()[4]["text"]]})
    )
    out = {
        r["doc_id"]: r
        for r in run_curation(
            docs, test_df=test, config=CurationConfig(pack_budget=40)
        ).collect()
    }
    assert out[1]["status"] == "kept" and out[1]["pack_id"] is not None
    assert out[2]["status"] == "exact_dup" and out[2]["pack_id"] is None
    assert out[3]["status"] == "near_dup"
    assert out[4]["status"] == "quality"
    assert out[5]["status"] == "contaminated"
    # every input doc got exactly one disposition row
    assert len(out) == 5


def test_run_curation_stages_toggle_off(spark):
    import pandas as pd

    from delm_spark.curate import CurationConfig, run_curation

    spam = " ".join(["spam ham"] * 40)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [spam, spam]})
    )
    cfg = CurationConfig(
        near_dup_threshold=None, quality=False, redact=False, pack_budget=None
    )
    out = {r["doc_id"]: r for r in run_curation(docs, config=cfg).collect()}
    # only exact dedup ran: doc 2 is a byte-dup, doc 1 kept with token
    # count but no pack assignment
    assert out[1]["status"] == "kept" and out[1]["pack_id"] is None
    assert out[1]["n_tokens"] == 80
    assert out[2]["status"] == "exact_dup"


def test_run_curation_null_text_gets_disposition(spark):
    import pandas as pd

    from delm_spark.curate import CurationConfig, run_curation

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": [" ".join(f"t{i}" for i in range(25)),
                                           None, None]}
        )
    )
    out = {r["doc_id"]: r for r in run_curation(docs, config=CurationConfig()).collect()}
    # every input doc — including both null-text docs — has a row; the
    # nulls dedup together (smallest id kept, then dropped by quality)
    assert len(out) == 3
    assert out[3]["status"] == "exact_dup"
    assert out[2]["status"] == "quality"


def test_pack_sequences_rejects_string_ids(spark):
    import pandas as pd

    from delm_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a", "b"], "text": ["x y", "z"]})
    )
    with pytest.raises(TypeError, match="numeric id_col"):
        pack_sequences(df, budget=10)


def test_domain_mix_fractions_rejects_negative_weight(spark):
    import pandas as pd

    from delm_spark.operators.sample import domain_mix_fractions

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(10), "lang": ["en"] * 10})
    )
    with pytest.raises(ValueError, match=">= 0"):
        domain_mix_fractions(df, "lang", {"en": 1, "es": -0.5})


# ------------------------------------------------------------ rank fusion


def test_term_count_topk_exact(spark):
    from delm_spark.operators.search import term_count_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark merge"),
            (2, "window"),
            (3, "nothing relevant here"),
            (4, "spark merge window spark"),
        ],
        "doc_id long, text string",
    )
    got = [
        (r["doc_id"], r["score_micro"])
        for r in term_count_topk(df, ["spark", "merge", "window"], k=10).collect()
    ]
    assert got == [(4, 4), (1, 3), (2, 1)]  # zero-hit doc 3 dropped
    import pytest as _pytest

    with _pytest.raises(ValueError):
        term_count_topk(df, [])


def test_rrf_fuse_closed_form(spark):
    """Two 3-item lists with one shared doc: fused score is the exact
    integer sum of 1e6 // (60 + rank) contributions."""
    from delm_spark.operators.search import rrf_fuse

    r1 = spark.createDataFrame(
        [(10, 900), (11, 800), (12, 700)], "doc_id long, score_micro long"
    )
    r2 = spark.createDataFrame(
        [(12, 500), (13, 400)], "doc_id long, score_micro long"
    )
    got = {
        r["doc_id"]: (r["rrf_micro"], r["n_lists"])
        for r in rrf_fuse([r1, r2], k=10).collect()
    }
    t = lambda rank: 1_000_000 // (60 + rank)  # noqa: E731
    assert got == {
        10: (t(1), 1),
        11: (t(2), 1),
        12: (t(3) + t(1), 2),
        13: (t(2), 1),
    }


def test_rrf_fuse_rank_ties_break_by_id(spark):
    from delm_spark.operators.search import rrf_fuse

    r1 = spark.createDataFrame(
        [(2, 100), (1, 100)], "doc_id long, score_micro long"
    )
    got = {
        r["doc_id"]: r["rrf_micro"] for r in rrf_fuse([r1], k=10).collect()
    }
    # equal scores: the smaller id takes the better rank
    assert got[1] > got[2]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([])
    with _pytest.raises(ValueError):
        rrf_fuse([r1], k_rrf=0)


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """A doc written in the target vocabulary must out-score a doc of
    off-target tokens; weights are exact integers and the model covers
    all dim buckets."""
    from delm_spark.operators.curation import dsir_weights, hashed_linear_score

    target_text = "the quick brown fox jumps over the lazy dog again and again"
    offtar_text = "zzq xxv wwu yyt rrs qqp oop nnm llk jji hhg ffe"
    raw = spark.createDataFrame(
        [(0, target_text), (1, offtar_text), (2, target_text + " " + offtar_text)],
        "doc_id int, text string",
    )
    target = raw.filter("doc_id = 0")
    w = dsir_weights(raw, target, dim=64)
    rows = w.collect()
    assert len(rows) == 64  # full bucket coverage
    assert all(isinstance(r["weight_micro"], int) for r in rows)

    scored = {
        r["doc_id"]: r["avg_weight_micro"]
        for r in hashed_linear_score(raw, w, dim=64).collect()
    }
    assert scored[0] > scored[2] > scored[1]


def test_dsir_weights_deterministic_and_partition_invariant(spark):
    from delm_spark.operators.curation import dsir_weights

    raw = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 5} common words here") for i in range(40)],
        "doc_id int, text string",
    )
    target = raw.filter("doc_id % 4 = 0")
    a = sorted(map(tuple, dsir_weights(raw, target, dim=32).collect()))
    b = sorted(
        map(
            tuple,
            dsir_weights(raw.repartition(9), target.repartition(3), dim=32).collect(),
        )
    )
    assert a == b
