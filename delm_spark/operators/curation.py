"""Corpus-curation operators for training-data pipelines.

The four families a large-scale LLM training-data pipeline runs between
raw ingestion and tokenization, each expressed Spark-first (native
column expressions / broadcast joins; zero Python UDFs):

- benchmark decontamination: word-n-gram overlap of the training corpus
  against a (small) held-out evaluation set, as a broadcast semi-join —
  the standard "drop any train doc sharing an n-gram with the test set"
  pass (reference has no equivalent; this extends the engine the way
  its data_loaders/scorers compose: per-record, oracle-checkable).
- repetition statistics + Gopher-style quality rules: duplicate-word /
  duplicate-line fractions, most-frequent-bigram share, mean word
  length — the filter family from Rae et al. 2021 ("Scaling Language
  Models", App. A) re-expressed as two map-side-combinable aggregations.
- PII detection and redaction: pure-regex counters and replacement
  (email / phone / SSN / IPv4), lookaround-free so the same patterns
  run verbatim in RE2 engines (the DuckDB correctness oracle).
- unigram-LM surprisal scoring: a two-pass corpus language model
  (token counts -> broadcast top-V vocabulary -> per-doc mean negative
  log-probability), the cheap perplexity proxy used for quality
  bucketing. All log values are fixed-point micronats computed from
  integer counts so aggregation order can never perturb the result.

Scale notes (100 TB): decontamination broadcasts only the *test* n-gram
set (benchmarks are MBs, the corpus is TBs) so the train side is a
map-only pass plus one per-doc aggregation; repetition stats shuffle
(doc_id, gram) pairs with map-side partial aggregation; PII is pure
per-row expression work inside whole-stage codegen; the LM pass
shuffles words once for the vocabulary (bounded by V after the
broadcast) and doc_ids once for the per-doc mean.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delm_spark.operators.dedup import normalize_text, word_ngrams

__all__ = [
    "word_ngrams",  # re-export: the shared construction lives in dedup.py
    "decontaminate",
    "repetition_stats",
    "gopher_quality",
    "PII_PATTERNS",
    "PII_TOKENS",
    "pii_counts",
    "redact_pii",
    "unigram_lm_score",
]


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-train-document n-gram overlap against a held-out test set.

    Returns one row per train document: `n_ngrams` (distinct word
    n-grams), `n_contam` (how many also occur anywhere in `test`),
    `contam_frac`, and `contaminated` (1 when any n-gram does).
    Callers drop or quarantine flagged rows before training.

    Plan shape: the test side is collapsed to a distinct n-gram set and
    broadcast (benchmarks are small by construction); the train side is
    ONE scan -> gram explode -> broadcast left join (hit marker) -> one
    groupBy(id). No shuffle ever carries document text, only grams and
    ids, and the join is exchange-free on the train side.
    """
    test_grams = (
        test.select(F.explode(word_ngrams(F.col(text_col), n, distinct=True)).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    exploded = train.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n, distinct=True)).alias("g"),
    )
    per_doc = (
        exploded.join(F.broadcast(test_grams), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_contam"),
        )
    )
    return per_doc.select(
        id_col,
        "n_ngrams",
        "n_contam",
        F.round(F.col("n_contam") / F.col("n_ngrams"), 6).alias("contam_frac"),
        (F.col("n_contam") > 0).cast("int").alias("contaminated"),
    )


def _top_run(sorted_arr: Column) -> Column:
    """(count, value) of the most frequent element of a SORTED array, as
    a struct<bc: long, bg: string> — one linear run-length scan inside
    whole-stage codegen. Equal elements are adjacent after sorting, and
    because the scan visits values in ascending order, "strictly greater
    count wins" makes ties resolve to the lexicographically smallest
    value with no extra comparison."""
    init = F.struct(
        F.lit(0).cast("long").alias("bc"),
        F.lit(None).cast("string").alias("bg"),
        F.lit(0).cast("long").alias("cc"),
        F.lit(None).cast("string").alias("cg"),
    )

    def step(a: Column, x: Column) -> Column:
        cur = (
            F.when(x.eqNullSafe(a.getField("cg")), a.getField("cc") + 1)
            .otherwise(F.lit(1))
            .cast("long")
        )
        better = cur > a.getField("bc")
        return F.struct(
            F.when(better, cur).otherwise(a.getField("bc")).alias("bc"),
            F.when(better, x).otherwise(a.getField("bg")).alias("bg"),
            cur.alias("cc"),
            x.alias("cg"),
        )

    return F.aggregate(
        sorted_arr,
        init,
        step,
        lambda a: F.struct(a.getField("bc").alias("bc"), a.getField("bg").alias("bg")),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition profile (Gopher App. A measurements).

    Columns: word_count, n_distinct_words, dup_word_frac, mean_word_len,
    dup_line_frac (newline-delimited), top_bigram, top_bigram_cnt,
    top_bigram_frac. The most-frequent bigram is found per-row by
    sorting the doc's bigram array and run-length scanning it
    (`_top_run`) — O(d log d) per doc inside whole-stage codegen, so the
    whole profile is a single MAP pass: no explode, no shuffle, no join.
    (The exploded groupBy(doc, gram) formulation this replaces shuffled
    ~1 GB of bigram rows per 1M docs because doc-scoped keys get no
    map-side reduction; the SQL oracle still uses it, pinning the
    semantics of both.)
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    lines = F.filter(
        F.transform(
            F.split(F.col(text_col), r"\n"), lambda x: F.trim(x)
        ),
        lambda x: x != "",
    )
    bigrams = word_ngrams(F.col(text_col), 2)
    # two-step select: the run-scan struct is aliased once and extracted
    # in a second projection — CollapseProject keeps non-cheap aliases
    # referenced multiple times un-inlined, so the sort+scan runs once
    # per row, not once per consuming column
    staged = df.select(
        F.col(id_col),
        F.size(words).alias("word_count"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.round(
            F.aggregate(words, F.lit(0), lambda a, x: a + F.length(x))
            / F.greatest(F.size(words), F.lit(1)),
            6,
        ).alias("mean_word_len"),
        F.round(
            1
            - F.size(F.array_distinct(lines))
            / F.greatest(F.size(lines), F.lit(1)),
            6,
        ).alias("dup_line_frac"),
        _top_run(F.array_sort(bigrams)).alias("__top"),
        F.size(bigrams).alias("__n_bigrams"),
    )
    return staged.select(
        id_col,
        "word_count",
        "n_distinct_words",
        F.round(
            1
            - F.col("n_distinct_words") / F.greatest(F.col("word_count"), F.lit(1)),
            6,
        ).alias("dup_word_frac"),
        "mean_word_len",
        "dup_line_frac",
        F.col("__top.bg").alias("top_bigram"),
        F.col("__top.bc").alias("top_bigram_cnt"),
        F.round(
            F.col("__top.bc") / F.greatest(F.col("__n_bigrams"), F.lit(1)), 6
        ).alias("top_bigram_frac"),
    )


#: Gopher rule thresholds: the published rules scaled for short documents
GOPHER_WORDS = (20, 100_000)
GOPHER_MEAN_WORD_LEN = (2.0, 10.0)
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.18


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style rule filter over `repetition_stats`: one int flag per
    rule plus the composed `pass_quality`, at the `GOPHER_*` thresholds."""
    stats = repetition_stats(df, text_col, id_col)
    (min_words, max_words), (min_len, max_len) = GOPHER_WORDS, GOPHER_MEAN_WORD_LEN
    checks = {
        "ok_word_count": (F.col("word_count") >= min_words)
        & (F.col("word_count") <= max_words),
        "ok_mean_word_len": (F.col("mean_word_len") >= min_len)
        & (F.col("mean_word_len") <= max_len),
        "ok_dup_lines": F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC,
        "ok_top_bigram": F.col("top_bigram_frac") <= GOPHER_MAX_TOP_BIGRAM_FRAC,
    }
    out = stats
    pass_all = F.lit(True)
    for name, pred in checks.items():
        out = out.withColumn(name, pred.cast("int"))
        pass_all = pass_all & pred
    return out.withColumn("pass_quality", pass_all.cast("int"))


#: lookaround-free patterns that parse identically under Java regex and
#: RE2 (the DuckDB oracle runs them verbatim). Order matters for
#: redaction: SSN before phone so `123-45-6789` never half-matches.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

PII_TOKENS: dict[str, str] = {
    "email": "<EMAIL>",
    "ssn": "<SSN>",
    "phone": "<PHONE>",
    "ipv4": "<IP>",
}


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind PII match counts (dict of int Columns, codegen-native)."""
    return {
        kind: F.size(F.regexp_extract_all(col, F.lit(pat), 0))
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(col: Column) -> Column:
    """Replace every PII match with its `<KIND>` token, in the declared
    pattern order (SSN before phone; email and IPv4 are disjoint)."""
    out = col
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, PII_TOKENS[kind])
    return out


def unigram_lm_score(df: DataFrame, vocab_size: int = 30) -> DataFrame:
    """Mean unigram surprisal per document (doc_id, text), in integer
    micronats.

    Two-pass corpus LM: (1) whitespace-token counts -> top-`vocab_size`
    vocabulary (count desc, word asc tie-break) with per-word
    ln(count) pre-quantized to micronats; (2) per-token surprisal
    ln(total) - ln(count) (out-of-vocabulary words take count=1, i.e.
    maximum surprisal), summed and floor-averaged per document.

    Everything after the two `ln` calls is integer arithmetic, so the
    result is independent of aggregation order — `ln` itself is applied
    only to whole-corpus constants and the <=`vocab_size` distinct
    count values, never to per-row floats. Plan shape: one word shuffle
    (map-side combinable counts), vocabulary + the 1-row total both
    broadcast, one final groupBy(id).
    """
    micronats = _micronats
    tokens = df.select(
        F.col("doc_id"), F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w")
    )
    # vocab AND the corpus total both derive from the one word-count
    # aggregate (ln(sum of counts) == ln(token count)): ReuseExchange
    # serves both broadcasts from a single shuffle instead of a second
    # full corpus scan + explode just to count rows
    counts = tokens.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("w"))
        .limit(vocab_size)
        .select("w", micronats(F.col("cnt")).alias("ln_cnt_micro"))
    )
    total = counts.agg(
        micronats(F.sum("cnt")).alias("ln_total_micro")
    )
    scored = (
        tokens.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (
                F.col("ln_total_micro") - F.coalesce(F.col("ln_cnt_micro"), F.lit(0))
            ).alias("surprisal_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("surprisal_micro").cast("long").alias("sum_surprisal_micro"),
        F.expr("sum(surprisal_micro) div count(1)").cast("long").alias("avg_surprisal_micro"),
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring: hashed-feature linear classifier
# ---------------------------------------------------------------------------

def _micronats(c: Column) -> Column:
    """ln(c) quantized to integer micronats — applied only to aggregate
    COUNTS (never per-row floats), so everything downstream is integer
    arithmetic, independent of aggregation order (same contract as
    unigram_lm_score)."""
    return F.floor(F.log(c) * 1e6 + 0.5).cast("long")


def hashed_features(col: Column, dim: int) -> Column:
    """Engine-portable feature hashing (the fastText trick): token ->
    md5 -> bucket in [0, dim). Collisions are the accepted trade of the
    hashing-trick; dim sizes the model, not the data."""
    from delm_spark.operators.sample import hash_bucket

    return hash_bucket(col, dim)


def _nonempty_tokens():
    """Normalized whitespace tokens of a document's text, null-safe: null text
    coalesces to '' and empty tokens are filtered, so neither a null doc
    nor an empty one contributes a phantom '' feature (training) or a
    phantom token count (scoring)."""
    return F.filter(
        F.split(normalize_text(F.coalesce(F.col("text"), F.lit(""))), " "),
        lambda t: t != "",
    )


def nb_logodds_weights(
    df: DataFrame,
    label_col: Column,
    dim: int = 1024,
) -> DataFrame:
    """Train a naive-Bayes log-odds linear model over hashed unigram
    features of the `text` column: weight(f) = ln(count_pos(f) + 1) -
    ln(count_neg(f) + 1),
    in integer micronats. This is the classic cheap quality classifier
    (a fastText-style linear text scorer with NB-initialized weights):
    ONE token shuffle (map-side combinable conditional counts), model
    size == dim rows — broadcastable by construction, so training cost
    at 100 TB is a single pass over the corpus.

    `label_col` is any boolean expression over `df`'s columns (e.g.
    "this doc came from the trusted source"). Returns (feature,
    weight_micro) with exactly the features observed in training.
    """
    tokens = df.select(
        label_col.cast("boolean").alias("__y"),
        F.explode(_nonempty_tokens()).alias("w"),
    )
    return (
        tokens.select(hashed_features(F.col("w"), dim).alias("feature"), "__y")
        .groupBy("feature")
        .agg(
            F.sum(F.col("__y").cast("long")).alias("__np"),
            F.sum((~F.col("__y")).cast("long")).alias("__nn"),
        )
        .select(
            "feature",
            (_micronats(F.col("__np") + 1) - _micronats(F.col("__nn") + 1)).alias(
                "weight_micro"
            ),
        )
    )


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    dim: int = 1024,
) -> DataFrame:
    """Score every (doc_id, text) document under a (feature, weight_micro)
    linear model:
    sum / floor-mean of its hashed-token weights (integer micronats, so
    scores are exact and aggregation-order independent; the sign of
    avg_weight_micro IS the NB class decision). Unseen features score 0.

    Plan shape: explode -> broadcast join against the model (dim rows)
    -> one groupBy(doc). No corpus shuffle besides the per-doc
    aggregation; at 100 TB the model rides the broadcast, the token
    stream never leaves its map task until the final combine.

    Null-disposition contract (ADVICE r4): EVERY input doc gets exactly
    one output row — null or empty text scores (n_tokens=0, sums=0)
    rather than vanishing (explode of a null array) or scoring a phantom
    '' token (split of ''). explode_outer keeps token-less docs as one
    null-token row that counts 0 and sums 0."""
    tokens = df.select(
        F.col("doc_id"), F.explode_outer(_nonempty_tokens()).alias("__w")
    ).select(
        F.col("doc_id"),
        "__w",
        F.when(
            F.col("__w").isNotNull(), hashed_features(F.col("__w"), dim)
        ).alias("feature"),
    )
    return (
        tokens.join(F.broadcast(weights), "feature", "left")
        .groupBy("doc_id")
        .agg(
            F.count("__w").alias("n_tokens"),
            F.sum(F.coalesce(F.col("weight_micro"), F.lit(0)))
            .cast("long")
            .alias("sum_weight_micro"),
            F.expr(
                "sum(coalesce(weight_micro, 0)) div greatest(count(__w), 1)"
            )
            .cast("long")
            .alias("avg_weight_micro"),
        )
    )


def bigram_lm_score(df: DataFrame, vocab_size: int = 30) -> DataFrame:
    """Mean BIGRAM surprisal per (doc_id, text) document in integer
    micronats — the
    second-order companion of `unigram_lm_score` (fluency-sensitive
    where the unigram score only sees word choice).

    Model: tokens outside the top-`vocab_size` unigram vocabulary map
    to '<unk>' (so the conditional tables are vocab-bounded at corpus
    scale); add-one smoothing over the (vocab_size + 1)-symbol alphabet:

        surprisal(w1 w2) = ln(c(w1) + V + 1) - ln(c(w1 w2) + 1)

    with both counts over the UNK-mapped corpus. `ln` is applied only to
    whole-corpus integer counts (the micronat discipline), so every
    per-document value is exact BIGINT arithmetic, independent of
    aggregation and partitioning.

    Plan shape (100-TB framing): ONE token pass builds unigram counts
    (top-V vocabulary broadcast back); per-document bigrams come from an
    IN-ROW zip of the UNK-mapped token array (map-only, no
    second corpus shuffle); the bigram-count aggregation and the final
    per-doc aggregation are the only exchanges; the conditional tables
    join back broadcast (bounded by (V+1)^2 observed entries).

    Returns (doc_id, n_bigrams, sum_surprisal_micro, avg_surprisal_micro)
    with single-token/empty docs keeping an n_bigrams=0 zero row.
    """
    micronats = _micronats
    words = F.split(normalize_text(F.coalesce(F.col("text"), F.lit(""))), " ")
    docs = df.select(
        F.col("doc_id"),
        F.filter(words, lambda w: w != F.lit("")).alias("__ws"),
    )
    tokens = docs.select(F.explode("__ws").alias("w"))
    counts = tokens.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("w"))
        .limit(vocab_size)
        .select("w")
    )
    # UNK-map in-row via a broadcast membership join of the exploded
    # unigram stream is avoided: the vocabulary is collected once
    # (bounded by vocab_size) and folded into a native array_contains
    # literal, keeping the mapping map-only on both passes
    vset = sorted(r["w"] for r in vocab.collect())
    in_vocab = lambda w: F.array_contains(  # noqa: E731
        F.array(*[F.lit(v) for v in vset]) if vset else F.array(F.lit("")),
        w,
    )
    mapped = docs.select(
        F.col("doc_id"),
        F.transform(
            "__ws", lambda w: F.when(in_vocab(w), w).otherwise(F.lit("<unk>"))
        ).alias("__ms"),
    )
    grams = mapped.select(
        F.col("doc_id"),
        F.explode(
            F.zip_with(
                F.slice(
                    "__ms", 1, F.greatest(F.size("__ms") - 1, F.lit(0))
                ),
                F.slice(
                    "__ms", 2, F.greatest(F.size("__ms") - 1, F.lit(0))
                ),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    uni = (
        grams.groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
        .select("w1", micronats(F.col("c1") + vocab_size + 1).alias("ln_den"))
    )
    bi = (
        grams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .select("w1", "w2", micronats(F.col("c12") + 1).alias("ln_num"))
    )
    scored = (
        grams.join(F.broadcast(bi), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .select("doc_id", (F.col("ln_den") - F.col("ln_num")).alias("s"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("s").cast("long").alias("sum_surprisal_micro"),
        F.expr("sum(s) div count(1)").cast("long").alias("avg_surprisal_micro"),
    )
    # zero rows for docs with < 2 tokens (LEFT join back over all inputs)
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("sum_surprisal_micro", F.lit(0))
            .cast("long")
            .alias("sum_surprisal_micro"),
            F.coalesce("avg_surprisal_micro", F.lit(0))
            .cast("long")
            .alias("avg_surprisal_micro"),
        )
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    dim: int = 4096,
) -> DataFrame:
    """DSIR importance weights over the `text` column (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per hashed-unigram
    feature, ln p_target(f) - ln p_raw(f) with add-one smoothing, in
    integer micronats — the model a pretraining pipeline uses to
    resample a raw crawl toward a target domain. A document's importance
    is then the sum of its token weights; score with the existing
    hashed_linear_score (sum_weight_micro IS log importance x 1e6).

    weight(f) = [mn(cnt_t(f)+1) - mn(T_t+dim)] - [mn(cnt_r(f)+1) - mn(T_r+dim)]

    where mn = micronat-quantized ln, T_* = total token counts. All dim
    buckets are emitted (never-observed features carry the smoothing
    constant), so the model is a complete distribution ratio, not just
    the observed support.

    Scale shape: ONE token pass per side into a dim-bounded map-side-
    combinable count (the model is <= dim rows, broadcastable by
    construction); totals ride two 1-row broadcast cross joins. Nothing
    corpus-sized shuffles."""

    def bucket_counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(F.explode(_nonempty_tokens()).alias("__w"))
            .select(hashed_features(F.col("__w"), dim).alias("feature"))
            .groupBy("feature")
            .agg(F.count(F.lit(1)).alias(out))
        )

    tc = bucket_counts(target, "__tc")
    rc = bucket_counts(raw, "__rc")
    tt = tc.agg(F.coalesce(F.sum("__tc"), F.lit(0)).alias("__tt"))
    rt = rc.agg(F.coalesce(F.sum("__rc"), F.lit(0)).alias("__rt"))
    buckets = raw.sparkSession.range(dim).select(
        F.col("id").cast("long").alias("feature")
    )
    return (
        buckets.join(F.broadcast(tc), "feature", "left")
        .join(F.broadcast(rc), "feature", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .select(
            "feature",
            (
                (
                    _micronats(F.coalesce(F.col("__tc"), F.lit(0)) + 1)
                    - _micronats(F.col("__tt") + dim)
                )
                - (
                    _micronats(F.coalesce(F.col("__rc"), F.lit(0)) + 1)
                    - _micronats(F.col("__rt") + dim)
                )
            ).alias("weight_micro"),
        )
    )
