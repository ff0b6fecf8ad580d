"""Full-text keyword search: BM25 ranking over a document corpus.

The retrieval primitive a training-data / RAG pipeline needs next to
ANN: exact lexical top-k with the Okapi BM25 weighting. Expressed
Spark-first:

- document length and the corpus profile (N, avgdl) come from native
  per-row expressions plus ONE 1-row aggregate (broadcast);
- the token stream is filtered to the query's terms BEFORE any shuffle,
  so term-frequency and document-frequency aggregations only ever see
  rows matching the (tiny) query vocabulary — at 100 TB the exploded
  token stream never hits an exchange, only the per-(doc, term) matches
  do, and those are bounded by the posting lists of the query terms;
- scores are fixed-point micro-units: every float input to the formula
  is derived from integer counts identically in any engine, and the
  per-term score is quantized to int64 *before* the per-doc sum, so
  aggregation order cannot perturb ranking (and the DuckDB oracle
  reproduces scores exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delm_spark.operators.dedup import normalize_text

__all__ = ["bm25_topk", "tfidf_top_terms", "term_count_topk", "rrf_fuse"]

#: Okapi BM25 term-saturation and length-normalization constants
BM25_K1, BM25_B = 1.2, 0.75


def _sum_topk(parts: DataFrame, part: str, total: str, hits: str, k: int) -> DataFrame:
    """Per doc_id, `total` sums the `part` column and `hits` counts the
    rows summed; the k docs with the highest total, ties by doc_id asc."""
    return (
        parts.groupBy("doc_id")
        .agg(
            F.sum(part).cast("long").alias(total),
            F.count(F.lit(1)).cast("int").alias(hits),
        )
        .orderBy(F.desc(total), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Top-k (doc_id, text) documents for `query_terms` under Okapi BM25.

    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   (Robertson-Sparck
    Jones, the +1 form that keeps weights positive); per-term
    contribution idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with
    k1, b = `BM25_K1`, `BM25_B`, quantized to micro-units per (doc, term)
    then summed. Returns (doc_id, score_micro, n_terms_hit) ordered by score desc, id asc,
    limited to k.
    """
    # dedupe after lowercasing (order-preserving): duplicate or
    # case-colliding terms would double df, scores, and n_terms_hit
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    k1, b = BM25_K1, BM25_B
    words = F.split(normalize_text(F.col("text")), " ")
    docs = df.select(F.col("doc_id"), F.size(words).alias("dl"), words.alias("__w"))
    profile = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    # token stream restricted to query terms before the explode leaves
    # the row: per-doc tf via native array filters, no full-token shuffle.
    # NB: capture the term via a factory — a defaulted second lambda arg
    # would be bound to the array index by PySpark's HOF dispatch.
    def _tf(term: str):
        return F.size(F.filter(F.col("__w"), lambda w: w == F.lit(term)))

    tf_cols = [_tf(t).alias(f"__tf_{i}") for i, t in enumerate(terms)]
    per_doc = docs.select("doc_id", "dl", *tf_cols)
    stacked = per_doc.select(
        "doc_id",
        "dl",
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"),
                            F.col(f"__tf_{i}").cast("long").alias("tf"),
                        )
                        for i, t in enumerate(terms)
                    ]
                ),
                lambda s: s.getField("tf") > 0,
            )
        ).alias("m"),
    ).select("doc_id", "dl", F.col("m.term").alias("term"), F.col("m.tf").alias("tf"))
    dfreq = stacked.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        stacked.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(profile))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (
                    F.col("tf")
                    * F.lit(k1 + 1.0)
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b)
                            * F.col("dl")
                            / (F.col("sum_dl") / F.col("n_docs"))
                        )
                    )
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    return _sum_topk(scored, "score_micro", "score_micro", "n_terms_hit", k)


def tfidf_top_terms(
    df: DataFrame,
    top_n: int = 3,
) -> DataFrame:
    """Per-(doc_id, text)-document top-n keyword terms by TF-IDF — the distributed
    keyword-extraction pass used to label / facet a training corpus.

    tfidf_micro(d, t) = tf(d, t) * (ln(N) - ln(df(t))) in integer
    micronats: ln is applied only to whole-corpus integer counts (N and
    the per-term document frequencies), per the repo's micronat
    discipline, so every score is exact BIGINT arithmetic and the
    DuckDB oracle reproduces it bit-for-bit. Ties break by term asc.

    Plan shape (100-TB framing): ONE token shuffle builds the per-(doc,
    term) tf table; the document-frequency table is a second aggregation
    OVER THE SAME exchange (ReusedExchange serves both — verified in the
    executed plan), NOT a second corpus scan; tf joins df by term
    equi-join (the term vocabulary is corpus-scale — deliberately not
    broadcast); the per-doc top-n is a rank-filter window that Catalyst
    executes as WindowGroupLimit (per-partition partial top-n before the
    doc shuffle). No Python, no all-pairs, no global sort.

    `max_tf` (the term's highest in-document frequency) is part of the
    output for two reasons: augmented/normalized-tf consumers need it,
    and aggregating the tf column in the df branch is what keeps both
    consumers' canonical subtrees identical so Catalyst serves them from
    the single reused exchange — pruning tf out of the df aggregate
    demotes the plan to a second full token pass.

    Returns (doc_id, term, tf, df, max_tf, tfidf_micro) with <= top_n
    rows per document.
    """
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    toks = df.select(
        F.col("doc_id"),
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dftab = tf.groupBy("term").agg(
        F.count("doc_id").cast("long").alias("df"),
        F.max("tf").alias("max_tf"),
    )
    n_docs = df.agg(
        F.floor(F.log(F.count(F.lit(1))) * 1e6 + 0.5)
        .cast("long")
        .alias("__ln_n_micro")
    )
    scored = (
        tf.join(dftab, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "max_tf",
            (
                F.col("tf")
                * (
                    F.col("__ln_n_micro")
                    - F.floor(F.log("df") * 1e6 + 0.5).cast("long")
                )
            ).alias("tfidf_micro"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_micro"), F.asc("term")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .drop("__rn")
    )


def term_count_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Boolean retrieval over (doc_id, text) documents with raw
    term-frequency ranking: score_micro =
    total occurrences of the query terms (an exact integer — the
    micro-suffix keeps the column contract shared with bm25_topk), docs
    with zero hits dropped. Same scale shape as BM25's tf stage: the
    token stream is filtered to the query vocabulary inside the row via
    native array filters, so nothing corpus-sized ever shuffles."""
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("term_count_topk requires at least one query term")
    words = F.split(normalize_text(F.col("text")), " ")

    # factory capture — a defaulted second lambda arg would be bound to
    # the array index by PySpark's HOF dispatch (see bm25_topk._tf)
    def _hits(term: str):
        return F.size(F.filter(words, lambda w: w == F.lit(term)))

    score = sum((_hits(t) for t in terms), start=F.lit(0))
    return (
        df.select(F.col("doc_id"), score.cast("long").alias("score_micro"))
        .filter(F.col("score_micro") > 0)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: int = 60,
    k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of top-k (doc_id,
    score_micro) retrieval lists: each list contributes 1e6 div (k_rrf +
    rank) micro-units per document, ranks assigned by (score desc, id
    asc) — integer terms, so the fused score is aggregation-order
    independent and SQL-reproducible. Returns (doc_id, rrf_micro, n_lists) ordered by
    fused score desc, id asc, limited to k.

    The rank window is global by construction, which is CORRECT here and
    cheap: the inputs are top-k retrieval lists (bounded by their own
    LIMIT), never corpus-sized — fusing corpus-scale rankings would need
    the two-phase prefix-sum rank instead."""
    if not rankings:
        raise ValueError("rrf_fuse requires at least one ranking")
    if k_rrf < 1:
        raise ValueError(f"k_rrf must be >= 1, got {k_rrf}")
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    contribs = [
        r.select(
            F.col("doc_id"),
            F.row_number().over(w).alias("__rank"),
        ).select(
            "doc_id",
            F.expr(f"CAST(1000000 div ({k_rrf} + __rank) AS BIGINT)").alias(
                "__rrf_term"
            ),
        )
        for r in rankings
    ]
    u = contribs[0]
    for c in contribs[1:]:
        u = u.unionByName(c)
    return _sum_topk(u, "__rrf_term", "rrf_micro", "n_lists", k)
