"""Distributed BPE vocabulary learning (byte-pair encoding, Sennrich et
al. 2016) — the tokenizer-training pass of a training-data pipeline,
expressed Spark-first.

The classical algorithm is a greedy loop: count adjacent symbol pairs,
merge the most frequent pair everywhere, repeat. The distributed
formulation here keeps the loop OFF the corpus:

- the corpus is scanned ONCE to build the distinct-word count table
  (one shuffle, map-side combinable) — identical to the repo's
  unigram-LM corpus pass;
- every merge round then operates on the word TABLE (bounded by
  vocabulary size, not corpus size): pair counts are an explode +
  count-weighted aggregation over distinct words, the winning pair is a
  one-row argmax broadcast back, and the merge application is a
  map-only string rewrite per word;
- n_merges rounds = n_merges bounded shuffles over the vocabulary.

Symbol sequences are represented as DOUBLE-SPACE-joined strings
(" a  b  c "), because applying one merge is then a plain non-greedy
`replace(rep, ' L  R ', ' LR ')`: the two-space gaps give every
occurrence its own boundary space, so adjacent overlapping pairs
("a b a b" with merge (a,b)) merge exactly like the sequential greedy
left-to-right scan, and `replace` has identical non-overlapping
left-to-right semantics in Spark SQL and DuckDB — which is what lets
the correctness oracle re-derive every round bit-for-bit. Merge
selection ties break (count desc, left asc, right asc):
fully deterministic, no RNG.

This is the *plain-pair* variant: merges act within words, no
end-of-word marker. The reference (Center-for-Applied-AI/delm) counts
tokens with external tokenizers (src/delm/utils/cost_tracker.py) but
never trains one; this extends the training-data-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from delm_spark.operators.dedup import normalize_text

__all__ = ["bpe_learn", "bpe_segment", "char_rep"]


def char_rep(word: Column) -> Column:
    """Initial symbol representation: every character becomes ' c ',
    so concatenation yields single-space pads and two-space gaps
    (' a  b ' for 'ab')."""
    return F.regexp_replace(word, "(.)", " $1 ")


def _apply_merge(rep: Column, left: Column, right: Column) -> Column:
    """One merge round on the double-space representation: literal
    replace of ' L  R ' with ' LR ', then re-normalize every space run
    back to a two-space gap (pads widen to two spaces — harmless, the
    pattern only needs one boundary space on each side)."""
    pat = F.concat(F.lit(" "), left, F.lit("  "), right, F.lit(" "))
    rew = F.concat(F.lit(" "), left, right, F.lit(" "))
    return F.regexp_replace(F.replace(rep, pat, rew), " +", "  ")


def _pair_counts(words: DataFrame) -> DataFrame:
    """Count-weighted adjacent-pair frequencies over the word table
    (rep: symbol string, cnt: word count). Explode is bounded by
    symbols-per-word; the aggregation is map-side combinable."""
    toks = F.split(F.trim("rep"), " +")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def bpe_learn(df: DataFrame, n_merges: int = 4) -> DataFrame:
    """Learn `n_merges` BPE merges from the corpus's `text` column.

    Returns the merge table (rank 1..n_merges, left, right, pair_count)
    in learning order. Each round's winner is the max-count adjacent
    pair (ties: smaller left, then smaller right symbol).

    The per-round argmax is a 1-row orderBy+limit (TakeOrdered) that is
    crossJoin-broadcast back into the word table; the corpus itself is
    touched only by the initial word count.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = df.sparkSession
    words = (
        df.select(
            F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(char_rep(F.col("w")).alias("rep"), "cnt")
        # each round's argmax action re-evaluates the word-table lineage;
        # checkpointing the base table is what makes "the corpus is
        # scanned once" literally true (rounds then re-run only the
        # vocab-sized expression chain)
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # corpus exhausted (every word a single symbol)
        row = top[0]
        merges.append((rank, row["left"], row["right"], row["pair_count"]))
        words = words.select(
            _apply_merge(
                F.col("rep"), F.lit(row["left"]), F.lit(row["right"])
            ).alias("rep"),
            "cnt",
        )
        if rank % 8 == 0:  # bound the expression-chain depth for deep vocabs
            words = words.localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    )


def bpe_segment(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned merge list to a (doc_id, text) corpus: per-word
    character split, then the merge replaces in rank order — a pure
    map-only expression chain (no shuffle, no Python). Returns (doc_id,
    tokens: array of BPE symbols)."""
    return (
        df.select(
            F.col("doc_id"),
            F.split(normalize_text(F.col("text")), " ").alias("__ws"),
        )
        .select(
            "doc_id",
            F.flatten(
                F.transform(
                    F.filter(F.col("__ws"), lambda w: w != F.lit("")),
                    lambda w: F.split(F.trim(_seg_expr(w, merges)), " +"),
                )
            ).alias("tokens"),
        )
    )


def _seg_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    rep = char_rep(word)
    for left, right in merges:
        rep = _apply_merge(rep, F.lit(left), F.lit(right))
    return rep
