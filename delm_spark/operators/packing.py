"""Sequence packing: assign documents to fixed token-budget training
sequences ("packs") in a stable global order.

The tokenization-stage operator of a training-data pipeline: documents
are laid out one after another in id order and each is assigned to the
pack in which it STARTS (document-boundary binning — packs may overflow
by at most one document, the standard concat-then-chunk layout's
document-preserving variant).

The naive formulation is a GLOBAL window cumulative sum — a
single-partition sort at 100 TB. This implementation is the classic
two-phase distributed prefix sum instead:

  1. rows are grouped into deterministic id-range blocks; the cumsum
     WITHIN each block is a partitioned window (parallel, shuffle on
     the block key);
  2. per-block totals (one row per block — corpus_size / block_size
     rows, millions at most) get the global running offset with a tiny
     window of their own;
  3. offsets join back on the block key — same partitioning as step 1,
     so Catalyst reuses the exchange.

The DuckDB oracle runs the sequential `SUM() OVER (ORDER BY id)`
formulation, proving the distributed prefix sum computes exactly the
sequential semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from delm_spark.operators.text import whitespace_token_count

__all__ = ["pack_sequences", "pack_summary", "shard_assign", "write_shards"]


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 2048,
    block_size: int = 100_000,
) -> DataFrame:
    """Assign each document a `pack_id` (int64): packs are consecutive
    `budget`-token windows over the id-ordered token stream, and a doc
    belongs to the pack its first token falls in. Returns
    (id_col, n_tokens, pack_id). `block_size` trades shuffle width
    against the size of the per-block offset table (corpus_rows /
    block_size rows); any value yields identical output.

    `id_col` must be NUMERIC: the block key `id div block_size` is only
    order-preserving (the prefix-sum correctness condition) for numeric
    ids — a string id would ANSI-fail the division, or with ANSI off
    silently null the block key and drop every row from the join."""
    from pyspark.sql.types import NumericType

    if not isinstance(df.schema[id_col].dataType, NumericType):
        raise TypeError(
            f"pack_sequences needs a numeric id_col for its "
            f"order-preserving block key; {id_col!r} is "
            f"{df.schema[id_col].dataType.simpleString()} — derive a "
            f"numeric rank first"
        )
    tok = whitespace_token_count(F.col(text_col)).cast("long")
    base = df.select(
        F.col(id_col),
        tok.alias("n_tokens"),
        (F.col(id_col) / block_size).cast("long").alias("__blk"),
    )
    w_in = (
        Window.partitionBy("__blk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = base.withColumn("__cs_in", F.sum("n_tokens").over(w_in))
    w_blk = (
        Window.orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy("__blk")
        .agg(F.sum("n_tokens").alias("__bt"))
        .select(
            "__blk",
            F.coalesce(F.sum("__bt").over(w_blk), F.lit(0)).alias("__off"),
        )
    )
    return within.join(offsets, "__blk").select(
        id_col,
        "n_tokens",
        F.expr(f"(__off + __cs_in - n_tokens) div {budget}").alias("pack_id"),
    )


def pack_summary(packed: DataFrame) -> DataFrame:
    """Per-pack census over `pack_sequences` output: document count,
    token total, and the id span (packs are contiguous id ranges by
    construction, so min/max fully describe membership)."""
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def shard_assign(df: DataFrame, id_col: str = "doc_id", n_shards: int = 8) -> DataFrame:
    """Deterministic global pseudo-shuffle into training shards — the
    export stage of a training-data pipeline. Data loaders want (a) a
    fixed shard count, (b) within-shard order uncorrelated with corpus
    order (no source/time runs feeding a training batch), and (c)
    byte-reproducibility across reruns: Spark's df.repartition(n) +
    rand() gives none of these (partitioning-dependent, RNG-seeded per
    task attempt — a retried task reshuffles its rows).

    Both the shard AND the within-shard position derive from ONE
    md5('shard0|' || id): shard = hash % n_shards, position = rank of the hash
    inside the shard (md5 collisions are the only tie source — none in
    practice, and a collision still yields a total order via the id
    tie-break). Map-only except the per-shard rank window — and that
    window's partition count IS n_shards, so at 100 TB pick n_shards >>
    executors (standard practice: thousands of shards) and every window
    partition stays executor-sized.

    Returns (id_col, shard, shard_pos) with int64 shard/shard_pos.
    """
    return _with_shard(df.select(id_col), id_col, n_shards)


def _with_shard(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    """df + (shard, shard_pos), payload columns carried through — so
    write_shards computes the assignment inline instead of re-scanning
    the input for a second pass + an extra join exchange."""
    h = F.md5(F.concat(F.lit("shard0|"), F.col(id_col).cast("string")))
    hv = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    w = Window.partitionBy("shard").orderBy(F.col("__h"), F.col(id_col))
    return (
        df.withColumn("__h", h)
        .withColumn("shard", hv % n_shards)
        .withColumn("shard_pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("__h")
    )


def write_shards(df: DataFrame, path: str) -> None:
    """Materialize `shard_assign`'s 8-shard shuffle of (doc_id, ...)
    training data: one directory per shard
    (`shard=K/`), rows physically ordered by shard_pos inside each file
    so a loader streams them in shuffle order without its own sort.
    repartition ON THE SHARD KEY + sortWithinPartitions keeps this a
    single shuffle; partitionBy lays out the directories. The assignment
    is computed inline on df (no join, no second scan of the input)."""
    assigned = _with_shard(df, "doc_id", 8)
    (
        assigned.repartition(8, "shard")
        .sortWithinPartitions("shard", "shard_pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
