"""Structured Streaming variant of the extraction pipeline.

The reference is batch-only; its checkpoint/resume loop
(/root/reference/src/delm/core/extraction_manager.py:109-167) is the
closest incremental construct. Here the same chunk -> score -> extract ->
triples transformation runs as an incremental query: new transcript files
(or Kafka partitions, in production) arrive, only new turns are chunked
and extracted, and Spark's streaming checkpoint replaces the staging-table
anti-join for exactly-once progress tracking.

The transformation chain is IDENTICAL code to the batch path — chunking
and scoring are stateless narrow ops, and the rule backend's native items
explode through the same helper as the batch pipeline's triples stage —
so batch/stream parity holds by construction (asserted in
tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from delm_spark.extraction.backend import RuleTripleExtractor
from delm_spark.kg.pipeline import (
    PipelineConfig,
    chunk_transcripts,
    native_triples,
    score_and_filter,
)
from delm_spark.schemas.spec import spec_from_dict

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of transcript parquet drops (one dir = one feed)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_triples(stream: DataFrame) -> DataFrame:
    """Transcripts stream -> triples stream (stateless; same operators as
    the batch pipeline stages 1-5 under the default PipelineConfig, whose
    rule backend always has native items)."""
    config = PipelineConfig()
    spec = spec_from_dict(config.schema_cfg)
    chunks = score_and_filter(
        chunk_transcripts(stream), config.keywords, config.score_threshold
    )
    return native_triples(chunks, spec, RuleTripleExtractor(spec))


def hourly_triple_counts(triples_with_ts: DataFrame) -> DataFrame:
    """Windowed aggregation with late-data handling: triples per predicate
    per 1-hour event-time window, 2-hour watermark."""
    return (
        triples_with_ts.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("pred"))
        .agg(F.count(F.lit(1)).alias("n_triples"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "pred",
            "n_triples",
        )
    )


def run_stream_to_parquet(
    triples: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Sink the triples stream to parquet with exactly-once checkpointing.
    `available_now=True` drains everything currently available and stops —
    the batch-equivalent trigger used in tests."""
    writer = (
        triples.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
