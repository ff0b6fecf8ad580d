"""Streaming incremental KG maintenance: foreachBatch over the transcript
stream driving the batch pipeline + exactly-once-per-conversation merge.

Composition of two proven pieces (VERDICT r4 "Next round" #7):

  * the batch KG pipeline (kg/pipeline.run_pipeline) — per-triple outputs
    are batch-local (canonical map derives from the dictionary alone), so
    running it per micro-batch is exact, not approximate;
  * the incremental merge invariant (kg/update.merge_graph) —
    merge(pipeline(b1), pipeline(b2)) == pipeline(b1 UNION b2) as row
    sets, for conv-disjoint batches.

Sink discipline: the edges table is APPEND-ONLY. Each micro-batch writes
only its *fresh* edges — the batch's output anti-joined against the
conv_id projection of what is already on disk — never rewriting history.
That sidesteps the read-then-overwrite hazard entirely (no plan ever
reads the path it writes) and makes the sink idempotent at conversation
granularity: foreachBatch is at-least-once on failure/restart, and a
re-delivered micro-batch finds all its conv_ids already present and
appends zero rows. Exactly-once therefore emerges from at-least-once
delivery + conv-granular idempotence, the same recipe the batch
`submit_job --merge-into` path uses. (On a real lake the append is an
Iceberg atomic commit; on raw parquet a task failure *mid-append* can
leave orphan part-files — the conv-granular guard still suppresses
logical duplicates on retry because the anti-join sees the partial rows.)

Scale shape per micro-batch: one pruned single-column scan of the
existing table (conv_id projection — Iceberg partition/bloom pruning
serves it), one left-anti broadcast-sized join (the batch side is small
by definition of a micro-batch), one append. The 10^12-turn corpus is
never reshuffled, never rewritten.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

from delm_spark.kg.pipeline import EDGE_COLS, PipelineConfig, run_pipeline


def _existing_conv_ids(spark: SparkSession, edges_path: str) -> Optional[DataFrame]:
    """conv_id projection of the edges already materialized, or None on a
    cold sink. Single-column scan: parquet column pruning (Iceberg:
    partition/bloom pruning) serves it without reading edge payloads."""
    try:
        return spark.read.parquet(edges_path).select("conv_id").distinct()
    except AnalysisException:
        return None


def run_streaming_kg_merge(
    transcript_stream: DataFrame,
    dictionary: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Drive the incremental KG merge from a transcript stream.

    Each micro-batch runs the full batch pipeline under the default
    PipelineConfig (chunk -> score ->
    Arrow extract -> clean -> link -> canonicalize -> edges) and appends
    only conversations not yet on disk. Returns the StreamingQuery.

    Same conv-disjoint precondition as merge_graph: a conversation must
    arrive whole within one micro-batch (file-drop feeds satisfy this by
    writing one file per conversation window).
    """
    config = PipelineConfig()
    edges_path = f"{out_dir}/edges"

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        res = run_pipeline(spark, batch_df, dictionary, config)
        new_edges = res.edges.select(*EDGE_COLS)
        existing = _existing_conv_ids(spark, edges_path)
        fresh = (
            new_edges
            if existing is None
            else new_edges.join(existing, "conv_id", "left_anti")
        )
        # append-only: history is never rewritten, so no plan reads the
        # path it writes; pred partitioning matches the batch writer
        fresh.write.mode("append").partitionBy("pred").parquet(edges_path)

    writer = (
        transcript_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
