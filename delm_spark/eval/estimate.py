"""Performance estimation entry point (reference
/root/reference/src/delm/utils/performance_estimation.py:32-202):
run the pipeline on the records that have golden expectations, merge
chunk-level results per record, and score field-level P/R/F1.

Spark shape: semi-join sample filter -> pipeline -> per-record merge ->
join expected -> explode to (record, field, value) sets -> confusion agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delm_spark.eval.metrics import set_confusion, triple_prf
from delm_spark.kg.pipeline import PipelineConfig, run_pipeline
from delm_spark.operators.merge import merge_nested_records


def estimate_triple_performance(
    spark: SparkSession,
    transcripts: DataFrame,
    dictionary: DataFrame,
    expected_triples: DataFrame,
    config: PipelineConfig | None = None,
) -> dict:
    """Run the KG pipeline on only the conversations present in
    `expected_triples` (semi-join, reference performance_estimation.py:124)
    and score whole-triple and per-field P/R/F1."""
    sample = transcripts.join(
        expected_triples.select("conv_id").distinct(), "conv_id", "left_semi"
    )
    res = run_pipeline(spark, sample, dictionary, config or PipelineConfig())
    got = res.triples

    overall = triple_prf(expected_triples, got)
    per_field = {
        r["field"]: {k: r[k] for k in ("tp", "fp", "fn", "precision", "recall", "f1")}
        for r in set_confusion(
            expected_triples, got, keys=["conv_id"], value_cols=["subj", "pred", "obj"]
        ).collect()
    }
    return {"triples": overall, "fields": per_field}


def estimate_total_cost(
    spark: SparkSession,
    transcripts: DataFrame,
    dictionary: DataFrame,
    config: PipelineConfig | None = None,
    sample_size: int = 10,
    model: str = "deterministic-rules",
) -> dict:
    """Sampled total-cost extrapolation (reference
    utils/cost_estimation.py:111-190): run the REAL pipeline on a seeded
    sample of `sample_size` conversations, measure the actual token cost,
    and scale by total_records / sample_size. One distinct-count + one
    sampled run — the extrapolation arithmetic is driver-side."""
    from dataclasses import replace

    from delm_spark.extraction.cost import summarize_cost

    config = config or PipelineConfig()
    n_total = transcripts.select("conv_id").distinct().count()
    n_sample = min(sample_size, n_total)
    sample_cfg = replace(
        config, sample_size=n_sample, checkpoint_dir=None, cache_dir=None
    )
    res = run_pipeline(spark, transcripts, dictionary, sample_cfg)
    s = summarize_cost(res.extracted, model=model)
    factor = n_total / n_sample if n_sample else 0.0
    return {
        "sample_records": n_sample,
        "total_records": n_total,
        "sample_cost_usd": s.cost_usd,
        "sample_input_tokens": s.input_tokens,
        "sample_output_tokens": s.output_tokens,
        "estimated_total_cost_usd": s.cost_usd * factor,
        "estimated_total_input_tokens": int(s.input_tokens * factor),
    }


def merged_records(triples: DataFrame) -> DataFrame:
    """Per-conversation consolidated triple lists in chunk order (the
    record-level merge the reference applies before evaluation,
    performance_estimation.py:159-183)."""
    return merge_nested_records(triples)
