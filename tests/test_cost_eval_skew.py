"""Cost tracking, performance estimation, and skew utilities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delm_spark.data.synthetic import entity_dictionary, generate_transcripts
from delm_spark.eval.estimate import estimate_triple_performance, merged_records
from delm_spark.extraction.cost import (
    CostSummary,
    estimate_input_cost,
    summarize_cost,
)
from delm_spark.kg.pipeline import PipelineConfig, run_pipeline
from delm_spark.operators.skew import salted_count


@pytest.fixture(scope="module")
def corpus(spark):
    t = generate_transcripts(spark, n_convs=30, n_hot=2).cache()
    t.count()
    return t


@pytest.fixture(scope="module")
def result(spark, corpus):
    res = run_pipeline(spark, corpus, entity_dictionary(spark), PipelineConfig())
    # materialize the frames the module's tests act on repeatedly — the
    # checkpoint-dir-less pipeline is one lazy DAG, so without this every
    # collect()/count() in every test re-runs the extraction stage
    res.extracted = res.extracted.localCheckpoint(eager=True)
    res.triples = res.triples.localCheckpoint(eager=True)
    return res


def test_cost_summary_and_budget(spark, result):
    s = summarize_cost(result.extracted)
    assert s.input_tokens > 0 and s.output_tokens > 0
    assert s.cost_usd == 0.0  # deterministic backend is free
    paid = summarize_cost(result.extracted, model="gpt-4o-mini")
    assert paid.cost_usd > 0
    assert estimate_input_cost(result.chunks, "delm_text_chunk") > 0


def test_estimate_performance_self_golden(spark, corpus, result):
    # the pipeline's own triples as goldens -> perfect scores
    expected = result.triples.select("conv_id", "subj", "pred", "obj")
    report = estimate_triple_performance(
        spark, corpus, entity_dictionary(spark), expected
    )
    assert report["triples"]["precision"] == 1.0
    assert report["triples"]["recall"] == 1.0
    for field_scores in report["fields"].values():
        assert field_scores["f1"] == 1.0


def test_estimate_detects_missing_triples(spark, corpus, result):
    expected = result.triples.select("conv_id", "subj", "pred", "obj")
    # corrupt the goldens: add a triple that the pipeline never emits
    fake = spark.createDataFrame(
        [("conv_00000000", "Nobody", "works_at", "Nowhere Inc")],
        "conv_id string, subj string, pred string, obj string",
    )
    report = estimate_triple_performance(
        spark, corpus, entity_dictionary(spark), expected.unionByName(fake)
    )
    assert report["triples"]["recall"] < 1.0
    assert report["triples"]["precision"] == 1.0


def test_merged_records_per_conv(spark, result):
    merged = merged_records(result.triples)
    assert merged.count() == result.triples.select("conv_id").distinct().count()
    row = merged.first()
    assert len(row["items"]) >= 1


def test_salted_aggregations_match_plain(spark, corpus):
    plain_n = {
        r["conv_id"]: r["n"]
        for r in corpus.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted_n = {r["conv_id"]: r["n"] for r in salted_count(corpus, "conv_id").collect()}
    assert salted_n == plain_n


def test_lookup_price_provider_strings():
    from delm_spark.extraction.cost import lookup_price

    assert lookup_price("gpt-4o-mini") == (0.60, 2.40)
    assert lookup_price("openai/gpt-4o-mini") == (0.60, 2.40)
    assert lookup_price("anthropic/claude-sonnet-4-20250514") == (3.00, 15.00)
    assert lookup_price("unknown-model") == (0.0, 0.0)


def test_estimate_total_cost_extrapolates(spark):
    """Sampled-run cost extrapolation (reference cost_estimation.py:111-190):
    cost measured on a seeded n-conversation sample, scaled by
    total/sample."""
    from delm_spark.data.synthetic import entity_dictionary, generate_transcripts
    from delm_spark.eval.estimate import estimate_total_cost
    from delm_spark.kg.pipeline import PipelineConfig

    t = generate_transcripts(spark, n_convs=40, n_hot=0)
    est = estimate_total_cost(
        spark, t, entity_dictionary(spark), PipelineConfig(),
        sample_size=8, model="gpt-4o-mini",
    )
    assert est["sample_records"] == 8 and est["total_records"] == 40
    assert est["sample_input_tokens"] > 0
    assert est["estimated_total_cost_usd"] == pytest.approx(
        est["sample_cost_usd"] * 5.0
    )
    assert est["estimated_total_cost_usd"] > 0
