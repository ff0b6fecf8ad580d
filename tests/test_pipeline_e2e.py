"""End-to-end golden test: Spark pipeline triples vs reference oracle.

Oracle path (pure pandas + the reference's OWN functions, no Spark):
  ParagraphSplit.split (splitting_strategies.py:56-75)
  -> KeywordScorer.score (scoring_strategies.py:59-88)
  -> RuleTripleExtractor raw output (shared deterministic "LLM")
  -> NestedSchema.validate_and_parse_response_to_dict (schemas.py:375-399)

Target: triple-level P/R >= 0.95 (BASELINE.json); these tests assert
exact equality (P = R = 1.0) plus the per-turn text-equality invariant.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delm_spark.data.synthetic import (
    FACT_KEYWORDS,
    TRIPLE_SCHEMA_CFG,
    entity_dictionary,
    generate_transcripts,
)
from delm_spark.extraction.backend import RuleTripleExtractor
from delm_spark.kg.pipeline import PipelineConfig, run_pipeline
from delm_spark.schemas.spec import spec_from_dict


def _oracle_triples(ref_delm, transcripts_pdf):
    """Expected (conv_id, turn_idx, chunk_pos, item_pos, subj, pred, obj)
    rows via the reference's pure functions."""
    splitter = ref_delm["splitting"].ParagraphSplit()
    scorer = ref_delm["scoring"].KeywordScorer(list(FACT_KEYWORDS))
    ref_schema = ref_delm["schemas"].SchemaRegistry().create(TRIPLE_SCHEMA_CFG)
    Model = ref_schema.create_pydantic_schema()
    extractor = RuleTripleExtractor(spec_from_dict(TRIPLE_SCHEMA_CFG))

    rows = []
    for rec in transcripts_pdf.itertuples():
        for pos, chunk in enumerate(splitter.split(rec.text)):
            if scorer.score(chunk) < 1.0:
                continue
            raw = extractor.extract_raw(chunk)
            cleaned = ref_schema.validate_and_parse_response_to_dict(
                Model.model_validate(raw), chunk
            )
            for ipos, item in enumerate(cleaned.get("triples", [])):
                rows.append(
                    (rec.conv_id, rec.turn_idx, pos, ipos,
                     item["subj"], item["pred"], item["obj"])
                )
    return rows


@pytest.fixture(scope="module")
def small_corpus(spark):
    t = generate_transcripts(spark, n_convs=60, n_hot=2).cache()
    t.count()
    return t


@pytest.fixture(scope="module")
def pipeline_result(spark, small_corpus):
    res = run_pipeline(
        spark, small_corpus, entity_dictionary(spark), PipelineConfig()
    )
    for df in (res.extracted, res.triples, res.nodes, res.edges):
        df.cache().count()
    return res


def test_generator_deterministic_and_stable_ordering(spark, small_corpus):
    again = generate_transcripts(spark, n_convs=60, n_hot=2)
    a = small_corpus.orderBy("conv_id", "turn_idx").toPandas()
    b = again.orderBy("conv_id", "turn_idx").toPandas()
    # per-turn text equality under stable (conv_id, turn_idx) ordering
    assert (a["text"] == b["text"]).all()
    assert (a["conv_id"] == b["conv_id"]).all()
    assert a["turn_idx"].tolist() == b["turn_idx"].tolist()
    # dense turn indices per conversation
    sizes = a.groupby("conv_id")["turn_idx"].agg(["min", "max", "count"])
    assert (sizes["min"] == 0).all()
    assert (sizes["max"] + 1 == sizes["count"]).all()


def test_pipeline_triples_match_reference_oracle(ref_delm, spark, small_corpus,
                                                 pipeline_result):
    res = pipeline_result
    got = [
        tuple(r)
        for r in res.triples.select(
            "conv_id", "turn_idx", "chunk_pos", "item_pos", "subj", "pred", "obj"
        ).collect()
    ]
    expected = _oracle_triples(ref_delm, small_corpus.toPandas())
    got_s, exp_s = set(got), set(expected)
    assert exp_s, "oracle produced no triples — generator/template mismatch"
    tp = len(got_s & exp_s)
    precision = tp / max(len(got_s), 1)
    recall = tp / max(len(exp_s), 1)
    assert precision == 1.0 and recall == 1.0, (
        f"P={precision:.4f} R={recall:.4f} "
        f"missing={list(exp_s - got_s)[:5]} extra={list(got_s - exp_s)[:5]}"
    )
    # no extraction errors in the clean path
    assert res.extracted.filter(F.col("delm_errors").isNotNull()).count() == 0


def test_cleaning_drops_noise_triples(spark, pipeline_result):
    res = pipeline_result
    preds = {r["pred"] for r in res.triples.select("pred").distinct().collect()}
    assert "dislikes" not in preds  # disallowed predicate cleaned
    objs = {r["obj"].lower() for r in res.triples.select("obj").distinct().collect()}
    assert "unknown" not in objs  # null-word object cleaned


def test_linking_and_canonicalization(spark, pipeline_result):
    res = pipeline_result
    nodes = res.nodes.toPandas()
    # every alias surface of acme must canonicalize to org:acme
    acme = nodes[nodes["entity_id"] == "org:acme"]
    assert not acme.empty
    assert (acme["canonical_id"] == "org:acme").all()
    edges = res.edges
    # canonical columns always populated
    assert edges.filter(F.col("subj_canonical").isNull()).count() == 0
    assert edges.filter(F.col("obj_canonical").isNull()).count() == 0
    # linked works_at edges point at canonical org ids
    orgs = edges.filter(F.col("pred") == "works_at").select("obj_canonical").distinct()
    assert all(r["obj_canonical"].startswith("org:") for r in orgs.collect())


def test_integrity_rules_validation(spark):
    """The disposition ranks role_repeat above empty_text per the fixed
    severity order."""
    from delm_spark.kg.trajectory import transcript_integrity

    t = generate_transcripts(spark, n_convs=2)
    # a conversation with both a stuck role and blank text
    bad = t.filter(F.col("conv_id") == "conv_00000000").withColumn(
        "role", F.lit("agent")
    ).withColumn(
        "text", F.when(F.col("turn_idx") == 0, "").otherwise(F.col("text"))
    )
    row = (
        transcript_integrity(bad)
        .filter(F.col("conv_id") == "conv_00000000")
        .collect()[0]
    )
    assert row["n_role_repeats"] >= 1 and row["n_empty_text"] >= 1
    assert row["disposition"] == "role_repeat"
