"""One-call facade e2e: YAML config -> prep_data -> process_via_llm ->
cost + P/R dict, mirroring the reference's example flow
(/root/reference/src/delm/delm.py:43-280) with zero other imports."""

from __future__ import annotations

import json

import pytest

from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG
from delm_spark.delm import DelmSpark

CONFIG_YAML = """
llm_extraction:
  name: deterministic-rules
  temperature: 0.0
  max_retries: 1
  base_delay: 0.0
data_preprocessing:
  target_column: delm_raw_data
  splitting: {type: ParagraphSplit}
  scoring:
    type: KeywordScorer
    keywords: ["works at", "created", "uses the"]
  pandas_score_filter: "delm_score >= 1.0"
schema:
  spec:
    schema_type: nested
    container_name: triples
    variables:
      - {name: subj, description: subject, data_type: string,
         required: true, validate_in_text: true}
      - {name: pred, description: relation, data_type: string,
         required: true,
         allowed_values: [works_at, uses_tool, located_in, reports_to, created]}
      - {name: obj, description: object, data_type: string,
         required: true, validate_in_text: true}
"""

DOCS = {
    "a.txt": "Alice Smith works at Acme Corp. She is happy.\n\nBob Jones created Widgetizer.",
    "b.txt": "Carol White uses the Fooly Tool. Unrelated filler text.",
    "c.txt": "Nothing relevant here at all.",
}


@pytest.fixture()
def corpus(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    for name, text in DOCS.items():
        (d / name).write_text(text)
    cfg = tmp_path / "config.yaml"
    cfg.write_text(CONFIG_YAML)
    return d, cfg


def test_yaml_to_triples_and_prf(spark, corpus, tmp_path):
    corpus_dir, cfg_path = corpus
    delm = DelmSpark.from_yaml(
        cfg_path, spark,
        experiment_name="e2e", experiment_directory=str(tmp_path / "exp"),
    )

    prepped = delm.prep_data(str(corpus_dir))
    rows = prepped.collect()
    # c.txt has no keyword hit -> filtered; a.txt splits into 2 paragraphs
    assert {r["delm_file_name"].split("/")[-1] for r in rows} == {"a.txt", "b.txt"}
    assert all(r["delm_score"] >= 1.0 for r in rows)
    assert len({r["delm_chunk_id"] for r in rows}) == len(rows)

    extracted = delm.process_via_llm()
    got = {
        (t["subj"], t["pred"], t["obj"])
        for r in extracted.collect()
        if r["delm_extracted_data_json"]
        for t in json.loads(r["delm_extracted_data_json"])["triples"]
    }
    assert ("Alice Smith", "works_at", "Acme Corp") in got
    assert ("Bob Jones", "created", "Widgetizer") in got
    assert ("Carol White", "uses_tool", "Fooly Tool") in got

    cost = delm.get_cost_summary()
    assert cost["input_tokens"] > 0 and cost["cost_usd"] == 0.0  # free model

    # golden = what a perfect extractor returns for these chunks -> P=R=1
    expected = delm.get_extraction_results().selectExpr(
        "delm_chunk_id", "delm_extracted_data_json AS expected_json"
    )
    prf = delm.evaluate_json(expected, key="delm_chunk_id")
    assert prf, "no fields scored"
    for field, m in prf.items():
        assert m["precision"] == 1.0 and m["recall"] == 1.0, (field, m)

    # a second facade over the same experiment dir sees the artifacts
    # without recomputation (reference get_extraction_results surface)
    again = DelmSpark.from_yaml(
        cfg_path, spark,
        experiment_name="e2e", experiment_directory=str(tmp_path / "exp"),
    )
    assert again.get_extraction_results().count() == extracted.count()


def test_prep_data_accepts_dataframe_and_samples(spark, tmp_path):
    cfg = {
        "data_preprocessing": {
            "target_column": "text",
            "splitting": {"type": None},
        },
        "schema": {"spec": {
            "schema_type": "nested", "container_name": "triples",
            "variables": [
                {"name": "subj", "description": "s", "data_type": "string"},
            ],
        }},
    }
    delm = DelmSpark.from_dict(cfg, spark)
    df = spark.range(50).selectExpr("concat('Doc ', id) AS text")
    out = delm.prep_data(df, sample_size=10)
    assert out.count() == 10
    assert {"delm_record_id", "delm_chunk_id", "delm_text_chunk"} <= set(out.columns)


def _extracted_rows(df):
    return sorted(
        (r["delm_chunk_id"], r["delm_extracted_data_json"] or "") for r in df.collect()
    )


def test_facade_artifacts_are_committed_stages(spark, corpus, tmp_path):
    """The experiment's artifacts are StageRunner stages: a second facade
    reads `extracted` with its stored schema (no Spark job before the
    first action), and a changed config refuses, naming the artifact."""
    corpus_dir, cfg_path = corpus
    exp = tmp_path / "exp" / "st"
    delm = DelmSpark.from_yaml(
        cfg_path, spark, experiment_name="st", experiment_directory=str(tmp_path / "exp")
    )
    delm.prep_data(str(corpus_dir))
    extracted = delm.process_via_llm()
    for name in ("preprocessed", "extracted"):
        assert (exp / name / "_delm_stage.json").exists(), name
        assert (exp / name / "_delm_config_fingerprint").exists(), name

    sc = spark.sparkContext
    sc.setJobGroup("facade-resume", "facade resume read")
    try:
        again = DelmSpark.from_yaml(
            cfg_path, spark, experiment_name="st",
            experiment_directory=str(tmp_path / "exp"),
        ).get_extraction_results()
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("facade-resume")) == []
    assert again.schema == extracted.schema
    assert _extracted_rows(again) == _extracted_rows(extracted)

    changed = tmp_path / "changed.yaml"
    changed.write_text(CONFIG_YAML.replace("delm_score >= 1.0", "delm_score >= 2.0"))
    stale = DelmSpark.from_yaml(
        changed, spark, experiment_name="st", experiment_directory=str(tmp_path / "exp")
    )
    with pytest.raises(RuntimeError, match="different config") as err:
        stale.process_via_llm()
    assert str(exp / "preprocessed") in str(err.value)


def test_facade_resumes_earlier_artifact_layout(spark, corpus, tmp_path):
    """An experiment directory written before artifacts carried
    `_delm_stage.json` (parquet, `_SUCCESS` and the config fingerprint,
    sha256 of the sorted-key JSON of the config sections) still loads."""
    import dataclasses
    import hashlib

    corpus_dir, cfg_path = corpus
    prepped = DelmSpark.from_yaml(cfg_path, spark).prep_data(str(corpus_dir))
    art = tmp_path / "exp" / "old" / "preprocessed"
    prepped.write.parquet(str(art))
    delm = DelmSpark.from_yaml(
        cfg_path, spark, experiment_name="old", experiment_directory=str(tmp_path / "exp")
    )
    c = delm.config
    material = {
        "llm": dataclasses.asdict(c.llm_extraction),
        "prep": dataclasses.asdict(c.data_preprocessing),
        "cache": dataclasses.asdict(c.semantic_cache),
        "pipeline": dataclasses.asdict(c.pipeline),
        "schema": c.schema_cfg,
    }
    (art / "_delm_config_fingerprint").write_text(
        hashlib.sha256(json.dumps(material, sort_keys=True, default=str).encode()).hexdigest()
    )
    extracted = delm.process_via_llm()
    assert delm.stages.resumed == ["preprocessed"]
    assert extracted.count() == prepped.count() == 3
    assert set(extracted.columns) >= set(prepped.columns)


# ---------------------------------------------------------------------------
# PromptedApiBackend e2e through the facade: an Instructor-shaped transport
# double with injected transient + permanent failures, exercising retry/
# backoff sequencing, error-row emission, cache population, and the
# stage-granular budget stop in one flow (VERDICT r3 #7)
# ---------------------------------------------------------------------------

API_CONFIG = """
llm_extraction:
  name: gpt-4o-mini
  temperature: 0.0
  max_retries: 2
  base_delay: 0.05
  track_cost: true
  max_budget: 0.0000001
data_preprocessing:
  target_column: delm_raw_data
  splitting: {type: ParagraphSplit}
schema:
  spec:
    schema_type: nested
    container_name: triples
    variables:
      - {name: subj, description: subject, data_type: string, required: true}
      - {name: pred, description: relation, data_type: string, required: true}
      - {name: obj, description: object, data_type: string, required: true}
semantic_cache:
  path: "{cache_dir}"
"""


def _attempts(log_path):
    """md5(prompt)-keyed attempt timestamps, in call order."""
    out = {}
    with open(log_path) as f:
        for line in f:
            key, t = line.split()
            out.setdefault(key, []).append(float(t))
    return out


def test_prompted_backend_flaky_transport_e2e(spark, tmp_path):
    import yaml

    from delm_spark.extraction.backend import PromptedApiBackend
    from delm_spark.extraction.cost import BudgetExceededError
    from delm_spark.schemas.spec import spec_from_dict
    from tests.backends import FlakyLoggingTransport

    cfg = yaml.safe_load(
        API_CONFIG.replace("{cache_dir}", str(tmp_path / "cache"))
    )
    log = str(tmp_path / "calls.log")
    spec = spec_from_dict(cfg["schema"]["spec"])
    transport = FlakyLoggingTransport(
        log, fail_first=2, permanent_fail_pattern="POISON"
    )
    backend = PromptedApiBackend(spec, transport)
    # Instructor shape auto-detected: required 5th positional param
    assert backend.pass_response_model is True

    texts = spark.createDataFrame(
        [
            ("ok.txt", "plain good text."),
            ("flaky.txt", "another good text."),
            ("bad.txt", "POISON text that always fails."),
        ],
        "delm_file_name string, delm_raw_data string",
    )

    d1 = DelmSpark.from_dict(
        cfg, spark, experiment_directory=tmp_path / "exp", backend=backend,
        experiment_name="run",
    )
    d1.prep_data(texts)
    out = {r["delm_file_name"]: r for r in d1.process_via_llm().collect()}

    # error-row emission: the poisoned chunk failed all attempts but the
    # run completed; good chunks carry clean (empty-container) extractions
    assert out["bad.txt"]["delm_errors"] is not None
    assert "permanent transport failure" in out["bad.txt"]["delm_errors"]
    assert out["ok.txt"]["delm_errors"] is None
    # cleaning drops the empty container key entirely
    assert json.loads(out["ok.txt"]["delm_extracted_data_json"]) in (
        {},
        {"triples": []},
    )

    # retry/backoff sequencing: every prompt failed its first 2 calls ->
    # 3 attempts each (max_retries=2), spaced by the exponential backoff
    # (>= base_delay, then >= 2*base_delay)
    attempts = _attempts(log)
    assert len(attempts) == 3  # one key per distinct prompt/text
    for times in attempts.values():
        assert len(times) == 3
        assert times[1] - times[0] >= 0.05
        assert times[2] - times[1] >= 0.10

    # cache population: successes are cached; a warm rerun (fresh
    # experiment, zero accumulated spend) re-calls the transport ONLY for
    # the permanently-failing key
    n_calls_before = sum(len(v) for v in attempts.values())
    d2 = DelmSpark.from_dict(
        cfg, spark, experiment_directory=tmp_path / "exp2", backend=backend,
        experiment_name="run",
    )
    d2.prep_data(texts)
    warm = {r["delm_file_name"]: r for r in d2.process_via_llm().collect()}
    assert warm["ok.txt"]["delm_cache_hit"] and warm["flaky.txt"]["delm_cache_hit"]
    assert warm["bad.txt"]["delm_errors"] is not None
    attempts2 = _attempts(log)
    new_calls = sum(len(v) for v in attempts2.values()) - n_calls_before
    assert new_calls == 3  # the poison key's max_retries+1, nothing else

    # budget stop between stages: the first stage's recorded spend exceeds
    # the (tiny) max_budget, so scheduling another stage refuses
    assert d1._spent_usd() > cfg["llm_extraction"]["max_budget"]
    with pytest.raises(BudgetExceededError, match="max_budget"):
        d1.process_via_llm()
    # and the stop survives a restart (spend sidecar in the experiment dir)
    d1b = DelmSpark.from_dict(
        cfg, spark, experiment_directory=tmp_path / "exp", backend=backend,
        experiment_name="run",
    )
    with pytest.raises(BudgetExceededError):
        d1b.process_via_llm()


def _prep_plan(prepped):
    return prepped._sc._jvm.PythonSQLUtils.explainString(
        prepped._jdf.queryExecution(), "simple"
    )


def _facade(spark, target="text"):
    return DelmSpark.from_dict(
        {
            "data_preprocessing": {
                "target_column": target,
                "splitting": {"type": None},
            },
            "schema": {"spec": TRIPLE_SCHEMA_CFG},
        },
        spark,
    )


def test_record_id_parquet_source_no_exchange(spark, tmp_path):
    """A parquet-backed corpus gets record ids from _metadata
    (file_path, row_index) — a pure map stage, NO shuffle — while
    byte-identical duplicate rows still get distinct ids."""
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [("same text",)] * 3 + [("other",)], "text string"
    ).coalesce(1).write.parquet(p)
    prepped = _facade(spark).prep_data(spark.read.parquet(p))
    assert prepped.select("delm_record_id").distinct().count() == 4
    assert "Exchange" not in _prep_plan(prepped)


def test_record_id_text_corpus_no_exchange(spark, tmp_path):
    """Whole-file corpora suffix by file name: byte-identical FILES get
    distinct ids with no exchange in the prep plan."""
    c = tmp_path / "corpus"
    c.mkdir()
    (c / "a.txt").write_text("hello world")
    (c / "b.txt").write_text("hello world")
    prepped = _facade(spark, target="delm_raw_data").prep_data(str(c))
    assert prepped.select("delm_record_id").distinct().count() == 2
    assert "Exchange" not in _prep_plan(prepped)


def test_record_id_in_memory_fallback_still_distinct(spark):
    """Frames without file provenance keep the deterministic window
    fallback — ids stay distinct for duplicate rows."""
    df = spark.createDataFrame(
        [("same text",)] * 3 + [("other",)], "text string"
    )
    prepped = _facade(spark).prep_data(df)
    assert prepped.select("delm_record_id").distinct().count() == 4
