"""YAML config surface: parsing, validation errors, and the bridge into
PipelineConfig / CallSpec (reference config.py:68-562 semantics)."""

from __future__ import annotations

import pytest

from delm_spark.config import DelmConfig
from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG

#: the keyword scoring every config bridged to the KG pipeline needs
SCORING = {"scoring": {"type": "KeywordScorer", "keywords": ["works at"]}}

YAML = """
llm_extraction:
  name: gpt-4o-mini
  temperature: 0.3
  max_retries: 2
  base_delay: 0.5
  max_budget: 10.0
data_preprocessing:
  target_column: text
  splitting: {type: ParagraphSplit}
  scoring:
    type: KeywordScorer
    keywords: ["works at", "created"]
  pandas_score_filter: "delm_score >= 1.0"
schema:
  spec:
    schema_type: nested
    container_name: triples
    variables:
      - {name: subj, description: d, data_type: string, required: true}
      - {name: pred, description: d, data_type: string}
      - {name: obj, description: d, data_type: string}
semantic_cache:
  path: /tmp/delm_cache_test
pipeline:
  sample_size: 10
  dedup_extraction: true
"""


def test_yaml_roundtrip(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(YAML)
    cfg = DelmConfig.from_yaml(p)
    assert cfg.llm_extraction.name == "gpt-4o-mini"
    assert cfg.spec is not None and cfg.spec.container_name == "triples"
    call = cfg.llm_extraction.call_spec()
    assert call.model_name == "gpt-4o-mini" and call.temperature == 0.3

    pc = cfg.to_pipeline_config()
    assert pc.keywords == ["works at", "created"]
    assert pc.score_threshold == 1.0
    assert pc.cache_dir == "/tmp/delm_cache_test"
    assert pc.sample_size == 10 and pc.dedup_extraction
    assert pc.max_retries == 2 and pc.base_delay == 0.5
    assert pc.schema_cfg["container_name"] == "triples"


@pytest.mark.parametrize(
    "mutation, match",
    [
        ({"llm_extraction": {"temperature": 3.0}}, "temperature"),
        ({"llm_extraction": {"max_retries": -1}}, "max_retries"),
        ({"data_preprocessing": {"splitting": {"type": "Bogus"}}}, "split strategy"),
        ({"data_preprocessing": {"splitting": {"type": "RegexSplit"}}}, "pattern"),
        (
            {"data_preprocessing": {"scoring": {"type": "KeywordScorer"}}},
            "keywords",
        ),
        (
            {"data_preprocessing": {"pandas_score_filter": "__import__('os')"}},
            "score filter",
        ),
        ({"bogus_section": {}}, "Unknown config sections"),
        ({"pipeline": {"sample_size": 0}}, "sample_size"),
    ],
)
def test_validation_errors(mutation, match):
    with pytest.raises(ValueError, match=match):
        DelmConfig.from_dict(mutation)


def test_defaults_validate():
    cfg = DelmConfig.from_dict({})
    assert cfg.llm_extraction.name == "deterministic-rules"
    scored = DelmConfig.from_dict({"data_preprocessing": SCORING})
    assert scored.to_pipeline_config().score_threshold == 1.0
    # without a cache path no cache is written, so the backend is moot
    sqlite = DelmConfig.from_dict(
        {"data_preprocessing": SCORING, "semantic_cache": {"backend": "sqlite"}}
    )
    assert sqlite.to_pipeline_config().cache_dir is None


@pytest.mark.parametrize("prep", [{}, {"scoring": {}}])
def test_to_pipeline_config_refuses_missing_keywords(prep):
    """DelmSpark runs a config without keyword scoring, but the KG
    pipeline scores every chunk: the bridge refuses it by the setting's
    name instead of failing later inside the keyword scorer."""
    cfg = DelmConfig.from_dict({"data_preprocessing": prep})
    with pytest.raises(ValueError, match=r"data_preprocessing\.scoring\.keywords.*DelmSpark"):
        cfg.to_pipeline_config()


def test_schema_spec_path(tmp_path):
    import json

    p = tmp_path / "spec.json"
    p.write_text(json.dumps(TRIPLE_SCHEMA_CFG))
    cfg = DelmConfig.from_dict({"data_preprocessing": SCORING, "schema": {"spec_path": str(p)}})
    assert cfg.spec.container_name == "triples"
    assert cfg.to_pipeline_config().schema_cfg == TRIPLE_SCHEMA_CFG


def test_reference_example_config_loads(tmp_path):
    """A reference-format config.yaml (examples/cost_vs_coverage shape:
    provider/batch_size/max_workers/track_cost, schema-level
    prompt_template + container_name, sqlite cache section, relative
    spec_path) must load unchanged."""
    import textwrap

    from delm_spark.config import DelmConfig

    (tmp_path / "schema.yaml").write_text(textwrap.dedent("""
        schema_type: nested
        container_name: commodity_prices
        variables:
          - {name: good, data_type: string, required: true, description: g}
          - {name: price, data_type: number, required: false, description: p}
    """))
    cfg_file = tmp_path / "sub" / "config.yaml"
    cfg_file.parent.mkdir()
    cfg_file.write_text(textwrap.dedent("""
        llm_extraction:
          provider: "openai"
          name: "gpt-4o-mini"
          temperature: 0.0
          max_retries: 3
          batch_size: 10
          max_workers: 4
          base_delay: 1.0
          track_cost: true
          max_budget: 50.0
        data_preprocessing:
          target_column: "text"
          drop_target_column: false
          splitting: {type: "ParagraphSplit"}
          scoring:
            type: "KeywordScorer"
            keywords: ["price", "cost"]
        schema:
          spec_path: "../schema.yaml"
          container_name: "commodity_prices"
          prompt_template: "Extract prices. {text} {variables} {context}"
        semantic_cache:
          backend: "sqlite"
          path: "./cache"
          max_size_mb: 100
          synchronous: "normal"
    """))
    cfg = DelmConfig.from_yaml(cfg_file)
    assert cfg.llm_extraction.get_provider_string() == "openai/gpt-4o-mini"
    assert cfg.llm_extraction.prompt_template.startswith("Extract prices.")
    assert cfg.spec is not None and cfg.spec.container_name == "commodity_prices"
    # DelmSpark caches in sqlite; the KG pipeline bridge refuses it
    assert cfg.semantic_cache.backend == "sqlite"
    # call spec carries the schema-level prompt override
    assert "Extract prices." in cfg.llm_extraction.call_spec().prompt_template


def test_track_cost_false_blocks_cost_summary(tmp_path):
    from delm_spark.config import DelmConfig
    from delm_spark.delm import DelmSpark

    cfg = DelmConfig.from_dict(
        {"llm_extraction": {"track_cost": False}}
    )
    d = DelmSpark(cfg, spark=object.__new__(object))  # session unused here
    with pytest.raises(ValueError, match="track_cost"):
        d.get_cost_summary()


@pytest.mark.parametrize(
    "section, setting",
    [
        ({"data_preprocessing": {"splitting": {"type": "FixedWindowSplit"}}},
         "data_preprocessing.splitting.type"),
        ({"data_preprocessing": {"splitting": {"type": None}}},
         "data_preprocessing.splitting.type"),
        ({"data_preprocessing": {"scoring": {"type": "FuzzyScorer", "keywords": ["a"]}}},
         "data_preprocessing.scoring.type"),
        ({"semantic_cache": {"backend": "sqlite", "path": "/tmp/delm_cache_test"}},
         "semantic_cache.backend"),
    ],
)
def test_to_pipeline_config_refuses_unhonoured_settings(section, setting):
    """The KG pipeline splits paragraphs, scores keywords and caches to
    parquet: the bridge refuses any other choice, naming the setting and
    DelmSpark, instead of running the pipeline's own in its place."""
    cfg = DelmConfig.from_dict(section)
    with pytest.raises(ValueError, match=rf"{setting}=.*DelmSpark"):
        cfg.to_pipeline_config()


def test_pipeline_section_embedding_link_threads_through():
    """The pipeline section's embedding-link settings reach PipelineConfig,
    and an out-of-range threshold is refused."""
    cfg = DelmConfig.from_dict(
        {
            "data_preprocessing": SCORING,
            "pipeline": {"embedding_link": True, "embedding_link_threshold": 0.7},
        }
    ).to_pipeline_config()
    assert cfg.embedding_link is True
    assert cfg.embedding_link_threshold == 0.7
    with pytest.raises(ValueError, match="embedding_link_threshold"):
        DelmConfig.from_dict(
            {"pipeline": {"embedding_link_threshold": 1.5}}
        ).to_pipeline_config()
