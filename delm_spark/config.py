"""YAML pipeline configuration -> validated dataclasses.

Mirrors the reference's config surface
(/root/reference/src/delm/config.py:68-562): a `DelmConfig` with
`llm_extraction`, `data_preprocessing` (target column, splitting strategy,
scoring strategy, score filter), `schema`, and `semantic_cache` sections,
each section validating its own fields with actionable errors. Spark-side
extras (checkpoint dir, extraction dedup, sample size) live under
`pipeline`.

The score filter is accepted in the reference's pandas-query syntax
(config.py:315-328) but only through the whitelist validator
(operators/scoring.validate_score_filter) — it is never eval'd.

Example YAML:

    llm_extraction:
      name: deterministic-rules
      temperature: 0.0
      max_retries: 2
      base_delay: 0.1
      max_budget: 10.0
    data_preprocessing:
      target_column: text
      splitting: {type: ParagraphSplit}
      scoring: {type: KeywordScorer, keywords: ["works at", "created"]}
      pandas_score_filter: "delm_score >= 1.0"
    schema:
      spec: {schema_type: nested, container_name: triples, variables: [...]}
    semantic_cache:
      path: /tmp/delm_cache
    pipeline:
      checkpoint_dir: /tmp/delm_ckpt
      sample_size: 100
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Optional, Union

from delm_spark.extraction.prompts import (
    DEFAULT_PROMPT_TEMPLATE,
    DEFAULT_SYSTEM_PROMPT,
    CallSpec,
)
from delm_spark.operators.scoring import validate_score_filter
from delm_spark.schemas.spec import SchemaSpec, spec_from_dict

_SPLIT_TYPES = ("ParagraphSplit", "FixedWindowSplit", "RegexSplit", "None", None)
_SCORER_TYPES = ("KeywordScorer", "FuzzyScorer", "None", None)


@dataclass
class LLMExtractionConfig:
    """Reference LLMExtractionConfig (config.py:69-150). The full reference
    field surface is accepted so a reference config.yaml loads unchanged
    (e.g. examples/cost_vs_coverage/config.yaml); fields whose mechanism
    Spark replaces are stored and honored in spirit:
      * max_workers -> Spark task parallelism (documented no-op)
      * batch_size  -> Arrow record-batch size hint
      * provider    -> kept for get_provider_string parity (Instructor
                       "provider/name" transports)
      * track_cost  -> gates get_cost_summary like the reference
    """

    name: str = "deterministic-rules"
    provider: str = "none"
    temperature: float = 0.0
    max_retries: int = 0
    base_delay: float = 1.0
    max_budget: Optional[float] = None
    batch_size: int = 10
    max_workers: int = 1
    dotenv_path: Optional[str] = None
    track_cost: bool = True
    system_prompt: str = DEFAULT_SYSTEM_PROMPT
    prompt_template: str = DEFAULT_PROMPT_TEMPLATE

    def get_provider_string(self) -> str:
        """Instructor-style combined id (reference config.py:84-86)."""
        return f"{self.provider}/{self.name}"

    def validate(self) -> None:
        if not isinstance(self.name, str) or not self.name:
            raise ValueError("llm_extraction.name must be a non-empty string")
        if not 0.0 <= float(self.temperature) <= 2.0:
            raise ValueError(
                f"llm_extraction.temperature must be in [0, 2], got {self.temperature}"
            )
        if self.max_retries < 0:
            raise ValueError("llm_extraction.max_retries must be >= 0")
        if self.base_delay < 0:
            raise ValueError("llm_extraction.base_delay must be >= 0")
        if self.max_budget is not None and self.max_budget <= 0:
            raise ValueError("llm_extraction.max_budget must be positive or null")
        if self.batch_size <= 0:
            raise ValueError("llm_extraction.batch_size must be positive")
        if self.max_workers <= 0:
            raise ValueError("llm_extraction.max_workers must be positive")
        if self.max_budget is not None and not self.track_cost:
            # reference config.py:126-128
            raise ValueError("track_cost must be True if max_budget is specified")

    def call_spec(self) -> CallSpec:
        return CallSpec(
            model_name=self.name,
            temperature=float(self.temperature),
            system_prompt=self.system_prompt,
            prompt_template=self.prompt_template,
        )


@dataclass
class DataPreprocessingConfig:
    """Reference DataPreprocessingConfig (config.py:242-330)."""

    target_column: str = "text"
    drop_target_column: bool = False
    splitting: dict = field(default_factory=lambda: {"type": "ParagraphSplit"})
    scoring: Optional[dict] = None
    pandas_score_filter: Optional[str] = None

    def validate(self) -> None:
        if not isinstance(self.target_column, str) or not self.target_column:
            raise ValueError("data_preprocessing.target_column must be a non-empty string")
        st = (self.splitting or {}).get("type")
        if st not in _SPLIT_TYPES:
            raise ValueError(
                f"Unknown split strategy: {st}; use ParagraphSplit, "
                "FixedWindowSplit, RegexSplit, or None"
            )
        if st == "RegexSplit" and not (self.splitting or {}).get("pattern"):
            raise ValueError("RegexSplit requires a 'pattern'")
        if self.scoring:
            sc = self.scoring.get("type")
            if sc not in _SCORER_TYPES:
                raise ValueError(
                    f"Unknown scorer type: {sc}; use KeywordScorer, FuzzyScorer, or None"
                )
            if sc in ("KeywordScorer", "FuzzyScorer") and not self.scoring.get("keywords"):
                raise ValueError(f"{sc} requires a non-empty keywords list")
        if self.pandas_score_filter is not None:
            validate_score_filter(self.pandas_score_filter)


@dataclass
class SemanticCacheConfig:
    """Reference cache config (config.py:418-447). `backend` selects the
    store: 'parquet' (default; the cluster-scale run-partitioned table),
    'sqlite' (a real driver-side WAL sqlite store,
    extraction/sqlite_cache.py, honoring `synchronous` and oldest-first
    `max_size_mb` pruning like the reference SQLiteWALCache), or
    'filesystem' (one file per key in the reference FilesystemJSONCache
    layout, extraction/fs_cache.py, mtime-ordered pruning). 'lmdb' is
    accepted by validation but raises at use (the lmdb package is not
    available here)."""

    path: Optional[str] = None
    backend: str = "parquet"
    max_size_mb: Optional[int] = None
    synchronous: Optional[str] = None

    def validate(self) -> None:
        if self.path is not None and not isinstance(self.path, str):
            raise ValueError("semantic_cache.path must be a string path or null")
        if self.backend not in {"parquet", "sqlite", "lmdb", "filesystem"}:
            raise ValueError(
                "semantic_cache.backend must be parquet, sqlite, lmdb, or "
                f"filesystem; got {self.backend!r}"
            )


@dataclass
class PipelineSection:
    """Spark-side extras with no reference analog."""

    checkpoint_dir: Optional[str] = None
    sample_size: Optional[int] = None
    dedup_extraction: bool = False
    extract_partitions: Optional[int] = None
    #: second linking pass over the mention residue (north-star
    #: 'dictionary + embedding blocking', kg/linking.py)
    embedding_link: bool = False
    embedding_link_threshold: float = 0.5

    def validate(self) -> None:
        if self.sample_size is not None and self.sample_size <= 0:
            raise ValueError("pipeline.sample_size must be positive or null")
        if not 0.0 <= self.embedding_link_threshold <= 1.0:
            raise ValueError("pipeline.embedding_link_threshold must be in [0, 1]")


@dataclass
class DelmConfig:
    llm_extraction: LLMExtractionConfig = field(default_factory=LLMExtractionConfig)
    data_preprocessing: DataPreprocessingConfig = field(
        default_factory=DataPreprocessingConfig
    )
    spec: Optional[SchemaSpec] = None
    schema_cfg: Optional[dict] = None  # raw spec dict, kept for fingerprints
    semantic_cache: SemanticCacheConfig = field(default_factory=SemanticCacheConfig)
    pipeline: PipelineSection = field(default_factory=PipelineSection)

    def validate(self) -> None:
        self.llm_extraction.validate()
        self.data_preprocessing.validate()
        self.semantic_cache.validate()
        self.pipeline.validate()

    # -- construction --------------------------------------------------------

    @classmethod
    def from_dict(
        cls, data: dict[str, Any], base_dir: Optional[Path] = None
    ) -> "DelmConfig":
        known = {"llm_extraction", "data_preprocessing", "schema", "semantic_cache",
                 "pipeline"}
        unknown = set(data) - known
        if unknown:
            raise ValueError(f"Unknown config sections: {sorted(unknown)}")
        llm = LLMExtractionConfig(**data.get("llm_extraction", {}))
        prep = DataPreprocessingConfig(**data.get("data_preprocessing", {}))
        cache = SemanticCacheConfig(**data.get("semantic_cache", {}))
        pipe = PipelineSection(**data.get("pipeline", {}))
        spec, schema_cfg = None, None
        schema_section = dict(data.get("schema", {}))
        # the reference schema section also carries the prompts
        # (config.py:369-371) — thread them into the call spec; a
        # container_name override is tolerated (the example configs carry
        # it even though the spec file is authoritative)
        if "prompt_template" in schema_section:
            llm.prompt_template = schema_section.pop("prompt_template")
        if "system_prompt" in schema_section:
            llm.system_prompt = schema_section.pop("system_prompt")
        schema_section.pop("container_name", None)
        if "spec" in schema_section:
            schema_cfg = schema_section["spec"]
            spec = spec_from_dict(schema_cfg)
        elif "spec_path" in schema_section:
            import json

            import yaml

            p = Path(schema_section["spec_path"])
            if not p.is_absolute() and base_dir is not None:
                # reference example configs use paths relative to the
                # config file (e.g. '../commodity_schema.yaml')
                p = base_dir / p
            schema_cfg = (
                yaml.safe_load(p.read_text())
                if p.suffix.lower() in {".yaml", ".yml"}
                else json.loads(p.read_text())
            )
            spec = spec_from_dict(schema_cfg)
        cfg = cls(llm_extraction=llm, data_preprocessing=prep, spec=spec,
                  schema_cfg=schema_cfg, semantic_cache=cache, pipeline=pipe)
        cfg.validate()
        return cfg

    @classmethod
    def from_yaml(cls, path: Union[str, Path]) -> "DelmConfig":
        import yaml

        with open(path) as f:
            return cls.from_dict(
                yaml.safe_load(f) or {}, base_dir=Path(path).resolve().parent
            )

    # -- bridges into the runtime ---------------------------------------------

    def score_threshold_filter(self) -> Optional[str]:
        """SQL-safe score predicate (whitelisted shape, '==' -> '=')."""
        f = self.data_preprocessing.pandas_score_filter
        return validate_score_filter(f) if f is not None else None

    def to_pipeline_config(self):
        """Bridge to the KG pipeline's config for nested triple specs.
        `run_pipeline` splits paragraphs, scores keywords and caches to a
        parquet table; a config asking for anything else, or giving no
        keywords, is refused."""
        from delm_spark.kg.pipeline import PipelineConfig

        from delm_spark.operators.scoring import parse_score_filter

        prep, cache = self.data_preprocessing, self.semantic_cache
        for setting, value, honoured in (
            ("data_preprocessing.splitting.type",
             (prep.splitting or {}).get("type"), "ParagraphSplit"),
            ("data_preprocessing.scoring.type",
             (prep.scoring or {"type": "KeywordScorer"}).get("type"), "KeywordScorer"),
            ("semantic_cache.backend",
             cache.backend if cache.path else "parquet", "parquet"),
        ):
            if value != honoured:
                raise ValueError(
                    f"{setting}={value!r}: the KG pipeline runs only "
                    f"{honoured!r}; use DelmSpark, which honours this setting"
                )
        kw = (prep.scoring or {}).get("keywords") or []
        if not kw:
            raise ValueError(
                "data_preprocessing.scoring.keywords is missing or empty: the KG "
                "pipeline keeps the chunks that score on these keywords; use "
                "DelmSpark, which runs without scoring"
            )
        op, threshold = ">=", 1.0
        f = self.data_preprocessing.pandas_score_filter
        if f:
            # keep the comparison operator — the reference applies the
            # pandas-query predicate verbatim ('delm_score > 1.0' excludes
            # score==1.0; '<' inverts the filter)
            op, threshold = parse_score_filter(f)
        kwargs = dict(
            keywords=list(kw),
            score_threshold=threshold,
            score_op=op,
            checkpoint_dir=self.pipeline.checkpoint_dir,
            dedup_extraction=self.pipeline.dedup_extraction,
            extract_partitions=self.pipeline.extract_partitions,
            cache_dir=self.semantic_cache.path,
            sample_size=self.pipeline.sample_size,
            max_retries=self.llm_extraction.max_retries,
            base_delay=self.llm_extraction.base_delay,
            embedding_link=self.pipeline.embedding_link,
            embedding_link_threshold=self.pipeline.embedding_link_threshold,
        )
        if self.schema_cfg is not None:
            kwargs["schema_cfg"] = self.schema_cfg
        return PipelineConfig(**kwargs)
