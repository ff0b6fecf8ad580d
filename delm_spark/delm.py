"""One-call facade mirroring the reference's `DELM` object
(/root/reference/src/delm/delm.py:43-280): config -> `prep_data` ->
`process_via_llm` -> results/cost/evaluate, driven from YAML or a dict.

Spark-first re-expression: every method returns a DataFrame (lazy plan)
instead of pandas; record and chunk ids are content-derived xxhash64
values rather than ordinal indices so they are stable under any
partitioning (the reference's sequential ids assume a single pandas
frame, data_processor.py:111-133).

Artifacts live under `experiment_directory/experiment_name/` (the
reference's DiskExperimentManager writes feather batches there,
delm.py:203-209): `preprocessed/` and `extracted/` are `StageRunner`
stages (kg/pipeline.py, config-fingerprint guarded), and
`_delm_spend.json` holds the accumulated extraction spend.
"""

from __future__ import annotations

import dataclasses
from pathlib import Path
from typing import Any, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delm_spark.config import DelmConfig
from delm_spark.constants import (
    CHUNK_COL,
    CHUNK_ID_COL,
    CHUNK_POS_COL,
    FILE_NAME_COL,
    PART_ID_COL,
    RECORD_ID_COL,
    SCORE_COL,
)
from delm_spark.kg.pipeline import StageRunner, config_digest


class DelmSpark:
    """`DELM`-shaped entry point (reference delm.py:43): one object owns
    the config, the experiment directory, and the staged artifacts.

        delm = DelmSpark.from_yaml("config.yaml", spark,
                                   experiment_name="run1",
                                   experiment_directory="/tmp/exp")
        prepped = delm.prep_data("corpus_dir/")          # chunk+score+filter
        extracted = delm.process_via_llm()               # cached extraction
        delm.get_cost_summary()                          # spend dict
        delm.evaluate(expected_df, keys=[...], value_cols=[...])
    """

    def __init__(
        self,
        config: Union[DelmConfig, dict, str, Path],
        spark: Optional[SparkSession] = None,
        experiment_name: str = "default",
        experiment_directory: Union[str, Path, None] = None,
        overwrite_experiment: bool = False,
        backend=None,
    ) -> None:
        if isinstance(config, (str, Path)):
            config = DelmConfig.from_yaml(config)
        elif isinstance(config, dict):
            config = DelmConfig.from_dict(config)
        config.validate()
        self.config = config
        if spark is None:
            from delm_spark.session import get_spark

            spark = get_spark()
        self.spark = spark
        self.experiment_name = experiment_name
        base = Path(experiment_directory) if experiment_directory else None
        self.dir: Optional[Path] = (base / experiment_name) if base else None
        if self.dir is not None:
            if overwrite_experiment and self.dir.exists():
                import shutil

                shutil.rmtree(self.dir)
            self.dir.mkdir(parents=True, exist_ok=True)
        # artifacts persisted under one config must not silently serve a
        # different one: the same resume guard as run_pipeline's stages
        fingerprint = config_digest(
            {
                "llm": dataclasses.asdict(config.llm_extraction),
                "prep": dataclasses.asdict(config.data_preprocessing),
                "cache": dataclasses.asdict(config.semantic_cache),
                "pipeline": dataclasses.asdict(config.pipeline),
                "schema": config.schema_cfg,
            }
        )
        self.stages = StageRunner(spark, self.dir and str(self.dir), fingerprint)
        self.backend = backend
        self._preprocessed: Optional[DataFrame] = None
        self._extracted: Optional[DataFrame] = None

    # -- constructors (reference delm.py:120-165) ----------------------------

    @classmethod
    def from_yaml(cls, path: Union[str, Path], spark=None, **kwargs) -> "DelmSpark":
        return cls(DelmConfig.from_yaml(path), spark, **kwargs)

    @classmethod
    def from_dict(cls, data: dict, spark=None, **kwargs) -> "DelmSpark":
        return cls(DelmConfig.from_dict(data), spark, **kwargs)

    # -- prep_data (reference delm.py:222-249) --------------------------------

    def prep_data(
        self, data: Union[str, Path, DataFrame], sample_size: int = -1
    ) -> DataFrame:
        """Load -> record ids -> split -> chunk ids -> score -> filter, all
        as one lazy plan, persisted to `<experiment>/preprocessed`.

        `data` is a file, a directory (single-extension corpus, reference
        data_loaders.py:331-383), or an existing DataFrame."""
        from delm_spark.operators.sample import seeded_sample_records
        from delm_spark.operators.scoring import parse_score_filter, SCORE_OPS
        from delm_spark.operators.splitting import explode_chunks, split_strategy_expr

        prep = self.config.data_preprocessing
        one_row_per_file = False
        if isinstance(data, DataFrame):
            df = data
        else:
            from delm_spark.io.loaders import load_directory, load_path

            p = Path(data)
            if p.is_dir():
                df, ext = load_directory(self.spark, str(p), prep.target_column)
            else:
                df = load_path(self.spark, str(p), prep.target_column)
                ext = p.suffix.lower()
            # whole-file loaders emit exactly one row per input file, so
            # the file name is a shuffle-free positional record suffix
            one_row_per_file = ext in {".txt", ".md", ".html", ".docx", ".pdf"}
        target = prep.target_column if prep.target_column in df.columns else (
            "delm_raw_data" if "delm_raw_data" in df.columns else None
        )
        if target is None:
            raise ValueError(
                f"target column {prep.target_column!r} not in {df.columns}"
            )
        # content-derived record id: stable under partitioning (see module
        # docstring); the reference's ordinal index is pandas-only. A
        # duplicate-row suffix keeps identical documents DISTINCT records
        # (the reference's ordinal ids do too) — without it, n duplicate
        # rows would share one id and the chunk-metadata join would fan
        # out n^2. The suffix source is tiered by cost:
        #   1. whole-file corpora (txt/md/html/docx/pdf we loaded
        #      ourselves): the file name IS the row's position — pure map.
        #   2. row-tracked file sources (parquet): the hidden _metadata
        #      (file_path, row_index) pair — deterministic file position,
        #      NO exchange; the dominant corpus-scale case stays a pure
        #      map stage.
        #   3. anything else (in-memory frames, sources without row
        #      metadata): a row_number window over the content hash — one
        #      full shuffle, but deterministic and only on the fallback
        #      path. monotonically_increasing_id is NOT an option here:
        #      it is marked nondeterministic, and with no experiment dir
        #      the un-persisted plan recomputes per action, so ids could
        #      differ between the joins that consume them.
        content_hash = F.xxhash64(*sorted(df.columns))
        dup_suffix = None
        if one_row_per_file and FILE_NAME_COL in df.columns:
            dup_suffix = F.xxhash64(F.col(FILE_NAME_COL))
        else:
            try:
                dup_suffix = F.xxhash64(
                    F.col("_metadata.file_path"), F.col("_metadata.row_index")
                )
                # force analysis NOW: _metadata only resolves over
                # row-tracked file-source scans
                df.withColumn(RECORD_ID_COL, dup_suffix).schema
            except Exception:
                dup_suffix = None
        if dup_suffix is None:
            from pyspark.sql import Window

            # duplicate rows are byte-identical, so which copy gets which
            # rank is immaterial — any stable order works
            dup_suffix = F.row_number().over(
                Window.partitionBy(content_hash).orderBy(content_hash)
            )
        df = df.withColumn(
            RECORD_ID_COL,
            F.concat_ws(
                "-", content_hash.cast("string"), dup_suffix.cast("string")
            ),
        )
        if sample_size > 0:
            df = seeded_sample_records(df, sample_size, RECORD_ID_COL)
        splitting = prep.splitting or {"type": None}
        if splitting.get("type") in (None, "None"):
            chunked = df.withColumn(CHUNK_POS_COL, F.lit(0)).withColumn(
                CHUNK_COL, F.col(target)
            )
        else:
            chunks = split_strategy_expr(splitting, F.col(target))
            chunked = explode_chunks(df.withColumn("__chunks", chunks), F.col("__chunks"))
            chunked = chunked.drop("__chunks")
        if prep.drop_target_column and target != CHUNK_COL:
            chunked = chunked.drop(target)
        chunked = chunked.withColumn(
            CHUNK_ID_COL, F.xxhash64(F.col(RECORD_ID_COL), F.col(CHUNK_POS_COL))
        )
        if prep.scoring:
            from delm_spark.operators.scoring import score_strategy_expr

            chunked = chunked.withColumn(
                SCORE_COL, score_strategy_expr(prep.scoring, F.col(CHUNK_COL))
            )
            if prep.pandas_score_filter:
                op, thr = parse_score_filter(prep.pandas_score_filter)
                chunked = chunked.filter(SCORE_OPS[op](F.col(SCORE_COL), thr))
        self._preprocessed = self.stages.commit("preprocessed", chunked)
        return self._preprocessed

    # -- process_via_llm (reference delm.py:170-219) ---------------------------

    def _spend_path(self) -> Optional[Path]:
        return (self.dir / "_delm_spend.json") if self.dir is not None else None

    def _spent_usd(self) -> float:
        if getattr(self, "_spend", None) is not None:
            return self._spend
        p = self._spend_path()
        if p is not None and p.exists():
            import json

            self._spend = float(json.loads(p.read_text())["cost_usd"])
        else:
            self._spend = 0.0
        return self._spend

    def _record_spend(self, cost_usd: float) -> None:
        self._spend = self._spent_usd() + cost_usd
        p = self._spend_path()
        if p is not None:
            import json

            p.write_text(json.dumps({"cost_usd": self._spend}))

    def process_via_llm(self, preprocessed: Optional[DataFrame] = None) -> DataFrame:
        """Schema-guided extraction over the prepped chunks: persistent
        semantic cache, retry/backoff, error-safe rows — then metadata
        joined back per chunk id, persisted to `<experiment>/extracted`.

        Budget is enforced BETWEEN stages (reference
        extraction_manager.py:193-195): the spend of each completed
        extraction stage accumulates (surviving restarts via a sidecar
        when an experiment directory is set), and scheduling another stage
        past `max_budget` raises BudgetExceededError — already-computed
        results are kept."""
        from delm_spark.extraction.backend import RuleTripleExtractor
        from delm_spark.extraction.cost import BudgetExceededError, summarize_cost
        from delm_spark.extraction.extract import extract_chunks

        max_budget = self.config.llm_extraction.max_budget
        if max_budget is not None and self._spent_usd() > max_budget:
            raise BudgetExceededError(
                f"accumulated spend ${self._spent_usd():.6f} exceeds "
                f"max_budget ${max_budget}; refusing to schedule another "
                "extraction stage"
            )
        data = preprocessed or self._preprocessed or self.stages.resume("preprocessed")
        if data is None:
            raise RuntimeError("run prep_data first (no preprocessed table found)")
        if self.config.spec is None:
            raise ValueError("config.schema.spec is required for extraction")
        backend = self.backend or RuleTripleExtractor(self.config.spec)
        # storage backend dispatch (reference semantic_cache.py factory):
        # 'sqlite' -> driver-side WAL sqlite (single-node compat);
        # 'filesystem' -> driver-side one-file-per-key JSON store
        # (reference FilesystemJSONCache layout); 'parquet' -> the
        # run-partitioned parquet table (the cluster-scale path);
        # 'lmdb' needs the lmdb package, absent here.
        cache_cfg = self.config.semantic_cache
        cache_dir, driver_cache = None, None
        if cache_cfg.path is not None:
            if cache_cfg.backend == "sqlite":
                from delm_spark.extraction.sqlite_cache import SqliteSemanticCache

                driver_cache = SqliteSemanticCache(
                    cache_cfg.path,
                    synchronous=cache_cfg.synchronous or "NORMAL",
                    max_size_mb=cache_cfg.max_size_mb,
                )
            elif cache_cfg.backend == "filesystem":
                from delm_spark.extraction.fs_cache import FilesystemSemanticCache

                driver_cache = FilesystemSemanticCache(
                    cache_cfg.path, max_size_mb=cache_cfg.max_size_mb
                )
            elif cache_cfg.backend == "lmdb":
                raise NotImplementedError(
                    "semantic_cache.backend='lmdb' needs the lmdb package, "
                    "which is not available; use 'sqlite', 'filesystem' or "
                    "'parquet'"
                )
            else:
                cache_dir = cache_cfg.path
        out = extract_chunks(
            data.select(CHUNK_ID_COL, CHUNK_COL),
            self.config.spec,
            backend,
            dedup=self.config.pipeline.dedup_extraction,
            max_retries=self.config.llm_extraction.max_retries,
            base_delay=self.config.llm_extraction.base_delay,
            cache_dir=cache_dir,
            driver_cache=driver_cache,
            call_spec=self.config.llm_extraction.call_spec(),
        )
        # metadata back on chunk id (reference delm.py:208: left join);
        # `out` carries the extraction's task lineage, so a committed
        # preprocessed stage's lineage column stays out of the join
        meta = data.drop(CHUNK_COL, PART_ID_COL)
        joined = out.join(meta, CHUNK_ID_COL, "left")
        self._extracted = self.stages.commit("extracted", joined)
        if max_budget is not None and self.config.llm_extraction.track_cost:
            self._record_spend(
                summarize_cost(
                    self._extracted, model=self.config.llm_extraction.name
                ).cost_usd
            )
        return self._extracted

    # -- results / cost (reference delm.py:252-280) -----------------------------

    def get_extraction_results(self) -> DataFrame:
        res = self._extracted or self.stages.resume("extracted")
        if res is None:
            raise RuntimeError("run process_via_llm first (no extracted table)")
        return res

    def get_cost_summary(self) -> dict:
        from delm_spark.extraction.cost import summarize_cost

        if not self.config.llm_extraction.track_cost:
            # reference delm.py:272-276
            raise ValueError(
                "Cost tracking is not enabled in the configuration. Please "
                "set `track_cost` to `True` in the configuration."
            )

        s = summarize_cost(
            self.get_extraction_results(), model=self.config.llm_extraction.name
        )
        return {
            "input_tokens": s.input_tokens,
            "output_tokens": s.output_tokens,
            "cost_usd": s.cost_usd,
            "cached_input_tokens": s.cached_input_tokens,
            "cached_output_tokens": s.cached_output_tokens,
        }

    # -- evaluate (reference utils/performance_estimation.py:32-202) -----------

    def evaluate(
        self, expected: DataFrame, keys: list, value_cols: list
    ) -> dict[str, Any]:
        """Field-level P/R/F1 of the extraction against golden rows sharing
        `keys` + `value_cols`. Returns {field: {tp, fp, fn, precision,
        recall, f1}}."""
        from delm_spark.eval.metrics import set_confusion

        got = self.get_extraction_results()
        conf = set_confusion(expected, got, keys=keys, value_cols=value_cols)
        return {
            r["field"]: {
                k: r[k] for k in ("tp", "fp", "fn", "precision", "recall", "f1")
            }
            for r in conf.collect()
        }

    def evaluate_json(self, expected: DataFrame, key: str) -> dict[str, Any]:
        """Reference-shaped evaluation (performance_estimation.py:280-388):
        join golden JSON records (`key`, `expected_json`) against this
        experiment's extracted JSON per record and run the recursive
        field-path P/R walk. Returns {field_path: {tp, fp, fn, precision,
        recall, f1}}."""
        from delm_spark.constants import EXTRACTED_JSON_COL
        from delm_spark.eval.metrics import field_path_confusion

        if self.config.spec is None:
            raise ValueError("config.schema.spec is required for evaluation")
        got = self.get_extraction_results().select(
            key, F.col(EXTRACTED_JSON_COL).alias("extracted_json")
        )
        pairs = expected.select(key, "expected_json").join(got, key, "left")
        conf = field_path_confusion(pairs, self.config.spec)
        return {
            r["field"]: {
                k: r[k] for k in ("tp", "fp", "fn", "precision", "recall", "f1")
            }
            for r in conf.collect()
        }
