"""The staged KG-construction pipeline (north-rule stages 1-8).

    transcripts -> chunk -> score/filter -> extract -> triples
               -> link -> canonicalize -> nodes/edges

Each stage can be checkpointed to a staging parquet directory with
per-partition lineage (`delm_part_id`); a rerun reuses every committed
stage, which replaces the reference's feather-batch checkpoint/resume
with corruption repair
(/root/reference/src/delm/core/extraction_manager.py:109-167,
experiment_manager.py:385-484). A stage commits when its config
fingerprint file is written, after the data (with Spark's _SUCCESS
marker) and its metrics sidecar: a stage killed anywhere before that has
no fingerprint file and is rebuilt from the previous committed stage, so
restarts are idempotent by construction.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, ClassVar, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from delm_spark.constants import (
    CHUNK_COL,
    CHUNK_POS_COL,
    ERRORS_COL,
    EXTRACTED_JSON_COL,
    PART_ID_COL,
    SCORE_COL,
)
from delm_spark.data.synthetic import FACT_KEYWORDS, TRIPLE_SCHEMA_CFG
from delm_spark.extraction.backend import ExtractorBackend, RuleTripleExtractor
from delm_spark.extraction.extract import extract_chunks
from delm_spark.kg.canonicalize import canonical_map
from delm_spark.kg.linking import link_mentions
from delm_spark.kg.update import nodes_from_edges
from delm_spark.operators.scoring import keyword_score_expr
from delm_spark.operators.splitting import paragraph_split_expr
from delm_spark.schemas.compile import spark_schema_for
from delm_spark.schemas.spec import NestedSpec, SchemaSpec, spec_from_dict

#: Iceberg namespace, in the configured catalog, of the stage tables when
#: stages are stored as Iceberg
ICEBERG_NAMESPACE = "delm_stages"

#: columns of the edge table, in order (s4_edges; the streaming sink
#: appends the same columns)
EDGE_COLS = [
    "conv_id",
    "turn_idx",
    CHUNK_POS_COL,
    "item_pos",
    "subj",
    "pred",
    "obj",
    "subj_id",
    "obj_id",
    "subj_canonical",
    "obj_canonical",
]


class StageRunner:
    """Checkpointed stage execution with resume.

    `stage(name, build)` returns the committed stage if present (`resume`),
    else builds it and commits it (`commit`: writes, adding
    `delm_part_id` lineage if missing, and re-reads it). Without a
    checkpoint dir it is a passthrough (pure lazy plan; Catalyst fuses
    stages). `DelmSpark` calls `resume` and `commit` directly: its
    artifacts are rewritten on every call, not reused.

    A committed stage directory holds the parquet files, `_SUCCESS` and
    two `_`-prefixed sidecars (invisible to the parquet reader), each
    created once after the write: `_delm_stage.json`, the observed
    metrics and the read schema (partition columns last), and last
    `_delm_config_fingerprint` (below), the commit marker: a stage
    without it (a commit killed after the data write) is not committed
    and rebuilds. Reads pass that schema, so they run no
    schema-inference job and "007" partition values stay strings. A stage
    committed without `_delm_stage.json` resumes with an inferred schema
    and the metrics the earlier layout's shared `_delm_state.json` holds
    for it (read, never rewritten). Iceberg stages are tables of the
    configured catalog, one per stage and checkpoint dir.

    `fingerprint` guards resume against config drift, like the reference's
    verify_resume_config (experiment_manager.py): each committed stage
    stores the config fingerprint it was built with, and resuming with a
    different fingerprint refuses, naming the stage directory. A fresh
    checkpoint dir, or deleting the stale stage directories, rebuilds.
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: Optional[str],
        fingerprint: str,
    ):
        self.spark = spark
        self.dir = Path(checkpoint_dir) if checkpoint_dir else None
        self.fingerprint = fingerprint
        # stage-table format: 'iceberg' when the runtime jar + a
        # SparkCatalog are present (the north star names Iceberg tables —
        # delm_spark/io/iceberg.py), else 'parquet'. Sidecars stay files
        # under checkpoint_dir in both modes.
        from delm_spark.io.iceberg import configured_catalog, iceberg_available

        self.catalog = configured_catalog(spark) if iceberg_available(spark) else None
        self.storage = "iceberg" if self.catalog else "parquet"
        self.resumed: list[str] = []
        self.built: list[str] = []
        #: per-stage named metrics (rows, errors, token sums — the
        #: reference's batch-progress counters + cost state,
        #: extraction_manager.py:130-141, experiment_manager.py:487-513),
        #: collected via DataFrame.observe at write time and stored in the
        #: stage's sidecar, so they survive restarts (resumed stages
        #: report the stored values).
        self.metrics: dict[str, dict] = {}

    def _path(self, name: str) -> Path:
        assert self.dir is not None
        return self.dir / name

    def _fp_path(self, name: str) -> Path:
        return self._path(name) / "_delm_config_fingerprint"

    def _ident(self, name: str) -> str:
        """The configured catalog's table of stage `name` for this dir."""
        key = hashlib.sha256(str(self.dir.resolve()).encode("utf-8")).hexdigest()[:16]
        return f"{self.catalog}.{ICEBERG_NAMESPACE}.{name}_{key}"

    def _write_stage(
        self, df: DataFrame, name: str, partition_by=None, sort_by=None
    ) -> None:
        """`partition_by`: low-cardinality value partitioning (Hive dirs /
        Iceberg identity partitions — partition pruning for readers).
        `sort_by`: within-partition clustering so parquet row-group
        min/max stats prune point/range lookups on that column."""
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        if self.storage == "iceberg":
            from delm_spark.io import iceberg

            iceberg.write_stage(df, self._ident(name), partition_by=partition_by)
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(str(self._path(name)))

    def _read_stage(self, name: str) -> DataFrame:
        side_path = self._path(name) / "_delm_stage.json"
        side = json.loads(side_path.read_text()) if side_path.exists() else None
        legacy = self.dir / "_delm_state.json"
        if side is not None:
            self.metrics[name] = side["metrics"]
        elif legacy.exists() and name in (old := json.loads(legacy.read_text())):
            self.metrics[name] = old[name]
        if self.storage == "iceberg":
            from delm_spark.io import iceberg

            return iceberg.read_stage(self.spark, self._ident(name))
        reader = self.spark.read
        if side is not None:
            reader = reader.schema(StructType.fromJson(side["schema"]))
        return reader.parquet(str(self._path(name)))

    def is_committed(self, name: str) -> bool:
        if self.dir is None or not self._fp_path(name).exists():
            return False
        if self.storage == "iceberg":
            from delm_spark.io import iceberg

            return iceberg.stage_exists(self.spark, self._ident(name))
        return (self._path(name) / "_SUCCESS").exists()

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by=None,
        sort_by=None,
    ) -> DataFrame:
        # Without a checkpoint dir the pipeline is ONE lazy linear DAG —
        # no persist, no eager counts. Measured on this box: in-memory
        # cache writes convoy badly above ~16 concurrent tasks (single-JVM
        # MemoryStore contention), and persisted-stage plans tempt AQE
        # into materializing independent branches concurrently over a cold
        # cache (duplicating the Python extraction). The restructured plan
        # consumes every stage exactly once, so neither mechanism is needed.
        if self.dir is None:
            return build()
        resumed = self.resume(name)
        if resumed is not None:
            return resumed
        return self.commit(name, build(), partition_by=partition_by, sort_by=sort_by)

    def resume(self, name: str) -> Optional[DataFrame]:
        """The committed stage `name` read back, or None when there is
        none. A stage committed under another fingerprint refuses."""
        if not self.is_committed(name):
            return None
        p = self._path(name)
        if self._fp_path(name).read_text() != self.fingerprint:
            raise RuntimeError(
                f"checkpointed stage {name!r} at {p} was built with a "
                "different config (a different pipeline config/schema); "
                "refusing to resume (reference experiment_manager."
                "verify_resume_config semantics). Use a fresh checkpoint_dir "
                f"or experiment directory, or delete {p} to rebuild this "
                "stage (later stages built with the old config are refused "
                "the same way)."
            )
        self.resumed.append(name)
        return self._read_stage(name)

    def commit(
        self, name: str, df: DataFrame, partition_by=None, sort_by=None
    ) -> DataFrame:
        """Write `df` as stage `name` (replacing what its directory holds)
        and read it back; without a checkpoint dir, `df` itself."""
        if self.dir is None:
            return df
        p = self._path(name)
        if p.exists():
            # a stale or partial write (a killed run leaves no fingerprint
            # file; an uncommitted iceberg snapshot is invisible by
            # construction, its directory holds only sidecars of a table
            # that is gone)
            shutil.rmtree(p)
        if PART_ID_COL not in df.columns:
            df = df.withColumn(PART_ID_COL, F.spark_partition_id().cast("long"))
        from pyspark.sql import Observation

        obs = Observation()
        exprs = [F.count(F.lit(1)).alias("rows")]
        if ERRORS_COL in df.columns:
            exprs.append(
                F.coalesce(
                    F.sum(F.col(ERRORS_COL).isNotNull().cast("long")), F.lit(0)
                ).alias("errors")
            )
        for tok_col, alias in (
            ("delm_input_tokens", "input_tokens"),
            ("delm_output_tokens", "output_tokens"),
        ):
            if tok_col in df.columns:
                exprs.append(F.coalesce(F.sum(tok_col), F.lit(0)).alias(alias))
        df = df.observe(obs, *exprs)
        self._write_stage(df, name, partition_by=partition_by, sort_by=sort_by)
        self.metrics[name] = {k: int(v) for k, v in obs.get.items()}
        parts = list(partition_by or ())
        read_schema = StructType(
            [f for f in df.schema if f.name not in parts] + [df.schema[c] for c in parts]
        )
        # each sidecar is a new file (the directory was cleared before the
        # write): replacing one just after a parquet write stalled 30-80 ms.
        # The fingerprint goes last: it marks the stage committed.
        p.mkdir(parents=True, exist_ok=True)
        (p / "_delm_stage.json").write_text(
            json.dumps({"metrics": self.metrics[name], "schema": read_schema.jsonValue()})
        )
        self._fp_path(name).write_text(self.fingerprint)
        self.built.append(name)
        return self._read_stage(name)


@dataclass
class PipelineConfig:
    schema_cfg: dict = field(default_factory=lambda: TRIPLE_SCHEMA_CFG)
    keywords: list = field(default_factory=lambda: list(FACT_KEYWORDS))
    score_threshold: float = 1.0
    #: comparison operator of the score filter (reference pandas-query
    #: predicates keep their operator, config.py:315-328) — one of
    #: operators.scoring.SCORE_OPS
    score_op: str = ">="
    checkpoint_dir: Optional[str] = None
    #: False = inline extraction (zero-shuffle map-only pipeline; right for
    #: cheap deterministic backends). True = sha2-dedup each distinct text
    #: before extraction and join back — right when the backend is a paid
    #: LLM call and the corpus repeats text (the reference's exact-match
    #: cache, semantic_cache.py:81-103).
    dedup_extraction: bool = False
    #: repartition width for the extraction stage; None = leave to AQE.
    #: Salting hot conversations: chunk rows already carry (conv_id,
    #: turn_idx, chunk_pos) composite keys, so a round-robin repartition
    #: spreads hot conversations across all tasks without key skew.
    extract_partitions: Optional[int] = None
    #: persistent semantic-cache parquet table (reference
    #: semantic_cache.py); implies dedup_extraction. A warm rerun performs
    #: zero backend calls.
    cache_dir: Optional[str] = None
    #: sample exactly this many conversations (seed 42, reference
    #: delm.py:237-240) before chunking; None = full corpus.
    sample_size: Optional[int] = None
    #: retry policy for I/O backends (reference retry_handler.py:38-58);
    #: the deterministic rule backend never retries.
    max_retries: int = 0
    base_delay: float = 0.0
    #: north-star 'dictionary + embedding blocking': after exact dictionary
    #: linking, resolve the `mention:*` residue via trigram-embedding
    #: sign-LSH candidates (kg/linking.py) so typo'd / truncated surfaces
    #: recover their canonical entity. Off by default: it adds a candidate
    #: search stage, and exact-only linking is the reference-parity shape.
    embedding_link: bool = False
    embedding_link_threshold: float = 0.5
    #: the residue resolver's trigram-embedding width, sign-LSH planes and
    #: multi-probe radius (constants, not settings)
    embedding_dim: ClassVar[int] = 64
    embedding_planes: ClassVar[int] = 8
    embedding_probe_radius: ClassVar[int] = 2


def config_fingerprint(config: "PipelineConfig", backend) -> str:
    """Stable hash of everything a committed stage's contents depend on —
    resuming under a different config must not silently return stale
    results (reference experiment_manager.verify_resume_config)."""
    material = {
        "schema_cfg": config.schema_cfg,
        "keywords": list(config.keywords),
        "score_threshold": config.score_threshold,
        "score_op": config.score_op,
        "dedup_extraction": config.dedup_extraction,
        "sample_size": config.sample_size,
        "backend": type(backend).__name__,
        "embedding_link": [
            config.embedding_link,
            config.embedding_link_threshold,
            config.embedding_dim,
            config.embedding_planes,
            config.embedding_probe_radius,
        ],
        # the one value each of the removed integrity-gate and grounding
        # settings had, so stages committed with them still resume
        "integrity_gate": False,
        "integrity_rules": ["dup_turn_idx", "gap_turn_idx", "ts_regression"],
        "ground": [False, False],
    }
    # a PromptedApiBackend with a changed model/temperature/template produces
    # different extractions — the class name alone must not pass the resume
    # guard (the semantic cache keys on these; the stage checkpoint must too)
    call = getattr(backend, "call_spec", None)
    if call is not None:
        material["backend_call_spec"] = {
            "model_name": call.model_name,
            "temperature": call.temperature,
            "system_prompt": call.system_prompt,
            "prompt_template": call.prompt_template,
        }
    return config_digest(material)


def config_digest(material) -> str:
    """sha256 hex of `material` as sorted-key JSON: the fingerprint a
    committed stage stores, for run_pipeline and DelmSpark alike."""
    return hashlib.sha256(
        json.dumps(material, sort_keys=True, default=str).encode("utf-8")
    ).hexdigest()


@dataclass
class PipelineResult:
    chunks: DataFrame
    extracted: DataFrame
    triples: DataFrame
    nodes: DataFrame
    edges: DataFrame
    runner: StageRunner


def chunk_transcripts(transcripts: DataFrame) -> DataFrame:
    """Stages 1-2: stable per-turn ordering keys + paragraph chunking.

    The per-row invariant (per-turn text equality under (conv_id, turn_idx))
    is carried as explicit columns; `posexplode` makes chunk position an
    explicit key (reference's positional chunk id, data_processor.py:126,133).
    """
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        F.posexplode(paragraph_split_expr(F.col("text"))).alias(
            CHUNK_POS_COL, CHUNK_COL
        ),
    )


def score_and_filter(
    chunks: DataFrame, keywords: list, threshold: float, op: str = ">="
) -> DataFrame:
    """Stage 3: native keyword relevance scoring + filter (reference
    data_processor.py:144-151). The configured comparison operator is
    applied verbatim (the reference runs the pandas-query predicate as
    written — 'delm_score > 1.0' excludes score==1.0 chunks). Prunes LLM
    work before the expensive stage; predicate stays in whole-stage
    codegen."""
    from delm_spark.operators.scoring import SCORE_OPS

    if op not in SCORE_OPS:
        raise ValueError(f"Unsupported score-filter operator {op!r}")
    scored = chunks.withColumn(SCORE_COL, keyword_score_expr(F.col(CHUNK_COL), keywords))
    return scored.filter(SCORE_OPS[op](F.col(SCORE_COL), threshold))


def _explode_items(df: DataFrame, items, spec: SchemaSpec) -> DataFrame:
    """Stage 5: one row per item of the `items` array<struct> column,
    keyed by (conv_id, turn_idx, chunk_pos, item_pos), one column per
    spec variable."""
    return df.select(
        "conv_id",
        "turn_idx",
        CHUNK_POS_COL,
        F.posexplode(items).alias("item_pos", "__item"),
    ).select(
        "conv_id",
        "turn_idx",
        CHUNK_POS_COL,
        "item_pos",
        *[F.col(f"__item.{v.name}").alias(v.name) for v in spec.variables],
    )


def triples_from_extracted(extracted: DataFrame, spec: SchemaSpec) -> DataFrame:
    """Stage 5 over extract_chunks output: parse the JSON natively
    (from_json) and explode its items."""
    assert isinstance(spec, NestedSpec)
    schema: StructType = spark_schema_for(spec)
    items = F.from_json(F.col(EXTRACTED_JSON_COL), schema).getField(
        spec.container_name
    )
    return _explode_items(extracted, items, spec)


def native_triples(
    chunks: DataFrame, spec: SchemaSpec, backend: ExtractorBackend
) -> Optional[DataFrame]:
    """Stage 5 straight from the chunks when the backend publishes native
    items: the JSON string is never serialized and from_json never runs.
    None when the backend has no native form for `spec`."""
    native = getattr(backend, "native_extract_items", None)
    items = native(spec, F.col(CHUNK_COL)) if native is not None else None
    if items is None:
        return None
    return _explode_items(chunks, items, spec)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    dictionary: DataFrame,
    config: Optional[PipelineConfig] = None,
    backend: Optional[ExtractorBackend] = None,
) -> PipelineResult:
    config = config or PipelineConfig()
    spec = spec_from_dict(config.schema_cfg)
    backend = backend or RuleTripleExtractor(spec)
    runner = StageRunner(
        spark, config.checkpoint_dir, fingerprint=config_fingerprint(config, backend)
    )

    # ONE driver snapshot of the broadcast-sized dictionary (one collect
    # job) as an Arrow-backed local frame: canonical_map, link_mentions and
    # the residue resolver's index all read this LocalTableScan, so their
    # own collects run no job and the source is scanned once per run.
    entries = dictionary.select("surface", "canonical_id")
    dictionary = spark.createDataFrame(entries.toArrow(), entries.schema)

    # canonical map from the dictionary's alias graph alone (driver-side
    # union-find) — no triples dependency, so the main DAG below stays
    # strictly linear with every stage consumed exactly once. The result
    # is a LocalTableScan, so repeated broadcast builds don't recompute
    # anything: no eager checkpoints (each one costs a dedicated ~0.5 s
    # job in local mode).
    labels = canonical_map(dictionary)

    if config.sample_size:
        from delm_spark.operators.sample import seeded_sample_records

        transcripts = seeded_sample_records(
            transcripts, config.sample_size, "conv_id"
        )

    chunks = runner.stage(
        "s1_chunks",
        lambda: score_and_filter(
            chunk_transcripts(transcripts),
            config.keywords,
            config.score_threshold,
            config.score_op,
        ),
    )

    def build_extracted():
        # only the composite key + text enter extraction; role/ts stay out
        # (column pruning by hand — a Python backend's mapInPandas is a
        # black box to Catalyst)
        df = chunks.select("conv_id", "turn_idx", CHUNK_POS_COL, CHUNK_COL)
        if config.extract_partitions:
            # round-robin spread of the extraction stage; composite keys
            # make this safe (no per-partition ordering assumptions)
            df = df.repartition(config.extract_partitions)
        return extract_chunks(
            df,
            spec,
            backend,
            dedup=config.dedup_extraction,
            cache_dir=config.cache_dir,
            max_retries=config.max_retries,
            base_delay=config.base_delay,
        )

    extracted = runner.stage("s2_extracted", build_extracted)

    def build_triples():
        raw = None
        if runner.dir is None and not config.dedup_extraction and not config.cache_dir:
            # with no checkpointed or cached extraction to share, explode
            # the backend's native items directly. PipelineResult.extracted
            # still exposes the lazy JSON frame for direct consumers.
            raw = native_triples(chunks, spec, backend)
        if raw is None:
            raw = triples_from_extracted(extracted, spec)
        linked = link_mentions(raw, dictionary)
        if config.embedding_link:
            from delm_spark.kg.linking import resolve_mention_residue

            # no DAG cut: the resolver is one projection over the linked
            # frame, so the upstream extraction runs once, unmaterialized
            linked = resolve_mention_residue(
                linked,
                dictionary,
                dim=config.embedding_dim,
                n_planes=config.embedding_planes,
                probe_radius=config.embedding_probe_radius,
                threshold=config.embedding_link_threshold,
            )
        return linked

    triples = runner.stage("s3_triples", build_triples)

    def build_edges():
        l_s = labels.select(
            F.col("node").alias("subj_id"), F.col("canonical_id").alias("subj_canonical")
        )
        l_o = labels.select(
            F.col("node").alias("obj_id"), F.col("canonical_id").alias("obj_canonical")
        )
        # canonical map is broadcast-sized by design; unmapped entities are
        # singleton components (coalesce to their own id)
        canon = {
            c: F.coalesce(c, F.col(c.replace("canonical", "id"))).alias(c)
            for c in ("subj_canonical", "obj_canonical")
        }
        return (
            triples.join(F.broadcast(l_s), "subj_id", "left")
            .join(F.broadcast(l_o), "obj_id", "left")
            .select(*[canon.get(c, F.col(c)) for c in EDGE_COLS])
        )

    # graph materialization (north star: PARTITIONED edge/node tables):
    # edges partition by predicate — bounded cardinality (the schema's
    # allowed_values) — so per-relation readers prune whole directories /
    # Iceberg partitions; nodes cluster by entity_id so row-group min/max
    # stats prune point lookups without a high-cardinality partition key.
    edges = runner.stage("s4_edges", build_edges, partition_by=["pred"])

    # node table derived from the edge output (one scan of the final
    # table, not a recompute of the triples DAG): every entity id observed
    # in the graph plus its canonical component
    nodes = runner.stage(
        "s5_nodes", lambda: nodes_from_edges(edges), sort_by=["entity_id"]
    )

    return PipelineResult(
        chunks=chunks,
        extracted=extracted,
        triples=triples,
        nodes=nodes,
        edges=edges,
        runner=runner,
    )
