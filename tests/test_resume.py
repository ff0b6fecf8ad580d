"""Checkpoint/resume semantics (reference extraction_manager.py:109-167):
idempotent restart, committed stages reused, partial writes rebuilt."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from delm_spark.data.synthetic import entity_dictionary, generate_transcripts
from delm_spark.kg.pipeline import PipelineConfig, run_pipeline


@pytest.fixture()
def ckpt_dir(tmp_path):
    return str(tmp_path / "stages")


def _triples_set(res):
    return {
        tuple(r)
        for r in res.triples.select(
            "conv_id", "turn_idx", "chunk_pos", "item_pos", "subj", "pred", "obj"
        ).collect()
    }


def test_resume_reuses_committed_stages(spark, ckpt_dir):
    t = generate_transcripts(spark, n_convs=20)
    d = entity_dictionary(spark)
    cfg = PipelineConfig(checkpoint_dir=ckpt_dir)

    first = run_pipeline(spark, t, d, cfg)
    baseline = _triples_set(first)
    assert first.runner.built and not first.runner.resumed

    second = run_pipeline(spark, t, d, cfg)
    assert not second.runner.built, "no stage should rebuild on resume"
    assert set(second.runner.resumed) == set(first.runner.built)
    assert _triples_set(second) == baseline

    # lineage column present in every staged table
    for stage in first.runner.built:
        df = spark.read.parquet(str(Path(ckpt_dir) / stage))
        assert "delm_part_id" in df.columns


def test_partial_stage_is_rebuilt(spark, ckpt_dir):
    t = generate_transcripts(spark, n_convs=20)
    d = entity_dictionary(spark)
    cfg = PipelineConfig(checkpoint_dir=ckpt_dir)
    first = run_pipeline(spark, t, d, cfg)
    baseline = _triples_set(first)

    # simulate a crash mid-write: drop the commit marker of stage 2
    p = Path(ckpt_dir) / "s2_extracted"
    (p / "_SUCCESS").unlink()

    second = run_pipeline(spark, t, d, cfg)
    assert "s2_extracted" in second.runner.built, "uncommitted stage must rebuild"
    assert "s1_chunks" in second.runner.resumed, "upstream committed stage reused"
    assert _triples_set(second) == baseline


def test_commit_killed_after_data_write_is_rebuilt(spark, ckpt_dir, monkeypatch):
    """A commit killed between the data write (parquet + _SUCCESS) and
    the fingerprint file leaves no committed stage: the rerun rebuilds
    it, resumes the stages before it and returns the same edges."""
    from delm_spark.kg.pipeline import EDGE_COLS, StageRunner

    def edges(res):
        return sorted(tuple(r) for r in res.edges.select(*EDGE_COLS).collect())

    t = generate_transcripts(spark, n_convs=20)
    d = entity_dictionary(spark)
    cfg = PipelineConfig(checkpoint_dir=ckpt_dir)
    direct = edges(run_pipeline(spark, t, d, PipelineConfig()))

    write = StageRunner._write_stage

    def killed(runner, df, name, **kwargs):
        write(runner, df, name, **kwargs)
        if name == "s3_triples":
            raise KeyboardInterrupt("killed after the data write")

    monkeypatch.setattr(StageRunner, "_write_stage", killed)
    with pytest.raises(KeyboardInterrupt):
        run_pipeline(spark, t, d, cfg)
    assert (Path(ckpt_dir) / "s3_triples" / "_SUCCESS").exists()
    monkeypatch.setattr(StageRunner, "_write_stage", write)

    second = run_pipeline(spark, t, d, cfg)
    assert second.runner.resumed == ["s1_chunks", "s2_extracted"]
    assert second.runner.built[0] == "s3_triples"
    assert edges(second) == direct


def test_checkpointed_and_direct_runs_agree(spark, ckpt_dir):
    t = generate_transcripts(spark, n_convs=20)
    d = entity_dictionary(spark)
    with_ckpt = run_pipeline(spark, t, d, PipelineConfig(checkpoint_dir=ckpt_dir))
    direct = run_pipeline(spark, t, d, PipelineConfig())
    assert _triples_set(with_ckpt) == _triples_set(direct)


def test_stage_metrics_observed_and_persisted(spark, ckpt_dir):
    """observe()-collected per-stage metrics (rows/errors/tokens) are
    written to each committed stage's _delm_stage.json sidecar and survive
    a restart: resumed stages report the stored values without
    recomputation."""
    import json

    t = generate_transcripts(spark, n_convs=20)
    d = entity_dictionary(spark)
    cfg = PipelineConfig(checkpoint_dir=ckpt_dir)

    first = run_pipeline(spark, t, d, cfg)
    first.triples.count()
    m1 = first.runner.metrics
    assert set(m1) >= {"s1_chunks", "s2_extracted", "s3_triples"}
    assert m1["s1_chunks"]["rows"] > 0
    assert m1["s2_extracted"]["errors"] == 0
    assert m1["s2_extracted"]["input_tokens"] > 0
    # each stage's sidecar holds its in-memory metrics
    for name, metrics in m1.items():
        side = json.loads((Path(ckpt_dir) / name / "_delm_stage.json").read_text())
        assert side["metrics"] == metrics
    assert sorted(p.name for p in Path(ckpt_dir).iterdir()) == sorted(m1)

    second = run_pipeline(spark, t, d, cfg)
    assert not second.runner.built
    assert second.runner.metrics == m1, "metrics must survive restart"


def test_stage_without_sidecar_resumes(spark, ckpt_dir):
    """A stage committed before stages carried _delm_stage.json (parquet +
    _SUCCESS + _delm_config_fingerprint) still resumes, with its schema
    inferred, and returns the same rows. Its metrics come from the shared
    _delm_state.json of that layout, which is read but never rewritten."""
    import json

    t = generate_transcripts(spark, n_convs=20)
    d = entity_dictionary(spark)
    cfg = PipelineConfig(checkpoint_dir=ckpt_dir)
    first = run_pipeline(spark, t, d, cfg)
    baseline = _triples_set(first)
    edges = sorted(tuple(r) for r in first.edges.drop("delm_part_id").collect())
    for side in Path(ckpt_dir).glob("*/_delm_stage.json"):
        side.unlink()
    # the earlier layout's state file, here without an entry for one stage
    legacy = {k: v for k, v in first.runner.metrics.items() if k != "s5_nodes"}
    state = Path(ckpt_dir) / "_delm_state.json"
    state.write_text(json.dumps(legacy, indent=1, sort_keys=True))
    before = (state.read_text(), state.stat().st_ino, state.stat().st_mtime_ns)

    second = run_pipeline(spark, t, d, cfg)
    assert not second.runner.built
    assert second.runner.resumed == first.runner.built
    assert second.runner.metrics == legacy
    assert (state.read_text(), state.stat().st_ino, state.stat().st_mtime_ns) == before
    assert _triples_set(second) == baseline
    assert sorted(tuple(r) for r in second.edges.drop("delm_part_id").collect()) == edges


def _tree(root: Path) -> dict:
    return {
        p: (p.stat().st_ino, p.stat().st_mtime_ns) for p in root.rglob("*") if p.is_file()
    }


def test_checkpoint_files_never_replaced(spark, ckpt_dir, monkeypatch):
    """Every file a stage commit leaves is created once: from the commit
    to the end of the run and its resume pass, no file under
    checkpoint_dir changes inode or mtime, and none is added outside a
    commit."""
    from delm_spark.kg.pipeline import StageRunner

    committed: dict = {}
    stage = StageRunner.stage

    def snapshot(runner, name, *args, **kwargs):
        out = stage(runner, name, *args, **kwargs)
        committed.update(_tree(runner._path(name)))
        return out

    monkeypatch.setattr(StageRunner, "stage", snapshot)
    t = generate_transcripts(spark, n_convs=20)
    d = entity_dictionary(spark)
    cfg = PipelineConfig(checkpoint_dir=ckpt_dir, embedding_link=True)
    run_pipeline(spark, t, d, cfg)
    assert len([p for p in committed if p.name == "_delm_stage.json"]) == 5
    assert _tree(Path(ckpt_dir)) == committed
    assert not run_pipeline(spark, t, d, cfg).runner.built
    assert _tree(Path(ckpt_dir)) == committed


def test_partition_column_keeps_written_type(spark, tmp_path):
    """A string partition column whose values look numeric reads back as
    the written strings, fresh and resumed: the stored read schema types
    it, not partition-value inference (which turned '007' into 7)."""
    from delm_spark.kg.pipeline import StageRunner

    def build():
        return spark.createDataFrame([("a", "2020"), ("b", "007")], "k string, pred string")

    runner = StageRunner(spark, str(tmp_path / "ck"), fingerprint="f1")
    for _ in ("commit", "resume"):
        df = runner.stage("s", build, partition_by=["pred"])
        assert df.columns == ["k", "delm_part_id", "pred"]
        assert dict(df.dtypes)["pred"] == "string"
        assert sorted((r["k"], r["pred"]) for r in df.collect()) == [("a", "2020"), ("b", "007")]
    assert runner.built == ["s"] and runner.resumed == ["s"]


def test_graph_tables_partitioned_and_clustered(spark, ckpt_dir):
    """North-star graph materialization: the persisted edge table is
    value-partitioned by predicate (Hive `pred=` directories -> partition
    pruning per relation) and the node table is written clustered by
    entity_id; fresh and resumed runs agree on content."""
    t = generate_transcripts(spark, n_convs=20)
    d = entity_dictionary(spark)
    cfg = PipelineConfig(checkpoint_dir=ckpt_dir)

    first = run_pipeline(spark, t, d, cfg)
    edges_dir = Path(ckpt_dir) / "s4_edges"
    pred_dirs = sorted(
        p.name for p in edges_dir.iterdir() if p.name.startswith("pred=")
    )
    assert pred_dirs, f"no pred= partitions under {edges_dir}"
    # partition pruning: a per-relation read plans only that partition
    one_pred = pred_dirs[0].split("=", 1)[1]
    pruned = spark.read.parquet(str(edges_dir)).filter(F.col("pred") == one_pred)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(pred" in plan

    nodes_fresh = {
        (r["entity_id"], r["canonical_id"]) for r in first.nodes.collect()
    }
    second = run_pipeline(spark, t, d, cfg)  # resumed from partitioned stores
    assert not second.runner.built
    nodes_resumed = {
        (r["entity_id"], r["canonical_id"]) for r in second.nodes.collect()
    }
    assert nodes_fresh == nodes_resumed
    edges_fresh = {tuple(r) for r in first.edges.select("conv_id", "pred").collect()}
    edges_resumed = {tuple(r) for r in second.edges.select("conv_id", "pred").collect()}
    assert edges_fresh == edges_resumed
