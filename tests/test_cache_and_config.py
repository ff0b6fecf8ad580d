"""Persistent semantic cache, retry backoff, batch-backend error safety,
seeded sampling, cost-per-call dedup, and the resume config-fingerprint
guard."""

from __future__ import annotations

import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG, entity_dictionary, generate_transcripts
from delm_spark.extraction.backend import RuleTripleExtractor
from delm_spark.extraction.cost import summarize_cost
from delm_spark.extraction.extract import (
    _count_run_partitions,
    _extract_series,
    _migrate_legacy_cache_layout,
    extract_chunks,
)
from delm_spark.kg.pipeline import PipelineConfig, run_pipeline
from delm_spark.operators.sample import seeded_sample, seeded_sample_records
from delm_spark.schemas.spec import spec_from_dict
from tests.backends import CacheOnlyBackend

SPEC = spec_from_dict(TRIPLE_SCHEMA_CFG)


class FlakyBackend:
    """Fails N times per text, then delegates."""

    def __init__(self, inner, fail_times: int):
        self.inner = inner
        self.fail_times = fail_times
        self.calls: dict = {}

    def extract_raw(self, text):
        n = self.calls.get(text, 0)
        self.calls[text] = n + 1
        if n < self.fail_times:
            raise RuntimeError(f"flaky {n}")
        return self.inner.extract_raw(text)


def _chunk_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "chunk_id long, delm_text_chunk string"
    )


TEXTS = [
    "Alice Smith works at Acme Corp.",
    "Bob Jones reports to Carol Wu.",
    "Alice Smith works at Acme Corp.",  # duplicate: one extraction call
    "the weather was nice that day.",
]
DISTINCT_TEXTS = list(dict.fromkeys(TEXTS))


def test_persistent_cache_warm_run_zero_backend_calls(spark, tmp_path):
    cache = str(tmp_path / "semantic_cache")
    df = _chunk_df(spark, TEXTS)
    first = extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), cache_dir=cache)
    rows1 = {
        (r["chunk_id"]): r["delm_extracted_data_json"] for r in first.collect()
    }
    assert all(j is not None for j in rows1.values())

    # warm: identical result with a backend that raises if ever called
    second = extract_chunks(df, SPEC, CacheOnlyBackend(), cache_dir=cache)
    out2 = second.collect()
    rows2 = {(r["chunk_id"]): r["delm_extracted_data_json"] for r in out2}
    assert rows2 == rows1
    assert all(r["delm_errors"] is None for r in out2)


def test_persistent_cache_extends_incrementally(spark, tmp_path):
    cache = str(tmp_path / "semantic_cache")
    extract_chunks(_chunk_df(spark, TEXTS[:2]), SPEC, RuleTripleExtractor(SPEC),
                   cache_dir=cache).collect()
    # new corpus = 2 cached + 2 new texts; only the new ones miss
    out = extract_chunks(_chunk_df(spark, TEXTS), SPEC, RuleTripleExtractor(SPEC),
                         cache_dir=cache).collect()
    assert len(out) == 4
    assert all(r["delm_extracted_data_json"] is not None for r in out)


def test_cached_error_rows_retry_next_run(spark, tmp_path):
    from tests.backends import FailingBackend

    cache = str(tmp_path / "semantic_cache")
    df = _chunk_df(spark, TEXTS[:2])
    bad = FailingBackend(RuleTripleExtractor(SPEC), fail_pattern="Bob Jones")
    first = extract_chunks(df, SPEC, bad, cache_dir=cache).collect()
    errs1 = {r["chunk_id"]: r["delm_errors"] for r in first}
    assert errs1[1] is not None and errs1[0] is None

    # error rows are treated as misses: a healthy backend fixes them
    second = extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), cache_dir=cache).collect()
    errs2 = {r["chunk_id"]: r["delm_errors"] for r in second}
    assert errs2 == {0: None, 1: None}
    assert all(r["delm_extracted_data_json"] is not None for r in second)


def test_retry_backoff_retries_then_succeeds():
    flaky = FlakyBackend(RuleTripleExtractor(SPEC), fail_times=2)
    t0 = time.time()
    jsons, errors, _, _ = _extract_series(
        ["Alice Smith works at Acme Corp."], SPEC, flaky, max_retries=3,
        base_delay=0.01,
    )
    elapsed = time.time() - t0
    assert errors == [None] and jsons[0] is not None
    assert flaky.calls["Alice Smith works at Acme Corp."] == 3  # 2 failures + 1 success
    assert elapsed >= 0.01 + 0.02  # base_delay * (2**0 + 2**1)


def test_retry_exhaustion_emits_error_row():
    flaky = FlakyBackend(RuleTripleExtractor(SPEC), fail_times=10)
    jsons, errors, _, _ = _extract_series(
        ["Alice Smith works at Acme Corp."], SPEC, flaky, max_retries=1,
        base_delay=0.0,
    )
    assert jsons == [None] and "flaky" in errors[0]


def test_cost_counts_each_distinct_text_once(spark):
    df = _chunk_df(spark, TEXTS)  # 4 rows, 3 distinct
    out = extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), dedup=True)
    summary = summarize_cost(out)
    expected_in = sum((len(t) + 3) // 4 for t in set(TEXTS))
    assert summary.input_tokens == expected_in


def test_seeded_sample_exact_n_and_partitioning_invariant(spark):
    df = spark.range(0, 1000).select(F.col("id"))
    a = sorted(r["id"] for r in seeded_sample(df, 50, ["id"]).collect())
    b = sorted(
        r["id"] for r in seeded_sample(df.repartition(13), 50, ["id"]).collect()
    )
    assert len(a) == 50 and a == b


def test_seeded_sample_records_keeps_whole_records(spark):
    t = generate_transcripts(spark, n_convs=30, n_hot=0)
    sampled = seeded_sample_records(t, 5, "conv_id")
    got = sampled.groupBy("conv_id").count().collect()
    assert len(got) == 5
    full = dict(t.groupBy("conv_id").count().collect())
    for r in got:
        assert r["count"] == full[r["conv_id"]]  # no partial conversations


def test_resume_refuses_on_config_change(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    t = generate_transcripts(spark, n_convs=10, n_hot=0)
    d = entity_dictionary(spark)
    cfg = PipelineConfig(checkpoint_dir=ckpt)
    run_pipeline(spark, t, d, cfg).edges.count()

    changed = PipelineConfig(checkpoint_dir=ckpt, score_threshold=0.5)
    with pytest.raises(RuntimeError, match="different pipeline config") as err:
        run_pipeline(spark, t, d, changed).edges.count()
    # the advice must be one the caller can follow: it names the stage
    # directory to delete and no option run_pipeline cannot pass
    msg = str(err.value)
    assert str(Path(ckpt) / "s1_chunks") in msg
    assert "on_config_change" not in msg

    # unchanged config resumes every stage
    res = run_pipeline(spark, t, d, PipelineConfig(checkpoint_dir=ckpt))
    res.edges.count()
    assert res.runner.resumed and not res.runner.built


def test_empty_run_partition_reads_as_cold_cache(spark, tmp_path):
    """A cache_dir holding only an empty run partition (a prior zero-miss
    run) reads as cold, not as a cache that poisons every later run."""
    cache = tmp_path / "cache"
    empty_run = cache / "delm_run_id=rdeadbeef"
    empty_run.mkdir(parents=True)
    (empty_run / "_SUCCESS").touch()

    df = _chunk_df(spark, DISTINCT_TEXTS)
    out = extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), cache_dir=str(cache))
    rows = out.collect()
    assert len(rows) == len(DISTINCT_TEXTS)
    assert all(not r["delm_cache_hit"] for r in rows)
    # and the next run is warm
    warm = extract_chunks(df, SPEC, CacheOnlyBackend(), cache_dir=str(cache))
    assert all(r["delm_cache_hit"] for r in warm.collect())


def test_legacy_flat_cache_layout_migrates_and_serves_hits(spark, tmp_path):
    """Part files of the earlier flat cache layout migrate into a
    delm_run_id=legacy0/ partition instead of breaking discovery."""
    cache = tmp_path / "cache"
    df = _chunk_df(spark, DISTINCT_TEXTS)
    extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), cache_dir=str(cache)).collect()

    # simulate the old append-mode layout: part files flat at the root
    run_dirs = [d for d in cache.iterdir() if d.name.startswith("delm_run_id=")]
    assert len(run_dirs) == 1
    for f in run_dirs[0].iterdir():
        if f.name.endswith(".parquet") or f.name == "_SUCCESS":
            f.rename(cache / f.name)
    run_dirs[0].rmdir() if not any(run_dirs[0].iterdir()) else None
    import shutil

    if run_dirs[0].exists():
        shutil.rmtree(run_dirs[0])
    assert any(f.suffix == ".parquet" for f in cache.iterdir() if f.is_file())

    # a warm run must migrate the flat files and serve every key as a hit
    warm = extract_chunks(df, SPEC, CacheOnlyBackend(), cache_dir=str(cache))
    rows = warm.collect()
    assert len(rows) == len(DISTINCT_TEXTS)
    assert all(r["delm_cache_hit"] and r["delm_errors"] is None for r in rows)
    assert not any(
        f.is_file() and f.suffix == ".parquet" for f in cache.iterdir()
    )  # nothing left flat
    assert (cache / "delm_run_id=legacy0").is_dir()
    # idempotent second call is a no-op
    assert _migrate_legacy_cache_layout(str(cache)) == 0


def test_auto_compaction_bounds_run_partitions(spark, tmp_path, monkeypatch):
    """Auto-compaction bounds the run-partition count, which every warm
    read scans, without changing results."""
    from delm_spark.extraction import extract

    cache = str(tmp_path / "cache")
    df = _chunk_df(spark, DISTINCT_TEXTS)
    limit = 3
    monkeypatch.setattr(extract, "AUTO_COMPACT_RUNS", limit)
    baseline = None
    for i in range(limit + 2):
        backend = RuleTripleExtractor(SPEC) if i == 0 else CacheOnlyBackend()
        out = extract_chunks(df, SPEC, backend, cache_dir=cache)
        got = sorted(
            (r["chunk_id"], r["delm_extracted_data_json"]) for r in out.collect()
        )
        if baseline is None:
            baseline = got
        assert got == baseline  # results unchanged across compactions
        assert _count_run_partitions(cache) <= limit
    # and compaction really ran at least once (partitions collapsed)
    assert _count_run_partitions(cache) < limit + 2
