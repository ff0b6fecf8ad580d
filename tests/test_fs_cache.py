"""Filesystem semantic-cache backend (reference FilesystemJSONCache
parity, semantic_cache.py:130-213): layout, warm-run hit semantics,
error retry/heal, mtime-ordered pruning, and the facade dispatch."""

from __future__ import annotations

import os

import pytest

from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG
from delm_spark.extraction.backend import RuleTripleExtractor
from delm_spark.extraction.extract import extract_chunks
from delm_spark.extraction.fs_cache import FilesystemSemanticCache
from delm_spark.schemas.spec import spec_from_dict
from tests.backends import CacheOnlyBackend, FailingBackend

SPEC = spec_from_dict(TRIPLE_SCHEMA_CFG)

TEXTS = [
    "Alice Smith works at Acme Corp.",
    "Bob Jones reports to Carol Wu.",
    "Alice Smith works at Acme Corp.",  # duplicate of row 0
    "the weather was nice that day.",
]


def _chunk_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "chunk_id long, delm_text_chunk string"
    )


def test_fs_layout_matches_reference(tmp_path):
    """One file per key at <root>/<k[:2]>/<k[2:4]>/<key>.zst (reference
    FilesystemJSONCache._path, semantic_cache.py:156)."""
    cache = FilesystemSemanticCache(str(tmp_path / "fscache"))
    cache.upsert([("abcdef0123", '{"x":1}', None, 3, 4, 0)])
    p = tmp_path / "fscache" / "ab" / "cd" / "abcdef0123.zst"
    assert p.is_file()
    snap = cache.snapshot()
    assert list(snap["k"]) == ["abcdef0123"]
    assert snap.iloc[0]["json"] == '{"x":1}'
    assert snap.iloc[0]["in_tokens"] == 3


def test_fs_cold_then_warm(spark, tmp_path):
    cache = FilesystemSemanticCache(str(tmp_path / "fscache"))
    df = _chunk_df(spark, TEXTS)
    cold = extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), driver_cache=cache)
    rows = cold.collect()
    assert len(rows) == len(TEXTS)
    assert all(not r["delm_cache_hit"] for r in rows)
    assert cache.stats()["entries"] == len(set(TEXTS))

    warm = extract_chunks(df, SPEC, CacheOnlyBackend(), driver_cache=cache)
    wrows = warm.collect()
    assert all(r["delm_cache_hit"] and r["delm_errors"] is None for r in wrows)
    by_id_cold = {r["chunk_id"]: r["delm_extracted_data_json"] for r in rows}
    by_id_warm = {r["chunk_id"]: r["delm_extracted_data_json"] for r in wrows}
    assert by_id_cold == by_id_warm


def test_fs_error_rows_retry_and_heal(spark, tmp_path):
    cache = FilesystemSemanticCache(str(tmp_path / "fscache"))
    df = _chunk_df(spark, TEXTS[:2])
    bad = FailingBackend(RuleTripleExtractor(SPEC), fail_pattern="Bob Jones")
    out1 = extract_chunks(df, SPEC, bad, driver_cache=cache).collect()
    assert sum(r["delm_errors"] is not None for r in out1) == 1
    out2 = extract_chunks(
        df, SPEC, RuleTripleExtractor(SPEC), driver_cache=cache
    ).collect()
    assert all(r["delm_errors"] is None for r in out2)
    hits = {r["chunk_id"]: r["delm_cache_hit"] for r in out2}
    assert hits[0] is True and hits[1] is False
    assert cache.stats()["entries"] == 2


def test_fs_prune_oldest_first(tmp_path):
    cache = FilesystemSemanticCache(str(tmp_path / "fscache"))
    for i in range(10):
        cache.upsert([(f"k{i:03d}aaaa", "x" * 100, None, 1, 1, 0)])
        # distinct mtimes: oldest-first must evict k000... upward
        os.utime(cache._path(f"k{i:03d}aaaa"), (1000 + i, 1000 + i))
    before = cache.payload_bytes()
    cache.prune(before // 2)
    assert cache.payload_bytes() <= before // 2
    snap = cache.snapshot()
    assert 0 < len(snap) < 10 and snap["k"].min() > "k000"


def test_fs_cap_prunes_after_snapshot(spark, tmp_path):
    """max_size_mb=0 evicts everything — but only AFTER the run's
    snapshot, so the run's own rows still come back non-null."""
    cache = FilesystemSemanticCache(str(tmp_path / "fscache"), max_size_mb=0)
    df = _chunk_df(spark, TEXTS[:2])
    rows = extract_chunks(
        df, SPEC, RuleTripleExtractor(SPEC), driver_cache=cache
    ).collect()
    assert all(r["delm_extracted_data_json"] is not None for r in rows)
    assert cache.stats()["entries"] == 0


def test_facade_dispatches_filesystem_backend(spark, tmp_path):
    from delm_spark.delm import DelmSpark

    cfg = {
        "llm_extraction": {"name": "deterministic-rules"},
        "data_preprocessing": {"target_column": "text"},
        "schema": {"spec": TRIPLE_SCHEMA_CFG},
        "semantic_cache": {
            "backend": "filesystem",
            "path": str(tmp_path / "fscache"),
            "max_size_mb": 100,
        },
    }
    texts = spark.createDataFrame([("Alice Smith works at Acme Corp.",)], "text string")
    d = DelmSpark.from_dict(cfg, spark)
    d.prep_data(texts)
    d.process_via_llm().collect()
    assert (tmp_path / "fscache").is_dir()
    # warm facade run through the store makes zero backend calls
    d2 = DelmSpark.from_dict(cfg, spark, backend=CacheOnlyBackend())
    d2.prep_data(texts)
    rows = d2.process_via_llm().collect()
    assert all(r["delm_cache_hit"] and r["delm_errors"] is None for r in rows)


def test_fs_rejects_parquet_table_directory(tmp_path):
    """A directory holding the parquet cache layout (backend='parquet',
    or pre-upgrade 'filesystem' runs) must fail loudly, not silently
    re-extract beside it."""
    root = tmp_path / "cache"
    (root / "delm_run_id=r1").mkdir(parents=True)
    with pytest.raises(ValueError, match="parquet semantic-cache table"):
        FilesystemSemanticCache(str(root))


def test_fs_snapshot_ignores_tmp_and_sniffs_compression(tmp_path):
    """Atomic-write leftovers (*.zst.tmp) are invisible to snapshot();
    a zstd-compressed entry read where zstandard is absent raises an
    actionable error instead of a JSON decode failure."""
    cache = FilesystemSemanticCache(str(tmp_path / "cache"))
    cache.upsert([("abcdef", '{"v":1}', None, 1, 1, 0)])
    p = cache._path("abcdef")
    p.with_name(p.name + ".tmp").write_bytes(b"partial garbage")
    snap = cache.snapshot()
    assert list(snap["k"]) == ["abcdef"]

    try:
        import zstandard  # noqa: F401
        has_zstd = True
    except ImportError:
        has_zstd = False
    if not has_zstd:
        # fabricate a zstd-framed entry: read must fail with the
        # actionable message, not a JSONDecodeError
        q = cache._path("ffffff")
        q.parent.mkdir(parents=True, exist_ok=True)
        q.write_bytes(b"\x28\xb5\x2f\xfd" + b"\x00" * 8)
        with pytest.raises(RuntimeError, match="zstandard"):
            cache.snapshot()


def test_cold_cache_probe_is_structural_via_hadoop_fs(spark, tmp_path):
    """The cold-vs-foreign decision probes the directory through Hadoop's
    FileSystem (the connector Spark reads with), so it works the same on
    local paths and object stores: marker-only dirs are cold, dirs with
    real data files are not, and an unreachable probe propagates the
    original read error."""
    from delm_spark.extraction.extract import _is_cold_cache_error

    e = Exception("[UNABLE_TO_INFER_SCHEMA] ...")
    # marker-only partition (a zero-miss run's leftovers): COLD
    marker = tmp_path / "cache" / "delm_run_id=r1"
    marker.mkdir(parents=True)
    (marker / "_SUCCESS").touch()
    assert _is_cold_cache_error(e, str(tmp_path / "cache"), spark) is True
    # foreign directory with real data files: NOT cold
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    (foreign / "data.csv").write_text("a,b\n1,2\n")
    assert _is_cold_cache_error(e, str(foreign), spark) is False
    # absent path: cold
    assert _is_cold_cache_error(e, str(tmp_path / "nope"), spark) is True
    # a probe that cannot reach the file system (no s3a connector here)
    # stays conservative: the original read error propagates
    assert _is_cold_cache_error(e, "s3a://bucket/cache", spark) is False
