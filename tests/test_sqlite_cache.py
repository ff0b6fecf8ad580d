"""Sqlite semantic-cache backend (reference SQLiteWALCache parity):
warm-run hit semantics, error retry/heal, oldest-first pruning, and the
facade backend dispatch."""

from __future__ import annotations

import pytest

from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG
from delm_spark.extraction.backend import RuleTripleExtractor
from delm_spark.extraction.extract import extract_chunks
from delm_spark.extraction.sqlite_cache import SqliteSemanticCache
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


def test_sqlite_cold_then_warm(spark, tmp_path):
    cache = SqliteSemanticCache(str(tmp_path / "cache.db"))
    df = _chunk_df(spark, TEXTS)
    cold = extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), driver_cache=cache)
    rows = cold.collect()
    assert len(rows) == len(TEXTS)
    assert all(not r["delm_cache_hit"] for r in rows)
    assert cache.stats()["entries"] == len(set(TEXTS))  # one row per key

    # warm: zero backend calls, every row a hit, extraction values intact
    warm = extract_chunks(df, SPEC, CacheOnlyBackend(), driver_cache=cache)
    wrows = warm.collect()
    assert all(r["delm_cache_hit"] and r["delm_errors"] is None for r in wrows)
    by_id_cold = {r["chunk_id"]: r["delm_extracted_data_json"] for r in rows}
    by_id_warm = {r["chunk_id"]: r["delm_extracted_data_json"] for r in wrows}
    assert by_id_cold == by_id_warm
    # cost accounting matches the parquet path: warm run costs nothing
    from delm_spark.extraction.cost import summarize_cost

    s = summarize_cost(warm)
    assert s.input_tokens == 0 and s.cached_input_tokens > 0


def test_sqlite_error_rows_retry_and_heal(spark, tmp_path):
    cache = SqliteSemanticCache(str(tmp_path / "cache.db"))
    df = _chunk_df(spark, TEXTS[:2])
    bad = FailingBackend(RuleTripleExtractor(SPEC), fail_pattern="Bob Jones")
    out1 = extract_chunks(df, SPEC, bad, driver_cache=cache).collect()
    assert sum(r["delm_errors"] is not None for r in out1) == 1
    # error keys are misses: the healed backend replaces the error row
    out2 = extract_chunks(
        df, SPEC, RuleTripleExtractor(SPEC), driver_cache=cache
    ).collect()
    assert all(r["delm_errors"] is None for r in out2)
    # the previously-good key was a hit, the healed key was not
    hits = {r["chunk_id"]: r["delm_cache_hit"] for r in out2}
    assert hits[0] is True and hits[1] is False
    assert cache.stats()["entries"] == 2


def test_sqlite_prune_oldest_first(tmp_path):
    cache = SqliteSemanticCache(str(tmp_path / "cache.db"))
    rows = [(f"k{i:03d}", "x" * 100, None, 1, 1, 0) for i in range(50)]
    cache.upsert(rows)
    before = cache.payload_bytes()
    cache.prune(before // 2)
    assert cache.payload_bytes() <= before // 2
    # oldest (lowest ts, tie-broken by key) went first: the highest keys
    # survive because they were inserted in one batch (same ts) and the
    # tie-break deletes k000... upward
    snap = cache.snapshot()
    assert len(snap) < 50 and snap["k"].min() > "k000"


def test_parquet_and_sqlite_are_mutually_exclusive(spark, tmp_path):
    cache = SqliteSemanticCache(str(tmp_path / "c.db"))
    with pytest.raises(ValueError, match="not both"):
        extract_chunks(
            _chunk_df(spark, TEXTS[:1]),
            SPEC,
            RuleTripleExtractor(SPEC),
            cache_dir=str(tmp_path / "p"),
            driver_cache=cache,
        )


def test_facade_dispatches_sqlite_backend(spark, tmp_path):
    from delm_spark.delm import DelmSpark

    cfg = {
        "llm_extraction": {"name": "deterministic-rules"},
        "data_preprocessing": {"target_column": "text"},
        "schema": {"spec": TRIPLE_SCHEMA_CFG},
        "semantic_cache": {
            "backend": "sqlite",
            "path": str(tmp_path / "cache.db"),
            "max_size_mb": 100,
            "synchronous": "normal",
        },
    }
    texts = spark.createDataFrame([("Alice Smith works at Acme Corp.",)], "text string")
    d = DelmSpark.from_dict(cfg, spark)
    d.prep_data(texts)
    d.process_via_llm().collect()
    assert (tmp_path / "cache.db").exists()
    # warm facade run through the sqlite store makes zero backend calls
    d2 = DelmSpark.from_dict(cfg, spark, backend=CacheOnlyBackend())
    d2.prep_data(texts)
    rows = d2.process_via_llm().collect()
    assert all(r["delm_cache_hit"] and r["delm_errors"] is None for r in rows)

    cfg["semantic_cache"]["backend"] = "lmdb"
    d3 = DelmSpark.from_dict(cfg, spark)
    d3.prep_data(texts)
    with pytest.raises(NotImplementedError, match="lmdb"):
        d3.process_via_llm()


def test_driver_cache_row_ceiling_refuses(spark, tmp_path, monkeypatch):
    """The driver-resident cache backends must refuse (with remediation
    text) when the distinct-miss count exceeds the configured ceiling —
    a first run's misses are corpus-sized and would otherwise OOM the
    driver mid-collect (VERDICT r5 #3)."""
    from delm_spark.extraction import extract

    cache = SqliteSemanticCache(str(tmp_path / "cache.db"))
    df = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(5)],
        "chunk_id long, delm_text_chunk string",
    )
    monkeypatch.setattr(extract, "DRIVER_CACHE_MAX_ROWS", 2)
    with pytest.raises(RuntimeError) as err:
        extract_chunks(
            df, SPEC, RuleTripleExtractor(SPEC), driver_cache=cache,
        )
    # the only production caller, DelmSpark.process_via_llm, takes its
    # cache from the config, so the remedy must be a config setting
    assert "semantic_cache.backend: parquet" in str(err.value)
    assert "driver_cache_max_rows" not in str(err.value)
    # under the ceiling: unchanged behavior
    monkeypatch.setattr(extract, "DRIVER_CACHE_MAX_ROWS", 100)
    out = extract_chunks(
        df, SPEC, RuleTripleExtractor(SPEC), driver_cache=cache,
    )
    assert out.count() == 5
