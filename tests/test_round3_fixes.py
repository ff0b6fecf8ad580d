"""Round-3 regressions: score-filter operator threading, resume-guard
call-spec material, null-surface canonical_map agreement, Spark-dataset
directory loading, the parser-backed HTML decoder seam, and the compacted
persistent cache (no window over cache history on the warm path; cache
hits cost nothing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delm_spark.config import DelmConfig
from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG
from delm_spark.extraction.backend import RuleTripleExtractor
from delm_spark.extraction.cost import summarize_cost
from delm_spark.extraction.extract import compact_cache, extract_chunks
from delm_spark.kg.pipeline import score_and_filter
from delm_spark.schemas.spec import spec_from_dict
from tests.backends import CacheOnlyBackend
from tests.test_config import SCORING

SPEC = spec_from_dict(TRIPLE_SCHEMA_CFG)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


# ---------------------------------------------------------------------------
# score-filter operator threading (ADVICE r2, medium)
# ---------------------------------------------------------------------------

def _chunks(spark):
    rows = [
        ("c1", 0, 0, "Alice works at Acme."),   # keyword hit -> score 1.0
        ("c2", 0, 0, "the weather was nice."),  # no hit     -> score 0.0
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, chunk_pos int, delm_text_chunk string"
    )


def test_to_pipeline_config_preserves_operator():
    cfg = DelmConfig.from_dict(
        {"data_preprocessing": {**SCORING, "pandas_score_filter": "delm_score > 1.0"}}
    )
    pc = cfg.to_pipeline_config()
    assert pc.score_op == ">" and pc.score_threshold == 1.0
    lt = DelmConfig.from_dict(
        {"data_preprocessing": {**SCORING, "pandas_score_filter": "delm_score < 1.0"}}
    ).to_pipeline_config()
    assert lt.score_op == "<"
    eq = DelmConfig.from_dict(
        {"data_preprocessing": {**SCORING, "pandas_score_filter": "delm_score == 1.0"}}
    ).to_pipeline_config()
    assert eq.score_op == "="


def test_score_filter_operator_semantics(spark):
    kw = ["works at"]
    chunks = _chunks(spark)
    # '>' must EXCLUDE score==1.0 (the reference's df.query applies it verbatim)
    assert score_and_filter(chunks, kw, 1.0, ">").count() == 0
    assert score_and_filter(chunks, kw, 1.0, ">=").count() == 1
    # '<' selects the NON-matching chunk; the old always->= code inverted this
    got = score_and_filter(chunks, kw, 1.0, "<").select("conv_id").collect()
    assert [r["conv_id"] for r in got] == ["c2"]
    with pytest.raises(ValueError, match="operator"):
        score_and_filter(chunks, kw, 1.0, "~")


# ---------------------------------------------------------------------------
# resume guard includes the backend's call-spec material (ADVICE r2, low)
# ---------------------------------------------------------------------------

def test_fingerprint_changes_with_backend_call_spec():
    from delm_spark.extraction.backend import PromptedApiBackend
    from delm_spark.extraction.prompts import CallSpec
    from delm_spark.kg.pipeline import PipelineConfig, config_fingerprint

    cfg = PipelineConfig()
    t = lambda *a: None  # noqa: E731 — transport never called here
    a = PromptedApiBackend(SPEC, t, CallSpec(model_name="model-a"))
    b = PromptedApiBackend(SPEC, t, CallSpec(model_name="model-b"))
    c = PromptedApiBackend(SPEC, t, CallSpec(model_name="model-a", temperature=0.7))
    fa, fb, fc = (config_fingerprint(cfg, x) for x in (a, b, c))
    assert fa != fb and fa != fc and fb != fc
    # same spec -> same fingerprint (stability)
    assert fa == config_fingerprint(cfg, PromptedApiBackend(SPEC, t, CallSpec(model_name="model-a")))


# ---------------------------------------------------------------------------
# canonical_map on dictionaries containing NULLs (ADVICE r2, low)
# ---------------------------------------------------------------------------

def test_canonical_map_null_rows_agree_across_paths(spark):
    from delm_spark.kg.canonicalize import canonical_map

    d = spark.createDataFrame(
        [("acme corp", "ent:acme"), (None, "ent:ghost"), ("orphan", None),
         ("acme corporation", "ent:acme")],
        "surface string, canonical_id string",
    )
    rows = sorted(tuple(r) for r in canonical_map(d).collect())
    assert all("None" not in n for n, _ in rows)
    assert ("mention:acme corp", "ent:acme") in rows


# ---------------------------------------------------------------------------
# load_directory over a Spark-written dataset (ADVICE r2, low)
# ---------------------------------------------------------------------------

def test_load_directory_reads_spark_parquet_dataset(spark, tmp_path):
    from delm_spark.io.loaders import load_directory

    out = tmp_path / "ds"
    spark.range(0, 100).withColumn("v", F.col("id") * 2).repartition(3).write.parquet(
        str(out)
    )
    # simulate ChecksumFileSystem sidecars if the local committer didn't
    (out / ".part-00000.crc").write_bytes(b"\x00")
    (out / "._SUCCESS.crc").write_bytes(b"\x00")
    df, ext = load_directory(spark, str(out))
    assert ext == ".parquet"
    assert df.count() == 100 and set(df.columns) == {"id", "v"}


# ---------------------------------------------------------------------------
# HTML decoder seam (VERDICT r2 #8)
# ---------------------------------------------------------------------------

def test_html_parser_udf_decodes_tag_soup(spark, tmp_path):
    from delm_spark.io.loaders import html_text_udf, load_html

    well = tmp_path / "well"
    soup = tmp_path / "soup"
    well.mkdir(), soup.mkdir()
    (well / "a.html").write_text(
        "<html><head><style>p{color:red}</style></head>"
        "<body><p>Fish &amp; Chips</p><script>var a=1;</script></body></html>"
    )
    # '>' inside a quoted attribute: the regex chain truncates the tag there
    (soup / "b.html").write_text('<body><a href="x>y.html">click here</a></body>')

    regex_well = load_html(spark, str(well / "a.html")).collect()[0]["delm_raw_data"]
    udf_well = load_html(
        spark, str(well / "a.html"), decode_udf=html_text_udf()
    ).collect()[0]["delm_raw_data"]
    assert regex_well == udf_well == "Fish & Chips"

    regex_soup = load_html(spark, str(soup / "b.html")).collect()[0]["delm_raw_data"]
    udf_soup = load_html(
        spark, str(soup / "b.html"), decode_udf=html_text_udf()
    ).collect()[0]["delm_raw_data"]
    assert udf_soup == "click here"     # parser respects the quoted attribute
    assert regex_soup != "click here"   # documented regex-path divergence


# ---------------------------------------------------------------------------
# persistent cache: compact layout, no window on warm path, free hits
# ---------------------------------------------------------------------------

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


def test_warm_cache_no_window_hits_marked_cost_zero(spark, tmp_path):
    cache = str(tmp_path / "cache")
    df = _chunk_df(spark, TEXTS)
    cold = extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), cache_dir=cache)
    cold_rows = cold.collect()
    assert all(not r["delm_cache_hit"] for r in cold_rows)
    assert summarize_cost(cold).input_tokens > 0

    warm = extract_chunks(df, SPEC, CacheOnlyBackend(), cache_dir=cache)
    plan = _plan(warm)
    assert "Window" not in plan, plan  # the r2 full-history window is gone
    warm_rows = warm.collect()
    assert all(r["delm_cache_hit"] for r in warm_rows)
    summary = summarize_cost(warm)
    assert summary.cost_usd == 0 and summary.input_tokens == 0
    assert summary.cached_input_tokens > 0  # reported separately, at no cost


def test_cache_row_count_stays_at_distinct_keys(spark, tmp_path):
    cache = str(tmp_path / "cache")
    df = _chunk_df(spark, TEXTS)
    for _ in range(3):
        extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), cache_dir=cache).collect()
    stored = spark.read.parquet(cache)
    assert stored.count() == len(set(TEXTS))  # 3 distinct texts, 3 runs


def test_compact_cache_drops_stale_error_rows(spark, tmp_path):
    from tests.backends import FailingBackend

    cache = str(tmp_path / "cache")
    df = _chunk_df(spark, TEXTS[:2])
    bad = FailingBackend(RuleTripleExtractor(SPEC), fail_pattern="Bob Jones")
    extract_chunks(df, SPEC, bad, cache_dir=cache).collect()      # 1 ok + 1 err
    extract_chunks(df, SPEC, bad, cache_dir=cache).collect()      # err retried, errs again
    out = extract_chunks(df, SPEC, RuleTripleExtractor(SPEC), cache_dir=cache)
    assert {r["delm_errors"] for r in out.collect()} == {None}    # healed
    stored = spark.read.parquet(cache)
    assert stored.count() > 2  # stale error rows linger until compaction
    kept = compact_cache(spark, cache)
    assert kept == 2 == spark.read.parquet(cache).count()
    # compacted table still serves a fully-warm run with zero backend calls
    warm = extract_chunks(df, SPEC, CacheOnlyBackend(), cache_dir=cache).collect()
    assert all(r["delm_errors"] is None and r["delm_cache_hit"] for r in warm)


# ---------------------------------------------------------------------------
# Iceberg stage storage: probe + dispatch (the runtime jar is absent in the
# sandbox, so the snapshot path is exercised through monkeypatched
# primitives and must hand back frames identical to the parquet path)
# ---------------------------------------------------------------------------


def test_iceberg_probe_is_false_in_sandbox(spark):
    from delm_spark.io.iceberg import configured_catalog, iceberg_available
    from delm_spark.kg.pipeline import StageRunner

    assert iceberg_available(spark) is False
    assert configured_catalog(spark) is None
    # auto-detection therefore lands on parquet — no behavior change
    assert StageRunner(spark, None, "f1").storage == "parquet"


def test_iceberg_and_parquet_stage_paths_identical(spark, tmp_path, monkeypatch):
    import delm_spark.io.iceberg as ice
    from delm_spark.kg.pipeline import StageRunner

    # fake catalog: writeTo-style snapshot commit backed by a temp dir
    tables: dict = {}

    def fake_write(df, ident, partition_by=None):
        path = str(tmp_path / "warehouse" / ident.replace(".", "_"))
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        tables[ident] = path

    monkeypatch.setattr(ice, "write_stage", fake_write)
    monkeypatch.setattr(
        ice, "read_stage", lambda spark_, ident: spark_.read.parquet(tables[ident])
    )
    monkeypatch.setattr(ice, "stage_exists", lambda spark_, ident: ident in tables)

    def build():
        return spark.range(10).selectExpr("id", "id * id AS sq")

    pq = StageRunner(spark, str(tmp_path / "pq"), fingerprint="f1")
    # the runtime probe and catalog lookup select the iceberg path
    monkeypatch.setattr(ice, "iceberg_available", lambda spark_: True)
    monkeypatch.setattr(ice, "configured_catalog", lambda spark_: "cat")
    ib = StageRunner(spark, str(tmp_path / "ib"), fingerprint="f1")
    assert (pq.storage, ib.storage) == ("parquet", "iceberg")
    a = pq.stage("s1", build)
    b = ib.stage("s1", build)
    assert pq.built == ib.built == ["s1"]
    assert sorted(a.drop("delm_part_id").collect()) == sorted(
        b.drop("delm_part_id").collect()
    )
    assert ib.metrics["s1"]["rows"] == pq.metrics["s1"]["rows"] == 10

    # second runner resumes from the committed snapshot, never rebuilds
    ib2 = StageRunner(spark, str(tmp_path / "ib"), fingerprint="f1")
    calls = {"n": 0}

    def must_not_build():
        calls["n"] += 1
        return build()

    c = ib2.stage("s1", must_not_build)
    assert calls["n"] == 0 and ib2.resumed == ["s1"]
    assert sorted(c.drop("delm_part_id").collect()) == sorted(
        a.drop("delm_part_id").collect()
    )

    # changed fingerprint refuses resume, exactly like the parquet path
    ib3 = StageRunner(spark, str(tmp_path / "ib"), fingerprint="f2")
    with pytest.raises(RuntimeError, match="different pipeline config"):
        ib3.stage("s1", build)

    # stage tables live in the configured catalog, one per checkpoint dir:
    # the refusal's remedy, a fresh checkpoint dir, builds afresh
    fresh = StageRunner(spark, str(tmp_path / "ib_fresh"), fingerprint="f2")
    assert fresh._ident("s1") != ib._ident("s1")
    fresh.stage("s1", build)
    assert fresh.built == ["s1"] and fresh.resumed == []
    assert len(tables) == 2
    assert all(ident.startswith("cat.") for ident in tables), sorted(tables)


# ---------------------------------------------------------------------------
# Code-review fixes
# ---------------------------------------------------------------------------


def test_facade_duplicate_rows_get_distinct_record_ids(spark):
    from delm_spark.delm import DelmSpark

    cfg = {
        "data_preprocessing": {"target_column": "text", "splitting": {"type": None}},
        "schema": {"spec": TRIPLE_SCHEMA_CFG},
    }
    d = DelmSpark.from_dict(cfg, spark)
    df = spark.createDataFrame([("same text",)] * 3 + [("other",)], "text string")
    prepped = d.prep_data(df)
    assert prepped.count() == 4
    assert prepped.select("delm_record_id").distinct().count() == 4
    out = d.process_via_llm(prepped)
    assert out.count() == 4  # no join fan-out


def test_facade_refuses_stale_artifacts(spark, tmp_path):
    from delm_spark.delm import DelmSpark

    cfg = {
        "data_preprocessing": {"target_column": "text", "splitting": {"type": None}},
        "schema": {"spec": TRIPLE_SCHEMA_CFG},
    }
    d1 = DelmSpark.from_dict(cfg, spark, experiment_name="x",
                             experiment_directory=str(tmp_path))
    d1.prep_data(spark.createDataFrame([("Alice Smith works at Acme Corp.",)],
                                       "text string"))
    changed = {**cfg, "data_preprocessing": {"target_column": "text",
                                             "splitting": {"type": "ParagraphSplit"}}}
    d2 = DelmSpark.from_dict(changed, spark, experiment_name="x",
                             experiment_directory=str(tmp_path))
    with pytest.raises(RuntimeError, match="different config"):
        d2.process_via_llm()
    # same config still resumes
    d3 = DelmSpark.from_dict(cfg, spark, experiment_name="x",
                             experiment_directory=str(tmp_path))
    assert d3.process_via_llm().count() == 1


def test_ivf_topk_with_string_ids(spark):
    from delm_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.createDataFrame(
        [(f"doc_{i:03d}", [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
         for i in range(60)],
        "vec_id string, embedding array<double>",
    )
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    full = ivf_topk(emb, q, n_centroids=4, nprobe=4, k=5).select(
        "query_id", "vec_id", "rank")
    exact = brute_force_topk(emb, q, k=5).select("query_id", "vec_id", "rank")
    assert sorted(full.collect()) == sorted(exact.collect())
    assert full.count() == 10  # not silently empty


def test_jpeg_fill_bytes_and_restart_markers():
    import struct

    from delm_spark.operators.multimodal import image_header_dims

    sof = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 600, 800) + b"\x03" + b"\x00" * 9
    padded = b"\xff\xd8" + b"\xff\xff\xff" + sof  # fill bytes before SOF
    assert image_header_dims(padded) == ("jpeg", 800, 600)
    with_rst = b"\xff\xd8" + b"\xff\x01" + sof  # standalone TEM marker
    assert image_header_dims(with_rst) == ("jpeg", 800, 600)


def test_transport_star_args_needs_explicit_flag(spark):
    from delm_spark.extraction.backend import PromptedApiBackend
    from delm_spark.schemas.spec import spec_from_dict

    spec = spec_from_dict(TRIPLE_SCHEMA_CFG)
    calls = {}

    def star_transport(*args):
        calls["n"] = len(args)
        return {"triples": []}

    # auto-inference cannot see through *args -> defaults to 4-arg form
    PromptedApiBackend(spec, star_transport).extract_raw("t")
    assert calls["n"] == 4
    # explicit opt-in passes the response model
    PromptedApiBackend(spec, star_transport, pass_response_model=True).extract_raw("t")
    assert calls["n"] == 5


def test_cache_read_error_propagates(spark, tmp_path):
    """A corrupt (non-parquet) cache table must FAIL the run, not silently
    re-extract everything as a 'cold cache'."""
    bad = tmp_path / "cache"
    bad.mkdir()
    (bad / "part-00000.parquet").write_text("this is not parquet")
    df = _chunk_df(spark, TEXTS[:1])
    with pytest.raises(Exception):
        extract_chunks(df, SPEC, RuleTripleExtractor(SPEC),
                       cache_dir=str(bad)).collect()
