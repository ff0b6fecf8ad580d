"""Extraction kernel tests.

The rule backend's native items (`RuleTripleExtractor.native_extract_items`)
are the only extract+clean implementation every `extract_chunks` mode runs;
`extract_raw` + clean_response + json.dumps per row is the reference they
are pinned against, byte for byte, on adversarial inputs.
"""

from __future__ import annotations

import json
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG
from delm_spark.extraction.backend import RuleTripleExtractor
from delm_spark.extraction.extract import extract_chunks
from delm_spark.schemas.clean import clean_response
from delm_spark.schemas.spec import spec_from_dict

EXTRACT_TEXTS = [
    None,
    "",
    "no facts here at all",
    "Alice Smith works at Acme Corp.",
    "Dr Carol Wu uses the Sparkql tool. Bob Jones reports to Carol Wu.",
    "Eve Adams works at Unknown.",  # null-word object -> item dropped
    "Frank Mueller dislikes Globex.",  # disallowed predicate -> dropped
    "Grace Kim works at None.",  # null word, different case path
    "Hassan Ali works at Acme Corp. Hassan Ali created Flinker.",
    "B Jones works at N/A.",
    "A works at B. C uses the D tool. E is located in Paris.",
    "unmatched sentence with works at but lowercase subject.",
    "Émile works at Acme Corp.",  # non-ASCII text, ASCII captures
    "Alice Smith works at Acme Corp",  # no trailing '.' -> no match
    "Nested Alice Smith works at Acme Corp. twice Alice Smith works at Acme Corp.",
    "Alice Smith works at Acme Corp.",  # repeat: dedup modes fan it back out
]

#: every extract_chunks mode; cache_dir_warm runs twice on one cache
MODES = ["inline", "dedup", "cache_dir_cold", "cache_dir_warm", "driver_cache"]

OUT_COLS = [
    "id",
    "delm_extracted_data_json",
    "delm_errors",
    "delm_input_tokens",
    "delm_output_tokens",
    "delm_cache_hit",
]


def _slow_reference(texts, spec, backend):
    jsons, in_toks, out_toks = [], [], []
    for text in texts:
        text = text or ""
        raw = backend.extract_raw(text)
        cleaned = clean_response(raw, spec, text)
        j = json.dumps(cleaned, sort_keys=False)
        jsons.append(j)
        in_toks.append((len(text) + 3) // 4)
        out_toks.append((len(j) + 3) // 4)
    return jsons, in_toks, out_toks


def _reference_backend(inner):
    """extract_raw only, so extract_chunks takes the per-row mapInPandas
    path. SimpleNamespace of a bound method: the executors unpickle the
    importable backend class, not this test module."""
    return SimpleNamespace(extract_raw=inner.extract_raw)


def _text_df(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "id int, delm_text_chunk string"
    )


def run_mode(df, spec, backend, mode, workdir):
    """extract_chunks(df) under `mode`, with its caches under `workdir`."""
    from delm_spark.extraction.sqlite_cache import SqliteSemanticCache

    if mode == "inline":
        return extract_chunks(df, spec, backend, dedup=False)
    if mode == "dedup":
        return extract_chunks(df, spec, backend, dedup=True)
    if mode == "driver_cache":
        cache = SqliteSemanticCache(str(workdir / "cache.db"))
        return extract_chunks(df, spec, backend, driver_cache=cache)
    cache_dir = str(workdir / "cache")
    if mode == "cache_dir_warm":
        extract_chunks(df, spec, backend, cache_dir=cache_dir)
    return extract_chunks(df, spec, backend, cache_dir=cache_dir)


@pytest.mark.parametrize("mode", MODES)
def test_extract_chunks_byte_parity(spark, tmp_path, mode):
    """JSON, errors, tokens and cache-hit of the native kernel equal the
    extract_raw-only backend's per-row path row for row, in every mode,
    and the JSON equals json.dumps(clean_response(extract_raw(t)))."""
    spec = spec_from_dict(TRIPLE_SCHEMA_CFG)
    backend = RuleTripleExtractor(spec)
    df = _text_df(spark, EXTRACT_TEXTS)

    native = run_mode(df, spec, backend, mode, tmp_path / "native")
    native = sorted(map(tuple, native.select(*OUT_COLS).collect()))
    ref = run_mode(df, spec, _reference_backend(backend), mode, tmp_path / "ref")
    ref = sorted(map(tuple, ref.select(*OUT_COLS).collect()))
    assert native == ref

    jsons, in_toks, out_toks = _slow_reference(EXTRACT_TEXTS, spec, backend)
    assert [r[1:5] for r in native] == [
        (j, None, i, o) for j, i, o in zip(jsons, in_toks, out_toks)
    ]
    assert {r[5] for r in native} == {mode == "cache_dir_warm"}


def test_optional_var_serializes_null(spark):
    """Non-required var: a dropped value serializes as null instead of
    killing the item."""
    cfg = {
        "schema_type": "nested",
        "container_name": "triples",
        "variables": [
            {"name": "subj", "data_type": "string", "required": True,
             "validate_in_text": True},
            {"name": "pred", "data_type": "string", "required": False,
             "allowed_values": ["works_at"]},
            {"name": "obj", "data_type": "string", "required": True,
             "validate_in_text": True},
        ],
    }
    spec = spec_from_dict(cfg)
    backend = RuleTripleExtractor(spec)
    texts = [
        "Alice Smith works at Acme Corp.",
        "Frank Mueller dislikes Globex.",  # pred dropped -> null, item kept
        "Eve Adams works at Unknown.",  # required obj dies -> item dropped
    ]
    assert backend.native_extract_items(spec, F.col("delm_text_chunk")) is not None
    out = extract_chunks(_text_df(spark, texts), spec, backend, dedup=False)
    jsons = [r[1] for r in sorted(out.select("id", "delm_extracted_data_json").collect())]
    assert jsons == _slow_reference(texts, spec, backend)[0]
    assert '"pred": null' in jsons[1]


def test_disqualified_spec_falls_back_to_extract_raw(spark):
    """A spec the native kernel cannot reproduce (validate_in_text on the
    MAPPED pred label) gets no native items, and extract_chunks serves it
    through the per-row path with reference bytes."""
    base = {
        "schema_type": "nested",
        "container_name": "triples",
        "variables": [
            {"name": "subj", "data_type": "string", "required": True},
            {"name": "pred", "data_type": "string", "required": True,
             "validate_in_text": True},  # mapped value needs real check
            {"name": "obj", "data_type": "string", "required": True},
        ],
    }
    spec = spec_from_dict(base)
    # build the backend with a compatible spec, then query with the odd one
    ok_spec = spec_from_dict(
        {**base, "variables": [dict(v, validate_in_text=False) for v in base["variables"]]}
    )
    backend = RuleTripleExtractor(ok_spec)
    assert backend.native_extract_items(ok_spec, F.col("t")) is not None
    assert backend.native_extract_items(spec, F.col("t")) is None

    texts = ["Alice Smith works at Acme Corp.", "Bob created Works At Home."]
    out = extract_chunks(_text_df(spark, texts), spec, backend, dedup=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    jsons = [r[1] for r in sorted(out.select("id", "delm_extracted_data_json").collect())]
    assert jsons == _slow_reference(texts, spec, backend)[0]


def test_native_extract_items_matches_json_roundtrip(spark):
    """array<struct> items == from_json(reference JSON)[container],
    element for element (order included), over adversarial chunks — the
    pipeline's native triples and its JSON triples explode the same rows."""
    from delm_spark.schemas.compile import spark_schema_for

    spec = spec_from_dict(TRIPLE_SCHEMA_CFG)
    backend = RuleTripleExtractor(spec)
    ref_jsons = _slow_reference(EXTRACT_TEXTS, spec, backend)[0]
    df = spark.createDataFrame(
        [(i, t, j) for i, (t, j) in enumerate(zip(EXTRACT_TEXTS, ref_jsons))],
        "id int, delm_text_chunk string, ref string",
    )
    items = backend.native_extract_items(spec, F.col("delm_text_chunk"))
    assert items is not None
    out = df.select(
        "id",
        items.alias("native"),
        F.from_json("ref", spark_schema_for(spec))
        .getField(spec.container_name)
        .alias("roundtrip"),
    ).collect()
    for r in out:
        rt = r["roundtrip"] if r["roundtrip"] is not None else []
        assert (r["native"] or []) == list(rt), (r["id"], r["native"], rt)


def test_pipeline_triples_native_equals_udf(spark):
    """run_pipeline triples/edges identical whether the backend offers
    native items or only extract_raw."""
    from delm_spark.data.synthetic import entity_dictionary, generate_transcripts
    from delm_spark.kg.pipeline import PipelineConfig, run_pipeline

    t = generate_transcripts(spark, n_convs=40, n_hot=2)
    d = entity_dictionary(spark)
    cfg = PipelineConfig()
    spec = spec_from_dict(cfg.schema_cfg)
    backend = RuleTripleExtractor(spec)
    res_native = run_pipeline(spark, t, d, cfg, backend=backend)
    res_udf = run_pipeline(spark, t, d, cfg, backend=_reference_backend(backend))
    nat = sorted(map(tuple, res_native.triples.collect()))
    udf = sorted(map(tuple, res_udf.triples.collect()))
    assert nat == udf
    nat_e = sorted(map(tuple, res_native.edges.collect()))
    udf_e = sorted(map(tuple, res_udf.edges.collect()))
    assert nat_e == udf_e
