"""F10: dynamic Pydantic response models vs the reference's own builders
(schemas.py:40-64, 207-215, 326-332, 462-470), loaded from
/root/reference/src via the ref_delm fixture."""

from __future__ import annotations

import pytest

from delm_spark.schemas.models import ann_and_field, make_safe_enum, pydantic_model_for
from delm_spark.schemas.spec import spec_from_dict

SIMPLE = {
    "schema_type": "simple",
    "variables": [
        {"name": "title", "description": "t", "data_type": "string", "required": True},
        {"name": "prices", "description": "p", "data_type": "[number]"},
        {"name": "year", "description": "y", "data_type": "integer"},
        {"name": "ok", "description": "o", "data_type": "boolean"},
    ],
}

NESTED = {
    "schema_type": "nested",
    "container_name": "items",
    "variables": [
        {"name": "subj", "description": "s", "data_type": "string"},
        {"name": "score", "description": "n", "data_type": "number"},
    ],
}


def test_make_safe_enum_matches_reference(ref_delm):
    allowed = ["has space", "has-dash", "plain", "mix ed-both"]
    ours = make_safe_enum("E", allowed)
    theirs = ref_delm["schemas"]._make_enum("E", allowed)
    assert [m.name for m in ours] == [m.name for m in theirs]
    assert [m.value for m in ours] == [m.value for m in theirs]


@pytest.mark.parametrize(
    "dtype,is_list", [("string", False), ("[number]", True), ("integer", False),
                      ("boolean", False), ("date", False), ("[string]", True)]
)
def test_ann_and_field_matches_reference(ref_delm, dtype, is_list):
    ours_ann, ours_fld, ours_l = ann_and_field(dtype, True, "d")
    ref_ann, ref_fld, ref_l = ref_delm["schemas"]._ann_and_field(dtype, True, "d")
    assert ours_l == ref_l == is_list
    assert str(ours_ann) == str(ref_ann)
    assert ours_fld.description == ref_fld.description == "d"
    assert (ours_fld.default_factory is None) == (ref_fld.default_factory is None)


def _ref_schema(ref_delm, cfg):
    kind = {"simple": "SimpleSchema", "nested": "NestedSchema"}[cfg["schema_type"]]
    return getattr(ref_delm["schemas"], kind)(cfg)


@pytest.mark.parametrize("cfg", [SIMPLE, NESTED], ids=["simple", "nested"])
def test_pydantic_model_matches_reference(ref_delm, cfg):
    ours = pydantic_model_for(spec_from_dict(cfg))
    theirs = _ref_schema(ref_delm, cfg).create_pydantic_schema()
    assert ours.__name__ == theirs.__name__
    assert set(ours.model_fields) == set(theirs.model_fields)
    # same parse behavior on an empty payload (defaults everywhere)
    assert ours().model_dump() == theirs().model_dump()
    if cfg["schema_type"] == "simple":
        # ...and on explicit nulls (every simple field is Optional)
        payload = {k: None for k in ours.model_fields}
        assert ours(**payload).model_dump() == theirs(**payload).model_dump()


def test_nested_model_parses_items():
    spec = spec_from_dict(NESTED)
    Model = pydantic_model_for(spec)
    m = Model(items=[{"subj": "Alice", "score": 1.5}, {"subj": None, "score": None}])
    d = m.model_dump()
    assert d["items"][0]["subj"] == "Alice" and d["items"][0]["score"] == 1.5


def test_allowed_values_become_safe_enum():
    cfg = {
        "schema_type": "simple",
        "variables": [
            {"name": "pred", "description": "p", "data_type": "string",
             "allowed_values": ["works at", "reports-to"]},
        ],
    }
    Model = pydantic_model_for(spec_from_dict(cfg))
    m = Model(pred="works at")
    assert m.pred.value == "works at" and m.pred.name == "works_at"
    with pytest.raises(Exception):
        Model(pred="not allowed")


def test_prompted_backend_passes_response_model():
    """A 5-parameter transport receives the dynamic model; a 4-parameter
    one keeps the original signature."""
    from delm_spark.extraction.backend import PromptedApiBackend

    spec = spec_from_dict(NESTED)
    seen = {}

    def transport5(prompt, system, model, temp, response_model):
        seen["rm"] = response_model
        return {"items": []}

    out = PromptedApiBackend(spec, transport5).extract_raw("text")
    assert out == {"items": []}
    assert seen["rm"].__name__ == "DynamicContainer"

    def transport4(prompt, system, model, temp):
        return {"items": [{"subj": "X", "score": 2.0}]}

    out = PromptedApiBackend(spec, transport4).extract_raw("text")
    assert out["items"][0]["subj"] == "X"


def test_transport_defaulted_fifth_param_is_not_response_model():
    """Transport signature inference hands the dynamic response model
    to a required 5th parameter or one named response_model, never to an
    unrelated defaulted one."""
    from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG
    from delm_spark.extraction.backend import PromptedApiBackend

    spec = spec_from_dict(TRIPLE_SCHEMA_CFG)
    seen = {}

    def with_timeout(prompt, system, model, temp, timeout=30):
        seen["timeout"] = timeout
        return {"triples": []}

    PromptedApiBackend(spec, with_timeout).extract_raw("t")
    # the defaulted unrelated 5th param must keep its default
    assert seen["timeout"] == 30

    def instructor_shaped(prompt, system, model, temp, response_model):
        seen["rm"] = response_model
        return {"triples": []}

    PromptedApiBackend(spec, instructor_shaped).extract_raw("t")
    assert seen["rm"] is not None  # required 5th -> model passed

    def named_with_default(prompt, system, model, temp, response_model=None):
        seen["rm2"] = response_model
        return {"triples": []}

    # literally named response_model -> passed even when defaulted
    PromptedApiBackend(spec, named_with_default).extract_raw("t")
    assert seen["rm2"] is not None
