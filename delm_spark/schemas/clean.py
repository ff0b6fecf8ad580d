"""Validation / cleaning of raw extraction output.

This is the P/R-critical kernel: its behavior must match the reference's
`SimpleSchema._clean` (/root/reference/src/delm/schemas/schemas.py:224-260),
`NestedSchema._clean_item` (schemas.py:343-373), `NestedSchema._clean`
(schemas.py:375-387) and `MultipleSchema.validate_and_parse_response_to_dict`
(schemas.py:482-499) exactly, rule for rule:

  1. scalar-vs-list normalization: wrap scalars in a list, drop Nones
  2. null-word filtering: string-typed values in {none,null,unknown,n/a,""}
     (case-insensitive) are dropped unless explicitly allowed
  3. allowed-values filtering: keep only values in `allowed_values`
  4. validate-in-text: keep string values only if value.lower() occurs in
     the lowercased chunk text
  5. required gating: a required variable with no surviving values
     invalidates the whole response (simple) / the whole item (nested)
  6. output shape: list for list-typed vars, else first value or None

These run as plain-Python dict transforms *inside* the Arrow-batched
extraction UDF (the one sanctioned Python stage); everything downstream
is native Catalyst.
"""

from __future__ import annotations

from typing import Any, Optional

from delm_spark.constants import LLM_NULL_WORDS_LOWERCASE
from delm_spark.models import Variable
from delm_spark.schemas.spec import MultipleSpec, NestedSpec, SchemaSpec, SimpleSpec


def _coerce(value: Any, base_type: str) -> Any:
    """Light type coercion matching what the reference's Pydantic
    round-trip (`model_dump(mode="json")`) applies to well-typed input."""
    if value is None:
        return None
    if base_type == "number" and isinstance(value, int) and not isinstance(value, bool):
        return float(value)
    return value


def clean_variables(
    raw: dict[str, Any], variables: tuple, text_lower: str
) -> Optional[dict[str, Any]]:
    """Apply rules 1-6 to one flat record/item. Returns None if a required
    variable ends up empty (reference schemas.py:253-255, 368-370)."""
    cleaned: dict[str, Any] = {}
    for v in variables:
        raw_val = raw.get(v.name)
        items = raw_val if isinstance(raw_val, list) else [raw_val]
        items = [i for i in items if i is not None]

        if "string" in v.data_type:
            if v.allowed_values is None:
                nones = LLM_NULL_WORDS_LOWERCASE
            else:
                nones = [w for w in LLM_NULL_WORDS_LOWERCASE if w not in v.allowed_values]
            if nones:
                items = [
                    i for i in items if not (isinstance(i, str) and i.lower() in nones)
                ]

        if v.allowed_values:
            items = [i for i in items if i in v.allowed_values]

        if v.validate_in_text:
            items = [i for i in items if isinstance(i, str) and i.lower() in text_lower]

        if v.required and not items:
            return None

        items = [_coerce(i, v.base_type()) for i in items]
        cleaned[v.name] = items if v.is_list() else (items[0] if items else None)
    return cleaned


def clean_response(
    raw: Optional[dict[str, Any]], spec: SchemaSpec, text_chunk: str
) -> dict[str, Any]:
    """Clean one raw extraction dict against the spec.

    Returns the cleaned dict in the reference's output shape
    (schemas.py:263-268, 390-399, 482-499); `{}` when the response is
    entirely invalid.
    """
    if not raw:
        return {}
    text_lower = text_chunk.lower()

    if isinstance(spec, SimpleSpec):
        cleaned = clean_variables(raw, spec.variables, text_lower)
        return cleaned if cleaned is not None else {}

    if isinstance(spec, NestedSpec):
        items = raw.get(spec.container_name) or []
        cleaned_items = []
        for item in items:
            if not isinstance(item, dict):
                continue
            ci = clean_variables(item, spec.variables, text_lower)
            if ci is not None:
                cleaned_items.append(ci)
        if not cleaned_items:
            return {}
        return {spec.container_name: cleaned_items}

    if isinstance(spec, MultipleSpec):
        out: dict[str, Any] = {}
        for name, sub in spec.schemas:
            sub_raw = raw.get(name)
            sub_clean = clean_response(sub_raw, sub, text_chunk)
            if isinstance(sub, NestedSpec):
                # unwrap the container (reference schemas.py:489-494)
                out[name] = (
                    sub_clean.get(sub.container_name, [])
                    if isinstance(sub_clean, dict)
                    else sub_clean
                )
            else:
                out[name] = sub_clean
        return out

    raise TypeError(f"Unknown spec type {type(spec).__name__}")
