"""Extractor backends.

The reference calls an LLM through Instructor with a dynamically generated
Pydantic response model (/root/reference/src/delm/core/extraction_manager.py:296-332).
No network or `instructor` exists in this sandbox, so the default backend is
a deterministic, schema-guided rule engine: regex patterns per predicate
emit raw (subj, pred, obj) items in document order. Raw output then flows
through the SAME cleaning rules the reference applies
(delm_spark.schemas.clean), so fidelity is defined by the cleaning kernel,
not the backend.

Every backend implements `extract_raw(text) -> dict` (raw, pre-cleaning);
extract_chunks runs it per row inside one `mapInPandas` stage with retry
and per-chunk error safety. A backend whose extraction is a pure
expression chain may also publish `native_extract_items(spec, col)`: the
CLEANED items as a native array<struct> Column. RuleTripleExtractor does,
and that one kernel serves every extract_chunks mode and the pipeline's
triples stage; its `extract_raw` stays as the per-row reference the
tests compare against.
"""

from __future__ import annotations

import re
from typing import Any, Optional, Protocol

from delm_spark.schemas.spec import NestedSpec, SchemaSpec

#: entity mention: capitalized word sequence (no embedded '.')
ENTITY_RE = r"[A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)*"

#: phrase -> emitted predicate label. Includes deliberately *disallowed*
#: predicates (e.g. "dislikes") so the allowed-values cleaning rule is
#: exercised end-to-end.
DEFAULT_PREDICATE_PHRASES: list[tuple[str, str]] = [
    (r" works at ", "works_at"),
    (r" uses the ", "uses_tool"),
    (r" is located in ", "located_in"),
    (r" reports to ", "reports_to"),
    (r" created ", "created"),
    (r" dislikes ", "dislikes"),
]


class ExtractorBackend(Protocol):
    def extract_raw(self, text: str) -> Optional[dict[str, Any]]:
        """Raw (pre-cleaning) extraction for one chunk; None/raise on failure."""
        ...


class RuleTripleExtractor:
    """Deterministic triple extractor for a nested (subj, pred, obj) spec.

    Emits items in document order (match start offset), which downstream
    merge relies on the same way the reference relies on chunk/input order
    (post_processing.py:32-38, 99-110).
    """

    def __init__(self, spec: SchemaSpec):
        if not isinstance(spec, NestedSpec):
            raise TypeError("RuleTripleExtractor requires a nested triple spec")
        self.spec = spec
        phrases = DEFAULT_PREDICATE_PHRASES
        # ONE combined pattern (alternation over predicate phrases) — a
        # single left-to-right scan yields matches already in document
        # order and is ~len(phrases)x cheaper than per-predicate scans.
        alt = "|".join(re.escape(p) for p, _ in phrases)
        self._pattern = re.compile(
            rf"(?P<subj>{ENTITY_RE})(?P<phrase>{alt})(?P<obj>{ENTITY_RE})(?=[.!?])"
        )
        self._pred_of = {p: pred for p, pred in phrases}

    def extract_raw(self, text: str) -> dict[str, Any]:
        if not text:
            return {self.spec.container_name: []}
        items = [
            {"subj": m.group("subj"), "pred": self._pred_of[m.group("phrase")],
             "obj": m.group("obj")}
            for m in self._pattern.finditer(text)
        ]
        return {self.spec.container_name: items}

    def _native_match_structs(self, text):
        """array<struct<s: subj, p: phrase, o: obj>> of the raw regex
        matches of `text`, as a native Column.

        One pass: a single `regexp_extract_all(text, pat, 0)` (full
        matches), with subj/obj recovered by substring_index around the
        detected phrase. Sound because (a) every DEFAULT_PREDICATE_PHRASES
        phrase is space-delimited lowercase words with leading/trailing
        spaces while ENTITY_RE captures only ever have an UPPERCASE letter
        after a space — so no phrase can occur inside a capture, and any
        in-match occurrence of another phrase must lie wholly inside the
        real phrase; with (b) no phrase a substring of another, only the
        real phrase can match.

        The regexp pass is referenced EXACTLY ONCE outside any lambda:
        CollapseProject inlines aliased expressions into lambda bodies, so
        an element_at(arr, i) formulation would re-run the whole regex
        scan once PER ITEM (measured 3x slower than the Python stage this
        replaces)."""
        from pyspark.sql import functions as F

        # Java twin of the Python pattern: named groups -> plain groups
        # (1=subj, 2=phrase, 3=obj; ENTITY_RE's inner group is
        # non-capturing). Phrase/entity characters are `[A-Za-z ]` only,
        # so the escaped alternation parses identically under
        # java.util.regex.
        jpat = re.sub(r"\(\?P<[A-Za-z_]+>", "(", self._pattern.pattern)
        phrases = list(self._pred_of)

        def split_match(m):
            expr = None
            for ph in phrases:
                branch = F.struct(
                    F.substring_index(m, ph, 1).alias("s"),
                    F.lit(ph).alias("p"),
                    F.substring_index(m, ph, -1).alias("o"),
                )
                cond = m.contains(F.lit(ph))
                expr = (
                    F.when(cond, branch) if expr is None else expr.when(cond, branch)
                )
            return expr

        return F.transform(
            F.regexp_extract_all(text, F.lit(jpat), 0), lambda m: split_match(m)
        )

    def native_extract_items(self, spec, text_col):
        """extract_raw + clean_response as ONE native Column: the cleaned
        items of `text_col` as array<struct<...spec.variables...>>, equal
        element for element (order included) to
        clean_response(extract_raw(text), spec, text)[container]. Runs in
        whole-stage codegen with no Python boundary; every extract_chunks
        mode and the pipeline's triples stage consume it.

        Every string it emits is JSON-escape-free by construction: subj/
        obj match ENTITY_RE (`[A-Za-z ]` only), the DEFAULT_PREDICATE_PHRASES
        labels and phrases are `[a-z_ ]` only, and the container name
        passes the json-safe guard in `_native_ok`, so a plain concat
        serializer reproduces json.dumps byte for byte. None when the spec
        disqualifies the native form (callers fall back to extract_raw)."""
        from pyspark.sql import functions as F

        from delm_spark.constants import LLM_NULL_WORDS_LOWERCASE

        if not self._native_ok(spec):
            return None
        text = F.coalesce(text_col, F.lit(""))
        zipped = self._native_match_structs(text)
        pred_of = self._pred_of

        def item_of(x):
            # phrase -> pred label (when-chain over the closed phrase set)
            expr = None
            for ph, label in pred_of.items():
                cond = x.getField("p") == F.lit(ph)
                expr = (
                    F.when(cond, F.lit(label))
                    if expr is None
                    else expr.when(cond, F.lit(label))
                )
            vals = {"subj": x.getField("s"), "pred": expr, "obj": x.getField("o")}
            alive = F.lit(True)
            fields = []
            for v in spec.variables:
                val = vals[v.name]
                ok = F.lit(True)
                # rule 2: null-word filter (nones excludes any null word
                # the spec explicitly allows)
                if v.allowed_values is None:
                    nones = LLM_NULL_WORDS_LOWERCASE
                else:
                    nones = [
                        w
                        for w in LLM_NULL_WORDS_LOWERCASE
                        if w not in v.allowed_values
                    ]
                if nones:
                    ok = ok & ~F.lower(val).isin(*nones)
                # rule 3: allowed-values filter
                if v.allowed_values:
                    ok = ok & val.isin(*v.allowed_values)
                # rule 4 (validate_in_text) is vacuously true for verbatim
                # ASCII captures — see _native_ok
                if v.required:
                    # rule 5: a required var with no surviving value kills
                    # the whole item
                    alive = alive & ok
                    fields.append(val.alias(v.name))
                else:
                    fields.append(
                        F.when(ok, val).otherwise(F.lit(None)).alias(v.name)
                    )
            return F.when(alive, F.struct(*fields))

        return F.filter(
            F.transform(zipped, lambda x: item_of(x)), lambda x: x.isNotNull()
        )

    def _native_ok(self, spec) -> bool:
        """True when `native_extract_items` reproduces
        clean_response(extract_raw(text), spec, text) exactly for this
        spec shape, JSON-escape-free (memoized per spec object)."""
        cached = self.__dict__.get("_native_ok_for")
        if cached is not None and cached[0] is spec:
            return cached[1]
        safe = re.compile(r"[A-Za-z0-9_ ]*\Z")
        ok = (
            isinstance(spec, NestedSpec)
            and safe.match(spec.container_name) is not None
        )
        if ok:
            for v in spec.variables:
                if (
                    v.name not in ("subj", "pred", "obj")
                    or v.is_list()
                    or v.base_type() != "string"
                    # validate_in_text is free ONLY for verbatim capture
                    # groups (subj/obj are substrings of the text, and
                    # ENTITY_RE is ASCII-only, so value.lower() is always
                    # contained in text.lower()); pred is a MAPPED label,
                    # so a validate_in_text pred needs the real check.
                    or (v.validate_in_text and v.name == "pred")
                ):
                    ok = False
                    break
        self._native_ok_for = (spec, ok)
        return ok


class PromptedApiBackend:
    """Instructor-shaped API backend (reference
    extraction_manager.py:296-332): assembles the reference's prompt and
    system message (extraction/prompts.py — byte-for-byte parity), then
    calls a pluggable `transport(prompt, system, model_name, temperature)
    -> raw dict`. The transport is the ONLY network-touching piece — in
    this sandbox tests inject a fake; production plugs an Instructor/SDK
    call. Retry/backoff and per-chunk error safety come from the extraction
    stage; cache keys derive from `call_spec`, so entries written with this
    backend are keyed exactly like the reference's semantic cache
    (semantic_cache.py:81-103)."""

    def __init__(self, spec, transport, call_spec=None, pass_response_model=None):
        from delm_spark.extraction.prompts import CallSpec

        self.spec = spec
        self.transport = transport
        self.call_spec = call_spec or CallSpec()
        # whether the transport takes the dynamic Pydantic response model
        # as a 5th argument (Instructor style). None = inferred ONCE from
        # the signature here (not per row); *args / functools.partial
        # transports defeat signature inspection, so they should pass this
        # explicitly.
        if pass_response_model is None:
            import inspect

            try:
                positional = [
                    p
                    for p in inspect.signature(transport).parameters.values()
                    if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
                ]
                # A 5th positional param only *means* "response model" when
                # it is required (no default) or literally named
                # response_model — a defaulted unrelated param (e.g.
                # timeout=30) must NOT silently receive the model.
                if len(positional) >= 5:
                    fifth = positional[4]
                    pass_response_model = (
                        fifth.default is fifth.empty
                        or fifth.name == "response_model"
                    )
                else:
                    pass_response_model = False
            except (TypeError, ValueError):
                pass_response_model = False
        self.pass_response_model = bool(pass_response_model)

    def response_model(self):
        """Dynamic Pydantic response model (reference
        create_pydantic_schema, schemas.py:207-215/326-332/462-470) — what
        a live Instructor transport passes as `response_model=` so the
        API validates structure before the engine's cleaning rules run.
        Built once per backend instance, not per call."""
        cached = getattr(self, "_response_model", None)
        if cached is None:
            from delm_spark.schemas.models import pydantic_model_for

            cached = self._response_model = pydantic_model_for(self.spec)
        return cached

    def extract_raw(self, text: str) -> Optional[dict[str, Any]]:
        prompt = self.call_spec.prompt_for(self.spec, text or "")
        args = [
            prompt,
            self.call_spec.system_prompt,
            self.call_spec.model_name,
            self.call_spec.temperature,
        ]
        if self.pass_response_model:
            args.append(self.response_model())
        return self.transport(*args)
