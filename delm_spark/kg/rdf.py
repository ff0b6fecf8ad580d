"""N-Triples (RDF 1.1) export / import for the materialized KG.

The pipeline materializes (subj_id, pred, obj_id) edge tables
(kg/pipeline.py); downstream graph stores (triple stores, RDF tooling,
SPARQL endpoints) ingest the W3C line-oriented N-Triples exchange
format. The reference (Center-for-Applied-AI/delm) emits dict/JSON
extraction records (``src/delm/delm.py``) and has no graph
serialization at all — this is a north-star extension, the interop
companion of the nodes/edges materialization.

Both directions are MAP-ONLY: one native-expression projection per
row, no shuffle, no Python. At 100 TB the export is exactly as
parallel as the triple table's partitioning, and the parser's
malformed-line disposition (null, not error) keeps a single bad line
from killing a 1000-executor ingest.

Resource identifiers: node/predicate ids become IRIs under a base
prefix, with the id percent-encoded so characters N-Triples forbids
inside ``<...>`` (space, angle brackets, quote, braces, pipe, caret,
backtick, backslash) survive a round trip. ``%`` itself encodes first
(and decodes last) so encoding is bijective. The escape table is
module-level data — `__spark_entry__.py`'s DuckDB oracle replays the
same replace chain, which keeps export byte-comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: percent-encoding table, APPLIED IN ORDER on encode and in REVERSE
#: order on decode ('%' first/last makes the mapping bijective).
IRI_ESCAPES: tuple[tuple[str, str], ...] = (
    ("%", "%25"),
    (" ", "%20"),
    ("<", "%3C"),
    (">", "%3E"),
    ('"', "%22"),
    ("{", "%7B"),
    ("}", "%7D"),
    ("|", "%7C"),
    ("^", "%5E"),
    ("`", "%60"),
    ("\\", "%5C"),
    ("\n", "%0A"),
    ("\r", "%0D"),
    ("\t", "%09"),
)

#: default base prefix for minted IRIs — any absolute IRI works; the
#: parser strips whatever base it is handed.
DEFAULT_BASE = "urn:delm:"


def _encode(col: Column) -> Column:
    for raw, pct in IRI_ESCAPES:
        col = F.replace(col, F.lit(raw), F.lit(pct))
    return col


def _decode(col: Column) -> Column:
    for raw, pct in reversed(IRI_ESCAPES):
        col = F.replace(col, F.lit(pct), F.lit(raw))
    return col


def to_ntriples(triples: DataFrame, base_iri: str = DEFAULT_BASE) -> DataFrame:
    """Serialize the distinct (subj_id, pred, obj_id) triple set to
    N-Triples lines.

    Returns a one-column DataFrame ``line: string``, one RDF statement
    per row: ``<base+enc(subj)> <base+enc(pred)> <base+enc(obj)> .``.
    RDF graphs are SETS, so the export deduplicates — one ``distinct``
    on the three id columns (column-pruned before the exchange), then
    a map-only concat. Null-id triples (unresolvable endpoints) cannot
    form a legal IRI and are dropped up front.
    """
    t = triples.select(
        F.col("subj_id").alias("s"),
        F.col("pred").alias("p"),
        F.col("obj_id").alias("o"),
    )
    t = t.filter(
        F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull()
    ).distinct()
    base = F.lit(base_iri)
    return t.select(
        F.concat(
            F.lit("<"), base, _encode(F.col("s")),
            F.lit("> <"), base, _encode(F.col("p")),
            F.lit("> <"), base, _encode(F.col("o")),
            F.lit("> ."),
        ).alias("line")
    )


#: one statement of three IRI terms; N-Triples allows horizontal
#: whitespace between terms and before the trailing dot
_NT_LINE = r"^\s*<([^<>]*)>\s+<([^<>]*)>\s+<([^<>]*)>\s*\.\s*$"


def from_ntriples(lines: DataFrame, base_iri: str = DEFAULT_BASE) -> DataFrame:
    """Parse N-Triples ``line``s back to (subj_id, pred, obj_id).

    Map-only: blank lines and ``#`` comments (legal N-Triples) are
    skipped; a line that is not a well-formed three-IRI statement
    yields a NULL-id row tagged ``malformed = true`` rather than
    failing the job — the caller decides the disposition (the
    established null-contract of the codec operators). IRIs under
    ``base_iri`` are stripped back to local ids and percent-decoded;
    foreign-base IRIs are kept verbatim (still lossless to re-export).
    """
    line = F.col("line")
    kept = lines.filter(
        line.isNotNull()
        & (F.trim(line) != "")
        & ~F.trim(line).startswith("#")
    )

    def term(group: int) -> Column:
        iri = F.regexp_extract(line, _NT_LINE, group)
        return F.when(
            iri.startswith(base_iri),
            _decode(F.substring(iri, len(base_iri) + 1, 2**30)),
        ).otherwise(iri)

    ok = F.regexp_like(line, F.lit(_NT_LINE))
    return kept.select(
        F.when(ok, term(1)).alias("subj_id"),
        F.when(ok, term(2)).alias("pred"),
        F.when(ok, term(3)).alias("obj_id"),
        (~ok).alias("malformed"),
    )
