"""Every public module-level def/class in delm_spark/ has a program caller.

A public name counts as called when a program file — the package itself,
__spark_entry__.py, submit_*.py, bench*.py or perfbench/ — references it
as an identifier (a name, an attribute or an import) outside its own
definition. Tests do not count: public code that only tests call is
deleted, or listed in ALLOWED with the one-line reason it stays. Pure
`ast` parsing, no Spark."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

#: public names with no program caller, and why each stays
ALLOWED = {
    "PromptedApiBackend": "SURVEY §3.2 DELM port: the prompted LLM-call extractor backend (E3/E5)",
    "estimate_triple_performance": "SURVEY §3.3 DELM port: estimate_performance, scored over triples",
    "estimate_total_cost": "SURVEY §3.3 DELM port: sampled-run total-cost extrapolation",
    "estimate_input_cost": "SURVEY §3.3 DELM port: estimate_input_token_cost",
    "merged_records": "SURVEY §3.3 DELM port: the per-record merge evaluation runs first",
    "merge_records": "SURVEY §2.8 A1-A5 DELM port: test_merge_parity pins it against the pure twin",
    "html_text_udf": "SURVEY §2.1 S2 step: load_html's parser-based decode_udf for tag soup",
    "parse_pdf_bytes": "SURVEY §2.1 S4 step: the PDF text-layer decoder over raw bytes",
    "surface_embedding": "reference twin: test_linking compares surface_embeddings_fast against it",
    "domain_mix_fractions": "operator-family step, SURVEY §8 Q6: mix fractions from the stratum census",
    "write_shards": "operator-family step, SURVEY §8 Q12: the deterministic shard-export writer",
    "bpe_segment": "operator-family step, SURVEY §8 Q23: segments text with bpe_learn's merges",
    "predicate_similarity": "operator-family step, SURVEY §8 Q36: the graph canonicalize_predicates clusters",
    "apply_consolidation": "operator-family step, SURVEY §8 Q49: rewrites triples to the minted ids",
    "functional_violations": "operator-family step, SURVEY §8 G6: the functional-check drill-down",
}


def _program_files() -> list[Path]:
    return [
        *sorted((REPO / "delm_spark").rglob("*.py")),
        REPO / "__spark_entry__.py",
        *sorted(REPO.glob("submit_*.py")),
        *sorted(REPO.glob("bench*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
    ]


def _identifiers(node: ast.AST) -> Counter:
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def _uncalled_public_names() -> dict[str, str]:
    """name -> defining file, for every public module-level def/class of
    the package that no program file references outside its definition."""
    trees = {f: ast.parse(f.read_text(), str(f)) for f in _program_files()}
    refs: Counter = Counter()
    for tree in trees.values():
        refs.update(_identifiers(tree))
    out = {}
    for f, tree in trees.items():
        if REPO / "delm_spark" not in f.parents:
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_"):
                continue
            # references inside the definition itself (recursion) don't count
            if refs[node.name] - _identifiers(node)[node.name] <= 0:
                out[node.name] = str(f.relative_to(REPO))
    return out


def test_every_public_name_has_a_caller():
    uncalled = _uncalled_public_names()
    missing = {n: f for n, f in uncalled.items() if n not in ALLOWED}
    assert not missing, (
        f"public names no program file calls: {missing}. Delete them (with "
        "their tests), or add each to ALLOWED with the reason it stays."
    )
    # an entry whose name was deleted or has since gained a caller is stale
    stale = sorted(set(ALLOWED) - set(uncalled))
    assert not stale, f"ALLOWED entries that are not uncalled public names: {stale}"
