"""Every public module-level def/class in delm_spark/ has a program caller,
and so does every defaulted parameter of the public surface; and no two
functions of the program share one implementation.

A public name counts as called when a program file — the package itself,
__spark_entry__.py, submit_*.py, bench*.py or perfbench/ — references it
as an identifier (a name, an attribute or an import) outside its own
definition. A defaulted parameter counts as set when some program call
site of its function passes it: by keyword, by position, or through a
`*`/`**` splat. Tests do not count: public code or parameters that only
tests use are deleted, or listed in ALLOWED / ALLOWED_PARAMS with the
one-line reason they stay. Two functions or methods of delm_spark/ or
__spark_entry__.py with equal arguments and body (docstrings aside) are
one behaviour written twice: one goes, unless ALLOWED_DUPLICATES says why
both stay. Pure `ast` parsing, no Spark."""

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


#: defaulted public parameters no program call site sets, and why each
#: stays; every reason opens with one of PARAM_REASONS
ALLOWED_PARAMS = {
    "DelmSpark.__init__(spark)": "DELM port: the DELM constructor, with the session it runs on",
    "DelmSpark.__init__(experiment_name)": "DELM port: DELM(experiment_name=)",
    "DelmSpark.__init__(experiment_directory)": "DELM port: DELM(experiment_directory=)",
    "DelmSpark.__init__(overwrite_experiment)": "DELM port: DELM(overwrite_experiment=)",
    "DelmSpark.__init__(backend)": "DELM port: the constructor's extractor, the reference's LLM client slot",
    "DelmSpark.from_yaml(spark)": "DELM port: DELM.from_yaml, with the session it runs on",
    "DelmSpark.from_dict(spark)": "DELM port: DELM.from_dict, with the session it runs on",
    "DelmSpark.prep_data(sample_size)": "DELM port: SURVEY §3.1 prep_data(data, sample_size)",
    "DelmSpark.process_via_llm(preprocessed)": "DELM port: SURVEY §3.2 process_via_llm over prepped data",
    "estimate_triple_performance(config)": "DELM port: SURVEY §3.3 estimate_performance(config)",
    "estimate_total_cost(config)": "DELM port: SURVEY §3.3 estimate_total_cost(config)",
    "estimate_total_cost(sample_size)": "DELM port: SURVEY §3.3 estimate_total_cost(sample_size)",
    "estimate_total_cost(model)": "DELM port: SURVEY §3.3 estimate_total_cost, priced per model",
    "estimate_input_cost(model)": "DELM port: SURVEY §3.3 estimate_input_token_cost, priced per model",
    "PromptedApiBackend.__init__(call_spec)": "DELM port: SURVEY §3.2 the prompt/model/temperature of the LLM call",
    "PromptedApiBackend.__init__(pass_response_model)": "DELM port: SURVEY §3.2 Instructor's response_model hand-off",
    "explode_json_results(json_col)": "DELM port: SURVEY §2.8 explode_json_results over the named JSON column",
    "merge_records(json_col)": "DELM port: SURVEY §2.8 A1-A4 merge over the named JSON column",
    "to_ntriples(base_iri)": "deployment: the IRI namespace a triple store publishes under",
    "from_ntriples(base_iri)": "deployment: the IRI namespace stripped back to local ids",
    "run_stream_to_parquet(available_now)": "deployment: streaming trigger (drain-and-stop or continuous)",
    "run_streaming_kg_merge(available_now)": "deployment: streaming trigger (drain-and-stop or continuous)",
    "run_pipeline(backend)": "test seam: tests substitute counting/failing extractor backends",
    "load_html(decode_udf)": "test seam: tests substitute html_text_udf for the native tag strip",
    "extract_media_features(decoder)": "test seam: tests substitute a fixed decoder for the hash stand-in",
    "containment_pairs(candidates)": "test seam: tests substitute a fixed candidate table for LSH blocking",
    "encode_wav(bits)": "encoder option: the sample widths the WAV decoder tests read",
    "encode_png(filter_type)": "encoder option: every PNG scanline filter the decoder must undo",
    "encode_gif(interlace)": "encoder option: interlaced GIFs for the decoder's row reordering",
    "encode_jpeg(qtable)": "encoder option: quantization tables the JPEG decoder tests read",
    "encode_jpeg(restart_interval)": "encoder option: restart markers the JPEG decoder must resync on",
    "encode_jpeg_progressive(qtable)": "encoder option: quantization tables the progressive decoder tests read",
    "encode_jpeg_progressive(scans)": "encoder option: spectral/successive scan scripts the decoder must merge",
}

PARAM_REASONS = ("DELM port:", "deployment:", "test seam:", "encoder option:")

#: groups of functions (`path:qualname`, sorted) whose arguments and body
#: are equal, and why each copy stays
ALLOWED_DUPLICATES = {
    (
        "delm_spark/extraction/fs_cache.py:FilesystemSemanticCache.maybe_prune",
        "delm_spark/extraction/sqlite_cache.py:SqliteSemanticCache.maybe_prune",
    ): "DELM port: one method per cache class",
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


def _import_aliases(tree: ast.AST) -> dict[str, str]:
    """`from m import name as alias` -> {alias: name}."""
    return {
        a.asname: a.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        for a in n.names
        if a.asname
    }


def _call_sites(trees) -> dict[str, list[ast.Call]]:
    """callee name -> every program call of it: `f(...)` through import
    aliases, and `x.f(...)` by attribute name (a method call matches
    every def of that name — it can only hide an unset parameter, never
    invent one)."""
    out: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        aliases = _import_aliases(tree)
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            if isinstance(n.func, ast.Name):
                name = aliases.get(n.func.id, n.func.id)
            elif isinstance(n.func, ast.Attribute):
                name = n.func.attr
            else:
                continue
            out.setdefault(name, []).append(n)
    return out


def _public_defs(trees):
    """(qualified name, callee name, def, leading params a call skips) for
    every public function of the package, and every `__init__`/public
    method of its public classes (a class is called by its own name)."""
    for f, tree in trees.items():
        if REPO / "delm_spark" not in f.parents:
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not node.name.startswith("_"):
                    yield node.name, node.name, node, 0
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                for m in node.body:
                    if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    if m.name != "__init__" and m.name.startswith("_"):
                        continue
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in m.decorator_list
                    )
                    callee = node.name if m.name == "__init__" else m.name
                    yield f"{node.name}.{m.name}", callee, m, 0 if static else 1


def _defaulted(fn: ast.FunctionDef, skip: int):
    """(name, call-site position or None if keyword-only) per defaulted
    parameter."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    first = len(pos) - len(a.defaults)
    for i, p in enumerate(pos[first:], first):
        yield p.arg, i - skip
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield p.arg, None


def _sets(call: ast.Call, name: str, index) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if index is not None and len(call.args) > index:
        return True
    return any(k.arg is None or k.arg == name for k in call.keywords)


def _unset_params() -> set[str]:
    """`qualname(param)` of every defaulted public parameter no program
    call site sets."""
    trees = {f: ast.parse(f.read_text(), str(f)) for f in _program_files()}
    calls = _call_sites(trees)
    return {
        f"{qual}({name})"
        for qual, callee, fn, skip in _public_defs(trees)
        for name, index in _defaulted(fn, skip)
        if not any(_sets(c, name, index) for c in calls.get(callee, []))
    }


def test_every_parameter_has_a_caller():
    unset = _unset_params()
    missing = sorted(unset - set(ALLOWED_PARAMS))
    assert not missing, (
        f"defaulted public parameters no program call site sets: {missing}. "
        "Inline the default and delete the parameter (with the code only a "
        "non-default value reaches), or add it to ALLOWED_PARAMS with the "
        "reason it stays."
    )
    stale = sorted(set(ALLOWED_PARAMS) - unset)
    assert not stale, f"ALLOWED_PARAMS entries that are not unset parameters: {stale}"
    bad = sorted(k for k, r in ALLOWED_PARAMS.items() if not r.startswith(PARAM_REASONS))
    assert not bad, f"ALLOWED_PARAMS reasons outside {PARAM_REASONS}: {bad}"


def _functions(node: ast.AST, prefix: str = ""):
    """(qualname, def) for every function and method under `node`,
    nested ones included."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            qual = f"{prefix}{child.name}"
            if not isinstance(child, ast.ClassDef):
                yield qual, child
            yield from _functions(child, f"{qual}.")
        else:
            yield from _functions(child, prefix)


def _implementation(fn: ast.FunctionDef) -> str:
    """The arguments and body of `fn` without its docstring, as an ast
    dump (no names of its own, no line numbers)."""
    body = fn.body
    first = body[0]
    if (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Constant)
        and isinstance(first.value.value, str)
    ):
        body = body[1:]
    return ast.dump(fn.args) + "".join(ast.dump(stmt) for stmt in body)


def test_no_duplicate_function_bodies():
    files = [*sorted((REPO / "delm_spark").rglob("*.py")), REPO / "__spark_entry__.py"]
    by_impl: dict[str, list[str]] = {}
    for f in files:
        rel = f.relative_to(REPO)
        for qual, fn in _functions(ast.parse(f.read_text(), str(f))):
            by_impl.setdefault(_implementation(fn), []).append(f"{rel}:{qual}")
    dups = {tuple(sorted(names)) for names in by_impl.values() if len(names) > 1}
    missing = sorted(dups - set(ALLOWED_DUPLICATES))
    assert not missing, (
        f"functions with equal arguments and body: {missing}. Keep one and "
        "call it from the others' callers, or add the group to "
        "ALLOWED_DUPLICATES with the reason each copy stays."
    )
    stale = sorted(set(ALLOWED_DUPLICATES) - dups)
    assert not stale, f"ALLOWED_DUPLICATES entries that are not duplicates: {stale}"
