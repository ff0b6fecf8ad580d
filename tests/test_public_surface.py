"""Every public module-level def/class in delm_spark/ has a program caller,
and so does every defaulted parameter of the public surface; and no two
functions of the program share one implementation.

A public name counts as called when a program file — the package itself,
__spark_entry__.py, submit_*.py, bench*.py or perfbench/ — references it
as an identifier (a name, an attribute or an import) outside its own
definition. The defaulted parameters are those of public functions and
methods plus the defaulted fields of public dataclasses (the parameters
of the `__init__` they generate). One counts as set when some program
call site of its function or class (`cls(...)` in a classmethod calls
its class) passes it: by keyword, by position, or through a `*args`
splat; a `**name` splat sets only the keys of the `dict(k=…)` or
`{"k": …}` it is bound to in the same function plus its `name["k"] = …`
stores, and sets any parameter when those keys are unknown. Passing on
the enclosing function's own arguments sets nothing by itself: a
defaulted parameter of a public function (`spark`) sets the callee's
where that function's callers set it, and a splat of its own `**kwargs`
sets nothing (the keywords its callers pass are not followed, so a
finding there is a false alarm, never a miss). An attribute store
outside `self` (`config.checkpoint_dir = …`) sets that dataclass field.
Tests do not count: public code or parameters that only tests use are
deleted, or listed in ALLOWED / ALLOWED_PARAMS with the one-line reason
they stay. Two functions or methods of delm_spark/ or
__spark_entry__.py with equal arguments and body (docstrings aside) are
one behaviour written twice: one goes, unless ALLOWED_DUPLICATES says why
both stay. The same holds below the function level: a run of consecutive
statements of one statement list (a body of a function, loop, branch,
`with` or `try`; a nested def or class ends the run) of at least
RUN_NODES ast nodes that two functions share, up to the names of
variables and arguments and the values of constants (attribute names
count), is one behaviour copied; it becomes one helper, or its pair of
functions goes into ALLOWED_DUPLICATES with the reason the two must be
able to diverge. `oracle_sql` and the `*_oracle_sql` functions are
exempt: their SQL text is frozen. Pure `ast` parsing, no Spark."""

from __future__ import annotations

import ast
import copy
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
#: are equal, or pairs that share a statement run, and why each copy stays
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


def _decorated(node, name: str) -> bool:
    """`node` carries `@name`, `@name(...)` or `@mod.name`."""
    for d in node.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if (isinstance(d, ast.Name) and d.id == name) or (
            isinstance(d, ast.Attribute) and d.attr == name
        ):
            return True
    return False


def _scoped_calls(node, scope, klass=None, owner=None):
    """(call, enclosing function or module, the class `cls` names there)
    for every call under `node`."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, ast.ClassDef):
            yield from _scoped_calls(child, scope, child.name, owner)
        elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inner = owner
            if klass is not None:
                inner = klass if _decorated(child, "classmethod") else None
            yield from _scoped_calls(child, child, None, inner)
        else:
            if isinstance(child, ast.Call):
                yield child, scope, owner
            yield from _scoped_calls(child, scope, klass, owner)


def _splat_keys(scope, name: str):
    """The parameter names a `**name` splat in `scope` sets: the keys of
    the `dict(k=…)` or `{"k": …}` that `name` is bound to there, plus its
    `name["k"] = …` stores; nothing for the enclosing function's own
    `**kwargs`, which passes its callers' keywords through. None when the
    keys are unknown (the splat may set any parameter)."""
    a = getattr(scope, "args", None)
    own = a is not None and a.kwarg is not None and a.kwarg.arg == name
    keys: set = set()
    for n in ast.walk(scope):
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in n.targets
        ):
            v = n.value
            if (
                isinstance(v, ast.Call)
                and isinstance(v.func, ast.Name)
                and v.func.id == "dict"
                and not v.args
                and all(k.arg for k in v.keywords)
            ):
                keys.update(k.arg for k in v.keywords)
            elif isinstance(v, ast.Dict) and all(
                isinstance(k, ast.Constant) and isinstance(k.value, str) for k in v.keys
            ):
                keys.update(k.value for k in v.keys)
            else:
                return None
            own = True
        elif isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Store):
            if isinstance(n.value, ast.Name) and n.value.id == name:
                if not (isinstance(n.slice, ast.Constant) and isinstance(n.slice.value, str)):
                    return None
                keys.add(n.slice.value)
        elif isinstance(n, (ast.AugAssign, ast.AnnAssign, ast.Attribute)):
            t = n.target if not isinstance(n, ast.Attribute) else n.value
            if isinstance(t, ast.Name) and t.id == name:
                return None  # `kw |= …`, `kw.update(…)`: keys unknown
    return keys if own else None


def _call_sites(trees, quals) -> dict[str, list[tuple[dict, object, bool]]]:
    """callee name -> (positions, keywords, splats `*args`) per program
    call: `f(...)` through import aliases, `x.f(...)` by attribute name (a
    method call matches every def of that name — it can only hide an unset
    parameter, never invent one), and `cls(...)` in a classmethod by its
    class. Positions and keywords map to None when the call sets them, or
    to the `qualname(param)` whose value they pass through: an argument
    that is a defaulted parameter of the enclosing public function (named
    in `quals`) sets the callee's only where that one is set, unless the
    call recurses. Keywords is None when a `**` splat may set any
    parameter."""
    out: dict[str, list] = {}
    for tree in trees.values():
        aliases = _import_aliases(tree)
        for n, scope, owner in _scoped_calls(tree, tree):
            if isinstance(n.func, ast.Name):
                name = owner if n.func.id == "cls" and owner else n.func.id
                name = aliases.get(name, name)
            elif isinstance(n.func, ast.Attribute):
                name = n.func.attr
            else:
                continue
            qual = quals.get(id(scope))
            through = set()
            if qual and name != scope.name:  # a recursive call sets, as a call
                through = {p for p, _ in _defaulted(scope, 0)}

            def via(v):
                if isinstance(v, ast.Name) and v.id in through:
                    return f"{qual}({v.id})"
                return None

            positions = {i: via(a) for i, a in enumerate(n.args)}
            keys: dict | None = {}
            for k in n.keywords:
                if k.arg:
                    more = {k.arg: via(k.value)}
                elif isinstance(k.value, ast.Name):
                    more = _splat_keys(scope, k.value.id)
                    if more is not None:
                        more = dict.fromkeys(more)
                else:
                    more = None
                keys = None if keys is None or more is None else {**keys, **more}
            starred = any(isinstance(a, ast.Starred) for a in n.args)
            out.setdefault(name, []).append((positions, keys, starred))
    return out


def _dataclass_fields(cls: ast.ClassDef):
    """(name, call position) of every public defaulted field of a
    dataclass: the parameters of the `__init__` it generates."""
    if not _decorated(cls, "dataclass") or any(
        isinstance(m, ast.FunctionDef) and m.name == "__init__" for m in cls.body
    ):
        return
    pos = 0
    for s in cls.body:
        if not (isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)):
            continue
        if "ClassVar" in ast.unparse(s.annotation):
            continue
        v = s.value
        if isinstance(v, ast.Call) and any(
            k.arg == "init" and isinstance(k.value, ast.Constant) and k.value.value is False
            for k in v.keywords
        ):
            continue
        if v is not None and not s.target.id.startswith("_"):
            yield s.target.id, pos
        pos += 1


def _public_params(trees):
    """(qualified name, callee name, def or None for a dataclass field,
    parameter, call position or None if keyword-only) for every defaulted
    parameter of every public function of the package, every
    `__init__`/public method of its public classes (a class is called by
    its own name) and every public field of its public dataclasses."""
    for f, tree in trees.items():
        if REPO / "delm_spark" not in f.parents:
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not node.name.startswith("_"):
                    for p, i in _defaulted(node, 0):
                        yield node.name, node.name, node, p, i
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                for p, i in _dataclass_fields(node):
                    yield f"{node.name}.__init__", node.name, None, p, i
                for m in node.body:
                    if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    if m.name != "__init__" and m.name.startswith("_"):
                        continue
                    skip = 0 if _decorated(m, "staticmethod") else 1
                    callee = node.name if m.name == "__init__" else m.name
                    for p, i in _defaulted(m, skip):
                        yield f"{node.name}.{m.name}", callee, m, p, i


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


def _sets(site, name: str, index, unset: set) -> bool:
    """Whether a call site sets parameter `name` at position `index`; a
    pass-through sets it unless its source is in `unset`."""
    positions, keys, starred = site
    if starred or keys is None:
        return True
    via = [d[k] for d, k in ((positions, index), (keys, name)) if k in d]
    return any(v is None or v not in unset for v in via)


def _attribute_stores(trees) -> set[str]:
    """Attribute names a program file assigns outside `self`
    (`config.checkpoint_dir = …` sets that dataclass field)."""
    return {
        n.attr
        for tree in trees.values()
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and isinstance(n.ctx, ast.Store)
        and not (isinstance(n.value, ast.Name) and n.value.id == "self")
    }


def _unset_params() -> set[str]:
    """`qualname(param)` of every defaulted public parameter no program
    call site sets."""
    trees = {f: ast.parse(f.read_text(), str(f)) for f in _program_files()}
    params = list(_public_params(trees))
    calls = _call_sites(trees, {id(fn): q for q, _, fn, _, _ in params if fn})
    stored = _attribute_stores(trees)
    # start from "nothing is set" and let call sites set parameters until
    # nothing changes: a pass-through is set only once its source is
    unset = {f"{q}({p})" for q, _, _, p, _ in params}
    while True:
        still = {
            f"{qual}({name})"
            for qual, callee, fn, name, index in params
            if not (fn is None and name in stored)
            and not any(_sets(c, name, index, unset) for c in calls.get(callee, []))
        }
        if still == unset:
            return unset
        unset = still


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


def _body(fn: ast.FunctionDef) -> list[ast.stmt]:
    """The body of `fn` without its docstring."""
    first = fn.body[0]
    if (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Constant)
        and isinstance(first.value.value, str)
    ):
        return fn.body[1:]
    return fn.body


def _implementation(fn: ast.FunctionDef) -> str:
    """The arguments and body of `fn` without its docstring, as an ast
    dump (no names of its own, no line numbers)."""
    return ast.dump(fn.args) + "".join(ast.dump(stmt) for stmt in _body(fn))


def _lint_files() -> list[Path]:
    return [*sorted((REPO / "delm_spark").rglob("*.py")), REPO / "__spark_entry__.py"]


def _duplicate_bodies() -> set[tuple[str, ...]]:
    by_impl: dict[str, list[str]] = {}
    for f in _lint_files():
        rel = f.relative_to(REPO)
        for qual, fn in _functions(ast.parse(f.read_text(), str(f))):
            by_impl.setdefault(_implementation(fn), []).append(f"{rel}:{qual}")
    return {tuple(sorted(names)) for names in by_impl.values() if len(names) > 1}


def test_no_duplicate_function_bodies():
    missing = sorted(_duplicate_bodies() - set(ALLOWED_DUPLICATES))
    assert not missing, (
        f"functions with equal arguments and body: {missing}. Keep one and "
        "call it from the others' callers, or add the group to "
        "ALLOWED_DUPLICATES with the reason each copy stays."
    )


#: the smallest statement run, in `ast.walk` nodes, that counts as a copy
RUN_NODES = 60

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Anonymous(ast.NodeTransformer):
    """Every name and argument becomes `_` and every constant its type's
    name, so copies that differ only there dump alike."""

    def visit_Name(self, node):
        return ast.Name(id="_", ctx=node.ctx)

    def visit_arg(self, node):
        self.generic_visit(node)
        node.arg = "_"
        return node

    def visit_Constant(self, node):
        return ast.Constant(type(node.value).__name__)


def _statement_lists(fn: ast.FunctionDef):
    """The statement lists of `fn`'s own code: its body without the
    docstring, and every loop, branch, `with`, `try` and `match` body in
    it; the code of nested defs and classes is theirs."""
    todo = [_body(fn)]
    while todo:
        stmts = todo.pop()
        yield stmts
        for stmt in stmts:
            if isinstance(stmt, _SCOPES):
                continue
            inner = [getattr(stmt, f, []) for f in ("body", "orelse", "finalbody")]
            inner += [h.body for h in getattr(stmt, "handlers", [])]
            inner += [c.body for c in getattr(stmt, "cases", [])]
            todo += [b for b in inner if b]


def _duplicate_runs() -> dict[tuple[str, str], str]:
    """(`path:qualname`, `path:qualname`) -> the lines of one run of at
    least RUN_NODES nodes the two functions share. Each run is indexed by
    its shortest prefix that reaches RUN_NODES: a longer shared run
    shares that prefix too."""
    runs: dict[tuple[str, ...], list[tuple[str, str]]] = {}
    for f in _lint_files():
        rel = f.relative_to(REPO)
        for qual, fn in _functions(ast.parse(f.read_text(), str(f))):
            if any(p == "oracle_sql" or p.endswith("_oracle_sql") for p in qual.split(".")):
                continue
            for stmts in _statement_lists(fn):
                keys = [
                    None
                    if isinstance(s, _SCOPES)
                    else (ast.dump(_Anonymous().visit(copy.deepcopy(s))), len(list(ast.walk(s))))
                    for s in stmts
                ]
                for i in range(len(stmts)):
                    run, size = [], 0
                    for j in range(i, len(stmts)):
                        if keys[j] is None:
                            break
                        run.append(keys[j][0])
                        size += keys[j][1]
                        if size >= RUN_NODES:
                            where = f"{rel}:{stmts[i].lineno}-{stmts[j].end_lineno}"
                            runs.setdefault(tuple(run), []).append((f"{rel}:{qual}", where))
                            break
    found = {}
    for occurrences in runs.values():
        for a, where_a in occurrences:
            for b, where_b in occurrences:
                if a < b:
                    found.setdefault((a, b), f"{where_a} ~ {where_b}")
    return found


def test_no_duplicate_statement_runs():
    runs = _duplicate_runs()
    missing = sorted(set(runs) - set(ALLOWED_DUPLICATES))
    assert not missing, (
        f"functions sharing a run of statements up to names and constants: "
        f"{[(pair, runs[pair]) for pair in missing]}. Move the run into one "
        "helper both call, or add the pair to ALLOWED_DUPLICATES with the "
        "reason the two must be able to diverge."
    )
    stale = sorted(set(ALLOWED_DUPLICATES) - set(runs) - _duplicate_bodies())
    assert not stale, f"ALLOWED_DUPLICATES entries that are not duplicates: {stale}"
