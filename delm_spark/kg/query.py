"""Basic-graph-pattern (BGP) matching over the materialized triple table.

Once the pipeline materializes (subj_id, pred, obj_id) edges, the first
thing a KG consumer does is ASK it things — conjunctive triple-pattern
queries, the SELECT core of SPARQL: ``(?a, works_at, ?org),
(?b, works_at, ?org)`` finds colleague pairs, ``(?x, works_at, ?o),
(?o, located_in, ?c)`` resolves employers to cities. The reference
(Center-for-Applied-AI/delm) stops at emitting per-record extractions
(``src/delm/delm.py``) and has no query layer; this module is the
north-star extension that makes the constructed graph queryable, as a
compiler from patterns to a declarative DataFrame plan (Catalyst picks
the physical joins; AQE re-plans at runtime sizes).

Scale notes (100 TB / 1000-executor framing):

- Every constant in a pattern becomes a ``filter`` on the triple scan
  BEFORE any join, so predicate/constant selectivity is pushed into the
  parquet scan (column-pruned to the 3 triple columns) rather than
  carried through a shuffle.
- Pattern join ORDER is chosen by bound-ness: the most-constant pattern
  seeds the plan, and each step greedily attaches the pattern sharing
  the most already-bound variables (ties to more constants). This keeps
  the plan a chain of equi-joins on shared variables; a genuinely
  disconnected pattern group (no shared variable anywhere) is a true
  cartesian product by SEMANTICS and is refused unless explicitly
  allowed — at web scale an accidental cross join is a job killer, so
  it must be opt-in.
- Joins are plain equi-joins on variable bindings: Spark shuffles on
  the shared-variable key and AQE broadcast-converts whichever side a
  constant-heavy pattern has made small. Nothing here collects, loops,
  or leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


#: the triple table's (subject, predicate, object) columns
_COLS = ("subj_id", "pred", "obj_id")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?") and len(term) > 1


def _compile_group(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    allow_cartesian: bool,
    values: dict[str, list] | None = None,
) -> tuple[DataFrame, set[str]]:
    """Compile one conjunctive pattern group to (bindings frame,
    bound-variable set) — the shared engine of the required, OPTIONAL,
    NOT-EXISTS, and UNION clauses. ``values`` (SPARQL VALUES inline
    data) is pushed into EVERY pattern scan where the constrained
    variable occurs — an ``isin`` filter before any join, so the
    constraint prunes at the parquet scan instead of riding a shuffle."""
    if not patterns:
        raise ValueError("match_pattern needs at least one pattern")
    values = values or {}
    frames: list[tuple[DataFrame, frozenset[str], int]] = []
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be a 3-tuple, got {pat!r}")
        # SPARQL 1.1 inverse path: (s, ^p, o) matches o --p--> s. Pure
        # term rewrite at compile time (swap the subject/object COLUMN
        # roles for this one pattern) — the scan, constant pushdown,
        # VALUES pruning, and join planning all apply unchanged.
        pat, pcols = list(pat), list(_COLS)
        if isinstance(pat[1], str) and pat[1].startswith("^"):
            if pat[1] == "^" or _is_var(pat[1][1:]):
                raise ValueError(
                    f"inverse path {pat[1]!r} needs a constant predicate "
                    "— ^?var is not a SPARQL path"
                )
            pat[1] = pat[1][1:]
            pcols[0], pcols[2] = pcols[2], pcols[0]
        df = triples
        sel: dict[str, str] = {}
        n_const = 0
        for term, col in zip(pat, pcols):
            if _is_var(term):
                v = term[1:]
                if v in values:
                    df = df.filter(F.col(col).isin(*values[v]))
                if v in sel:
                    # repeated variable inside one pattern: equality
                    df = df.filter(F.col(col) == F.col(sel[v]))
                else:
                    sel[v] = col
            else:
                df = df.filter(F.col(col) == F.lit(term))
                n_const += 1
        if not sel:
            raise ValueError(
                f"pattern {pat!r} binds no variable; a fully-constant "
                "pattern is an existence test — express it as a filter"
            )
        proj = df.select(*(F.col(c).alias(v) for v, c in sel.items()))
        frames.append((proj, frozenset(sel), n_const))

    # seed with the most-constant (most selective) pattern, then greedily
    # attach the pattern sharing the most bound variables
    order = sorted(range(len(frames)), key=lambda i: -frames[i][2])
    seed = order[0]
    out, bound = frames[seed][0], set(frames[seed][1])
    remaining = [i for i in order if i != seed]
    while remaining:
        best = max(
            remaining,
            key=lambda i: (len(frames[i][1] & bound), frames[i][2]),
        )
        shared = sorted(frames[best][1] & bound)
        nxt = frames[best][0]
        if shared:
            out = out.join(nxt, on=shared)
        elif allow_cartesian:
            out = out.crossJoin(nxt)
        else:
            raise ValueError(
                "pattern group is disconnected (no shared variable); "
                "pass allow_cartesian=True to take the cross product"
            )
        bound |= frames[best][1]
        remaining.remove(best)
    return out, bound


def match_pattern(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    distinct: bool = True,
    allow_cartesian: bool = False,
    optional: list[list[tuple[str, str, str]]] | None = None,
    not_exists: list[list[tuple[str, str, str]]] | None = None,
    values: dict[str, list] | None = None,
    bind: dict[str, str] | None = None,
    filter_expr: str | None = None,
    order_by: list[str] | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Match a conjunctive triple pattern over the (subj_id, pred, obj_id)
    triple table; return variable bindings.

    Each pattern is a (subject, predicate, object) 3-tuple of strings;
    a term starting with ``?`` is a variable, anything else is matched
    as a constant. The result has one column per distinct variable
    (named without the ``?``), one row per satisfying binding —
    ``distinct=True`` (the default) gives SPARQL SELECT DISTINCT set
    semantics, ``distinct=False`` keeps duplicate-support bag
    semantics.

    A constant predicate prefixed with ``^`` is the SPARQL 1.1 INVERSE
    path: ``(?city, ^located_in, ?org)`` matches ``?org located_in
    ?city`` — a compile-time column-role swap on that one pattern, so
    pushdown, VALUES pruning, and join planning are unaffected
    (``^?var`` is not a SPARQL path and is refused).

    A variable repeated WITHIN one pattern (e.g. ``(?x, likes, ?x)``)
    becomes an equality filter on that pattern's scan. Patterns that
    share no variable with the rest of the query multiply bindings
    (cartesian product); that is refused with ``ValueError`` unless
    ``allow_cartesian=True``.

    ``optional`` is a list of pattern GROUPS with SPARQL OPTIONAL
    semantics: each group compiles like a mini-BGP and LEFT-joins the
    required bindings on its shared variables — bindings without a
    match keep the row with the group's new variables null. ``not_exists``
    groups are FILTER NOT EXISTS: an anti-join on the shared variables
    removes every binding the group can satisfy (the group's own free
    variables are existential). Both require at least one shared
    variable — an uncorrelated clause is a query bug, not a join.

    Clauses must correlate through REQUIRED-bound variables only: a
    variable introduced by an earlier OPTIONAL can be null, and a null
    join key never matches in Spark while SPARQL treats an unbound
    variable as compatible (OPTIONAL) or free (NOT EXISTS) — the two
    semantics silently diverge exactly there, so that correlation shape
    is refused rather than mis-answered.

    ``values`` is SPARQL VALUES inline data — ``{"org": ["acme_corp",
    "initech"]}`` restricts ``?org`` to the listed constants. The
    constraint is pushed into every pattern scan (required, OPTIONAL,
    and NOT EXISTS alike — VALUES scopes the whole WHERE clause) as an
    ``isin`` filter, so it prunes before any join. A variable that
    appears in no pattern, or an empty constant list, is a query bug
    and refused.

    ``bind`` is SPARQL BIND: an ORDERED mapping of fresh variable name
    to a SQL expression over already-bound columns (earlier binds are
    visible to later ones), e.g. ``{"org_kind": "CASE WHEN org LIKE
    'mention:%' THEN 'mention' ELSE 'curated' END"}`` — evaluated after
    every clause joins, so OPTIONAL-introduced (nullable) variables are
    usable with explicit null handling. Re-binding an existing variable
    is a SPARQL error and refused. Pure projection — zero exchanges;
    Catalyst folds the expressions into the surrounding stage.

    ``filter_expr`` is SPARQL FILTER: a SQL boolean expression over the
    binding columns (variable names without ``?``), e.g. ``"a < b"`` —
    applied after every clause joins and after ``bind`` (so computed
    variables are filterable), before the trailing DISTINCT. Catalyst
    pushes deterministic conjuncts down through the joins on its own,
    so writing the filter last costs nothing at plan time. SPARQL
    ``MINUS`` is deliberately NOT a separate knob: under this engine's
    correlation rule (clauses must share a required-bound, non-null
    variable) MINUS and FILTER NOT EXISTS are provably the same
    anti-join, and the one case where they diverge (no shared variable,
    where MINUS is a no-op and NOT EXISTS is all-or-nothing) is refused
    as a query bug anyway.

    ``order_by`` / ``limit`` are the SPARQL solution modifiers. ORDER BY
    lists binding columns (ascending); LIMIT without a TOTAL order is
    nondeterministic across engines/partitionings, so ``limit`` requires
    ``order_by`` to cover every output variable — the lexicographic
    order makes the top-k reproducible bit-for-bit against any SQL
    engine. Spark plans the pair as TakeOrdered (per-partition partial
    top-k, no global sort shuffle).
    """
    if values:
        all_vars = {
            t[1:]
            for group in [patterns, *(optional or []), *(not_exists or [])]
            for pat in group
            for t in pat
            if _is_var(t)
        }
        for v, consts in values.items():
            if v not in all_vars:
                raise ValueError(
                    f"values constrains ?{v}, which appears in no pattern"
                )
            if not consts:
                raise ValueError(
                    f"values for ?{v} is empty — the query can match "
                    "nothing; drop the clause or list constants"
                )
    out, bound = _compile_group(triples, patterns, allow_cartesian, values)
    certain = set(bound)  # required-bound = never null
    for group in optional or []:
        g, gvars = _compile_group(triples, group, allow_cartesian, values)
        shared = sorted(gvars & bound)
        if not shared:
            raise ValueError(
                "optional group shares no variable with the required "
                "patterns — an uncorrelated OPTIONAL is a cross join"
            )
        maybe_null = [v for v in shared if v not in certain]
        if maybe_null:
            raise ValueError(
                f"optional group correlates through {maybe_null}, bound "
                "only by an earlier OPTIONAL (nullable) — Spark null-key "
                "joins and SPARQL unbound-compatibility diverge here; "
                "correlate through required-bound variables"
            )
        # SPARQL OPTIONAL is a left join of SET-semantics operands: the
        # group is deduped first so a multiply-supported inner match
        # cannot multiply required bindings
        out = out.join(g.distinct(), on=shared, how="left")
        bound |= gvars
    for group in not_exists or []:
        g, gvars = _compile_group(triples, group, allow_cartesian, values)
        shared = sorted(gvars & bound)
        if not shared:
            raise ValueError(
                "not_exists group shares no variable with the required "
                "patterns — an uncorrelated NOT EXISTS is all-or-nothing"
            )
        maybe_null = [v for v in shared if v not in certain]
        if maybe_null:
            raise ValueError(
                f"not_exists group correlates through {maybe_null}, bound "
                "only by an earlier OPTIONAL (nullable) — Spark null-key "
                "anti-joins and SPARQL free-variable existentials diverge "
                "here; correlate through required-bound variables"
            )
        out = out.join(g.select(*shared), on=shared, how="left_anti")
    for name, expr in (bind or {}).items():
        if not name or name.startswith("?"):
            raise ValueError(
                f"bind target {name!r} must be a bare variable name "
                "(no '?' prefix)"
            )
        if name in out.columns:
            raise ValueError(
                f"bind re-binds ?{name}, already bound by a pattern "
                "clause — SPARQL BIND requires a fresh variable"
            )
        out = out.withColumn(name, F.expr(expr))
    if filter_expr:
        out = out.filter(F.expr(filter_expr))
    out = out.distinct() if distinct else out
    if order_by is not None:
        unknown = [c for c in order_by if c not in out.columns]
        if unknown:
            raise ValueError(
                f"order_by names {unknown}, which are not binding "
                f"columns {out.columns}"
            )
        if limit is not None and set(order_by) != set(out.columns):
            raise ValueError(
                "limit requires order_by to cover every output variable "
                f"({sorted(out.columns)}) — a partial order makes the "
                "top-k tie-break engine-dependent"
            )
        out = out.orderBy(*order_by)
    elif limit is not None:
        raise ValueError(
            "limit without order_by is nondeterministic — name a total "
            "order over the output variables"
        )
    if limit is not None:
        out = out.limit(limit)
    return out


def ask(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    **kwargs,
) -> DataFrame:
    """SPARQL ASK: does at least one binding satisfy the pattern?

    Returns a ONE-row DataFrame with a single boolean ``ask`` column
    (queries compose as frames, not driver booleans). The pattern
    compiles exactly like :func:`match_pattern` (same clause kwargs),
    then ``limit(1)`` short-circuits: Spark's CollectLimit stops the
    scan-and-join chain at the first satisfying binding instead of
    enumerating the full solution set, so an ASK over a satisfiable
    pattern touches a handful of partitions at any corpus size.
    """
    first = match_pattern(triples, patterns, distinct=False, **kwargs)
    return (
        first.select(F.lit(1).alias("__one"))
        .limit(1)
        .agg((F.count("__one") > 0).alias("ask"))
    )


def describe(triples: DataFrame, node: str) -> DataFrame:
    """SPARQL DESCRIBE (concise-bounded style, depth 1): every distinct
    triple whose subject OR object is ``node`` — the entity's ego
    neighborhood as emitted/received facts in one frame with a ``role``
    tag. One scan of the triple table with a pushed-down disjunction
    (both branches prune to the constant), no join at all.
    """
    return (
        triples.select(*_COLS)
        .filter((F.col("subj_id") == node) | (F.col("obj_id") == node))
        .withColumn(
            "role",
            F.when(F.col("subj_id") == node, F.lit("subject")).otherwise(
                F.lit("object")
            ),
        )
        .distinct()
    )


#: aggregate functions SPARQL defines that are exact over string-typed
#: bindings (no float folds, so results are aggregation-order
#: independent and reproducible against any SQL engine)
_AGG_FNS = {
    "count": lambda v: F.count(F.col(v) if v else F.lit(1)),
    "count_distinct": lambda v: F.count_distinct(F.col(v)),
    "min": lambda v: F.min(F.col(v)),
    "max": lambda v: F.max(F.col(v)),
}


def match_aggregate(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    group_by: list[str],
    aggs: list[tuple[str, str | None, str]],
    **match_kwargs,
) -> DataFrame:
    """SPARQL ``GROUP BY`` + aggregates over pattern solutions — the
    analytics form of :func:`match_pattern` ("how many employees and
    distinct tools per organization?").

    ``group_by`` lists binding variables (without ``?``); ``aggs`` is a
    list of ``(fn, var, alias)`` with ``fn`` one of ``count`` (``var``
    may be None for ``COUNT(*)``), ``count_distinct``, ``min``, ``max``
    — exactly the SPARQL aggregates that stay EXACT over string
    bindings, so the result is reproducible bit-for-bit by any SQL
    engine regardless of aggregation order.

    Solution semantics: SPARQL aggregates over the WHERE clause's
    solution multiset of the RDF GRAPH — a SET of triples — so the
    triple scan is deduplicated on the three pattern columns first
    (one distinct; multi-support triples count once, matching every
    other query in this module), then the pattern join runs under bag
    semantics (``distinct=False``) because the join itself is what
    produces legitimate solution multiplicity.

    Scale shape: the dedup is one shuffle on the triple key, the BGP
    compiles as usual, and the trailing groupBy is map-side combinable
    (count/min/max all carry partial aggregates); count_distinct
    expands to Spark's standard two-phase distinct aggregate. Nothing
    is corpus-size-dependent beyond the BGP's own joins.
    """
    if not group_by:
        raise ValueError("group_by needs at least one variable")
    if not aggs:
        raise ValueError("aggs needs at least one (fn, var, alias)")
    store = triples.select(*_COLS).distinct()
    bindings = match_pattern(
        store, patterns, **{**match_kwargs, "distinct": False}
    )
    missing = [v for v in group_by if v not in bindings.columns]
    if missing:
        raise ValueError(f"group_by variables {missing} are not bound")
    exprs = []
    for fn, var, alias in aggs:
        if fn not in _AGG_FNS:
            raise ValueError(
                f"unsupported aggregate {fn!r}; exact-over-strings "
                f"aggregates are {sorted(_AGG_FNS)}"
            )
        if fn != "count" and (var is None or var not in bindings.columns):
            raise ValueError(f"aggregate {fn}({var}) over an unbound variable")
        e = _AGG_FNS[fn](var)
        if fn in ("count", "count_distinct"):
            e = e.cast("long")
        exprs.append(e.alias(alias))
    return bindings.groupBy(*group_by).agg(*exprs)


def construct(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    template: list[tuple[str, str, str]],
    **match_kwargs,
) -> DataFrame:
    """SPARQL ``CONSTRUCT``: match ``patterns``, instantiate each
    ``template`` triple once per binding, and return the resulting
    GRAPH — a distinct (subj, pred, obj) frame with the input's column
    names, ready to union back into the store or feed any operator in
    this package (graph analytics, consistency gates, diffs).

    Template terms are variables (``?x``) or constants. Per the SPARQL
    spec, an instantiation containing an unbound (null) component —
    possible when a template variable comes from an OPTIONAL group —
    is dropped, not emitted half-filled; and a CONSTRUCT result is a
    graph, i.e. a SET, so the output is distinct.

    Scale shape: one BGP compile + a zero-shuffle k-way projection
    union (k = template size, a plan constant) + one distinct on the
    3-column output — the derived graph, never the corpus.
    """
    if not template:
        raise ValueError("construct needs at least one template triple")
    bindings = match_pattern(
        triples, patterns, **{**match_kwargs, "distinct": False}
    )
    parts = []
    for t in template:
        if len(t) != 3:
            raise ValueError(f"template triple must be a 3-tuple, got {t!r}")
        sel = []
        for term, col in zip(t, _COLS):
            if _is_var(term):
                v = term[1:]
                if v not in bindings.columns:
                    raise ValueError(
                        f"template variable ?{v} is bound by no pattern"
                    )
                sel.append(F.col(v).alias(col))
            else:
                sel.append(F.lit(term).alias(col))
        parts.append(bindings.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    notnull = [F.col(c).isNotNull() for c in _COLS]
    return out.filter(notnull[0] & notnull[1] & notnull[2]).distinct()


def match_union(
    triples: DataFrame,
    groups: list[list[tuple[str, str, str]]],
) -> DataFrame:
    """SPARQL UNION of basic graph patterns: ``{ BGP_1 } UNION { BGP_2 }
    UNION ...`` — the alternative-shapes query ("x is affiliated via
    works_at OR via member_of") that a single conjunctive group cannot
    express.

    Each group compiles independently through the shared BGP engine
    (same constant pushdown, join ordering and cartesian refusal as
    :func:`match_pattern`); the result has one column per variable bound
    in ANY group, with SPARQL's unbound-variable semantics — a group that
    does not bind a variable leaves it null in that group's rows. The
    result has SELECT DISTINCT set semantics ACROSS groups (a binding
    produced by two branches appears once).

    Scale shape: a union of k independent join chains — Spark plans
    each branch separately (each with its own pushed filters) and the
    union is a zero-shuffle concatenation; the trailing DISTINCT is the
    one cross-branch shuffle, on the final (deduplicated) binding width,
    never on the triple table.
    """
    if not groups or not all(groups):
        raise ValueError("match_union needs >= 1 non-empty pattern group")
    compiled = [_compile_group(triples, g, False) for g in groups]
    all_vars = sorted(set().union(*(b for _, b in compiled)))
    out = None
    for frame, bound in compiled:
        padded = frame.select(
            *(
                F.col(v).alias(v) if v in bound
                else F.lit(None).cast("string").alias(v)
                for v in all_vars
            )
        )
        out = padded if out is None else out.unionByName(padded)
    return out.distinct()


def property_path(
    triples: DataFrame,
    pred: str | list[str],
    max_hops: int | None = 3,
    zero_or_more: bool = False,
) -> DataFrame:
    """SPARQL property-path core ``pred{1,max_hops}``: all (src, dst)
    pairs connected by a directed chain of 1..max_hops edges labeled
    ``pred``, with ``hops`` = the MINIMAL chain length. ``pred`` may be
    a LIST of labels — SPARQL alternation ``(p1|p2){1,n}`` — in which
    case every hop may use any listed label (the edge set is their
    union; one extra ``isin`` value per label, the plan is unchanged).

    ``max_hops=None`` is the UNBOUNDED closure ``pred+``: the frontier
    loop runs to fixpoint, stopping when a level adds no new pair.
    Termination is structural, not a convergence heuristic — reached
    pairs only grow inside the finite src x dst space and the per-level
    anti-join means a cycle can never re-enqueue a pair, so the loop
    runs at most graph-diameter iterations. Fixpoint mode pays one
    extra isEmpty action per level on the already-checkpointed frontier
    (a limit-1 scan); bounded mode keeps the action-free plan.

    ``zero_or_more=True`` is ``pred*``: adds a ``hops = 0`` self-pair
    for every node of the PREDICATE SUBGRAPH (src∪dst of the filtered
    edge set — SPARQL's all-graph-terms universe would need the caller
    to union in the wider node set). Self-pairs a cycle reaches at
    k > 0 hops collapse to the 0-hop row, per min-hop semantics.

    The canonical consumer is a hierarchy walk — ``reports_to{1,3}``
    is "everyone in x's management chain up to three levels" — which a
    single self-join per level cannot answer without also computing
    minimality. Frontier expansion with a per-level anti-join against
    everything already reached does both at once:

    - each level is ONE equi-join (frontier.dst = edges.src) plus a
      distinct — the frontier holds REACHED PAIRS, never paths, so a
      diamond-shaped graph with exponentially many routes still costs
      one row per (src, dst);
    - the anti-join against the accumulated result IS the minimality
      (and cycle) guard: a pair reached at level k is never re-emitted
      at k+1, and a cycle cannot re-enqueue a pair, so termination
      needs no driver-side convergence check;
    - every level is eagerly localCheckpoint-ed (the repo's iterative
      convention: stops lineage growth and re-extraction).

    The DuckDB oracle instead enumerates ALL paths level by level and
    takes min(hops) per pair — same answer by construction, tractable
    only at fixture scale, which is exactly what makes it an
    independent cross-check rather than a re-implementation.
    """
    if max_hops is not None and max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    preds = [pred] if isinstance(pred, str) else list(pred)
    if not preds:
        raise ValueError("pred alternation list is empty")
    edges = (
        triples.filter(F.col("pred").isin(*preds))
        .select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    result = edges.withColumn("hops", F.lit(1).cast("long"))
    frontier = result
    h = 2
    while max_hops is None or h <= max_hops:
        nxt = (
            frontier.select("src", F.col("dst").alias("__mid"))
            .join(
                edges.select(
                    F.col("src").alias("__mid"), F.col("dst").alias("dst")
                ),
                "__mid",
            )
            .select("src", "dst")
            .distinct()
            .join(result.select("src", "dst"), ["src", "dst"], "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
            .localCheckpoint(eager=True)
        )
        if max_hops is None and nxt.isEmpty():
            break
        result = result.unionByName(nxt)
        frontier = nxt
        h += 1
    if zero_or_more:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        zero = nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(0).cast("long").alias("hops"),
        )
        # min-hop semantics: any self-pair a cycle reached at k > 0
        # collapses to its 0-hop row
        result = zero.unionByName(result.filter(F.col("src") != F.col("dst")))
    return result
