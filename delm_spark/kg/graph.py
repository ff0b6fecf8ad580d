"""Graph analytics over the materialized KG (north-star extension).

The north star materializes the knowledge graph "into partitioned
nodes/edges Iceberg tables"; these operators are the consumers of those
tables — the queries a KG user runs the day after construction: degree
profiling, neighborhood expansion, centrality, and clustering structure.
The reference (Center-for-Applied-AI/delm) stops at extraction, so these
have no reference counterpart; they follow the same scale discipline as
`kg/canonicalize.py`: every step is an equi-join or a map-side-combinable
aggregation, never an all-pairs product, and iterative loops cut lineage
with an eager `localCheckpoint()` per round (one job per iteration).

Scale notes (100 TB / 1000-executor framing):

- `degree_distribution` is two hash aggregations; the first shuffles on
  node id (skew-safe: hot entities land on one reducer but carry only a
  count), the second on the (tiny-cardinality) degree value.
- `k_hop_neighbors` shuffles the frontier per hop — cost is bounded by
  the true neighborhood size, not the graph, because the frontier is
  deduplicated and visited nodes are anti-joined out before expansion.
- `pagerank` is the standard power iteration: one shuffle per iteration
  on dst (contribution reduce), dangling mass folded in via a broadcast
  one-row aggregate so each iteration is exactly one job.
- `triangles` uses the degree-ordered orientation (each triangle is
  counted at its lowest-(degree,id) apex), which bounds wedge fan-out by
  arboricity — the standard trick that keeps hub nodes from generating
  O(d_max^2) wedges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: peeling rounds before k_core stops short of its fixed point (peeling
#: removes >= 1 node per non-final round; real graphs converge in a few)
K_CORE_MAX_ITERS = 50


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Histogram of node degrees over a (src, dst) edge table:
    (degree, n_nodes).

    Degree counts edge *endpoints* (a self-loop contributes 2, parallel
    edges each contribute 1) — the raw multigraph profile of the triple
    table. Two map-side-combinable aggregations, no joins.
    """
    endpoints = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    )
    deg = endpoints.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def undirected_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Canonical simple undirected edge set (u < v, loops dropped,
    parallel edges collapsed). One distinct (= one shuffle on the pair)."""
    u, v = F.col(src), F.col(dst)
    return (
        edges.filter(u != v)
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
    )


def k_hop_neighbors(edges: DataFrame, seeds: DataFrame, k: int) -> DataFrame:
    """BFS frontier expansion over the undirected (src, dst) edges: every
    node within k hops of a seed set, with its minimal hop count. `seeds`
    is a one-column ("node") DataFrame; seeds are emitted at hops=0
    whether or not they occur in the edge table. Each hop is one equi-join on node id plus a distinct
    and an anti-join against the visited set; the frontier is
    checkpointed eagerly so hop h+1 does not recompute hops 1..h
    (lineage doubling is the classic iterative-Spark trap)."""
    adj = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionByName(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    visited = (
        seeds.select("node")
        .distinct()
        .withColumn("hops", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for hop in range(1, k + 1):
        nxt = (
            adj.join(frontier.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop).cast("int"))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = visited.filter(F.col("hops") == hop).select("node")
    return visited


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over a directed edge table: (node, rank).

    rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/outdeg(u) + dangling/N)

    where `dangling` is the rank mass sitting on nodes with no out-edges
    (redistributed uniformly, the standard correction); the rounds run in
    :func:`_power_iteration`. Ranks sum to 1 at every step.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    return _power_iteration(
        e,
        nodes,
        nodes.withColumn("rank", F.lit(1.0 / n)),
        iters,
        lambda c, dangling: F.lit((1.0 - damping) / n)
        + F.lit(damping) * (c + dangling / n),
    )


def triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Enumerate triangles of the undirected simple graph: one row
    (a, b, c) per triangle with a < b < c.

    Degree-ordered orientation: each undirected edge points from its
    lower-(degree, id) endpoint to the higher one, so every triangle has
    exactly one apex with two out-edges and is emitted exactly once.
    Wedge generation joins oriented edges on the apex; closure is an
    equi-join of the wedge's (b, c) against the oriented edge set. All
    equi-joins — hub nodes rank high and therefore never serve as an
    apex, which is what bounds the wedge count on skewed graphs.
    """
    und = undirected_edges(edges, src, dst)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient by (deg, node): lower endpoint -> higher endpoint
    with_deg = (
        und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("du")).otherwise(F.col("dv")).alias("sd"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("td"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select(
        F.col("s").alias("apex"),
        F.col("t").alias("b"),
        F.col("td").alias("bd"),
    )
    o2 = oriented.select(
        F.col("s").alias("apex"),
        F.col("t").alias("c"),
        F.col("td").alias("cd"),
    )
    wedges = o1.join(o2, "apex").filter(
        F.struct("bd", "b") < F.struct("cd", "c")
    )
    closed = wedges.join(
        oriented.select(F.col("s").alias("b"), F.col("t").alias("c")),
        ["b", "c"],
    )
    tri = F.array_sort(F.array("apex", "b", "c"))
    return closed.select(
        tri[0].alias("a"), tri[1].alias("b"), tri[2].alias("c")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Total triangle count: single row (n_triangles)."""
    return triangles(edges).agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node, exact-integer.

    cc(v) = 2 * t(v) / (deg(v) * (deg(v) - 1)) where t(v) counts the
    triangles through v — quantized to cc_micro = (2e6 * t) div
    (d * (d - 1)) so the SQL oracle reproduces it bit-for-bit (degree-1
    nodes score 0). Composition of the existing degree-ordered triangle
    enumeration (each triangle explodes to its three endpoints, one
    combinable aggregation) with the degree table; nodes on no triangle
    keep a zero row. Returns (node, degree, n_triangles, cc_micro).
    """
    und = undirected_edges(edges, src, dst)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    per_node = (
        triangles(edges, src, dst)
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                "2000000 * coalesce(n_triangles, 0) div "
                "(degree * (degree - 1))"
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("cc_micro"),
    )


def k_core(edges: DataFrame, k: int, counters: dict | None = None) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node keeps
    degree >= k (undirected simple graph — loops and parallel edges
    dropped first). Returns (node, core_degree) with the node's degree
    INSIDE the converged core.

    The standard corpus-graph density gate (Seidman 1983; e.g. keeping
    only entities embedded in a dense mention neighborhood before
    expensive disambiguation): peeling is iterative deletion — drop
    every node of degree < k, recompute degrees on the surviving
    subgraph, repeat until nothing drops. The reference
    (Center-for-Applied-AI/delm) has no graph stage; public precedent
    for the distributed shape is the degree-threshold peel in
    GraphX/GraphFrames examples.

    Scale shape: each round is two node-keyed hash aggregations (degree
    count over the surviving edge list) plus two semi-joins filtering
    the edge list to surviving endpoints — no all-pairs structure, edges
    only ever shrink. The surviving edge set is localCheckpoint-ed per
    round (the repo's iterative convention: linear plan, no
    re-extraction). Convergence is detected with one count per round
    (node count is monotone decreasing, so equal counts = fixed point);
    rounds are bounded by `K_CORE_MAX_ITERS` — peeling removes >= 1 node per
    non-final round, and real corpus graphs converge in a handful.

    ``counters`` (optional dict) receives {"rounds": r, "nodes": n} on
    return — the observability hook the SQL oracle's fixed unroll depth
    is pinned against.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    und = undirected_edges(edges).localCheckpoint(eager=True)
    n_prev = -1
    for i in range(K_CORE_MAX_ITERS):
        deg = (
            und.select(F.col("u").alias("node"))
            .unionByName(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("core_degree"))
        )
        keep = deg.filter(F.col("core_degree") >= k).localCheckpoint(eager=True)
        n = keep.count()
        if n == n_prev or n == 0:
            if counters is not None:
                counters["rounds"] = i + 1
                counters["nodes"] = n
            return keep.select("node", "core_degree")
        n_prev = n
        und = (
            und.join(keep.select(F.col("node").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("node").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    if counters is not None:
        counters["rounds"] = K_CORE_MAX_ITERS
        counters["nodes"] = n
    return keep.select("node", "core_degree")


def harmonic_centrality(
    edges: DataFrame, n_sources: int = 32, max_depth: int = 10
) -> DataFrame:
    """Sampled harmonic centrality (Boldi & Vigna 2014 framing) over the
    undirected (src, dst) edges: for a deterministic sample S of sources, ``C(v) = sum over s in S, s != v,
    d(s, v) finite of 1/d(s, v)`` — computed in exact integer
    micro-units (``1000000 div d``) so the sum is aggregation-order
    independent and byte-comparable across engines. Harmonic (not
    classic closeness) because it is defined on disconnected graphs:
    unreachable pairs contribute 0 instead of poisoning a mean.

    Exact all-pairs closeness is a BFS from EVERY node — quadratic and
    off the table at any scale; pivoting to a fixed source sample makes
    the cost ``n_sources`` multi-source BFS levels, each ONE equi-join
    of the (source, node, dist) frontier against the adjacency plus a
    distinct and an anti-join against the visited set (minimal dist by
    construction, cycles can't re-enqueue — same discipline as
    k_hop_neighbors). Frontier rows are bounded by n_sources x |V|;
    every level localCheckpoints and the loop exits early when a level
    adds nothing. ``max_depth`` truncates: a distance-d source beyond
    it would contribute < 1e6/max_depth micro-units per pair
    (documented cutoff, the standard sampled-centrality trade).

    Sources are the ``n_sources`` nodes with the smallest ``md5(node)``
    — a partitioning-independent, retry-stable uniform draw that any
    SQL engine reproduces (TakeOrdered, never a global sort shuffle).

    Returns (node, harmonic_micro, n_reached): the micro-unit harmonic
    sum and how many sampled sources reach the node — the support count
    that tells a consumer whether the estimate is thin.
    """
    if n_sources < 1:
        raise ValueError("n_sources must be >= 1")
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    adj = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        adj.select(F.col("a").alias("node"))
        .unionByName(adj.select(F.col("b").alias("node")))
        .distinct()
    )
    sources = nodes.orderBy(F.md5("node"), "node").limit(n_sources)
    visited = (
        sources.select(
            F.col("node").alias("source"),
            F.col("node").alias("node"),
            F.lit(0).cast("long").alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.select("source", F.col("node").alias("a"))
            .join(adj, "a")
            .select("source", F.col("b").alias("node"))
            .distinct()
            .join(visited.select("source", "node"), ["source", "node"], "left_anti")
            .withColumn("dist", F.lit(depth).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return (
        visited.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.sum(F.expr("1000000 div dist")).cast("long").alias("harmonic_micro"),
            F.count("*").cast("long").alias("n_reached"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: power iteration whose teleport (and
    dangling-mass) distribution is the SEED set instead of uniform —
    the standard KG relevance ranking "what matters around these
    entities" (query-biased recommendations, related-entity panels).

    rank'(v) = (1-d)*p(v) + d * (sum_{u->v} rank(u)/outdeg(u)
                                 + dangling * p(v))

    with p(v) = 1/|S| for seed nodes and 0 elsewhere; ranks start AT
    the seed distribution and stay a probability vector every step.
    The same power iteration as :func:`pagerank` — the teleport vector
    is one extra column on the node table, computed once; each
    iteration is still one dst-shuffled contribution reduce plus a
    broadcast one-row dangling aggregate. Seeds not present in the
    edge table still teleport (they are unioned into the node set), so
    a query about a brand-new entity degrades gracefully instead of
    silently dropping its mass.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    s = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    n_seeds = s.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .unionByName(s)
        .distinct()
        .localCheckpoint(eager=True)
    )
    tele = nodes.join(
        s.withColumn("tele", F.lit(1.0 / n_seeds)), "node", "left"
    ).select("node", F.coalesce("tele", F.lit(0.0)).alias("tele"))
    tele = tele.localCheckpoint(eager=True)
    return _power_iteration(
        e,
        tele,
        tele.select("node", F.col("tele").alias("rank")),
        iters,
        lambda c, dangling: F.lit(1.0 - damping) * F.col("tele")
        + F.lit(damping) * (c + dangling * F.col("tele")),
    )


def _power_iteration(e, nodes, ranks, iters, update):
    """`iters` rounds of rank'(node) = update(c, dangling) over `nodes`
    (with the teleport columns `update` reads), from the (node, rank)
    vector `ranks`, over the (u, v) edges `e`: c = sum_{u->v}
    rank(u)/outdeg(u), dangling = the rank on nodes without out-edges.
    That sum is a one-row aggregate broadcast-crossed into the update,
    so each round is one checkpoint action; contributions reduce
    map-side before the dst shuffle."""
    outdeg = (
        e.groupBy("u").agg(F.count("*").alias("outdeg")).localCheckpoint(eager=True)
    )
    e_deg = e.join(outdeg, "u").localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (
            e_deg.join(ranks.withColumnRenamed("node", "u"), "u")
            .select("v", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        dangling = (
            ranks.join(outdeg.withColumnRenamed("u", "node"), "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("v", "node"), "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                update(
                    F.coalesce(F.col("c"), F.lit(0.0)), F.col("dangling")
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks
