"""Entity canonicalization via connected components (north-rule stage 7).

`connected_components`: iterative min-label propagation over an
undirected edge table: each node's label converges to the smallest label
in its component. Graphs up to DRIVER_CC_MAX_EDGES edges run union-find
on the driver; larger ones run a driver loop of hash joins per iteration
(AQE-managed), `localCheckpoint()` to cut lineage growth, stopping at
fixpoint. Large-diameter graphs would warrant the large-star/small-star
variant (see BTS, ICDE 2024 — not needed here).

`canonical_map`: the pipeline's entity canonicalization over the alias
graph of the broadcast-sized dictionary, always by driver union-find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: below this many edges, run union-find on the driver — an iterative
#: Spark loop on a tiny graph costs ~10 jobs of pure scheduling overhead
#: (the canonical dictionary is broadcast-sized BY DESIGN, north rule)
DRIVER_CC_MAX_EDGES = 100_000

#: label-propagation rounds of a distributed run before it stops short of
#: fixpoint (pointer jumping converges in O(log diameter) rounds)
CC_MAX_ITER = 20

#: iterations of the last distributed connected_components run (test hook
#: for the one-job-per-iteration property)
LAST_RUN_ITERATIONS = 0

#: wall seconds of each iteration of the last distributed run (bench hook;
#: each entry is one propagate+jump+checkpoint job)
LAST_RUN_ITER_SECONDS: list = []


def _driver_union_find(pairs: list) -> dict:
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            # min label wins, matching the distributed min-label semantics
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in list(parent) + [p for pr in pairs for p in pr if p is not None]}


def connected_components(
    edges: DataFrame, driver_cutoff: int = DRIVER_CC_MAX_EDGES
) -> DataFrame:
    """Return (node, component) over the undirected (src, dst) edges, with
    component = min node label (string ordering) reachable from the node.

    The per-iteration shuffles are sized from the edge count (small graphs
    run on few partitions — an iterative loop over a tiny frame at full
    shuffle width pays task-scheduling overhead proportional to cores x
    iterations, which is exactly the anti-scaling pattern the bench would
    expose).
    """
    spark = edges.sparkSession
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .dropDuplicates(["a", "b"])
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .localCheckpoint(eager=True)
    )
    n_edges = sym.count()
    if n_edges <= driver_cutoff:
        # tiny graph: one collect + pure-python union-find + one
        # createDataFrame replaces ~3 jobs per iteration
        pairs = [(r["a"], r["b"]) for r in sym.collect()]
        comp = _driver_union_find(pairs)
        import pandas as pd
        from pyspark.sql.types import StructField, StructType

        # Arrow-backed local frame: a plain-rows createDataFrame is
        # Python-RDD backed, re-running Python deserializer tasks on every
        # downstream action (~6 s/action at 32 cores for tiny tables).
        # The schema carries the EDGE COLUMN'S type: a hardcoded string
        # schema would make Arrow conversion of int64 ids fail and fall
        # back to that Python-RDD path silently, AND flip the output
        # dtype between the driver and distributed paths (string vs
        # bigint), reintroducing the lossy >2^53 string/numeric coercion
        # on downstream joins.
        node_type = sym.schema["a"].dataType
        pdf = pd.DataFrame(sorted(comp.items()), columns=["node", "component"])
        return spark.createDataFrame(
            pdf,
            StructType(
                [StructField("node", node_type), StructField("component", node_type)]
            ),
        ).coalesce(1)
    # ~1M edges per partition, clamped to the session's shuffle width
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    num_partitions = max(1, min(width, n_edges // 1_000_000 + 1))
    sym = sym.repartition(num_partitions, "a").localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .dropDuplicates(["node"])
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    global LAST_RUN_ITERATIONS
    LAST_RUN_ITERATIONS = 0
    LAST_RUN_ITER_SECONDS.clear()
    import time as _time

    for _ in range(CC_MAX_ITER):
        _iter_t0 = _time.perf_counter()
        # neighbor label messages + own label, take min per node; the old
        # label rides along (__old: one non-null per node, from the labels
        # side) so convergence is observable inside this iteration's job
        # the null sentinel must carry the labels frame's component type:
        # a hardcoded string cast would make unionByName coerce BOTH sides
        # (numeric component -> double via string), turning the observe()
        # comparison lossy above 2^53 for 64-bit hash node ids
        comp_type = labels.schema["component"].dataType
        msgs = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"),
            F.col("component"),
            F.lit(None).cast(comp_type).alias("__old"),
        )
        relaxed = (
            labels.select("node", "component", F.col("component").alias("__old"))
            .unionByName(msgs)
            .repartition(num_partitions, "node")
            .groupBy("node")
            .agg(F.min("component").alias("component"), F.max("__old").alias("__old"))
        )
        # pointer jumping (path halving): component <- component's component;
        # with the neighbor-min step this converges in O(log diameter)
        # rounds instead of O(diameter)
        jump = relaxed.select(
            F.col("node").alias("__c"), F.col("component").alias("__cc")
        )
        # the changed-count is an observe() metric on the SAME job that
        # materializes the eager checkpoint — no extra join-job per
        # iteration (each avoidable job is ~0.5 s of fixed scheduler
        # overhead in local mode)
        obs = Observation()
        labels = (
            relaxed.join(jump, relaxed["component"] == jump["__c"], "left")
            .select(
                "node",
                F.coalesce(F.col("__cc"), F.col("component")).alias("component"),
                "__old",
            )
            .observe(
                obs,
                F.sum((F.col("component") != F.col("__old")).cast("long")).alias(
                    "changed"
                ),
            )
            .drop("__old")
            .localCheckpoint(eager=True)
        )
        LAST_RUN_ITERATIONS += 1
        LAST_RUN_ITER_SECONDS.append(round(_time.perf_counter() - _iter_t0, 3))
        if (obs.get["changed"] or 0) == 0:
            break
    return labels


def canonical_map(dictionary: DataFrame) -> DataFrame:
    """(node -> canonical_id) map from the dictionary's alias graph alone.

    Canonicalization depends only on the alias graph (surface <->
    canonical-id edges): alias surfaces sharing a canonical id collapse
    into one component, chains of dictionary entries merge, and any
    entity NOT in the dictionary is a singleton by construction — it
    needs no row here (consumers coalesce to the entity's own id).
    The component representative is the smallest non-mention node
    (a curated canonical id) when one exists.

    The dictionary is broadcast-sized by contract (`link_mentions`
    broadcasts it whole), so this is ONE collect + pure-Python union-find
    + a LocalTableScan result, consumed only via broadcast joins. Over
    `run_pipeline`'s local dictionary snapshot the collect runs no job.
    """
    spark = dictionary.sparkSession
    # The node namespace of this graph is inherently string ('mention:'
    # prefix), so a numeric canonical_id column is normalized up front:
    # without the cast str and int nodes mix (startswith raises).
    rows = dictionary.select(
        "surface", F.col("canonical_id").cast("string").alias("canonical_id")
    ).collect()
    # skip null surfaces/ids: an edge with a null end links nothing, and
    # must not fabricate a 'mention:None' node
    pairs = [
        (f"mention:{r['surface']}", r["canonical_id"])
        for r in rows
        if r["surface"] is not None and r["canonical_id"] is not None
    ]
    comp = _driver_union_find(pairs)
    # representative per component: smallest non-mention node, else label
    best: dict = {}
    for node, c in comp.items():
        if not node.startswith("mention:"):
            if c not in best or node < best[c]:
                best[c] = node
    out = sorted((node, best.get(c, c)) for node, c in comp.items())
    import pandas as pd

    # Arrow-backed (see connected_components): every broadcast build
    # over this map must be a JVM LocalTableScan, not a Python task
    pdf = pd.DataFrame(out, columns=["node", "canonical_id"])
    return spark.createDataFrame(pdf, "node string, canonical_id string").coalesce(1)
