"""Distributed k-means (Lloyd's algorithm) in exact integer arithmetic.

The missing clustering primitive for training-data curation: domain
discovery / data mixing (cluster the corpus, then stratify the mix by
cluster), SemDeDup-style cell construction, and IVF coarse quantizers
trained on the data instead of sampled from it. The reference
(Center-for-Applied-AI/delm) has no clustering; this follows the repo's
oracle discipline — every number a DuckDB SQL replica can re-derive
bit-for-bit:

* vectors are quantized ONCE to BIGINT micro-units
  (``floor(x * 1e6)`` — floor of an IEEE double is engine-independent),
* distances are exact integer squared-L2 (micro^2 units),
* centroid updates are integer mean ``sum div count`` (both Spark ``div``
  and DuckDB ``//`` truncate toward zero — verified on negatives),
* assignment argmin ties break to the smallest cluster_id,
* init is the md5-ordered deterministic pick the IVF operator already
  uses (`similarity.py ivf_centroids`), so no RNG state leaks into the
  contract.

Exact integer arithmetic makes every aggregation ORDER-INDEPENDENT — the
float Lloyd update ``mean(vec)`` would differ between partitionings in
the last ulp and could flip an assignment; the integer form cannot.

Scale shape (100 TB / 1000-executor framing):

* the input is quantized and ``localCheckpoint``-ed once — each Lloyd
  iteration re-reads the materialized micro-vectors, never the source
  scan (at cluster scale this is the standard persist-the-working-set
  pattern; k iterations = k passes is Lloyd's irreducible cost);
* centroids are k x dim BIGINTs (k<=4096 -> <=2 MiB) held on the driver
  and inlined as one constant-folded literal (`_assign_best_expr`); the
  assignment is a per-row array_min(struct) fold over the k candidates —
  no join, no shuffle;
* the update is ONE hash aggregation per iteration shuffled on
  cluster_id with map-side partial sums (dim sum columns + count) —
  bytes shuffled per iteration: O(k x dim x partitions), independent of
  row count;
* distance math is native Catalyst HOFs (zip_with + aggregate) inside
  whole-stage codegen — no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def vec_micro(vec: Column) -> Column:
    """array<float|double> -> array<bigint> micro-units, floor semantics
    (identical in Spark and DuckDB for IEEE doubles)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * MICRO).cast("long")
    )


def _dist2(a: Column, b: Column) -> Column:
    """Exact BIGINT squared L2 between two micro-unit arrays — a native
    zip_with + aggregate fold (codegen, no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def kmeans_init(embeddings: DataFrame, k: int) -> DataFrame:
    """Deterministic seed centroids: the k vectors whose
    ``md5(vec_id || '|kmeans')`` sorts smallest (the IVF convention —
    quasi-random, engine-reproducible, no RNG). Returns
    (cluster_id 0..k-1 in md5 order, centroid: array<bigint> micro)."""
    from pyspark.sql import Window

    key = F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("|kmeans")))
    picked = (
        embeddings.select(
            key.alias("__k"), vec_micro(F.col("embedding")).alias("centroid")
        )
        .orderBy("__k")
        .limit(k)
    )
    # k rows only — the single-partition window is over the already-
    # limited seed set, not the corpus.
    return picked.select(
        (F.row_number().over(Window.orderBy("__k")) - 1).alias("cluster_id"),
        "centroid",
    )


def _assign_best_expr(cent_rows, vec_col: str) -> Column:
    """argmin struct over a CONSTANT-FOLDED literal centroid array: the
    centroid table is model state (k x dim BIGINTs, <= 2 MiB at the
    k=4096 ceiling), folded ONCE by ConstantFolding and never
    re-evaluated per row — the assignment needs no join and no shuffle of
    the corpus side. Ties go to the smallest cluster_id by struct
    ordering (long dist, then int cluster_id).

    The centroid array is ONE SQL-text expression, `array(named_struct(
    'cluster_id', 0, 'centroid', CAST(array(1L, ...) AS array<bigint>)),
    ...)`, handed to the JVM in a single py4j call, so building it costs
    the same handful of calls at any k x dim; a Column per number would
    cost ~36 s of py4j calls per Lloyd iteration at k=4096, dim=64."""
    cands = F.expr(
        "array("
        + ", ".join(
            f"named_struct('cluster_id', {int(cid)}, 'centroid', CAST(array("
            + ", ".join(f"{int(x)}L" for x in c)
            + ") AS array<bigint>))"
            for cid, c in cent_rows
        )
        + ")"
    )
    return F.array_min(
        F.transform(
            cands,
            lambda c: F.struct(
                _dist2(F.col(vec_col), c["centroid"]).alias("dist_micro2"),
                c["cluster_id"].alias("cluster_id"),
            ),
        )
    )


def _div_trunc(s: int, c: int) -> int:
    """Python twin of Spark/DuckDB BIGINT `div`: truncate toward zero
    (Python `//` floors, which differs on negative sums)."""
    return -((-s) // c) if s < 0 else s // c


def _kmeans_fit_rows(embeddings: DataFrame, k: int, iters: int):
    """Driver-side Lloyd loop (r6): per iteration ONE job — the
    assignment + per-cluster integer sums aggregation — whose k-row
    result is collected and the `sum div count` update applied in exact
    Python integer arithmetic (bit-identical to the previous
    `__s div __cnt` Spark expression; `_div_trunc` reproduces the
    truncate-toward-zero semantics). This replaces the per-iteration
    join + localCheckpoint of the centroid table (2 jobs -> 1, no
    checkpoint blocks), the same driver-resident-model shape Spark
    MLlib's KMeans uses: centroids are k x dim model state, bounded and
    collected by design — the corpus never leaves the executors.

    Returns (cent_rows, vm) where cent_rows is a list of
    (cluster_id, centroid list) and vm the localCheckpoint-ed micro
    vectors for reuse by the caller's final assignment."""
    vm = embeddings.select(
        F.col("vec_id"), vec_micro(F.col("embedding")).alias("vm")
    ).localCheckpoint(eager=True)
    init = kmeans_init(embeddings, k).collect()
    cent_rows = [(int(r["cluster_id"]), list(r["centroid"])) for r in init]
    if not cent_rows:
        return [], vm
    dim = len(cent_rows[0][1])
    sums = [
        F.sum(F.element_at(F.col("vm"), i + 1)).alias(f"__s{i}") for i in range(dim)
    ]
    for _ in range(iters):
        best = _assign_best_expr(cent_rows, "vm")
        stats = (
            vm.select(best.getField("cluster_id").alias("cluster_id"), "vm")
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("__cnt"), *sums)
            .collect()
        )
        by_cluster = {int(r["cluster_id"]): r for r in stats}
        nxt = []
        for cid, old in cent_rows:
            r = by_cluster.get(cid)
            if r is None:
                # a cluster that loses all members keeps its centroid
                nxt.append((cid, old))
            else:
                cnt = int(r["__cnt"])
                nxt.append(
                    (cid, [_div_trunc(int(r[f"__s{i}"]), cnt) for i in range(dim)])
                )
        cent_rows = nxt
    return cent_rows, vm


def kmeans_cluster(embeddings: DataFrame, k: int = 8, iters: int = 3) -> DataFrame:
    """Fit + final assignment: (vec_id, cluster_id, dist_micro2), one row
    per input vector. The final assignment reuses the fit's
    checkpointed micro vectors (the source scan runs once, not twice)."""
    cent_rows, vm = _kmeans_fit_rows(embeddings, k, iters)
    if not cent_rows:
        return vm.select(
            F.col("vec_id"),
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(None).cast("long").alias("dist_micro2"),
        )
    # two-step select: the argmin fold is interpreted (HOF) and consumed
    # by two fields — aliasing it once keeps it evaluated once per row
    best = _assign_best_expr(cent_rows, "vm")
    return vm.select(F.col("vec_id"), best.alias("__best")).select(
        "vec_id",
        F.col("__best.cluster_id").alias("cluster_id"),
        F.col("__best.dist_micro2").alias("dist_micro2"),
    )
