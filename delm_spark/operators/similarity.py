"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute-force cosine top-k — correctness baseline; native `aggregate`/
    `zip_with` dot product, single pass, no UDF
  * LSH-bucketed ANN — scale path: random-hyperplane signatures block the
    candidate space; exact cosine re-rank inside buckets. Hyperplanes are
    derived deterministically from xxhash64 so no RNG state ships around.

At 100 TB the brute-force path is a broadcast of the (small) query set
against a full scan — embarrassingly parallel, no shuffle; the ANN path
shuffles once on bucket id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    return (
        dot(a, b) / (F.greatest(l2_norm(a) * l2_norm(b), F.lit(1e-12)))
    ).cast("double")


def _topk_per_query(scored: DataFrame, score: str, k: int) -> DataFrame:
    """`scored` with rank = row_number per query_id by `score` desc, then
    vec_id asc, kept where rank <= k."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query over (vec_id, embedding) rows.
    `queries` (query_id, embedding) is broadcast; ranking is a window per
    query id.

    The rank<=k filter over row_number() compiles to WindowGroupLimit
    pushdown (Spark 3.5+): a PARTIAL group-limit runs in each map task
    before the exchange, so at most k rows per query leave any input
    partition — the shuffle carries O(partitions * q * k) rows, never the
    N*q scored rows, and the final per-query merge is tiny. Plan-asserted
    (tests/test_plan_quality.py::test_topk_partial_group_limit).

    Returns (query_id, vec_id, score, rank).
    """
    q = F.broadcast(
        queries.select("query_id", F.col("embedding").alias("__qv"))
    )
    scored = embeddings.crossJoin(q).select(
        "query_id",
        "vec_id",
        cosine(F.col("embedding"), F.col("__qv")).alias("score"),
    )
    return _topk_per_query(scored, "score", k)


def ivf_centroids(embeddings: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic coarse quantizer for IVF: the `n_centroids` vectors
    with the smallest md5(vec_id || '|ivf') — a reproducible pseudo-random
    sample any SQL engine re-derives (no RNG state ships around; same
    trick as the LSH hyperplanes). A k-means refinement would drop in here
    without changing the search path."""
    return (
        embeddings.select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("__cv"),
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("|ivf"))).alias("__r"),
        )
        .orderBy("__r")
        .limit(n_centroids)
        .drop("__r")
    )


def ivf_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine; ties break
    to the smallest centroid_id). The N x C distance pass is the standard
    IVF build cost; the centroid set is broadcast, so the build is one
    map-side pass + one groupBy(id) — no all-pairs shuffle. Returns
    (vec_id, embedding, __cell)."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        F.col("vec_id"),
        F.col("embedding"),
        F.col("centroid_id"),
        cosine(F.col("embedding"), F.col("__cv")).alias("__sim"),
    )
    # argmax via min(struct(-sim, centroid_id)): smallest -sim = largest
    # sim, tie -> smallest centroid_id. Negating the SIM (always double)
    # keeps this correct for any orderable id type — string vec_ids would
    # null out under an id negation.
    best = F.min(
        F.struct((-F.col("__sim")).alias("__ns"), F.col("centroid_id"))
    ).alias("__best")
    return (
        scored.groupBy("vec_id")
        .agg(best, F.first("embedding").alias("embedding"))
        .select("vec_id", "embedding", F.col("__best.centroid_id").alias("__cell"))
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
) -> DataFrame:
    """IVF approximate top-k: vectors are pre-binned into `n_centroids`
    cells (nearest centroid); each query probes its `nprobe` closest cells
    and exact-cosine re-ranks only the vectors inside them — the classic
    inverted-file ANN layout, complementary to the sign-LSH path
    (lsh_topk): IVF adapts to the data distribution, LSH is data-oblivious.

    Scale shape: the centroid set and the exploded (query, cell) probe set
    broadcast; the candidate lookup is ONE equi-join on the cell id against
    the assigned table (at 100 TB, `ivf_assign` is materialized once and
    the assigned table is partitioned/bucketed by cell, so the probe join
    prunes to the probed cells); the final per-query merge ships at most k
    rows per task via WindowGroupLimit (see brute_force_topk). Size
    n_centroids ~ sqrt(N) so cells stay executor-sized.

    Returns (query_id, vec_id, score, rank).
    """
    cents = ivf_centroids(embeddings, n_centroids)
    assigned = ivf_assign(embeddings, cents)
    qs = queries.select("query_id", F.col("embedding").alias("__qv"))
    qc = qs.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "__qv",
        "centroid_id",
        cosine(F.col("__qv"), F.col("__cv")).alias("__sim"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("__sim"), F.asc("centroid_id")
    )
    probes = (
        qc.withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qv", F.col("centroid_id").alias("__cell"))
    )
    scored = assigned.join(F.broadcast(probes), "__cell").select(
        "query_id",
        "vec_id",
        cosine(F.col("embedding"), F.col("__qv")).alias("score"),
    )
    return _topk_per_query(scored, "score", k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    probe_radius: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold) over (vec_id, embedding) rows: the dedup-flavored sibling
    of lsh_topk — an 8-plane sign-LSH bucket SELF-join blocks the
    candidate space (pairs within Hamming
    distance `probe_radius` of each other's bucket), exact cosine
    re-ranks candidates only. Never all-pairs; the join key is the
    bucket id, uniformly distributed, so the shuffle survives a 100x
    corpus. The cosine is rounded to 6 dp before thresholding so an
    external oracle thresholds identically.

    Returns (id_a, id_b, cos_sim).
    """
    sig = embeddings.select(
        F.col("vec_id").alias("__id"), F.col("embedding").alias("__v")
    ).withColumn("__bkt", lsh_bucket(F.col("__v"), dim, 8))
    probed = sig.select(
        "__id",
        "__v",
        F.explode(_probe_buckets("__bkt", 8, probe_radius)).alias("__pbkt"),
    )
    a, b = probed.alias("a"), sig.alias("b")
    # a's probe set meets b's home bucket exactly once per pair within
    # the Hamming radius (XOR masks are unique), so no post-join dedup
    pairs = a.join(
        b,
        (F.col("a.__pbkt") == F.col("b.__bkt"))
        & (F.col("a.__id") < F.col("b.__id")),
    ).select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        F.round(cosine(F.col("a.__v"), F.col("b.__v")), 6).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


def hyperplane_signs(dim: int, plane_idx: int) -> list:
    """Deterministic pseudo-random hyperplane: component j's sign derives
    from md5('plane{p}|{j}') — reproducible in any engine (the correctness
    oracle re-derives the same planes), values in {-1.0, +1.0} suffice for
    sign-LSH. Computed once on the driver; the plan sees literals."""
    import hashlib

    signs = []
    for j in range(dim):
        h = hashlib.md5(f"plane{plane_idx}|{j}".encode()).hexdigest()
        signs.append(1.0 if int(h[:8], 16) % 2 == 0 else -1.0)
    return signs


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id: n_planes-bit signature of the sign bits of
    hyperplanes 0..n_planes-1.

    Each plane is ONE SQL-text array literal (`array(1.0D, -1.0D, ...)`,
    parsed in the JVM), so building the expression costs O(n_planes) py4j
    calls, not O(n_planes x dim). The `D` suffix keeps the plane
    array<double>: a bare `1.0` is a DECIMAL in Spark SQL. One n_planes x
    dim matrix literal indexed per plane would build faster still, but
    analyzes about twice as slowly."""
    acc = F.lit(0).cast("long")
    for p in range(n_planes):
        signs = hyperplane_signs(dim, p)
        plane = F.expr("array(" + ", ".join(f"{s!r}D" for s in signs) + ")")
        bit = (dot(vec, plane) >= 0).cast("long")
        acc = acc + bit * F.lit(1 << p)
    return acc


def _probe_masks(n_planes: int, radius: int) -> list:
    """All XOR masks with popcount <= radius — the multi-probe bucket set."""
    return [m for m in range(1 << n_planes) if bin(m).count("1") <= radius]


def _probe_buckets(bucket_col: str, n_planes: int, radius: int) -> Column:
    """The multi-probe bucket array `array(b ^ m0, b ^ m1, ...)` of an
    internal bucket column, as ONE SQL-text expression: one py4j call,
    not three per mask."""
    xors = ", ".join(f"{bucket_col} ^ {m}" for m in _probe_masks(n_planes, radius))
    return F.expr(f"array({xors})")


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: multi-probe sign-LSH. Candidates are embeddings
    whose bucket is within Hamming distance `probe_radius` of the query's
    bucket; exact cosine re-rank inside. The query side explodes to its
    probe buckets (C(n_planes, <=radius) rows per query — tiny, broadcast),
    so the candidate lookup stays ONE equi-join on the bucket id; the
    embedding side is scanned and bucketed exactly once, no shuffle beyond
    the final per-query top-k window — which itself ships at most k rows
    per query per map task via WindowGroupLimit pushdown (see
    brute_force_topk).

    probe_radius=0 is classic single-bucket LSH (~2^n_planes candidate
    reduction); raising it trades candidates for recall — for planted
    near-duplicates (cos >= 0.95) n_planes=8, radius=2 gives recall >= 0.9
    (pytest-asserted), while uniform-random 'neighbors' (cos ~ 0.3) are
    fundamentally not LSH-recoverable at useful candidate reductions."""
    emb_b = embeddings.withColumn("__bkt", lsh_bucket(F.col("embedding"), dim, n_planes))
    q_sig = queries.select(
        "query_id", F.col("embedding").alias("__qv")
    ).withColumn("__qbkt", lsh_bucket(F.col("__qv"), dim, n_planes))
    q_b = F.broadcast(
        q_sig.withColumn(
            "__bkt", F.explode(_probe_buckets("__qbkt", n_planes, probe_radius))
        )
    )
    # buckets partition the space, so each (query, embedding) pair matches
    # through at most one probe mask — no post-join dedup needed
    scored = emb_b.join(q_b, "__bkt").select(
        "query_id",
        "vec_id",
        cosine(F.col("embedding"), F.col("__qv")).alias("score"),
    )
    return _topk_per_query(scored, "score", k)


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then mark a vector a
    duplicate iff an EARLIER (smaller-id) vector in the SAME cluster has
    cosine >= threshold. Complementary to the LSH near-dup path
    (embedding_near_dup_pairs): clustering adapts to the data
    distribution, so paraphrase-dense regions dedup against their own
    neighborhood instead of a global oblivious hash.

    Scale shape: centroid pick + assignment reuse the IVF build (broadcast
    centroids, one map pass + one groupBy); the pair search is a self
    equi-join ON THE CELL ID ONLY — never all-pairs. Cell sizes are
    bounded by n_clusters ~ sqrt(N) sizing (same contract as ivf_topk);
    a pathologically hot cell is an input-data signal (embedding collapse)
    the cell-size histogram in the returned frame exposes. The cosine is
    rounded to 6 dp before the threshold compare so any engine
    re-derives identical keep/drop decisions.

    Returns (vec_id, cell, is_dup) for every input vector; downstream
    keeps `is_dup = false` rows (the earliest representative of every
    semantic neighborhood survives, deterministically).
    """
    cents = ivf_centroids(embeddings, n_clusters)
    assigned = ivf_assign(embeddings, cents)
    left = assigned.select(
        F.col("__cell"), F.col("vec_id").alias("__id"), F.col("embedding").alias("__v")
    )
    right = assigned.select(
        F.col("__cell"),
        F.col("vec_id").alias("__id2"),
        F.col("embedding").alias("__v2"),
    )
    hits = (
        left.join(right, "__cell")
        .filter(F.col("__id2") < F.col("__id"))
        .filter(F.round(cosine(F.col("__v"), F.col("__v2")), 6) >= threshold)
        .select("__id")
        .distinct()
    )
    return (
        assigned.join(
            hits.withColumn("__dup", F.lit(True)),
            assigned["vec_id"] == hits["__id"],
            "left",
        )
        .select(
            F.col("vec_id"),
            F.col("__cell").alias("cell"),
            F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
        )
    )
