"""Product quantization (PQ) for embedding columns — the memory side of
ANN at 100 TB.

IVF/LSH (operators/similarity.py) bound how many vectors a query TOUCHES;
PQ bounds how many BYTES each touched vector costs: a d-dim float vector
compresses to m uint8 codes (here m=8 -> 8 bytes vs 256 for d=64
float32), so the candidate scan works on a table ~30x smaller and the
asymmetric-distance computation (ADC) is a table lookup + integer sum.
Jegou et al., "Product Quantization for Nearest Neighbor Search",
IEEE TPAMI 2011.

Spark shape:
  * codebooks  — m tiny frames (k rows each), built from md5-ordered
    deterministic samples (same reproducible-pseudo-random trick as
    ivf_centroids; a k-means refinement drops in without changing the
    search path). Always broadcast.
  * encode     — one map-side pass: explode each vector to its m
    subvectors, broadcast-join the codebook, per-(vector, subspace)
    argmin; one groupBy(vec_id, subspace). The encoded table is the
    ONLY thing the query path scans.
  * pq_topk    — per query, an m x k distance table (broadcast);
    candidates = encoded JOIN table ON (subspace, code) -> ONE integer
    sum per (query, vector); top-C by ADC; exact re-rank of C rows only.

All distances are squared-L2 quantized to integer nano-units
(round(d2 * 1e9)) BEFORE any aggregation, so sums are exact, independent
of aggregation order, and bit-identical in any engine — the same
integer-arithmetic contract as unigram_lm_score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _subvec(vec, j: int, d_sub: int):
    return F.slice(vec, j * d_sub + 1, d_sub)


def _l2sq_fx(a, b):
    """Squared L2 between two equal-length arrays, fixed-point nano-units
    (int64). zip_with + aggregate keeps it whole-stage-codegen native."""
    d2 = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(d2 * 1e9).cast("long")


def _explode_subvectors(embeddings: DataFrame, m: int, d_sub: int) -> DataFrame:
    """(id, subspace, sv): every vector split into its m subvectors —
    shared by the catalyst encode and the Lloyd trainer so the slicing
    convention can never diverge between them."""
    return embeddings.select(
        F.col("vec_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        _subvec(F.col("embedding"), j, d_sub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("e"),
    ).select("vec_id", "e.subspace", "e.sv")


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Deterministic per-subspace codebooks: subspace j's k code vectors
    are the j-subvectors of the k inputs with smallest
    md5(vec_id || '|pq' || j); code_id is their rank in that order.
    Returns (subspace, code_id, codevec) — m*k rows, always broadcast."""
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    parts = []
    for j in range(m):
        w = Window.orderBy("__r")
        parts.append(
            embeddings.select(
                F.lit(j).alias("subspace"),
                _subvec(F.col("embedding"), j, d_sub).alias("codevec"),
                F.md5(
                    F.concat(F.col("vec_id").cast("string"), F.lit(f"|pq{j}"))
                ).alias("__r"),
            )
            .orderBy("__r")
            .limit(k)
            .withColumn("code_id", F.row_number().over(w) - 1)
            .drop("__r")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Quantize every vector: per subspace, the code with the smallest
    fixed-point squared-L2 to the subvector (ties -> smallest code_id).
    Returns (vec_id, subspace, code) — the m-bytes-per-vector table the
    query path scans instead of raw floats."""
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    d_sub = dim // m
    subs = _explode_subvectors(embeddings, m, d_sub)
    scored = subs.join(F.broadcast(codebooks), "subspace").select(
        "vec_id",
        "subspace",
        "code_id",
        _l2sq_fx(F.col("sv"), F.col("codevec")).alias("__d"),
    )
    best = F.min(F.struct("__d", "code_id")).alias("__b")
    return (
        scored.groupBy("vec_id", "subspace")
        .agg(best)
        .select("vec_id", "subspace", F.col("__b.code_id").alias("code"))
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    k: int = 10,
    refine: int = 4,
    dim: int | None = None,
    fast_encode: bool = False,
    codebooks: DataFrame | None = None,
    encoded_packed: DataFrame | None = None,
) -> DataFrame:
    """PQ-ADC approximate top-k with exact re-rank.

    `encoded_packed` is the production entry point: the persisted
    (vec_id, __codes array<int>) table from pq_encode_fast(packed=True),
    encoded ONCE at ingest and scanned by every query — the 64x-smaller
    scan is the whole point of PQ. When omitted, vectors are encoded
    inline (correct, but the encode cost lands on the query).

    Per query: build the m x k_codes distance table against the
    broadcast codebooks, FLATTENED to one array<long> per query
    (dtab[subspace * k_codes + code]); the encoded table is pivoted to
    one row per vector (array of its m codes), so ADC distance is a
    native m-lookup fold over the broadcast table — no per-(vector,
    subspace) join rows and NO groupBy re-aggregation (the r4 shape
    joined encoded x qtable into m * n_vectors * n_queries intermediate
    rows and shuffled them; this computes the identical integer sum
    inside one codegen stage and ships only (query_id, vec_id, adc) into
    the WindowGroupLimit top-C). Keep the refine*k closest by
    (adc, vec_id); exact-cosine re-rank only those.
    Returns (query_id, vec_id, rank) — rank 1..k by (cosine desc,
    vec_id asc), the same output contract as ivf_topk/lsh_topk.
    """
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    d_sub = dim // m
    books = (
        codebooks
        if codebooks is not None
        else pq_codebooks(embeddings, m, k_codes, dim)
    )
    if encoded_packed is not None:
        packed = encoded_packed.select("vec_id", "__codes")
    elif fast_encode:
        packed = pq_encode_fast(embeddings, books, m, dim, packed=True)
    else:
        # pivot the oracle-path encode to one row per vector; array_sort
        # on (subspace, code) structs puts code j at position j
        packed = (
            pq_encode(embeddings, books, m, dim)
            .groupBy("vec_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("subspace", "code"))).alias(
                    "__sc"
                )
            )
            .select(
                "vec_id", F.transform("__sc", lambda s: s["code"]).alias("__codes")
            )
        )
    qs = queries.select("query_id", F.col("embedding").alias("__qv"))
    # per-query flattened ADC table: entry (subspace, code) at index
    # subspace * k_codes + code — n_queries x (m * k_codes) longs, always
    # broadcast-sized
    qtab = (
        qs.crossJoin(F.broadcast(books))
        .select(
            "query_id",
            "__qv",
            F.struct(
                "subspace",
                "code_id",
                _l2sq_fx(
                    _subvec(F.col("__qv"), F.col("subspace"), d_sub),
                    F.col("codevec"),
                ).alias("__d"),
            ).alias("__e"),
        )
        .groupBy("query_id")
        .agg(F.array_sort(F.collect_list("__e")).alias("__ents"))
        .select(
            "query_id",
            F.transform("__ents", lambda e: e["__d"]).alias("__dtab"),
        )
    )
    # the m-lookup fold is UNROLLED (m is a plan-time constant): element_at
    # + getItem are whole-stage-codegen expressions, whereas an
    # F.aggregate/F.transform HOF pair is CodegenFallback — interpreted
    # per row, which at n_vectors x n_queries rows would give back most of
    # the join-shape win
    adc_expr = None
    for j in range(m):
        term = F.element_at(
            F.col("__dtab"), F.col("__codes").getItem(j) + j * k_codes + 1
        )
        adc_expr = term if adc_expr is None else adc_expr + term
    adc = packed.join(
        F.broadcast(qtab.select("query_id", "__dtab")), how="cross"
    ).select("query_id", "vec_id", adc_expr.cast("long").alias("__adc"))
    wc = Window.partitionBy("query_id").orderBy(F.asc("__adc"), F.asc("vec_id"))
    cands = (
        adc.withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") <= refine * k)
        .select("query_id", "vec_id")
    )
    from delm_spark.operators.similarity import _topk_per_query, cosine

    exact = (
        cands.join(embeddings.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qs), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("embedding"), F.col("__qv")).alias("__score"),
        )
    )
    return _topk_per_query(exact, "__score", k).select("query_id", "vec_id", "rank")


def pq_encode_fast(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int | None = None,
    packed: bool = False,
) -> DataFrame:
    """Arrow-batched numpy twin of pq_encode — the production encode
    path. Dense distance math is exactly where catalyst higher-order
    functions lose to a vectorized kernel by orders of magnitude (one
    (batch x k) matmul per subspace vs per-row array folds), the same
    trade the extraction stage makes. Output is IDENTICAL to pq_encode
    (pytest-pinned): the per-dimension squared-difference sum runs in
    ascending index order in both — an EXPLICIT sequential accumulation
    over the d_sub columns, matching the catalyst fold term-for-term
    (numpy's axis-reductions switch to an 8-accumulator tree for n >= 8,
    which differs from a sequential fold in the last ulp and can flip a
    rounded nano-unit at production d_sub=8; ADVICE r4) — and ties break
    to the smallest code_id (np.argmin first-occurrence == min(struct)).

    The codebook (m*k rows) is collected driver-side and closure-
    broadcast — it is bounded by construction, never data-sized."""
    import numpy as np

    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    d_sub = dim // m
    rows = codebooks.collect()
    k = max(r["code_id"] for r in rows) + 1
    books = np.zeros((m, k, d_sub))
    for r in rows:
        books[r["subspace"], r["code_id"]] = r["codevec"]

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            v = np.asarray(list(pdf["embedding"]), dtype="float64")
            out_ids, out_sub, out_code = [], [], []
            for j in range(m):
                sv = v[:, j * d_sub : (j + 1) * d_sub]
                # (batch, k) distances with the SAME arithmetic as the
                # slow path — per-dimension squared diffs accumulated by
                # an explicit loop in ascending index order (the catalyst
                # F.aggregate fold is ((0+x0)+x1)+...; ndarray.sum would
                # use numpy's 8-accumulator tree for d_sub >= 8 and
                # differ in the last ulp ~half the time), then the
                # nano-unit rounding — so the argmin (first occurrence ==
                # smallest code_id on ties) is bit-identical
                def _seq_l2(c):
                    diff = sv - books[j][c][None, :]
                    acc = np.zeros(len(sv), dtype="float64")
                    for i in range(d_sub):
                        acc = acc + diff[:, i] * diff[:, i]
                    return acc

                d_fx = np.floor(
                    np.stack([_seq_l2(c) for c in range(k)], axis=1) * 1e9
                    # floor(x + 0.5) == HALF_UP for the non-negative d2,
                    # matching Spark F.round and DuckDB round(); np.round
                    # is half-to-EVEN and would flip exact-.5 nano-units
                    + 0.5
                )
                codes = np.argmin(d_fx, axis=1)
                if packed:
                    out_code.append(codes.astype("int32"))
                    continue
                out_ids.append(ids)
                out_sub.append(np.full(len(ids), j, dtype="int32"))
                out_code.append(codes.astype("int32"))
            if packed:
                # one row per vector, codes[j] = subspace j's code — the
                # zero-shuffle input shape of pq_topk's native ADC fold
                yield pd.DataFrame(
                    {
                        "vec_id": ids,
                        "__codes": list(np.stack(out_code, axis=1)),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        "vec_id": np.concatenate(out_ids),
                        "subspace": np.concatenate(out_sub),
                        "code": np.concatenate(out_code),
                    }
                )

    schema = (
        "vec_id long, __codes array<int>"
        if packed
        else "vec_id long, subspace int, code int"
    )
    return embeddings.mapInPandas(enc, schema=schema)


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Lloyd-refined codebooks: md5-sample init (pq_codebooks) + `iters`
    distributed k-means steps per subspace. Each step is one fast-encode
    pass (assignment) + one groupBy(subspace, code) per-dimension mean
    (update) — both map-side-combinable; codebooks never leave broadcast
    size. Codes that lose all members keep their previous center (the
    standard empty-cluster fallback). Deterministic for a fixed input
    (same init, fixed iteration count); refined codebooks typically
    multiply PQ recall vs raw sampled init (BENCH/PQ_SCALE.md measures
    exactly this delta)."""
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    d_sub = dim // m
    books = pq_codebooks(embeddings, m, k, dim)
    subs = _explode_subvectors(embeddings, m, d_sub)
    # component quantization for the update step: micro-units keep the
    # int64 sum safe to ~1e12 members per code at |v| ~ 1e3 while making
    # the mean aggregation-order independent (F.avg over raw doubles
    # would drift in the last ulp across partial-merge orders and the
    # encode's nano-rounding can amplify that into different codes)
    q = subs.select(
        "vec_id",
        "subspace",
        F.transform(
            "sv", lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("long")
        ).alias("svq"),
    )
    for _ in range(iters):
        enc = pq_encode_fast(embeddings, books, m, dim)
        means = (
            q.join(enc, ["vec_id", "subspace"])
            .groupBy("subspace", F.col("code").alias("code_id"))
            .agg(
                F.array(
                    *[
                        (
                            F.expr(f"sum(svq[{i}]) div count(1)").cast("double")
                            / 1e6
                        )
                        for i in range(d_sub)
                    ]
                ).alias("newvec")
            )
        )
        books = (
            books.join(means, ["subspace", "code_id"], "left")
            .select(
                "subspace",
                "code_id",
                F.coalesce("newvec", "codevec").alias("codevec"),
            )
            .localCheckpoint(eager=True)  # cut the iterative lineage
        )
    return books
