"""ANN verification: multi-probe LSH recall on planted near-duplicates vs
exact brute force, and the candidate-join plan shape."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from delm_spark.operators.similarity import brute_force_topk, lsh_topk

DIM = 64


@pytest.fixture(scope="module")
def planted(spark):
    """400 random base vectors + 20 planted near-duplicates (cos ~= 0.98)
    of the first 20 bases. Queries are the planted copies; the true
    nearest neighbor of each is its base. Fully seeded -> deterministic."""
    rng = np.random.default_rng(42)
    base = rng.normal(size=(400, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    a = 0.98
    rows = []
    for i in range(400):
        rows.append((i, [float(x) for x in base[i]]))
    queries = []
    for q in range(20):
        noise = rng.normal(size=DIM)
        noise -= noise @ base[q] * base[q]
        noise /= np.linalg.norm(noise)
        v = a * base[q] + np.sqrt(1 - a * a) * noise
        queries.append((q, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(queries, "query_id long, embedding array<double>")
    return emb.cache(), qdf.cache()


def test_lsh_recall_on_planted_near_duplicates(planted):
    emb, qdf = planted
    got = {
        r["query_id"]: r["vec_id"]
        for r in lsh_topk(emb, qdf, dim=DIM, k=1, n_planes=8, probe_radius=2).collect()
    }
    hits = sum(1 for q in range(20) if got.get(q) == q)
    recall = hits / 20
    assert recall >= 0.9, f"planted-pair recall@1 = {recall}"


def test_lsh_topk_agrees_with_brute_force_on_candidates(planted):
    """Within the probed candidate set the re-rank is exact: every LSH
    result at rank r must score >= the brute-force result at rank r only
    if the brute-force one was probed; the planted pair itself must agree."""
    emb, qdf = planted
    brute = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in brute_force_topk(emb, qdf, k=1).collect()
    }
    lsh = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in lsh_topk(emb, qdf, dim=DIM, k=1, n_planes=8, probe_radius=2).collect()
    }
    agree = sum(1 for k in brute if lsh.get(k) == brute[k])
    assert agree / len(brute) >= 0.9


def test_lsh_plan_single_bucket_equijoin(planted):
    """The candidate lookup must be ONE broadcast equi-join on the bucket
    id — no cartesian product, no sort-merge join."""
    emb, qdf = planted
    plan = lsh_topk(emb, qdf, dim=DIM, k=5, n_planes=8, probe_radius=1)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_topk_recall_and_exhaustive_equivalence(planted):
    from delm_spark.operators.similarity import ivf_topk

    emb, qdf = planted
    # probing EVERY cell must reproduce brute force exactly
    exact = brute_force_topk(emb, qdf, k=5).select("query_id", "vec_id", "rank")
    full = ivf_topk(emb, qdf, n_centroids=8, nprobe=8, k=5).select(
        "query_id", "vec_id", "rank"
    )
    assert sorted(exact.collect()) == sorted(full.collect())

    # real ANN setting: planted near-dup (cos ~0.98) recovered at rank 1
    # for most queries even probing 2 of 8 cells
    ann = ivf_topk(emb, qdf, n_centroids=8, nprobe=2, k=5)
    hits = ann.filter(
        (F.col("rank") == 1) & (F.col("vec_id") == F.col("query_id"))
    ).count()
    assert hits >= 16  # >= 80% of the 20 planted pairs


def test_ivf_assignment_is_deterministic(planted):
    from delm_spark.operators.similarity import ivf_assign, ivf_centroids

    emb, _ = planted
    c = ivf_centroids(emb, 8)
    a1 = sorted(ivf_assign(emb, c).select("vec_id", "__cell").collect())
    a2 = sorted(ivf_assign(emb, c).select("vec_id", "__cell").collect())
    assert a1 == a2
    cells = {r["__cell"] for r in a1}
    assert cells <= {r["centroid_id"] for r in c.collect()}


# ------------------------------------------------------ product quantization


def _pq_vecs(spark, n=120, dim=16):
    rows = [
        (i, [float(((i * 7 + j * 5) % 23) - 11) / 11.0 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_encode_codes_in_range_and_deterministic(spark):
    from delm_spark.operators.quantize import pq_codebooks, pq_encode

    emb = _pq_vecs(spark)
    books = pq_codebooks(emb, m=4, k=8, dim=16)
    assert books.count() == 4 * 8
    enc = pq_encode(emb, books, m=4, dim=16)
    rows = enc.collect()
    assert len(rows) == 120 * 4  # one code per (vector, subspace)
    assert all(0 <= r["code"] < 8 for r in rows)
    again = sorted(map(tuple, pq_encode(emb, books, m=4, dim=16).collect()))
    assert sorted(map(tuple, rows)) == again


def test_pq_topk_self_query_rank1(spark):
    from delm_spark.operators.quantize import pq_topk

    emb = _pq_vecs(spark)
    qs = emb.filter("vec_id IN (0, 5)").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    out = pq_topk(emb, qs, m=4, k_codes=8, k=5, refine=4, dim=16)
    top1 = {r["query_id"]: r["vec_id"] for r in out.filter("rank = 1").collect()}
    # exact re-rank puts the query's own vector (cosine 1.0) first
    assert top1 == {0: 0, 5: 5}


def test_pq_topk_full_refine_equals_brute_force(spark):
    """With refine*k >= N every vector reaches the exact re-rank, so PQ
    degrades to brute force exactly — the same invariant pinning as
    ivf nprobe=all."""
    from delm_spark.operators.quantize import pq_topk
    from delm_spark.operators.similarity import brute_force_topk

    emb = _pq_vecs(spark)
    qs = emb.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    pq = pq_topk(emb, qs, m=4, k_codes=8, k=5, refine=24, dim=16)  # 24*5 >= 120
    bf = brute_force_topk(emb, qs, k=5).select("query_id", "vec_id", "rank")
    a = sorted(map(tuple, pq.collect()))
    b = sorted(map(tuple, bf.collect()))
    assert a == b


def test_pq_encode_fast_identical_to_catalyst(spark):
    """The Arrow/numpy encode twin must reproduce the catalyst path
    bit-for-bit (same index-order arithmetic, same nano-unit rounding,
    same first-occurrence tie-break)."""
    from delm_spark.operators.quantize import (
        pq_codebooks,
        pq_encode,
        pq_encode_fast,
    )

    emb = _pq_vecs(spark, n=200, dim=16)
    books = pq_codebooks(emb, m=4, k=8, dim=16)
    slow = sorted(map(tuple, pq_encode(emb, books, m=4, dim=16).collect()))
    fast = sorted(map(tuple, pq_encode_fast(emb, books, m=4, dim=16).collect()))
    assert slow == fast


def test_pq_encode_fast_identical_at_production_d_sub(spark):
    """ADVICE r4: at the production defaults (dim=64, m=8 -> d_sub=8)
    numpy's axis-sum switches to its 8-accumulator tree, which diverges
    from a sequential fold in the last ulp — the kernel must accumulate
    per-dimension diffs in explicit index order. Pin bit-identity at
    d_sub=8, where the old arithmetic could flip a rounded nano-unit."""
    from delm_spark.operators.quantize import (
        pq_codebooks,
        pq_encode,
        pq_encode_fast,
    )

    emb = _pq_vecs(spark, n=200, dim=64)
    books = pq_codebooks(emb, m=8, k=16, dim=64)
    slow = sorted(map(tuple, pq_encode(emb, books, m=8, dim=64).collect()))
    fast = sorted(map(tuple, pq_encode_fast(emb, books, m=8, dim=64).collect()))
    assert slow == fast


def test_pq_encode_fast_packed_matches_unpacked(spark):
    from delm_spark.operators.quantize import pq_codebooks, pq_encode_fast

    emb = _pq_vecs(spark, n=150, dim=64)
    books = pq_codebooks(emb, m=8, k=16, dim=64)
    flat = pq_encode_fast(emb, books, m=8, dim=64).collect()
    want = {}
    for r in flat:
        want.setdefault(r["vec_id"], [0] * 8)[r["subspace"]] = r["code"]
    packed = pq_encode_fast(emb, books, m=8, dim=64, packed=True).collect()
    got = {r["vec_id"]: list(r["__codes"]) for r in packed}
    assert got == want


def test_pq_topk_fast_encode_matches_catalyst_path(spark):
    """The packed/native-ADC query path (fast_encode=True) must return
    the same ranks as the catalyst encode + pivot path."""
    from delm_spark.operators.quantize import pq_topk

    emb = _pq_vecs(spark, n=200, dim=64)
    qs = emb.filter("vec_id < 5").selectExpr("vec_id AS query_id", "embedding")
    slow = pq_topk(emb, qs, m=8, k_codes=16, k=5, refine=4, dim=64)
    fast = pq_topk(emb, qs, m=8, k_codes=16, k=5, refine=4, dim=64,
                   fast_encode=True)
    assert sorted(map(tuple, slow.collect())) == sorted(map(tuple, fast.collect()))


def test_pq_train_refines_and_stays_broadcast_sized(spark):
    from delm_spark.operators.quantize import pq_codebooks, pq_train

    emb = _pq_vecs(spark, n=200, dim=16)
    init = pq_codebooks(emb, m=4, k=8, dim=16)
    trained = pq_train(emb, m=4, k=8, iters=2, dim=16)
    assert trained.count() == init.count() == 4 * 8  # shape preserved
    # training moved at least some centers off their sampled init
    j = (
        init.withColumnRenamed("codevec", "a")
        .join(trained.withColumnRenamed("codevec", "b"), ["subspace", "code_id"])
    )
    moved = j.filter("a <> b").count()
    assert moved > 0
    # deterministic: same input -> same codebooks
    again = pq_train(emb, m=4, k=8, iters=2, dim=16)
    a = sorted(map(tuple, trained.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def _lsh_bucket_longhand(vec, dim, n_planes):
    """Reference: every hyperplane sign its own `F.lit` Column — the
    construction `lsh_bucket` replaced with one SQL-text array per plane."""
    from delm_spark.operators.similarity import dot, hyperplane_signs

    acc = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(s) for s in hyperplane_signs(dim, p)])
        bit = (dot(vec, plane) >= 0).cast("long")
        acc = acc + bit * F.lit(1 << p)
    return acc


def _optimized(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#N", plan)
    return re.sub(r"lambda (\w+?)_\d+", r"lambda \1_N", plan)


@pytest.mark.parametrize("plane_offset", [0, 8])
def test_lsh_bucket_matches_longhand_reference(spark, monkeypatch, plane_offset):
    """The SQL-text hyperplanes give the same optimized plan (modulo
    expression ids) and the same bucket per row as per-sign `F.lit`s, over
    1,500 seeded vectors plus the edge rows: zero vector (every dot is 0,
    every bit set), null vector and null element (null bucket), and -0.0
    components. `plane_offset` shifts both sides to another, independent
    hyperplane family."""
    import delm_spark.operators.similarity as sim
    from delm_spark.operators.similarity import lsh_bucket

    signs = sim.hyperplane_signs
    monkeypatch.setattr(
        sim, "hyperplane_signs", lambda dim, p: signs(dim, plane_offset + p)
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(1500)]
    neg_zero = [float(x) for x in rng.normal(size=DIM)]
    neg_zero[::3] = [-0.0] * len(neg_zero[::3])
    with_null = [float(x) for x in rng.normal(size=DIM)]
    with_null[5] = None
    rows += [
        (1500, [0.0] * DIM),
        (1501, None),
        (1502, with_null),
        (1503, [-0.0] * DIM),
        (1504, neg_zero),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = df.select("id", lsh_bucket(F.col("v"), DIM, 8).alias("b"))
    ref = df.select("id", _lsh_bucket_longhand(F.col("v"), DIM, 8).alias("b"))
    assert _optimized(got) == _optimized(ref)
    g = dict(got.collect())
    assert g == dict(ref.collect())
    assert g[1500] == g[1503] == 255
    assert g[1501] is None and g[1502] is None
    assert len(set(g.values())) > 100  # the planes actually split the space
