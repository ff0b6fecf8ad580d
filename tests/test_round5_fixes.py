"""Round-5 fixes: ADVICE r4 defects + VERDICT r4 performance-shape items
that carry a bit-identity contract."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_hashed_linear_score_null_and_empty_text(spark):
    """ADVICE r4: null-text docs must not vanish from hashed_linear_score
    output, and empty-string text must not score a phantom '' token."""
    from delm_spark.operators.curation import (
        hashed_linear_score,
        nb_logodds_weights,
    )

    df = spark.createDataFrame(
        [(1, "good text here", True), (2, None, False), (3, "", False),
         (4, "bad stuff", False)],
        "doc_id long, text string, y boolean",
    )
    w = nb_logodds_weights(df, F.col("y"), dim=64)
    # training never sees a phantom '' feature from the null/empty docs
    feats = {r["feature"] for r in w.collect()}
    assert len(feats) == 5  # good/text/here/bad/stuff only
    out = hashed_linear_score(df, w, dim=64).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert set(by_id) == {1, 2, 3, 4}  # every input doc has exactly one row
    for d in (2, 3):
        assert by_id[d]["n_tokens"] == 0
        assert by_id[d]["sum_weight_micro"] == 0
        assert by_id[d]["avg_weight_micro"] == 0
    assert by_id[1]["n_tokens"] == 3 and by_id[1]["sum_weight_micro"] > 0
    assert by_id[4]["n_tokens"] == 2 and by_id[4]["sum_weight_micro"] < 0


def test_near_dup_canonical_transitive_chain(spark):
    """A~B and B~C verified near-dups with A,C below the Jaccard
    threshold of each other must still share one canonical id (the
    component walk), and every doc gets exactly one row."""
    from delm_spark.operators.dedup import near_dup_canonical

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    a = base + "alpha beta gamma delta"
    b = base + "alpha beta gamma epsilon"   # near a
    c = base + "alpha zeta gamma epsilon"   # near b, farther from a
    rows = [(1, a), (2, b), (3, c), (4, "completely unrelated text about spark plans")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in near_dup_canonical(
        df, "text", "doc_id", k=16, bands=8, n=3, threshold=0.6
    ).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["canonical_id"] == out[2]["canonical_id"] == out[3]["canonical_id"] == 1
    assert out[1]["is_kept"] and not out[2]["is_kept"] and not out[3]["is_kept"]
    assert out[4]["canonical_id"] == 4 and out[4]["is_kept"]


def _lcs_dp(a: str, b: str) -> int:
    """O(n·m) LCS oracle for validating the bit-parallel kernel."""
    n = len(b)
    dp = [0] * (n + 1)
    for ch in a:
        prev = 0
        for j in range(n):
            cur = dp[j + 1]
            dp[j + 1] = prev + 1 if ch == b[j] else max(dp[j + 1], dp[j])
            prev = cur
    return dp[n]


def test_bitparallel_lcs_matches_dp():
    """Allison–Dix bit-parallel LCS == textbook DP, including patterns
    past 64 chars (Python-int bit vectors have no word-size ceiling)."""
    import random

    from delm_spark.operators.scoring import _lcs_len

    rng = random.Random(13)
    alpha = "abcd"
    for _ in range(500):
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
        pm: dict = {}
        for j, c in enumerate(a):
            pm[c] = pm.get(c, 0) | (1 << j)
        if not a:
            continue
        assert _lcs_len(pm, len(a), b) == _lcs_dp(a, b), (a, b)


def test_partial_ratio_exact_rapidfuzz_semantics():
    """_partial_ratio == the brute-force statement of rapidfuzz's
    partial_ratio (normalized Indel similarity maximized over every
    full-length window plus the edge prefixes/suffixes of the longer
    string), proving the boundary-character skip is lossless and the
    scoring matches the reference's rapidfuzz contract
    (scoring_strategies.py:106-111)."""
    import random

    from delm_spark.operators.scoring import _partial_ratio

    def brute(text: str, kw: str) -> float:
        if not kw or not text:
            return 0.0
        short, long_ = (kw, text) if len(kw) <= len(text) else (text, kw)
        l1, l2 = len(short), len(long_)
        cands = (
            [long_[:i] for i in range(1, l1)]
            + [long_[i : i + l1] for i in range(0, l2 - l1 + 1)]
            + [long_[i:] for i in range(l2 - l1 + 1, l2)]
        )
        return max(2.0 * _lcs_dp(short, w) / (l1 + len(w)) for w in cands)

    rng = random.Random(29)
    alpha = "abcde "
    for _ in range(800):
        t = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 40)))
        k = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 15)))
        assert abs(_partial_ratio(t, k) - brute(t, k)) < 1e-12, (t, k)
    # exact substring ==> perfect score; needle longer than haystack swaps
    assert _partial_ratio("hello spark table world", "spark table") == 1.0
    assert _partial_ratio("spark", "sparkling water") == _partial_ratio(
        "sparkling water", "spark"
    )
    assert _partial_ratio("", "x") == 0.0


def test_decode_image_malformed_jpeg_returns_none():
    """Review r5: a JPEG whose scan references an undeclared DQT/DHT id
    must decode to None (rows-with-null-pixels contract), not raise
    KeyError/AttributeError out of the Arrow scan."""
    import numpy as np

    from delm_spark.operators.image_codec import decode_image
    from delm_spark.operators.jpeg_codec import encode_jpeg

    good = bytearray(encode_jpeg(np.full((8, 8, 1), 128, np.uint8)))
    # corrupt the SOF0 component's quant-table id (tq 0 -> 1: undeclared)
    sof = good.find(b"\xff\xc0")
    assert sof > 0
    tq_off = sof + 2 + 8 + 2  # marker+len, P/Y/X/Nf, comp id + sampling
    assert good[tq_off] == 0
    good[tq_off] = 1
    assert decode_image(bytes(good)) is None


def test_label_propagation_keeps_self_loop_only_nodes(spark):
    """Review r5: a node whose every edge is a self-loop must come back
    as its own singleton community, not disappear from the output."""
    from delm_spark.kg.communities import label_propagation

    edges = spark.createDataFrame(
        # triangle (converges under synchronous LPA) + self-loop-only x
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "x")],
        "src string, dst string",
    )
    rows = {r["node"]: r for r in label_propagation(edges, iters=4).collect()}
    assert set(rows) == {"a", "b", "c", "x"}
    assert rows["x"]["community"] == "x" and rows["x"]["n_members"] == 1
    assert rows["a"]["community"] == rows["b"]["community"] == rows["c"]["community"]


def test_triple_provenance_custom_surface_columns(spark):
    """Review r5: n_surfaces counts the distinct (subj, obj) surface
    pairs, not the canonical ids."""
    from delm_spark.kg.analytics import triple_provenance

    triples = spark.createDataFrame(
        [
            ("e1", "works_at", "e2", "Alice", "Acme", "c1", 1),
            ("e1", "works_at", "e2", "alice smith", "Acme", "c2", 3),
        ],
        "subj_id string, pred string, obj_id string, subj string, "
        "obj string, conv_id string, turn_idx int",
    )
    row = triple_provenance(triples).collect()[0]
    assert row["n_support"] == 2
    assert row["n_surfaces"] == 2
    assert row["first_seen"] == "c1#000001"


def test_label_propagation_drops_null_endpoints(spark):
    """Review r5b: a null edge endpoint is a malformed row, not a node —
    it must not surface as a (node=null, community=null) output row."""
    from delm_spark.kg.communities import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("a", None), (None, "b")],
        "src string, dst string",
    )
    rows = {r["node"] for r in label_propagation(edges, iters=2).collect()}
    assert rows == {"a", "b"}


def test_jpeg_undeclared_table_raises_value_error():
    """Review r5b: undeclared DQT/DHT/component references must surface
    as the codec's documented ValueError (decode_image turns it into a
    null row), never a raw KeyError/AttributeError."""
    import numpy as np
    import pytest

    from delm_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    good = bytearray(encode_jpeg(np.full((8, 8, 1), 128, np.uint8)))
    sof = good.find(b"\xff\xc0")
    bad_q = bytearray(good)
    bad_q[sof + 2 + 8 + 2] = 1  # tq 0 -> undeclared 1
    with pytest.raises(ValueError, match="undeclared DQT"):
        decode_jpeg(bytes(bad_q))
    sos = good.find(b"\xff\xda")
    bad_h = bytearray(good)
    bad_h[sos + 2 + 2 + 2] = 0x33  # dc/ac table ids -> undeclared 3/3
    with pytest.raises(ValueError, match="undeclared DC DHT"):
        decode_jpeg(bytes(bad_h))
    bad_c = bytearray(good)
    bad_c[sos + 2 + 2 + 1] = 9  # scan component id -> unknown 9
    with pytest.raises(ValueError, match="unknown component"):
        decode_jpeg(bytes(bad_c))
