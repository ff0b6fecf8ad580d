"""Closed-form tests for the round-5 analytics family: tool-sequence
mining + entity timelines (kg/trajectory.py), deterministic random
walks (kg/walks.py), cardinality sketches (operators/sketch.py),
weighted ticket sampling and TF-IDF keywords. Oracle parity at sf0.001
lives in test_oracle_parity.py; these pin hand-computed values,
determinism under repartitioning, and estimator error bounds."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from delm_spark.kg.trajectory import entity_timeline, tool_sequences
from delm_spark.kg.walks import random_walks
from delm_spark.operators.sample import weighted_ticket_sample
from delm_spark.operators.search import tfidf_top_terms
from delm_spark.operators.sketch import (
    hll_alpha_micro,
    hll_cardinality,
    kmv_distinct,
)

# ----------------------------------------------------------- trajectory


def _transcripts(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, ts timestamp"
    ).withColumn("ts", F.coalesce("ts", F.timestamp_seconds(F.lit(0))))


def test_tool_sequences_bigrams_skip_non_tool_turns(spark):
    """user/assistant turns between tool turns do NOT break the chain;
    incomplete tail n-grams are dropped."""
    rows = [
        ("c1", 0, "tool", "search", None),
        ("c1", 1, "user", None, None),
        ("c1", 2, "tool", "fetch", None),
        ("c1", 3, "tool", "search", None),
        ("c2", 0, "tool", "search", None),
        ("c2", 1, "tool", "fetch", None),
    ]
    out = {
        r["tool_seq"]: (r["n_occurrences"], r["n_convs"])
        for r in tool_sequences(_transcripts(spark, rows), n=2).collect()
    }
    assert out == {"search>fetch": (2, 2), "fetch>search": (1, 1)}


def test_tool_sequences_min_support_and_unigrams(spark):
    rows = [
        ("c1", 0, "tool", "a", None),
        ("c1", 1, "tool", "b", None),
        ("c2", 0, "tool", "a", None),
    ]
    t = _transcripts(spark, rows)
    uni = {r["tool_seq"]: r["n_convs"] for r in tool_sequences(t, n=1).collect()}
    assert uni == {"a": 2, "b": 1}
    with pytest.raises(ValueError):
        tool_sequences(t, n=0)


def test_entity_timeline_closed_form(spark):
    triples = spark.createDataFrame(
        [
            ("c1", 0, "e:a", "e:b"),
            ("c1", 1, "e:a", "e:c"),
            ("c2", 0, "e:a", "e:b"),
        ],
        "conv_id string, turn_idx int, subj_id string, obj_id string",
    )
    trans = spark.createDataFrame(
        [
            ("c1", 0, 100),
            ("c1", 1, 200),
            ("c2", 0, 50),
        ],
        "conv_id string, turn_idx int, epoch long",
    ).select("conv_id", "turn_idx", F.timestamp_seconds("epoch").alias("ts"))
    out = {
        r["entity"]: (
            r["n_mentions"], r["n_convs"], r["first_ts"], r["last_ts"], r["span_sec"]
        )
        for r in entity_timeline(triples, trans).collect()
    }
    assert out == {
        "e:a": (3, 2, 50, 200, 150),
        "e:b": (2, 2, 50, 100, 50),
        "e:c": (1, 1, 200, 200, 0),
    }


# ----------------------------------------------------------------- walks


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_random_walks_shape_and_validity(spark):
    """Every node starts one walk of length+1 nodes; every hop follows a
    real (symmetrized) edge; self-loops are dropped up front."""
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "a")]
    out = random_walks(_edges(spark, pairs), length=3, seed="t").collect()
    assert len(out) == 4
    adj = set()
    for s, d in pairs:
        if s != d:
            adj |= {(s, d), (d, s)}
    for r in out:
        nodes = r["path"].split(">")
        assert len(nodes) == 4 and nodes[0] == r["walk_id"]
        assert nodes[-1] == r["end_node"]
        for u, v in zip(nodes, nodes[1:]):
            assert (u, v) in adj


def test_random_walks_deterministic_hop_matches_hash(spark):
    """Walk from the two-neighbor node picks the md5-argmin neighbor —
    recompute the hash rule in Python and compare hop 1."""
    pairs = [("x", "y"), ("x", "z")]
    out = {
        r["walk_id"]: r["path"]
        for r in random_walks(_edges(spark, pairs), length=1, seed="s").collect()
    }
    nxt = min(
        ["y", "z"],
        key=lambda v: hashlib.md5(f"x>{v}#1|s".encode()).hexdigest(),
    )
    assert out["x"] == f"x>{nxt}"
    # degree-1 nodes must walk back to their only neighbor
    assert out["y"] == "y>x" and out["z"] == "z>x"


def test_random_walks_partitioning_independent(spark):
    pairs = [(f"n{i}", f"n{(i * 7 + 1) % 20}") for i in range(40)]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, random_walks(e, length=4).collect()))
    b = sorted(map(tuple, random_walks(e.repartition(13), length=4).collect()))
    assert a == b
    with pytest.raises(ValueError):
        random_walks(e, length=0)


# ---------------------------------------------------------------- sketch


def test_kmv_exact_below_k(spark):
    df = spark.range(100).select(F.col("id").alias("v"))
    row = kmv_distinct(df, "v", k=256).collect()[0]
    assert row["k_used"] == 100 and row["est_distinct"] == 100


def test_kmv_estimate_within_bound(spark):
    """Relative error of KMV at k=256 is ~1/sqrt(k-2) ≈ 6.3%; assert a
    generous 4-sigma bound on 20k distinct values."""
    n = 20_000
    df = spark.range(n).select(F.concat(F.lit("u"), "id").alias("v"))
    est = kmv_distinct(df, "v", k=256).collect()[0]["est_distinct"]
    assert abs(est - n) / n < 0.25
    with pytest.raises(ValueError):
        kmv_distinct(df, "v", k=1)


def test_kmv_duplicates_do_not_inflate(spark):
    df = spark.range(5000).select((F.col("id") % 50).cast("string").alias("v"))
    row = kmv_distinct(df, "v", k=256).collect()[0]
    assert row["k_used"] == 50 and row["est_distinct"] == 50


def test_hll_small_range_linear_counting(spark):
    """30 distinct of 256 registers → linear-counting branch, which is
    near-exact at this load factor."""
    df = spark.range(30).select(F.concat(F.lit("x"), "id").alias("v"))
    row = hll_cardinality(df, "v").collect()[0]
    assert row["m"] == 256
    assert abs(row["est_distinct"] - 30) <= 3


def test_hll_estimate_within_bound(spark):
    """HLL sigma at m=256 is 1.04/16 = 6.5%; assert 4 sigma on 50k."""
    n = 50_000
    df = spark.range(n).select(F.concat(F.lit("y"), "id").alias("v"))
    row = hll_cardinality(df, "v").collect()[0]
    assert abs(row["est_distinct"] - n) / n < 0.26


def test_hll_register_math_matches_python(spark):
    """Recompute registers, harmonic sum and estimate in pure Python."""
    vals = [f"k{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    row = hll_cardinality(df, "v").collect()[0]
    m, regs = 256, {}
    for v in vals:
        h = hashlib.md5(v.encode()).hexdigest()
        reg, rem = int(h[:2], 16), int(h[2:8], 16)
        rho = 25 if rem == 0 else 25 - rem.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    s = sum(1 << (25 - M) for M in regs.values()) + (m - len(regs)) * (1 << 25)
    assert row["n_used"] == len(regs) and row["s_scaled"] == s
    raw = hll_alpha_micro(m) * m * m * (1 << 25) // s
    n_empty = m - len(regs)
    if n_empty > 0 and raw * 2 <= 5_000_000 * m:
        lc = m * (
            math.floor(math.log(m) * 1e6 + 0.5)
            - math.floor(math.log(n_empty) * 1e6 + 0.5)
        )
        assert row["est_distinct"] == lc // 1_000_000
    else:
        assert row["est_distinct"] == raw // 1_000_000


# --------------------------------------------------- weighted sampling


def test_weighted_sample_deterministic_and_clamped(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 200).alias("w")
    )
    a = weighted_ticket_sample(df, 20, "doc_id", F.col("w"), max_weight=8)
    b = weighted_ticket_sample(
        df.repartition(17), 20, "doc_id", F.col("w"), max_weight=8
    )
    ra, rb = a.collect(), b.collect()
    assert [tuple(r) for r in ra] == [tuple(r) for r in rb]
    assert len(ra) == 20
    assert all(1 <= r["weight_used"] <= 8 for r in ra)
    # recompute one row's priority: min of w md5 tickets
    r0 = ra[0]
    tickets = [
        hashlib.md5(f"{r0['doc_id']}#{i}".encode()).hexdigest()
        for i in range(1, r0["weight_used"] + 1)
    ]
    assert r0["priority"] == min(tickets)


def test_weighted_sample_monotone_in_weight(spark):
    """Heavier rows must be overrepresented: ids 0..499 weight 8, ids
    500..999 weight 1 → the 100-row sample should skew heavy ~8:1."""
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 500, 8).otherwise(1).alias("w"),
    )
    out = weighted_ticket_sample(df, 100, "doc_id", F.col("w")).collect()
    heavy = sum(1 for r in out if r["doc_id"] < 500)
    assert heavy > 65  # E[heavy] ≈ 89 under the 8:1 ticket ratio
    with pytest.raises(ValueError):
        weighted_ticket_sample(df, 0, "doc_id", F.col("w"))


# ----------------------------------------------------------------- tfidf


def test_tfidf_top_terms_closed_form(spark):
    """3-doc corpus: 'rare' appears in 1 doc, 'common' in all 3 (idf 0),
    scores recomputed in Python micronats."""
    docs = spark.createDataFrame(
        [
            (1, "common rare rare"),
            (2, "common common other"),
            (3, "common other"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, top_n=2).collect()
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["max_tf"], r["tfidf_micro"])
        for r in out
    }
    ln = lambda c: math.floor(math.log(c) * 1e6 + 0.5)  # noqa: E731
    assert got[(1, "rare")] == (2, 1, 2, 2 * (ln(3) - ln(1)))
    assert got[(2, "other")] == (1, 2, 1, ln(3) - ln(2))
    assert got[(1, "common")] == (1, 3, 2, 0)
    # top_n=2 → at most 2 rows per doc, ties broken by term asc
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["term"])
    assert all(len(v) <= 2 for v in per_doc.values())
    with pytest.raises(ValueError):
        tfidf_top_terms(docs, top_n=0)


# ------------------------------------------------------------- bigram LM


def test_bigram_lm_closed_form(spark):
    """2-doc corpus, vocab covers everything (no <unk>): recompute the
    add-one-smoothed surprisals in Python micronats."""
    import math

    from delm_spark.operators.curation import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "x"), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: tuple(r)[1:] for r in bigram_lm_score(docs, vocab_size=30).collect()}
    ln = lambda c: math.floor(math.log(c) * 1e6 + 0.5)  # noqa: E731
    V = 31
    # bigrams: doc1 = (a,b),(b,a),(a,b); doc2 = (a,a)
    # history counts: c(a) = 3 (two a->b + one a->a), c(b) = 1
    s_ab = ln(3 + V) - ln(2 + 1)
    s_ba = ln(1 + V) - ln(1 + 1)
    s_aa = ln(3 + V) - ln(1 + 1)
    assert out[1] == (3, s_ab * 2 + s_ba, (s_ab * 2 + s_ba) // 3)
    assert out[2] == (1, s_aa, s_aa)
    # single-token and null docs keep zero rows
    assert out[3] == (0, 0, 0) and out[4] == (0, 0, 0)


def test_bigram_lm_unk_mapping(spark):
    """vocab_size=1 keeps only the most frequent token; everything else
    becomes one shared <unk> history."""
    from delm_spark.operators.curation import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "z q z"), (2, "z r z")], "doc_id long, text string"
    )
    out = bigram_lm_score(docs, vocab_size=1).collect()
    # mapped streams: z <unk> z twice -> both docs identical scores
    rows = {r["doc_id"]: (r["n_bigrams"], r["sum_surprisal_micro"]) for r in out}
    assert rows[1] == rows[2] and rows[1][0] == 2


def test_cms_one_sided_and_exact_when_sparse(spark):
    """Estimates never undercount; with width >> keys and no collisions
    the estimate is exact."""
    from delm_spark.operators.sketch import cms_estimate_counts

    rows = [("a",)] * 7 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    got = {
        r["key"]: r["est_count"]
        for r in cms_estimate_counts(df, "k", depth=4, width=4096).collect()
    }
    assert got == {"a": 7, "b": 3, "c": 1}


def test_cms_collisions_only_overcount(spark):
    """width=2 forces collisions: every estimate >= truth, and the
    total overcount is bounded by the sketch guarantee shape."""
    from delm_spark.operators.sketch import cms_estimate_counts

    truth = {f"k{i}": i + 1 for i in range(8)}
    rows = [(k,) for k, n in truth.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "k string")
    got = {
        r["key"]: r["est_count"]
        for r in cms_estimate_counts(df, "k", depth=4, width=2).collect()
    }
    assert set(got) == set(truth)
    assert all(got[k] >= truth[k] for k in truth)


def test_cms_python_replica(spark):
    """Recompute the salted bucket hashes, cell table and per-key min in
    pure Python — the sketch is a pure function of the input."""
    from delm_spark.operators.sketch import cms_estimate_counts, count_min_table

    vals = [f"u{i % 11}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    depth, width = 3, 8
    cells = {}
    for v in vals:
        for j in range(depth):
            h = hashlib.md5(f"cm{j}|{v}".encode()).hexdigest()
            b = int(h[:12], 16) % width
            cells[(j, b)] = cells.get((j, b), 0) + 1
    got_cells = {
        (r["depth_row"], r["bucket"]): r["cell_count"]
        for r in count_min_table(df, "k", depth=depth, width=width).collect()
    }
    assert got_cells == cells
    expected = {}
    for v in set(vals):
        expected[v] = min(
            cells[(j, int(hashlib.md5(f"cm{j}|{v}".encode()).hexdigest()[:12], 16) % width)]
            for j in range(depth)
        )
    got = {
        r["key"]: r["est_count"]
        for r in cms_estimate_counts(df, "k", depth=depth, width=width).collect()
    }
    assert got == expected


def test_cms_mergeable_and_validation(spark):
    """Sketch of a union == cell-wise sum of the parts' sketches (the
    mergeability contract), and bad params raise."""
    import pytest as _pytest

    from delm_spark.operators.sketch import count_min_table

    a = spark.createDataFrame([(f"x{i % 5}",) for i in range(40)], "k string")
    b = spark.createDataFrame([(f"x{i % 9}",) for i in range(50)], "k string")
    t_union = {
        (r["depth_row"], r["bucket"]): r["cell_count"]
        for r in count_min_table(a.unionByName(b), "k", 4, 16).collect()
    }
    t_a = {
        (r["depth_row"], r["bucket"]): r["cell_count"]
        for r in count_min_table(a, "k", 4, 16).collect()
    }
    t_b = {
        (r["depth_row"], r["bucket"]): r["cell_count"]
        for r in count_min_table(b, "k", 4, 16).collect()
    }
    merged = {
        c: t_a.get(c, 0) + t_b.get(c, 0) for c in set(t_a) | set(t_b)
    }
    assert t_union == merged
    with _pytest.raises(ValueError):
        count_min_table(a, "k", depth=0)
    with _pytest.raises(ValueError):
        count_min_table(a, "k", width=1)


# ------------------------------------------------------- integrity gate


def _tconv(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )


def test_transcript_integrity_dispositions(spark):
    from datetime import datetime

    from delm_spark.kg.trajectory import transcript_integrity

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    t1 = datetime(2024, 1, 1, 12, 5, 0)
    t2 = datetime(2024, 1, 1, 12, 10, 0)
    rows = [
        # ok: alternating roles, increasing ts, dense indices
        ("ok", 0, "user", "hi", None, t0),
        ("ok", 1, "agent", "hello", "search", t1),
        # dup: turn 0 twice (also a gap at 1, but dup wins the severity order)
        ("dup", 0, "user", "a", None, t0),
        ("dup", 0, "agent", "b", None, t1),
        ("dup", 2, "user", "c", None, t2),
        # gap: indices 0, 2
        ("gap", 0, "user", "a", None, t0),
        ("gap", 2, "agent", "b", None, t1),
        # tsrev: ts goes backwards
        ("tsrev", 0, "user", "a", None, t1),
        ("tsrev", 1, "agent", "b", None, t0),
        # rr: same role twice
        ("rr", 0, "user", "a", None, t0),
        ("rr", 1, "user", "b", None, t1),
        # emp: blank text
        ("emp", 0, "user", "  ", None, t0),
        ("emp", 1, "agent", "b", None, t1),
    ]
    got = {
        r["conv_id"]: r
        for r in transcript_integrity(_tconv(spark, rows)).collect()
    }
    assert got["ok"]["disposition"] == "ok"
    assert got["ok"]["n_tool_turns"] == 1
    assert got["dup"]["disposition"] == "dup_turn_idx"
    assert got["dup"]["n_dup_turn_idx"] == 1
    assert got["dup"]["n_gap_turn_idx"] == 1  # index 1 missing
    assert got["gap"]["disposition"] == "gap_turn_idx"
    assert got["gap"]["n_gap_turn_idx"] == 1
    assert got["tsrev"]["disposition"] == "ts_regression"
    assert got["tsrev"]["n_ts_regressions"] == 1
    assert got["rr"]["disposition"] == "role_repeat"
    assert got["rr"]["n_role_repeats"] == 1
    assert got["emp"]["disposition"] == "empty_text"
    assert got["emp"]["n_empty_text"] == 1


def test_transcript_integrity_partition_invariant(spark):
    """Counts are stable under repartitioning (the window is the only
    order-sensitive construct and its key is a total order)."""
    from datetime import datetime

    from delm_spark.kg.trajectory import transcript_integrity

    t0 = datetime(2024, 1, 1)
    rows = [
        (f"c{i}", j, "user" if (i + j) % 2 == 0 else "agent",
         f"t{j}", None, t0)
        for i in range(20)
        for j in range(5)
    ]
    df = _tconv(spark, rows)
    a = sorted(map(tuple, transcript_integrity(df).collect()))
    b = sorted(map(tuple, transcript_integrity(df.repartition(17)).collect()))
    assert a == b


# ------------------------------------------------- context / latency


def test_context_windows_hand_values(spark):
    from datetime import datetime

    from delm_spark.kg.trajectory import context_windows

    t = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("c", 0, "user", "q1", None, t),
        ("c", 1, "assistant", "a1", None, t),
        ("c", 2, "user", None, None, t),   # null text renders as 'user: '
        ("c", 3, "assistant", "a2", None, t),
    ]
    got = {
        r["turn_idx"]: r
        for r in context_windows(_tconv(spark, rows), k=2).collect()
    }
    assert got[0]["context"] == "" and got[0]["n_context_turns"] == 0
    assert got[1]["context"] == "user: q1" and got[1]["n_context_turns"] == 1
    assert got[2]["context"] == "user: q1\nassistant: a1"
    assert got[3]["context"] == "assistant: a1\nuser: "
    assert got[3]["n_context_turns"] == 2
    with __import__("pytest").raises(ValueError):
        context_windows(_tconv(spark, rows), k=0)


def test_context_windows_partition_invariant(spark):
    from datetime import datetime

    from delm_spark.kg.trajectory import context_windows

    t0 = datetime(2024, 1, 1)
    rows = [
        (f"c{i}", j, "user" if j % 2 == 0 else "assistant",
         f"text {i} {j}", None, t0)
        for i in range(10)
        for j in range(6)
    ]
    df = _tconv(spark, rows)
    a = sorted(map(tuple, context_windows(df).collect()))
    b = sorted(map(tuple, context_windows(df.repartition(13)).collect()))
    assert a == b


def test_turn_latency_hand_values(spark):
    from datetime import datetime

    from delm_spark.kg.trajectory import turn_latency

    rows = [
        ("c", 0, "user", "q", None, datetime(2024, 1, 1, 12, 0, 0)),
        ("c", 1, "assistant", "a", None, datetime(2024, 1, 1, 12, 0, 30)),
        ("c", 2, "user", "q", None, datetime(2024, 1, 1, 12, 2, 30)),
        ("c", 3, "assistant", "a", None, datetime(2024, 1, 1, 12, 3, 0)),
        # single-turn conversation: all latencies empty -> zeros
        ("solo", 0, "user", "hi", None, datetime(2024, 1, 1)),
    ]
    got = {r["conv_id"]: r for r in turn_latency(_tconv(spark, rows)).collect()}
    c = got["c"]
    assert c["n_turns"] == 4
    assert c["span_sec"] == 180
    assert c["sum_latency_sec"] == 180          # 30 + 120 + 30
    assert c["max_latency_sec"] == 120
    assert c["asst_n"] == 2
    assert c["asst_sum_latency_sec"] == 60      # 30 + 30
    assert c["asst_max_latency_sec"] == 30
    s = got["solo"]
    assert s["n_turns"] == 1 and s["span_sec"] == 0
    assert s["sum_latency_sec"] == 0 and s["asst_n"] == 0
