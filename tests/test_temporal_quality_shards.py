"""Unit tests for the round-4 extension operators: as-of join
(operators/temporal.py), KG consistency checks (kg/quality.py),
semantic dedup (similarity.semantic_dedup), the hashed linear quality
classifier (curation.nb_logodds_weights/hashed_linear_score), and the
deterministic shard shuffle (packing.shard_assign/write_shards)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def _ts(s: str):
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------- asof join


def _asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),  # exact-tie match
            (2, 10, _ts("2024-01-01 12:00:00")),  # normal backward match
            (3, 10, _ts("2024-01-01 09:00:00")),  # before any right row
            (4, 20, _ts("2024-01-01 10:30:00")),  # stale (tolerance)
            (5, 30, _ts("2024-01-01 10:00:00")),  # key absent on right
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01 10:00:00")),
            (101, 10, _ts("2024-01-01 11:00:00")),
            (200, 20, _ts("2024-01-01 08:00:00")),
        ],
        "click_id long, user_id long, ts timestamp",
    )
    return left, right


def test_asof_join_backward_inclusive_with_tolerance(spark):
    from delm_spark.operators.temporal import asof_join

    left, right = _asof_frames(spark)
    out = asof_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_id"],
        tolerance_sec=3600,
    )
    got = {r["event_id"]: r["click_id_asof"] for r in out.collect()}
    assert got == {1: 100, 2: 101, 3: None, 4: None, 5: None}
    # matched right timestamp rides along
    ts_map = {r["event_id"]: r["ts_asof"] for r in out.collect()}
    assert ts_map[2] == _ts("2024-01-01 11:00:00")
    assert ts_map[3] is None and ts_map[4] is None


def test_asof_join_no_tolerance_keeps_stale(spark):
    from delm_spark.operators.temporal import asof_join

    left, right = _asof_frames(spark)
    out = asof_join(
        left, right, ["user_id"], "ts", "ts", ["click_id"], tolerance_sec=None
    )
    got = {r["event_id"]: r["click_id_asof"] for r in out.collect()}
    assert got[4] == 200  # 2.5h old, kept without tolerance


def test_asof_join_left_rowcount_preserved(spark):
    from delm_spark.operators.temporal import asof_join

    left, right = _asof_frames(spark)
    out = asof_join(left, right, ["user_id"], "ts", "ts", ["click_id"])
    assert out.count() == left.count()
    assert set(out.columns) == set(left.columns) | {"ts_asof", "click_id_asof"}


def test_dedupe_right_greatest_tiebreak(spark):
    from delm_spark.operators.temporal import dedupe_right

    right = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),
            (9, 10, _ts("2024-01-01 10:00:00")),
            (5, 10, _ts("2024-01-01 11:00:00")),
        ],
        "click_id long, user_id long, ts timestamp",
    )
    out = dedupe_right(right, ["user_id"], "ts", "click_id").collect()
    assert sorted(r["click_id"] for r in out) == [5, 9]


# -------------------------------------------------------- consistency checks


def test_consistency_report_counts(spark):
    from delm_spark.kg.quality import consistency_report

    triples = spark.createDataFrame(
        [
            # functional violation: alice works_at two orgs
            ("e:alice", "works_at", "e:acme"),
            ("e:alice", "works_at", "e:globex"),
            # duplicate triple (one extra copy)
            ("e:bob", "created", "e:report"),
            ("e:bob", "created", "e:report"),
            # self loop
            ("e:carol", "reports_to", "e:carol"),
            # unresolved endpoints
            ("mention:dave", "works_at", "e:acme"),
            ("e:erin", "uses_tool", "mention:spark"),
            # malformed: null object; also an all-null functional group
            # that must NOT subtract from real violations
            ("e:frank", "works_at", None),
        ],
        "subj_id string, pred string, obj_id string",
    )
    got = {
        r["check_name"]: r["n_violations"]
        for r in consistency_report(triples).collect()
    }
    assert got == {
        "self_loop": 1,
        "duplicate_triple": 1,
        "unresolved_subj": 1,
        "unresolved_obj": 1,
        "functional_violation": 1,
        "null_endpoint": 1,
    }


def test_consistency_report_clean_build_reports_zeros(spark):
    from delm_spark.kg.quality import consistency_report

    triples = spark.createDataFrame(
        [("e:a", "created", "e:b")], "subj_id string, pred string, obj_id string"
    )
    rows = consistency_report(triples).collect()
    assert len(rows) == 6
    assert all(r["n_violations"] == 0 for r in rows)


def test_functional_violations_drilldown(spark):
    from delm_spark.kg.quality import functional_violations

    triples = spark.createDataFrame(
        [
            ("e:alice", "works_at", "e:acme"),
            ("e:alice", "works_at", "e:globex"),
            ("e:alice", "works_at", "e:acme"),  # dup copy: still 2 distinct
            ("e:bob", "works_at", "e:acme"),
        ],
        "subj_id string, pred string, obj_id string",
    )
    rows = functional_violations(triples).collect()
    assert len(rows) == 1
    assert rows[0]["subj_id"] == "e:alice" and rows[0]["n_objects"] == 2


# ------------------------------------------------------------ semantic dedup


def test_semantic_dedup_marks_planted_copies(spark):
    from delm_spark.operators.similarity import semantic_dedup

    base = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(40)]
    # planted exact copies with later ids: must be flagged, originals kept
    planted = [(i + 1000, v) for i, v in base[:10]]
    df = spark.createDataFrame(base + planted, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_clusters=4, threshold=0.999999)
    dup_ids = {r["vec_id"] for r in out.filter("is_dup").collect()}
    # every planted copy shares a cluster with its identical original
    # (identical vectors assign identically), so all 10 are caught
    assert {i + 1000 for i in range(10)} <= dup_ids
    # originals of the planted set are never marked by their own copies
    kept = {r["vec_id"] for r in out.filter("NOT is_dup").collect()}
    assert 0 in kept
    assert out.count() == 50


def test_semantic_dedup_deterministic(spark):
    from delm_spark.operators.similarity import semantic_dedup

    rows = [(i, [float((i * 5 + j) % 7 - 3) for j in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, semantic_dedup(df, 4, 0.99).collect()))
    b = sorted(map(tuple, semantic_dedup(df, 4, 0.99).collect()))
    assert a == b


# ------------------------------------------------- hashed linear classifier


def test_nb_logodds_weights_sign(spark):
    from delm_spark.operators.curation import nb_logodds_weights

    docs = spark.createDataFrame(
        [
            (1, "good good good clean", True),
            (2, "good clean text", True),
            (3, "spam spam spam junk", False),
            (4, "junk spam noise", False),
        ],
        "doc_id long, text string, label boolean",
    )
    w = nb_logodds_weights(docs, F.col("label"), dim=64)
    wm = {r["feature"]: r["weight_micro"] for r in w.collect()}
    from delm_spark.operators.curation import hashed_features

    feat = {
        t: docs.sparkSession.range(1)
        .select(hashed_features(F.lit(t), 64).alias("f"))
        .collect()[0]["f"]
        for t in ["good", "spam"]
    }
    assert wm[feat["good"]] > 0  # positive-class token
    assert wm[feat["spam"]] < 0  # negative-class token


def test_hashed_linear_score_separates_classes(spark):
    from delm_spark.operators.curation import (
        hashed_linear_score,
        nb_logodds_weights,
    )

    docs = spark.createDataFrame(
        [
            (1, "good clean text here", True),
            (2, "excellent good clean prose", True),
            (3, "spam junk noise garbage", False),
            (4, "junk junk spam noise", False),
        ],
        "doc_id long, text string, label boolean",
    )
    w = nb_logodds_weights(docs, F.col("label"), dim=256)
    scored = {
        r["doc_id"]: r["avg_weight_micro"]
        for r in hashed_linear_score(docs, w, dim=256).collect()
    }
    assert scored[1] > 0 and scored[2] > 0
    assert scored[3] < 0 and scored[4] < 0


def test_hashed_linear_score_token_counts_and_unseen_zero(spark):
    from delm_spark.operators.curation import hashed_linear_score

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    empty_w = spark.createDataFrame([], "feature long, weight_micro long")
    row = hashed_linear_score(docs, empty_w, dim=64).collect()[0]
    assert row["n_tokens"] == 3
    assert row["sum_weight_micro"] == 0 and row["avg_weight_micro"] == 0


# ------------------------------------------------------------- shard shuffle


def test_shard_assign_partitions_and_positions(spark):
    from delm_spark.operators.packing import shard_assign

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    out = shard_assign(df, "doc_id", n_shards=8).collect()
    assert len(out) == 500
    assert all(0 <= r["shard"] < 8 for r in out)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), f"shard {shard} gaps"


def test_shard_assign_deterministic_and_epoch_reshuffles(spark):
    from delm_spark.operators.packing import shard_assign

    df = spark.range(300).withColumnRenamed("id", "doc_id")
    a = sorted(map(tuple, shard_assign(df, "doc_id", 4).collect()))
    b = sorted(map(tuple, shard_assign(df, "doc_id", 4).collect()))
    assert a == b  # rerun-stable
    # order within a shard is decorrelated from id order
    first = [t for t in a if t[1] == a[0][1]]
    ids_in_pos_order = [t[0] for t in sorted(first, key=lambda t: t[2])]
    assert ids_in_pos_order != sorted(ids_in_pos_order)


def test_write_shards_layout_and_order(spark, tmp_path):
    from delm_spark.operators.packing import write_shards

    df = spark.range(200).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.concat(F.lit("doc-"), F.col("doc_id"))
    )
    path = str(tmp_path / "shards")
    write_shards(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 200
    assert {r["shard"] for r in back.select("shard").distinct().collect()} == set(
        range(8)
    )
    # within each shard directory the rows are physically in shard_pos order
    import pyarrow.parquet as pq
    from pathlib import Path

    for d in Path(path).glob("shard=*"):
        for f in d.glob("*.parquet"):
            poss = pq.read_table(f, columns=["shard_pos"])["shard_pos"].to_pylist()
            assert poss == sorted(poss)


# ------------------------------------------------------- transcript curation


def _mk_turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )


def test_assemble_conversations_order_and_counters(spark):
    from delm_spark.curate import assemble_conversations

    turns = _mk_turns(
        spark,
        [
            ("c1", 1, "assistant", "second"),
            ("c1", 0, "user", "first"),
            ("c1", 2, "tool", "third"),
        ],
    )
    row = assemble_conversations(turns).collect()[0]
    assert row["text"] == "user: first\nassistant: second\ntool: third"
    assert row["n_turns"] == 3 and row["n_tool_turns"] == 1


def test_transcript_curation_dispositions(spark):
    from delm_spark.curate import TranscriptCurationConfig, run_transcript_curation

    body = [(i, "user" if i % 2 else "assistant",
             f"substantive discussion line number {i} about the quarterly report")
            for i in range(8)]
    rows = []
    for conv in ("keep_a", "dupe_of_a"):  # byte-identical conversations
        rows += [(conv, i, r, t) for i, r, t in body]
    rows += [("short_c", 0, "user", "hi"), ("short_c", 1, "assistant", "hello")]
    rows += [("tools_c", i, "tool", f"output {i}") for i in range(6)]
    out = run_transcript_curation(
        _mk_turns(spark, rows), config=TranscriptCurationConfig(pack_budget=100)
    )
    got = {r["conv_id"]: r["status"] for r in out.collect()}
    assert got["short_c"] == "too_short"
    assert got["tools_c"] == "tool_heavy"
    # exactly one of the identical pair survives (md5-key order decides which)
    pair = {got["keep_a"], got["dupe_of_a"]}
    assert pair == {"kept", "exact_dup"}
    kept = [r for r in out.collect() if r["status"] == "kept"]
    assert all(r["pack_id"] is not None and r["n_tokens"] > 0 for r in kept)


def test_transcript_curation_one_row_per_conversation(spark):
    from delm_spark.curate import run_transcript_curation

    rows = [
        (f"c{j}", i, "user", f"turn {i} of conversation {j} with words")
        for j in range(5)
        for i in range(6)
    ]
    out = run_transcript_curation(_mk_turns(spark, rows))
    assert out.count() == 5
    assert out.select("conv_id").distinct().count() == 5


# ------------------------------------------------------------- range join


def _range_frames(spark):
    points = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:30:00")),  # inside w1
            (2, _ts("2024-01-01 11:00:00")),  # w1 end boundary: EXCLUDED
            (3, _ts("2024-01-01 10:00:00")),  # w1 start boundary: included
            (4, _ts("2024-01-01 09:59:59")),  # before w1
            (5, _ts("2024-01-01 12:30:00")),  # inside w2 AND w3 (overlap)
        ],
        "pid long, ts timestamp",
    )
    windows = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00")),
            (20, _ts("2024-01-01 12:00:00"), _ts("2024-01-01 13:00:00")),
            (30, _ts("2024-01-01 12:15:00"), _ts("2024-01-01 12:45:00")),
            (40, _ts("2024-01-01 15:00:00"), _ts("2024-01-01 15:00:00")),  # empty
        ],
        "wid long, w_start timestamp, w_end timestamp",
    )
    return points, windows


def test_range_bucket_join_containment_and_boundaries(spark):
    from delm_spark.operators.temporal import range_bucket_join

    points, windows = _range_frames(spark)
    out = range_bucket_join(points, windows, "ts", "w_start", "w_end", 600)
    got = sorted((r["pid"], r["wid"]) for r in out.collect())
    assert got == [(1, 10), (3, 10), (5, 20), (5, 30)]


def test_range_bucket_join_bucket_width_invariant(spark):
    from delm_spark.operators.temporal import range_bucket_join

    points, windows = _range_frames(spark)
    expect = sorted(
        (r["pid"], r["wid"])
        for r in range_bucket_join(
            points, windows, "ts", "w_start", "w_end", 600
        ).collect()
    )
    for width in (7, 60, 3600, 86400):
        got = sorted(
            (r["pid"], r["wid"])
            for r in range_bucket_join(
                points, windows, "ts", "w_start", "w_end", width
            ).collect()
        )
        assert got == expect, width


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check against an independent implementation: pandas
    merge_asof (direction='backward', allow_exact_matches=True,
    tolerance) on a deterministic pseudo-random event set."""
    import pandas as pd

    rng_l = [(i, i % 7, 1_700_000_000 + ((i * 37) % 1000) * 60)
             for i in range(300)]
    rng_r = [(1000 + i, i % 7, 1_700_000_000 + ((i * 53) % 997) * 60)
             for i in range(200)]
    lpdf = pd.DataFrame(rng_l, columns=["event_id", "k", "sec"])
    rpdf = pd.DataFrame(rng_r, columns=["click_id", "k", "sec"])
    # unique (k, sec) on the right: keep max click_id (dedupe_right contract)
    rpdf = rpdf.sort_values("click_id").groupby(["k", "sec"], as_index=False).last()
    lpdf["ts"] = pd.to_datetime(lpdf["sec"], unit="s")
    rpdf["ts"] = pd.to_datetime(rpdf["sec"], unit="s")

    expected = pd.merge_asof(
        lpdf.sort_values(["ts", "event_id"]),
        rpdf[["k", "ts", "click_id"]].sort_values("ts"),
        on="ts", by="k", direction="backward",
        allow_exact_matches=True, tolerance=pd.Timedelta(seconds=3600),
    ).set_index("event_id")["click_id"]

    from delm_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        lpdf[["event_id", "k", "ts"]], "event_id long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        rpdf[["click_id", "k", "ts"]], "click_id long, k long, ts timestamp"
    )
    out = asof_join(left, right, ["k"], "ts", "ts", ["click_id"],
                    tolerance_sec=3600)
    got = {r["event_id"]: r["click_id_asof"] for r in out.collect()}
    for eid, want in expected.items():
        want = None if pd.isna(want) else int(want)
        assert got[eid] == want, (eid, got[eid], want)


def test_range_bucket_join_subsecond_interval_end(spark):
    """An interval ending at a sub-second offset past a bucket boundary
    still covers that final partial bucket (regression: whole-second
    bucket math dropped the match)."""
    import datetime as dt

    from delm_spark.operators.temporal import range_bucket_join

    points = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 10, 0, 200000))],
        "pid long, ts timestamp",
    )
    windows = spark.createDataFrame(
        [(10, dt.datetime(2024, 1, 1, 0, 0, 0),
          dt.datetime(2024, 1, 1, 0, 10, 0, 500000))],
        "wid long, w_start timestamp, w_end timestamp",
    )
    out = range_bucket_join(points, windows, "ts", "w_start", "w_end", 600)
    assert [(r["pid"], r["wid"]) for r in out.collect()] == [(1, 10)]


def test_transcript_curation_null_conv_id_gets_disposition(spark):
    """A null conv_id never equi-matches, so without an explicit
    disposition it would vanish from both output branches (regression)."""
    from delm_spark.curate import run_transcript_curation

    rows = [
        (None, i, "user", f"turn {i} of the null conversation here")
        for i in range(6)
    ] + [
        ("ok", i, "user", f"turn {i} of a healthy conversation here")
        for i in range(6)
    ]
    out = run_transcript_curation(_mk_turns(spark, rows))
    got = {r["conv_id"]: r["status"] for r in out.collect()}
    assert got == {None: "invalid_conv", "ok": "kept"}
