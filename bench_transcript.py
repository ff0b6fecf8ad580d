#!/usr/bin/env python
"""Transcript-curation + as-of-join scale bench.

The correctness queries (transcript_curation_pipeline, asof_join_events)
prove semantics at fixture scale; this is the scale evidence: corpora
large enough that every stage shuffles for real, with every checked
property closed-form.

Transcript curation (default 1M conversations, ~16M turns): the id space
is partitioned into ranges whose dispositions are exact by construction —

  [0, N)              organic: 6 + (c % 20) turns, per-conv vocabulary
                      (shingles embed the conv id, so organic cross-conv
                      Jaccard is 0 and organic texts are pairwise unique)
  [N, N+S)            2-turn conversations            -> 'too_short' (= S)
  [N+S, N+S+T)        8 all-tool-role turns           -> 'tool_heavy' (= T)
  [.., +D)            byte-identical copies of organic sources 0..D-1
                      -> exactly one of each pair 'exact_dup' (= D)
  [.., +E)            copies of organic sources D..D+E-1 plus ONE extra
                      turn (shingle Jaccard ~0.9+) -> one of each pair
                      'near_dup'; MinHash k=16/b=4 recall asserted >= 0.99

As-of join (default 1M users x 20 events = 20M rows): per user, clicks at
t = k*100 s and purchases at t = k*100 + 55 s (k = 0..8), plus one
purchase BEFORE any click — so every regular purchase's match is exactly
its own timestamp minus 55 s and each user has exactly one unmatched
purchase. Asserted exactly, not statistically.

Steal-gated with event-log attribution (bench_util). Writes
BENCH/TRANSCRIPT_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_transcript.py [--scale S]`.
"""

from __future__ import annotations

import json
from datetime import date

import bench_util

SCALE = bench_util.cli().scale
# a multiple of 100 keeps the planted-range sizes exact
N_ORGANIC = bench_util.scaled(1_000_000, SCALE, 100)
N_SHORT = N_ORGANIC // 100
N_TOOLY = N_ORGANIC // 100
N_DUP = N_ORGANIC // 50
N_NEAR = N_ORGANIC // 50
N_USERS = bench_util.scaled(1_000_000, SCALE)

B0, B1, B2, B3 = (
    N_ORGANIC,
    N_ORGANIC + N_SHORT,
    N_ORGANIC + N_SHORT + N_TOOLY,
    N_ORGANIC + N_SHORT + N_TOOLY + N_DUP,
)
B4 = B3 + N_NEAR


def make_turns(spark):
    """Deterministic transcript corpus as one mapInPandas generator —
    the same distributed-synthesis pattern as bench_curation.py."""
    import pandas as pd

    def rows_for(c: int):
        if c < B0:  # organic
            src, extra = c, False
        elif c < B1:  # too_short
            return [(f"c{c:08d}", t, "user" if t % 2 == 0 else "assistant",
                     f"c{c} short turn {t}") for t in range(2)]
        elif c < B2:  # tool_heavy
            return [(f"c{c:08d}", t, "tool", f"c{c} tool output {t}")
                    for t in range(8)]
        elif c < B3:  # exact copy of organic source 0..N_DUP-1
            src, extra = c - B2, False
        else:  # near copy of organic source N_DUP..N_DUP+N_NEAR-1
            src, extra = N_DUP + (c - B3), True
        n_turns = 6 + (src % 20)
        # word tokens embed the FULL source id: organic conversations
        # share only the constant filler (3-gram Jaccard ~0.2 << 0.5),
        # while copies share everything — dispositions stay closed-form
        out = [
            (f"c{c:08d}", t, "user" if t % 2 == 0 else "assistant",
             f"conv{src} turn {t} w{src}a{(t * 13) % 97} "
             f"w{src}b{(t * 7) % 89} filler text for shingles")
            for t in range(n_turns)
        ]
        if extra:
            out.append((f"c{c:08d}", n_turns, "user",
                        "thanks again for all the help today"))
        return out

    def gen(batches):
        for pdf in batches:
            rows = []
            for v in pdf["id"].astype("int64"):
                rows.extend(rows_for(int(v)))
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text"]
            )

    return spark.range(
        0, B4, 1, spark.sparkContext.defaultParallelism * 4
    ).mapInPandas(
        gen, schema="conv_id string, turn_idx int, role string, text string"
    )


def make_events(spark):
    """Per user: clicks at k*100s, purchases at k*100+55s (k<9), one
    pre-click purchase at -10s. event_id encodes (user, kind, k)."""
    from pyspark.sql import functions as F

    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    u = spark.range(
        0, N_USERS, 1, spark.sparkContext.defaultParallelism * 4
    ).select(
        F.col("id").alias("user_id")
    )
    k = spark.range(9).select(F.col("id").alias("k"))
    clicks = u.crossJoin(k).select(
        (F.col("user_id") * 100 + F.col("k")).alias("event_id"),
        "user_id",
        F.lit("click").alias("event_type"),
        (base + F.make_interval(secs=F.col("k") * 100)).alias("ts"),
    )
    purch = u.crossJoin(k).select(
        (F.col("user_id") * 100 + 50 + F.col("k")).alias("event_id"),
        "user_id",
        F.lit("purchase").alias("event_type"),
        (base + F.make_interval(secs=F.col("k") * 100 + 55)).alias("ts"),
    )
    early = u.select(
        (F.col("user_id") * 100 + 99).alias("event_id"),
        "user_id",
        F.lit("purchase").alias("event_type"),
        (base - F.make_interval(secs=F.lit(10))).alias("ts"),
    )
    return clicks.unionByName(purch).unionByName(early)


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.curate import TranscriptCurationConfig, run_transcript_curation
    from delm_spark.operators.temporal import asof_join

    spark, evdir = bench_util.session("transcript")
    turns, n_turns = bench_util.corpus(spark, f"tc_turns_{N_ORGANIC}", make_turns)
    events, n_events = bench_util.corpus(spark, f"asof_events_{N_USERS}", make_events)

    # ---- transcript curation ---------------------------------------------
    def run_tc():
        out = run_transcript_curation(
            turns, config=TranscriptCurationConfig(pack_budget=2048)
        )
        return {"census": {
            r["status"]: r["n"]
            for r in out.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
        }}

    # ---- as-of join --------------------------------------------------------
    def run_asof():
        purch = events.filter("event_type = 'purchase'").select(
            "event_id", "user_id", "ts"
        )
        clicks = events.filter("event_type = 'click'").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        out = asof_join(
            purch, clicks, ["user_id"], "ts", "ts", ["click_id"],
            tolerance_sec=60,
        )
        return out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("click_id_asof").isNull().cast("long")).alias("unmatched"),
            F.sum(
                (
                    F.col("ts_asof").isNotNull()
                    & (
                        F.col("ts").cast("timestamp").cast("long")
                        - F.col("ts_asof").cast("timestamp").cast("long")
                        != 55
                    )
                ).cast("long")
            ).alias("wrong_gap"),
        ).collect()[0].asDict()

    (run,), _ = bench_util.run_phases(
        spark, evdir, [("transcript_curation", run_tc), ("asof_join", run_asof)]
    )
    results = {"steal_pct": run["steal_pct"], "steal_gate_met": run["steal_gate_met"]}
    tc, asof = run["phases"]
    census, wall = tc["census"], tc["wall_sec"]
    assert sum(census.values()) == B4, census
    assert census["too_short"] == N_SHORT, census
    assert census["tool_heavy"] == N_TOOLY, census
    assert census["exact_dup"] == N_DUP, census
    near_recall = census.get("near_dup", 0) / N_NEAR
    assert 0.99 <= near_recall <= 1.0, census
    results["transcript_curation"] = {
        "n_convs": B4,
        "n_turns": n_turns,
        "wall_sec": wall,
        "convs_per_sec": round(B4 / wall, 1),
        "census": census,
        "near_dup_recall": round(near_recall, 4),
    }

    agg, wall = asof, asof["wall_sec"]
    assert agg["n"] == N_USERS * 10, agg
    assert agg["unmatched"] == N_USERS, agg  # exactly the pre-click purchases
    assert agg["wrong_gap"] == 0, agg  # every match is its own click, 55 s back
    results["asof_join"] = {
        "n_events": n_events,
        "left_rows": int(agg["n"]),
        "wall_sec": wall,
        "rows_per_sec": round(agg["n"] / wall, 1),
    }

    md = f"""# BENCH — transcript curation + as-of join at scale

Generated {date.today().isoformat()} by bench_transcript.py on
local[{spark.sparkContext.defaultParallelism}] (steal gate <= {bench_util.STEAL_GATE}%:
{'MET' if run['steal_gate_met'] else 'NOT met — walls are upper bounds'}; steal {run['steal_pct']}%).
Every asserted property is closed-form (see module docstring); a failed assertion aborts the bench,
so a published number IS a correctness proof at this scale.

## Transcript curation ({B4:,} conversations, {n_turns:,} turns)

| metric | value |
|---|---|
| wall | {results['transcript_curation']['wall_sec']} s |
| throughput | {results['transcript_curation']['convs_per_sec']:,} convs/s |
| census | {json.dumps(results['transcript_curation']['census'])} |
| planted near-dup recall | {results['transcript_curation']['near_dup_recall']} |

Structural gates, exact-dup census, and one-disposition-per-conversation
are exact; near-dup recall is bounded below by the MinHash band
calculus (k=16, b=4 at Jaccard ~0.9 -> ~0.998).

## As-of join ({n_events:,} events, {N_USERS:,} users)

| metric | value |
|---|---|
| left rows | {results['asof_join']['left_rows']:,} |
| wall | {results['asof_join']['wall_sec']} s |
| throughput | {results['asof_join']['rows_per_sec']:,} left rows/s |

Every matched purchase resolved to its own user's click exactly 55 s
earlier; every pre-click purchase (1 per user) correctly unmatched under
the 60 s tolerance. ONE shuffle on user_id (union-window form).
"""
    bench_util.report(
        "TRANSCRIPT_SCALE", {"metric": "transcript_bench", **results}, md, SCALE == 1
    )


if __name__ == "__main__":
    main()
