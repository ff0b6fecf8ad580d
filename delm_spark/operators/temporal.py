"""Temporal joins: as-of join (backward, inclusive) as a Spark-native
composition.

Not in the reference (DELM has no event-time operators); required by the
graft brief's "operations a large-scale training-data pipeline would
need" — joining every fact row to the most recent dimension/state row at
or before its timestamp (point-in-time features, slowly-changing state,
session attribution).

Spark has no ASOF JOIN. The naive form — a range theta-join
(`l.key = r.key AND r.ts <= l.ts` + pick max) — plans as a broadcast
nested loop or a sort-merge with per-row range scans and an O(matches)
intermediate blow-up. This implementation is the UNION-WINDOW form:

    union(left tagged side=1, right tagged side=0)
      -> ONE shuffle on the join key
      -> per-key sort by (ts, side, tiebreak)
      -> last(right_payload, ignorenulls=True) over rows unbounded
         preceding  == "most recent right row at or before my ts"
      -> keep side=1 rows

Cost is a single hash exchange + per-key sort — identical shape to any
windowed aggregation, no intermediate pair inflation, and the sort is
exactly the work ASOF semantics require. At 100 TB this scales like
sessionization: per-key linear scans after one shuffle. Hot keys are a
window (not join) skew: AQE cannot split a window partition, so for
pathological keys pre-bucket by (key, coarse time range) upstream —
documented, not silently applied.

Tie semantics match DuckDB's `ASOF LEFT JOIN ... ON l.k = r.k AND
l.ts >= r.ts` (the oracle): a right row at exactly l.ts matches
(inclusive), and among right rows sharing (key, ts) exactly one survives
a deterministic dedup (greatest tiebreak value wins) — an explicit
contract rather than engine-dependent pick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_VAL = "__asof_val"


def dedupe_right(
    right: DataFrame, on: list[str], ts_col: str, tiebreak: str
) -> DataFrame:
    """One right row per (key, ts): greatest `tiebreak` wins. This is a
    window over (key, ts) — a FINER partitioning than the join's (key)
    window, so it costs its own exchange; skip it when the right side is
    already unique per (key, ts) by construction (e.g. state snapshots)."""
    w = Window.partitionBy(*on, ts_col).orderBy(F.col(tiebreak).desc())
    return (
        right.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tolerance_sec: int | None = None,
) -> DataFrame:
    """Backward inclusive as-of join.

    Every `left` row gains `<c>_asof` for each c in `right_cols` plus
    `<right_ts>_asof`, taken from the most recent `right` row with the
    same `on` key and `right_ts` <= `left_ts` (ties: right row visible to
    a left row at the identical timestamp). With `tolerance_sec`, matches
    older than `left_ts - tolerance_sec` are nulled out (match too stale
    to use). Right side must be unique per (key, ts) — use dedupe_right.
    """
    reserved = {_SIDE, _VAL, "__evt_ts", "__m"}
    taken = set(left.columns)
    clashes = (reserved & taken) | (
        {f"{c}_asof" for c in [right_ts, *right_cols]} & taken
    )
    if clashes:
        raise ValueError(
            f"asof_join output/scratch columns collide with left columns: "
            f"{sorted(clashes)} — rename them"
        )
    payload = F.struct(
        F.col(right_ts).alias("__ts"), *[F.col(c) for c in right_cols]
    )
    r = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__evt_ts"),
        F.lit(0).alias(_SIDE),
        payload.alias(_VAL),
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("__evt_ts"),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(r.schema[_VAL].dataType).alias(_VAL),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    # side=0 sorts before side=1 at equal ts -> inclusive match
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__evt_ts").asc(), F.col(_SIDE).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = F.last(_VAL, ignorenulls=True).over(w)
    out = left.columns
    stale = (
        F.lit(False)
        if tolerance_sec is None
        else matched["__ts"]
        < (F.col("__evt_ts") - F.expr(f"INTERVAL {int(tolerance_sec)} SECOND"))
    )
    keep = F.when(matched.isNotNull() & ~stale, matched)
    return (
        unioned.withColumn("__m", keep)
        .filter(F.col(_SIDE) == 1)
        .select(
            *out,
            F.col(f"__m.__ts").alias(f"{right_ts}_asof"),
            *[F.col(f"__m.{c}").alias(f"{c}_asof") for c in right_cols],
        )
    )


def range_bucket_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_start: str,
    right_end: str,
    bucket_sec: int,
) -> DataFrame:
    """Distributed interval-containment (inner) join: left rows (points)
    matched to right rows (intervals) with `right_start <= left_ts <
    right_end`.

    Spark plans a bare range predicate as BroadcastNestedLoopJoin (fine
    only when one side broadcasts) or refuses outright at scale. The
    classic fix is bucketization: each interval explodes to the
    fixed-width time buckets it covers, points map to their single
    bucket, and the join becomes ONE equi-join on (bucket [+ on]),
    re-filtered by the exact range predicate. Each (point, interval)
    pair meets in exactly one bucket — the point's own — so no
    post-join dedup is needed.

    Cost model: interval expansion factor = avg interval length /
    bucket_sec; candidate inflation = intervals overlapping the point's
    bucket. Pick bucket_sec near the TYPICAL interval length (expansion
    ~2, candidates ~ true matches). Degenerate long intervals explode —
    cap them upstream or split the dimension into a broadcastable
    long-interval side. Fully incremental at 100 TB: both sides shuffle
    once on the bucket key, no global sort, AQE handles bucket skew.
    """
    # bucket on integer MICROseconds: a whole-second cast would truncate a
    # sub-second interval end into the previous bucket and silently drop
    # points in the final partially-covered bucket
    width_us = int(bucket_sec) * 1_000_000
    lb = F.floor(F.unix_micros(F.col(left_ts).cast("timestamp")) / width_us)
    rs = F.unix_micros(F.col(right_start).cast("timestamp"))
    re_ = F.unix_micros(F.col(right_end).cast("timestamp"))
    l2 = left.withColumn("__bkt", lb.cast("long"))
    # empty intervals (end <= start) match nothing under start <= ts < end
    # and would explode a DESCENDING bucket sequence — drop them up front
    r2 = right.filter(re_ > rs).withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(rs / width_us).cast("long"),
                # end is EXCLUSIVE: an interval ending exactly on a bucket
                # boundary does not cover that bucket
                F.floor((re_ - 1) / width_us).cast("long"),
            )
        ),
    )
    cond = [l2["__bkt"] == r2["__bkt"]]
    cond.append(
        l2[left_ts].cast("timestamp") >= r2[right_start].cast("timestamp")
    )
    cond.append(l2[left_ts].cast("timestamp") < r2[right_end].cast("timestamp"))
    from functools import reduce

    joined = l2.join(r2, reduce(lambda a, b: a & b, cond), "inner")
    return joined.select(
        *[l2[c] for c in left.columns], *[r2[c] for c in right.columns]
    )
