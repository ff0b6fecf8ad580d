"""Hot-key (skew) handling: salting + two-phase aggregation.

The transcript corpus is Zipf-skewed by construction (a head of hot
conversations with hundreds of turns). Three mechanisms, by situation:

  1. AQE skew-join splitting — on by default in the session factory
     (`spark.sql.adaptive.skewJoin.enabled`); covers join-side skew.
  2. Round-robin repartition — for the Python-heavy extraction stage,
     `repartition(n)` suffices because rows carry composite keys (no
     per-partition ordering assumption).
  3. Two-phase salted aggregation — for algebraic aggregates over a
     skewed key: partial agg on (key, salt) spreads the hot key over
     `buckets` reducers, final agg on key combines partials. This is
     what map-side combine does for sums/counts already; the explicit
     form also covers collect-heavy aggs where the partial result is a
     bounded reduction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_col(df_cols: list, buckets: int) -> Column:
    """Deterministic salt in [0, buckets): hash of the full row key —
    no RNG state, stable across retries (rand() is not)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df_cols]), F.lit(buckets))


def salted_count(df: DataFrame, key: str, buckets: int = 16) -> DataFrame:
    """Two-phase count per key: partial count on (key, salt), final sum on
    key, salted by the whole row. Returns (key, n)."""
    salted = df.withColumn("__salt", salt_col(df.columns, buckets))
    partial = salted.groupBy(key, "__salt").agg(F.count(F.lit(1)).alias("__pn"))
    return partial.groupBy(key).agg(F.sum("__pn").alias("n"))
