"""Mergeable sketches: k-minimum-values (KMV) and HyperLogLog for
"how many distinct X", and Count-Min for "how often did key x occur" —
the 100-TB answers when an exact shuffle is too expensive or the
summaries must be merged across partitions/days/shards.

Spark ships approx_count_distinct (HLL++) and an internal
CountMinSketch, but their hashing is engine-internal: the results are
not reproducible outside Spark, so they cannot sit under this repo's
cross-engine correctness oracle, and the sketch bytes cannot be merged
by a non-Spark consumer. These operators use md5-derived hashes and
EXACT integer arithmetic end to end, so DuckDB re-derives every
estimate bit-for-bit and the register / min-hash / cell tables are
portable.

- `kmv_distinct` (Bar-Yossef et al. 2002): keep the k smallest 48-bit
  hashes; estimate = (k-1) * 2^48 / h_k. Plan: one distinct-hash
  shuffle + TakeOrdered(k) (per-partition partial top-k, only k rows
  per partition ever reach the driver-side limit). Exact (returns the
  true count) whenever the true cardinality < k.
- `hll_cardinality` (Flajolet et al. 2007): p=8 -> 256 registers from
  the first 2 md5 hex chars, rank rho from the next 24 bits. The
  harmonic mean is computed as the exact BIGINT sum
  S = sum_j 2^(25 - M_j) (so 1/S replaces sum 2^-M / 2^25), and the
  estimate alpha * m^2 / sum(2^-M) becomes the exact integer
  (alpha_micro * m^2 * 2^25) div S — every quantity fits comfortably
  in 63 bits at p=8. Small-range linear counting uses the repo's
  micronat discipline (ln applied only to whole-sketch integer counts,
  never per-row floats). Plan: one map pass + a 256-row aggregation —
  the register table is map-side combinable (max per register), the
  canonical mergeable-sketch shape.

The reference (Center-for-Applied-AI/delm) has no sketch/approximate
operators; these extend the training-data-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH48 = 1 << 48  # KMV hash space: 12 md5 hex chars


def _h48(c: Column) -> Column:
    """First 48 bits of md5 as a BIGINT (sign-safe, SQL-reproducible:
    DuckDB ('0x' || substr(md5(x), 1, 12))::BIGINT)."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 12), 16, 10).cast(
        "long"
    )


def kmv_distinct(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """k-minimum-values distinct-count sketch over `col`.

    Returns one row (k_used, kth_hash, est_distinct). est_distinct is
    the exact distinct count when fewer than k distinct hashes exist,
    else the KMV estimator (k-1) * 2^48 div kth_hash.
    """
    if not 2 <= k <= 1 << 20:
        raise ValueError(f"k must be in [2, 2^20], got {k}")
    mins = (
        df.select(_h48(F.col(col)).alias("__h"))
        .distinct()
        .orderBy("__h")
        .limit(k)
    )
    return mins.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max("__h").alias("kth_hash"),
    ).select(
        "k_used",
        "kth_hash",
        F.when(F.col("k_used") < k, F.col("k_used"))
        .otherwise(
            F.expr(f"CAST({(k - 1) * _HASH48} AS BIGINT) div kth_hash")
        )
        .cast("long")
        .alias("est_distinct"),
    )


def hll_alpha_micro(m: int) -> int:
    """alpha_m of the HLL paper in exact micro-units (m >= 128 branch),
    quantized once on the driver so Spark and the SQL oracle share the
    same integer constant."""
    return round(0.7213 / (1 + 1.079 / m) * 1_000_000)


def hll_cardinality(df: DataFrame, col: str) -> DataFrame:
    """HyperLogLog distinct-count estimate over `col`, exact-integer.

    p=8 (m=256 registers, 24-bit rank field, rho in [1, 25]) is fixed by
    the 63-bit headroom analysis in the module docstring; other p would
    need re-derived bounds.

    Returns one row (m, n_used, s_scaled, est_distinct):
      s_scaled     — sum_j 2^(25 - M_j) over all m registers (empty
                     registers contribute 2^25), the exact harmonic
                     denominator scaled by 2^25,
      est_distinct — linear counting m * ln(m / n_empty) when the raw
                     estimate <= 2.5 m and empty registers exist
                     (micronat-quantized ln of whole-sketch counts),
                     else the raw (alpha_micro * m^2 * 2^25) div s.
    """
    m = 1 << 8
    alpha_micro = hll_alpha_micro(m)
    h = F.md5(F.col(col).cast("string"))
    rem_hex = F.substring(h, 3, 6)
    rem = F.conv(rem_hex, 16, 10).cast("long")
    # rho = leading zeros of the 24-bit field + 1; conv(hex, 16, 2)
    # strips leading zeros, so its length IS the bit length
    rho = F.when(rem == 0, F.lit(25)).otherwise(
        F.lit(25) - F.length(F.conv(rem_hex, 16, 2))
    )
    regs = (
        df.select(
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("__reg"),
            rho.alias("__rho"),
        )
        .groupBy("__reg")
        .agg(F.max("__rho").alias("M"))
    )
    agg = regs.agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 25 - M)")).alias(
            "__s_used"
        ),
    )
    s = (
        F.col("__s_used")
        + (F.lit(m) - F.col("n_used")) * F.lit(1 << 25).cast("long")
    ).alias("s_scaled")
    raw_micro = F.expr(
        f"CAST({alpha_micro * m * m} AS BIGINT) * {1 << 25} div "
        f"(__s_used + ({m} - n_used) * {1 << 25})"
    )
    n_empty = F.lit(m) - F.col("n_used")
    # m * ln(m / V) with ln in micronats of integer counts (repo-standard
    # quantization: floor(ln * 1e6 + 0.5) applied to m and V only)
    lc_micro = F.lit(m) * (
        F.floor(F.log(F.lit(float(m))) * 1e6 + 0.5).cast("long")
        - F.floor(F.log(n_empty.cast("double")) * 1e6 + 0.5).cast("long")
    )
    est_micro = F.when(
        (n_empty > 0) & (raw_micro * 2 <= F.lit(5_000_000) * m), lc_micro
    ).otherwise(raw_micro)
    # exact integer floor-div: strip the remainder first so the double
    # division is a representable-multiple / 1e6 (est_micro < 2^53)
    est = ((est_micro - est_micro % 1_000_000) / 1_000_000).cast("long")
    return agg.select(
        F.lit(m).alias("m"),
        "n_used",
        s,
        est.alias("est_distinct"),
    )


def _cms_buckets(key: Column, depth: int, width: int) -> Column:
    """Array of `depth` bucket indices for `key`: row j hashes with the
    salt 'cm{j}|' (first 48 md5 bits mod width) — SQL-reproducible as
    list_transform(generate_series(...), j -> ('0x' ||
    substr(md5('cm' || j || '|' || key), 1, 12))::BIGINT % width)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(depth - 1)),
        lambda j: F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cm"), j.cast("string"), F.lit("|"),
                        key.cast("string"),
                    )
                ),
                1, 12,
            ),
            16, 10,
        ).cast("long")
        % width,
    )


def count_min_table(
    df: DataFrame, col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-Min sketch table (Cormode & Muthukrishnan 2005) over `col`:
    one row per non-empty (depth_row, bucket) cell with its summed count.

    The classic mergeable frequency sketch: depth*width integers answer
    "how often did key x occur" with one-sided error (never an
    undercount, overcount <= 2N/width w.p. 1 - 2^-depth). The build is a
    single map-side-combinable aggregation — depth rows per input record
    reduce to at most depth*width cells regardless of corpus size, so
    the sketch is a broadcast-sized object at any scale and cells from
    disjoint corpora merge by addition. md5-salted row hashes keep the
    table bit-reproducible in SQL (unlike Spark's internal CountMinSketch
    whose hash seeds are engine-private).
    """
    if not 1 <= depth <= 16:
        raise ValueError(f"depth must be in [1, 16], got {depth}")
    if not 2 <= width <= 1 << 20:
        raise ValueError(f"width must be in [2, 2^20], got {width}")
    return (
        df.select(
            F.posexplode(_cms_buckets(F.col(col), depth, width)).alias(
                "depth_row", "bucket"
            )
        )
        .groupBy("depth_row", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cell_count"))
    )


def cms_estimate_counts(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the Count-Min sketch of `df[col]` for every distinct
    key of the corpus itself: estimate = min over the depth rows of the
    key's cell counts.

    Returns (key, est_count) with est_count >= the true frequency by
    CMS's one-sided guarantee. The sketch (<= depth*width rows) is
    broadcast into the probe join, so estimating any number of keys is
    one broadcast hash join + a width-`depth` min aggregation — no
    shuffle of the corpus beyond the sketch build's own combine.
    """
    sketch = count_min_table(df, col, depth, width)
    keys = df.select(F.col(col).alias("key")).distinct()
    probes = keys.select(
        "key",
        F.posexplode(_cms_buckets(F.col("key"), depth, width)).alias(
            "depth_row", "bucket"
        ),
    )
    return (
        # LEFT join: a probe cell absent from the sparse sketch table is an
        # EMPTY cell (count 0), so every key keeps its one output row
        probes.join(F.broadcast(sketch), ["depth_row", "bucket"], "left")
        .groupBy("key")
        .agg(
            F.min(F.coalesce(F.col("cell_count"), F.lit(0)))
            .cast("long")
            .alias("est_count")
        )
    )
