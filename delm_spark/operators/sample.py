"""Seeded sampling (S12).

The reference samples exactly n records with a fixed seed
(/root/reference/src/delm/delm.py:237-240, seed 42 constants.py:110:
`df.sample(n=sample_size, random_state=SYSTEM_RANDOM_SEED)`). Spark's
`df.sample` is fraction-based AND partitioning-dependent, so the
distributed equivalent keys the selection on a deterministic hash of the
row's natural key: order by xxhash64(seed, key), take n. Catalyst plans
orderBy+limit as TakeOrderedAndProject (per-partition top-n + driver
merge) — no global sort shuffle, stable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SYSTEM_RANDOM_SEED = 42  # reference constants.py:110


def seeded_sample(
    df: DataFrame, n: int, key_cols: list, seed: int = SYSTEM_RANDOM_SEED
) -> DataFrame:
    """Exactly-n deterministic sample keyed on `key_cols`."""
    h = F.xxhash64(F.lit(f"sample{seed}"), *[F.col(c) for c in key_cols])
    return df.orderBy(h.asc(), *[F.col(c) for c in key_cols]).limit(n)


def seeded_sample_records(df: DataFrame, n: int, record_col: str) -> DataFrame:
    """Sample n RECORDS (all rows of each sampled record), the reference's
    record-level sample semantics under its seed: pick record ids by hash
    order, then a broadcast semi-join keeps their rows."""
    ids = seeded_sample(
        df.select(record_col).distinct(), n, [record_col], SYSTEM_RANDOM_SEED
    )
    return df.join(F.broadcast(ids), record_col, "left_semi")


#: resolution of the deterministic keep/drop buckets (basis points)
SAMPLE_BUCKETS = 10_000


def hash_bucket(key, buckets: int = SAMPLE_BUCKETS):
    """Uniform deterministic bucket in [0, buckets) from md5(key) — the
    engine-portable construction (`conv(substr(md5, 1, 15), 16, 10)`)
    rather than xxhash64, so the SQL oracle reproduces the exact rows
    kept (DuckDB twin: `('0x' || substr(md5(k), 1, 15))::BIGINT`)."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    return h % buckets


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its hash
    bucket falls below `fractions[stratum] * SAMPLE_BUCKETS` (strata
    absent from `fractions` are dropped). This is the domain-mixing
    primitive of a training-data pipeline — re-weighting sources /
    languages to target proportions — as a MAP-ONLY pass: no shuffle,
    no per-stratum state, reproducible row-for-row at any parallelism
    (membership depends only on the row's own key). Exact-count
    variants need a sort; at 100 TB fraction-based is the right
    contract (binomial deviation is O(sqrt(n)) per stratum)."""
    bucket = hash_bucket(F.col(key_col))
    threshold = F.create_map(
        *[
            lit
            for s, frac in sorted(fractions.items())
            for lit in (F.lit(s), F.lit(int(round(frac * SAMPLE_BUCKETS))))
        ]
    )[F.col(strata_col)]
    return df.filter(bucket < F.coalesce(threshold, F.lit(0)))


def domain_mix_fractions(
    df: DataFrame, strata_col: str, weights: dict[str, float]
) -> dict[str, float]:
    """Derive per-stratum keep fractions that hit target mixture
    `weights` (normalized) given the observed stratum counts, keeping
    the largest total corpus that satisfies them: T = min(n_s / w_s),
    frac_s = T * w_s / n_s. The stratum census is a tiny aggregate
    (bounded by the number of domains), collected once driver-side."""
    if any(w < 0 for w in weights.values()):
        raise ValueError("domain_mix_fractions weights must be >= 0")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("domain_mix_fractions needs weights summing > 0")
    # zero-weight strata contribute nothing: their fraction is 0 whether
    # or not they appear in the data, so exclude them from the census
    # and the absence check
    norm = {s: w / total_w for s, w in weights.items() if w > 0}
    counts = {
        r[strata_col]: r["n"]
        for r in df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
        if r[strata_col] in norm
    }
    missing = set(norm) - set(counts)
    if missing:
        raise ValueError(f"strata absent from data: {sorted(missing)}")
    t = min(counts[s] / w for s, w in norm.items())
    out = {s: min(t * w / counts[s], 1.0) for s, w in norm.items()}
    out.update({s: 0.0 for s, w in weights.items() if w <= 0})
    return out


def weighted_ticket_sample(
    df: DataFrame,
    k: int,
    id_col: str,
    weight_col,
    max_weight: int = 64,
) -> DataFrame:
    """Deterministic weighted sample of k rows: ticket-lottery priority.

    Each row holds w tickets (w = its integer weight, clamped to
    [1, max_weight]); ticket i is md5(id '#' i) and the row's priority
    is its SMALLEST ticket. The sample is the k rows with the smallest
    priorities (ties — impossible for distinct ids — break by id). A
    row's min-of-w-uniform-hashes is stochastically smaller the larger
    w is, so inclusion probability rises monotonically with weight,
    while the whole draw stays a pure function of the ids: the
    partitioning-independent, retry-safe, cross-engine-reproducible
    analog of weighted sampling without replacement (the same
    derandomization the repo's seeded/stratified samplers use; NOT the
    float-exponent Efraimidis-Spirakis scheme, whose ln/pow last-ulp
    behavior is engine-specific).

    Plan shape: the per-row priority is a native array_min over a
    sequence-transform (bounded by max_weight, no explode, no shuffle);
    orderBy+limit plans as TakeOrderedAndProject — per-partition top-k,
    map-only over the corpus. Returns (id_col, weight_used, priority).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 1 <= max_weight <= 4096:
        raise ValueError(f"max_weight must be in [1, 4096], got {max_weight}")
    w = F.least(
        F.greatest(F.coalesce(weight_col, F.lit(1)).cast("long"), F.lit(1)),
        F.lit(max_weight),
    )
    priority = F.array_min(
        F.transform(
            F.sequence(F.lit(1), w),
            lambda i: F.md5(
                F.concat(F.col(id_col).cast("string"), F.lit("#"), i)
            ),
        )
    )
    return (
        df.select(
            F.col(id_col),
            w.alias("weight_used"),
            priority.alias("priority"),
        )
        .orderBy(F.col("priority").asc(), F.col(id_col).asc())
        .limit(k)
    )
