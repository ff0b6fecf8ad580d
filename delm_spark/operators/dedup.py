"""Deduplication operators for large text corpora.

Beyond the reference's exact-match cache dedup (semantic_cache.py:81-103),
these are the standard training-data-pipeline dedup family, all expressed
as native DataFrame programs (no Python in the hot path):

  * exact_dedup            — hash-groupBy, keep first by a deterministic
                             order
  * minhash_signatures_agg — k permutation-free min-hashes over shingles
                             (md5-based so an external SQL oracle can
                             reproduce)
  * minhash_lsh_pairs      — band the signature, bucket-join to candidate
                             pairs
  * simhash_signatures_agg — 64-bit sign-aggregated token hash
  * ngram_jaccard_pairs    — exact Jaccard over shingle sets for candidate
                             pairs

Scale notes: the LSH band join shuffles on (band_id, band_hash) — bucket
counts are bounded by band width, and the pair join is an equi-join AQE
can re-plan; exact Jaccard runs only on LSH survivors, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Canonical text (and mention surface) form: whitespace runs
    collapsed to one space, trimmed, lowercased."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def _has_map(dt) -> bool:
    """True when `dt` is or contains (through arrays/structs) a MapType —
    the one type min(struct(...)) cannot order."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return False


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Keep one row per distinct normalized text: the row with the smallest
    id (deterministic). Single shuffle on the content hash.

    min(struct(id, rest...)) aggregation (r6, guide §2.3 "aggregate before
    you shuffle") instead of a sort+row_number window: ids are unique, so
    the struct minimum IS the smallest-id row, the hash aggregate gets
    map-side partial combine (duplicate texts collapse before the
    exchange — the window form shipped every row), and no per-group sort
    runs. Row-identical for orderable columns; frames carrying an
    unorderable column (a MapType at any nesting depth) fall back to the
    window form."""
    keyed = df.withColumn("__k", F.sha2(normalize_text(F.col(text_col)), 256))
    if _has_map(df.schema):
        from pyspark.sql import Window

        w = Window.partitionBy("__k").orderBy(F.col(id_col).asc())
        return (
            keyed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__k", "__rn")
        )
    cols = df.columns
    rest = [c for c in cols if c != id_col]
    agg = keyed.groupBy("__k").agg(
        F.min(F.struct(F.col(id_col), *[F.col(c) for c in rest])).alias("__r")
    )
    return agg.select(*[F.col(f"__r.{c}").alias(c) for c in cols])


def word_ngrams(col: Column, n: int, distinct: bool = False) -> Column:
    """Word n-gram strings of normalized text (array<string>), with or
    without multiplicities — THE single n-gram construction every
    operator family shares (dedup shingles, decontamination,
    repetition stats).

    Built by zipping the word array with its own 1..n-1 shifts
    (concatenating pairwise) instead of an index transform doing
    slice+array_join per shingle: the per-element slice allocates a fresh
    subarray for every shingle, which measured 11x slower at 59M shingles
    (500k docs: 80.6 s -> 7.2 s for the full explode). zip_with pads the
    shorter shifted array with nulls; concat propagates them, so partial
    tail windows drop out via the null filter. Docs shorter than n words
    yield their whole normalized text as the single gram (matching the
    SQL oracles' `generate_series(1, greatest(len(w)-(n-1), 1))`)."""
    words = F.split(normalize_text(col), " ")
    cur = words
    for j in range(1, n):
        shifted = F.slice(
            words, j + 1, F.greatest(F.size(words) - j, F.lit(0))
        )
        cur = F.zip_with(cur, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    full = F.filter(cur, lambda x: x.isNotNull())
    # words.isNull() (null text): size() is NULL, so the when() must test
    # it explicitly to reproduce the old construction's [null] output —
    # a null-text row keeps contributing one (null) shingle, exactly as
    # sequence(0, greatest(size-n, 0)) did
    out = F.when(
        words.isNull() | (F.size(words) < n),
        F.array(F.array_join(words, " ")),
    ).otherwise(full)
    return F.array_distinct(out) if distinct else out


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle SET of normalized text (array<string>,
    distinct) — `word_ngrams(col, n, distinct=True)` by definition."""
    return word_ngrams(col, n, distinct=True)


def minhash_signatures_agg(
    df: DataFrame, text_col: str, id_col: str, k: int = 16, n: int = 3
) -> DataFrame:
    """One-pass MinHash signatures: posexplode shingles once, then a single
    groupBy(id) computing all k per-salt minimums (hash-aggregate with
    map-side partial combine — one shuffle of k mins per id).

    This is the scale path: a lazy `select` of the shingle column does NOT
    stop Catalyst's CollapseProject from inlining the shingle construction
    into every one of the k array_min(transform(...)) expressions — the
    column-expression form recomputes split+sequence+slice+join k times per
    row. Exploding first makes the shingle work happen exactly once, and the
    k md5s per shingle are the irreducible hash-family cost.

    The k salted mins and the signature array are SQL text over the
    operator's own internal columns (`min(md5(concat('salt{i}|', __s)))
    AS __m{i}`), parsed in the JVM: building costs one py4j call per
    aggregate, not one per expression node.

    Returns (id_col, __sig: array<string> of length k).
    """
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("__s")
    )
    aggs = [F.expr(f"min(md5(concat('salt{i}|', __s))) AS __m{i}") for i in range(k)]
    sig = sh.groupBy(id_col).agg(*aggs)
    mins = ", ".join(f"__m{i}" for i in range(k))
    return sig.select(id_col, F.expr(f"array({mins}) AS __sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing >=1 LSH band.

    Signature is banded into `bands` groups of k/bands rows; each band is
    hashed to a bucket; a self-equi-join on (band, bucket) yields the
    candidates. Shuffle key is the bucket hash — uniformly distributed.

    Each candidate pair is emitted EXACTLY ONCE — from its first shared
    band (the join requires every earlier band's buckets to differ, read
    off the carried bucket array) — so no distinct() pass over the
    candidate set is needed. At corpus scale that removes a full shuffle
    of the candidate pairs, the largest intermediate for clustered
    corpora; the carried array costs `bands` extra strings per exploded
    row on the (uniform) bucket shuffle instead.
    """
    sig = (
        minhash_signatures_agg(df, text_col, id_col, k=k, n=n)
        .withColumnRenamed(id_col, "__id")
    )
    buckets = band_buckets(F.col("__sig"), k, bands)
    banded = sig.select(
        "__id",
        buckets.alias("__bkts"),
    ).select(
        "__id",
        "__bkts",
        F.posexplode("__bkts").alias("__band", "__bucket"),
    )
    a = banded.alias("a")
    # merge hint (r6): self-joins of a derived table must not broadcast —
    # the build side would RECOMPUTE the whole signature pipeline under
    # the BroadcastExchange, while a sort-merge join hash-partitions both
    # sides on the same (band, bucket) key and serves the second side
    # from a ReusedExchange (one signature pass, measured -32% at sf1.0).
    # At corpus scale SMJ on the bounded bucket key is the right strategy
    # anyway; AQE skew-join can still split oversized buckets.
    b = banded.alias("b").hint("merge")
    # first-match guard: an earlier shared band already emitted this pair
    not_earlier = F.lit(True)
    for band in range(bands - 1):
        not_earlier = not_earlier & (
            (F.col("a.__band") <= F.lit(band))
            | (F.col("a.__bkts")[band] != F.col("b.__bkts")[band])
        )
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id"))
            & not_earlier,
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )


def _shingle_set_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int, candidates: DataFrame | None
) -> DataFrame:
    """`a.__id`, `a.__sh`, `b.__id`, `b.__sh` (n-gram shingle sets) for
    each `candidates` (id_a, id_b) pair, or for every a < b if None."""
    sh = df.select(
        F.col(id_col).alias("__id"), shingles(F.col(text_col), n).alias("__sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    if candidates is None:
        return a.join(b, F.col("a.__id") < F.col("b.__id"))
    return candidates.join(a, candidates["id_a"] == F.col("a.__id")).join(
        b, candidates["id_b"] == F.col("b.__id")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs.

    With `candidates` (e.g. from minhash_lsh_pairs) only those pairs are
    scored — the scale path. Without, scores ALL O(n^2) pairs, which is
    only sane at test scale, so that path must be opted into explicitly
    with `allow_all_pairs=True`; reaching it by accident on a corpus is
    the classic quadratic blow-up. Returns (id_a, id_b, jaccard).
    """
    if candidates is None and not allow_all_pairs:
        raise ValueError(
            "ngram_jaccard_pairs without `candidates` scores all "
            "O(n^2) pairs; pass candidates from minhash_lsh_pairs "
            "(the scale path) or opt in with allow_all_pairs=True "
            "(test scale only)"
        )
    pairs = _shingle_set_pairs(df, text_col, id_col, n, candidates)
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    union = F.size(F.array_union(F.col("a.__sh"), F.col("b.__sh")))
    return (
        pairs.select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            (inter / F.greatest(union, F.lit(1))).cast("double").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold_micro: int = 600_000,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: shingle-set containment.

    Jaccard misses the quote/boilerplate/subset pattern — a short document
    wholly embedded in a much longer one scores a tiny Jaccard (the union
    is dominated by the long doc) yet is exactly the redundancy a training
    corpus wants gone. Containment of the SMALLER shingle set,
    C = |A ∩ B| / min(|A|, |B|), is the standard fix (Broder's containment
    measure, the basis of suffix-style substring dedup at document
    granularity).

    Candidates come from the same MinHash LSH banding as the Jaccard path
    (pass `candidates` to reuse an existing pair table) — never all-pairs.
    NB: banded MinHash recall is driven by Jaccard, so extreme size ratios
    with low Jaccard can escape the blocking; at the default 4x4 banding
    that is the documented trade (raise `bands` / lower `rows` to push
    recall toward containment-heavy pairs).

    Returns (id_a, id_b, containment_micro, contained_id) where
    containment_micro = floor(1e6 * |A∩B| / min(|A|,|B|)) in EXACT BIGINT
    arithmetic (sizes and intersections are integers — no float, so the
    SQL oracle reproduces every value bit-for-bit), and contained_id is
    the doc with the smaller shingle set (the near-subset; ties break to
    the smaller id). Pairs below `threshold_micro` are dropped.
    """
    if candidates is None:
        candidates = minhash_lsh_pairs(df, text_col, id_col, k=k, bands=bands, n=n)
    pairs = _shingle_set_pairs(df, text_col, id_col, n, candidates)
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    size_a = F.size(F.col("a.__sh"))
    size_b = F.size(F.col("b.__sh"))
    small = F.least(size_a, size_b)
    cont = F.expr(
        "(1000000 * cast(__inter as bigint)) div greatest(__small, 1)"
    )
    return (
        pairs.select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            inter.alias("__inter"),
            small.alias("__small"),
            # id_a < id_b by construction, so the size tie breaks to id_a
            F.when(size_b < size_a, F.col("b.__id"))
            .otherwise(F.col("a.__id"))
            .alias("contained_id"),
        )
        .select(
            "id_a",
            "id_b",
            cont.cast("long").alias("containment_micro"),
            "contained_id",
        )
        .filter(F.col("containment_micro") >= threshold_micro)
    )


SIMHASH_BITS = 60  # 15 hex chars of md5 — sign-safe in a BIGINT, SQL-reproducible
#: contiguous signature blocks of the rotating multi-block LSH
SIMHASH_BLOCKS = 4


def simhash_signatures_agg(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-pass 60-bit SimHash: explode distinct word tokens once, then a
    single groupBy(id) with one `sum(bit)` per bit position — map-side
    combinable, one shuffle of ~60 longs per id.

    Replaces the per-row column-expression form (64 F.filter passes over the
    token-hash array = O(64·tokens) per row plus a codegen-size hazard).
    Bit semantics: bit b is set iff #tokens with bit set >= half of tokens,
    identical to the majority rule of the classic +/-1 accumulation.

    Token hash = first 15 hex chars of md5, like the MinHash family's
    md5(salt|shingle): reproducible in any SQL engine for the correctness
    oracle (DuckDB: ('0x' || substr(md5(t),1,15))::BIGINT).

    The 60 bit-count aggregates and the 60-term majority fold are SQL
    text over the operator's internal columns (`__h`, `__b{b}`, `__n`),
    parsed in the JVM: building costs one py4j call per aggregate and one
    for the fold, not one per expression node.

    Returns (id_col, __sh: long).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
        ).alias("__t"),
    ).select(
        id_col,
        F.conv(F.substring(F.md5(F.col("__t")), 1, 15), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    aggs = [
        F.expr(f"sum(shiftrightunsigned(__h, {b}) & 1) AS __b{b}")
        for b in range(SIMHASH_BITS)
    ]
    aggs.append(F.expr("count(1) AS __n"))
    g = toks.groupBy(id_col).agg(*aggs)
    # left-deep: ((0 + bit0 * 1) + bit1 * 2) + ... , bit b weighted 2^b
    fold = "CAST(0 AS BIGINT)" + "".join(
        f" + CAST(__b{b} * 2 >= __n AS BIGINT) * {1 << b}"
        for b in range(SIMHASH_BITS)
    )
    return g.select(id_col, F.expr(f"{fold} AS __sh"))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Rotating multi-block LSH: the signature is cut into `SIMHASH_BLOCKS`
    contiguous blocks; by pigeonhole, any pair within Hamming distance
    <= SIMHASH_BLOCKS - 1 shares at least one exact block, so blocking on
    every block (one posexplode + equi-join on (block_pos, block_value))
    gives FULL recall for max_hamming <= SIMHASH_BLOCKS - 1. Bucket sizes stay
    bounded per block value; the pair join is a plain equi-join AQE can
    re-plan at scale.

    Each qualifying pair is emitted EXACTLY ONCE — from its first
    matching block (the join condition requires every earlier block to
    differ) — so no distinct() pass is needed. At corpus scale that
    removes a full shuffle of the near-dup pair set, which for clustered
    corpora (the common case for near-dup detection) is the largest
    intermediate of the whole query. Returns (id_a, id_b, hamming).
    """
    sig = simhash_signatures_agg(df, text_col, id_col).withColumnRenamed(
        id_col, "__id"
    )
    bits_per_block = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << bits_per_block) - 1

    def _block(side: str, k: int):
        return F.shiftrightunsigned(
            F.col(f"{side}.__sh"), k * bits_per_block
        ).bitwiseAND(F.lit(mask))

    blocked = sig.select(
        "__id",
        "__sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("__sh", k * bits_per_block).bitwiseAND(
                        F.lit(mask)
                    )
                    for k in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("__bpos", "__blk"),
    )
    # merge hint (r6): same rationale as minhash_lsh_pairs — broadcast
    # would recompute the 60-bit signature aggregation on the build side;
    # SMJ reuses the one exchange.
    a, b = blocked.alias("a"), blocked.alias("b").hint("merge")
    # first-match guard: drop a candidate when ANY earlier block already
    # matched (that copy of the pair is emitted by the earlier bucket)
    not_earlier = F.lit(True)
    for k in range(SIMHASH_BLOCKS - 1):
        not_earlier = not_earlier & (
            (F.col("a.__bpos") <= F.lit(k)) | (_block("a", k) != _block("b", k))
        )
    xor = F.col("a.__sh").bitwiseXOR(F.col("b.__sh"))
    return (
        a.join(
            b,
            (F.col("a.__bpos") == F.col("b.__bpos"))
            & (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__id") < F.col("b.__id"))
            & not_earlier,
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def band_buckets(sig: Column, k: int, bands: int) -> Column:
    """Band a k-wide MinHash signature into `bands` bucket hashes
    (array<string>): bucket b = md5 of the '|'-joined rows of band b."""
    rows_per_band = k // bands
    return F.array(
        *[
            F.md5(
                F.array_join(
                    F.slice(sig, b * rows_per_band + 1, rows_per_band), "|"
                )
            )
            for b in range(bands)
        ]
    )


#: MinHash signature length, LSH bands and shingle width of the persistent
#: index: `minhash_index` builds it and `incremental_dedup` probes it, so
#: both read these
INDEX_K, INDEX_BANDS, INDEX_N = 16, 4, 3


def minhash_index(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Persistent LSH index of a (deduplicated) (doc_id, text) corpus, for
    incremental dedup of future batches: returns `(bands_df, shingles_df)`
    where bands_df is (doc_id, __band int, __bucket string) — one row per
    (doc, band) — and shingles_df is (doc_id, __sh array<string>).

    Both are meant to be WRITTEN as staging tables once and appended to
    as batches survive; a catalog table bucketed by __bucket
    (`DataFrameWriter.bucketBy`) makes the per-batch candidate probe a
    co-located join on the corpus side. At 100 TB the index is the only
    state the dedup pass keeps — the corpus text itself is never re-read.
    """
    sig = minhash_signatures_agg(df, "text", "doc_id", k=INDEX_K, n=INDEX_N)
    bands_df = sig.select(
        "doc_id",
        F.posexplode(band_buckets(F.col("__sig"), INDEX_K, INDEX_BANDS)).alias(
            "__band", "__bucket"
        ),
    )
    shingles_df = df.select(
        F.col("doc_id"), shingles(F.col("text"), INDEX_N).alias("__sh")
    )
    return bands_df, shingles_df


def incremental_dedup(
    new_df: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup verdict for each NEW (doc_id, text) document against an
    existing corpus index (from `minhash_index`), without touching corpus
    text: returns (doc_id, is_dup int, dup_of, jaccard) where dup_of is
    the corpus id with the highest exact shingle Jaccard >= threshold
    among the LSH candidates (ties -> smallest corpus id), else null.

    Plan shape for the steady state (batch << corpus): the batch's band
    table and shingles are BROADCAST, so the corpus index is scanned
    map-side — never reshuffled — and only (batch_id, corpus_id)
    candidate rows plus the candidates' corpus shingles ever reach an
    exchange. The exact-Jaccard re-rank runs on LSH survivors only.
    Self-dedup within the batch is a separate (cheap) `minhash_lsh_pairs`
    over the batch alone; run it first, then this against the corpus.
    """
    new_bands, new_shingles = minhash_index(new_df)
    nb = F.broadcast(new_bands)
    cand = (
        index_bands.alias("c")
        .join(
            nb.alias("b"),
            (F.col("c.__band") == F.col("b.__band"))
            & (F.col("c.__bucket") == F.col("b.__bucket")),
        )
        .select(
            F.col("b.doc_id").alias("__new_id"),
            F.col("c.doc_id").alias("__corpus_id"),
        )
        .distinct()
    )
    ns = F.broadcast(new_shingles)
    # candidates are bounded by the batch (x a small LSH match factor),
    # so broadcast THEM into the shingle lookup too: the corpus shingle
    # store is then scan-only, never reshuffled (at 500k docs this cut a
    # ~350 MB shingle-array exchange to zero)
    cb = F.broadcast(cand)
    jacc = (
        cb.join(
            index_shingles.select(
                F.col("doc_id").alias("__corpus_id"), F.col("__sh").alias("__csh")
            ),
            "__corpus_id",
        )
        .join(
            ns.select(F.col("doc_id").alias("__new_id"), F.col("__sh").alias("__nsh")),
            "__new_id",
        )
        .select(
            "__new_id",
            "__corpus_id",
            (
                F.size(F.array_intersect("__nsh", "__csh"))
                / F.greatest(
                    F.size(F.array_distinct(F.concat("__nsh", "__csh"))), F.lit(1)
                )
            ).alias("__j"),
        )
        .filter(F.col("__j") >= jaccard_threshold)
    )
    best = (
        jacc.groupBy("__new_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("__j")).alias("nj"), F.col("__corpus_id").alias("cid")
                )
            ).alias("t")
        )
        .select(
            F.col("__new_id").alias("doc_id"),
            F.col("t.cid").alias("dup_of"),
            F.round(-F.col("t.nj"), 6).alias("jaccard"),
        )
    )
    return (
        new_df.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
            "dup_of",
            "jaccard",
        )
    )


def near_dup_canonical(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Cluster-level near-dup RESOLUTION — the op a training-data pipeline
    actually runs (pair lists are diagnostics; what ships is "keep one
    copy per duplicate cluster"): banded MinHash-LSH candidates -> exact
    n-gram Jaccard verification on candidates only -> connected
    components over the verified pair graph (near-duplication is
    transitive through chains A~B~C even when A,C never share a band) ->
    the smallest id in each component is the canonical representative.

    Returns one row per input doc: (id_col, canonical_id, is_kept) with
    is_kept = (doc IS its cluster's representative); keeping `is_kept`
    rows is the dedup, joining on canonical_id is the lineage.

    Scale shape: the only corpus-wide ops are the one-shuffle signature
    and the final left equi-join of components onto ids; CC runs over
    the PAIR graph only (bounded by verified duplicates, a tiny fraction
    of the corpus) with kg/canonicalize's pointer-jumping iterations —
    never all-pairs, never a corpus-sized iteration."""
    from delm_spark.kg.canonicalize import connected_components

    pairs = ngram_jaccard_pairs(
        df,
        text_col,
        id_col,
        n=n,
        threshold=threshold,
        candidates=minhash_lsh_pairs(df, text_col, id_col, k=k, bands=bands, n=n),
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    ids = df.select(F.col(id_col))
    return (
        ids.join(comp, ids[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("canonical_id"),
        )
        .withColumn("is_kept", F.col(id_col) == F.col("canonical_id"))
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 8,
) -> DataFrame:
    """Exact duplicate-substring detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    operator, re-expressed at token granularity): find every maximal span
    of >= `width` consecutive normalized tokens that also appears in at
    least 2 documents, so a curation pass can cut the span (or
    drop the doc) instead of near-dup-ing whole documents.

    Mechanism — shingle fingerprints, never suffix arrays (a distributed
    suffix array is a global sort of every suffix; token shingles give
    the same >=width-duplicate-span detection with bounded rows):

      1. tokenize (shared normalize_text contract) with positions,
      2. width-token shingles per position via a lead chain over the
         per-document window (bounded by the doc's own length),
      3. shingle hashes appearing in >= 2 DISTINCT docs — the
         (hash, doc) pairs are deduped FIRST so the count aggregation
         is bounded by distinct pairs, then
      4. surviving positions merge per doc into maximal spans by
         gap-and-island (consecutive shingle starts <= width apart
         overlap or touch).

    Returns (id_col, span_start, span_end, span_tokens, n_shingles,
    max_docs_sharing); span bounds are 0-based token positions,
    inclusive.

    Scale shape: no all-pairs anywhere — rows are bounded by total
    token count; shuffles are per-doc windows (partition = one document)
    and hash-keyed aggregations/joins (a hyper-shared shingle lands on
    one reducer as ONE (hash, count) row after the pair dedupe, not as
    its full occurrence list). At 100 TB, step 3's distinct is the big
    exchange; it is the same cardinality class as minhash_lsh_pairs'
    band join and partial-aggregates all the way."""
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(
            F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("__pos", "__tok"),
    ).filter(F.col("__tok") != "")
    w = Window.partitionBy("__doc").orderBy("__pos")
    parts = [F.col("__tok")] + [
        F.lead("__tok", i).over(w) for i in range(1, width)
    ]
    shingles = toks.select(
        "__doc",
        "__pos",
        F.md5(F.concat_ws(" ", *parts)).alias("__h"),
        parts[-1].alias("__last"),
    ).filter(F.col("__last").isNotNull())
    dup = (
        shingles.select("__h", "__doc")
        .distinct()
        .groupBy("__h")
        .count()
        .filter(F.col("count") >= 2)
        .select("__h", F.col("count").alias("__n_docs"))
    )
    hits = shingles.join(dup, "__h").select("__doc", "__pos", "__n_docs")
    w2 = Window.partitionBy("__doc").orderBy("__pos")
    islands = hits.select(
        "__doc",
        "__pos",
        "__n_docs",
        F.when(F.col("__pos") - F.lag("__pos").over(w2) <= width, 0)
        .otherwise(1)
        .alias("__new"),
    ).select(
        "*",
        F.sum("__new")
        .over(w2.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__island"),
    )
    return (
        islands.groupBy("__doc", "__island")
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            (F.max("__pos") + width - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.max("__n_docs").cast("long").alias("max_docs_sharing"),
        )
        .select(
            F.col("__doc").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_tokens"),
            "n_shingles",
            "max_docs_sharing",
        )
    )
