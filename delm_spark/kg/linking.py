"""Entity mention linking (north-rule stage 6).

Not present in the reference (DELM stops at extracted JSON); this is the
KG extension the north rule requires: normalize mention surfaces, then
broadcast-join the canonical entity dictionary. The dictionary is
broadcast explicitly — it is small by construction (a curated entity
list), so the join is shuffle-free regardless of triple volume.

Beyond the exact lookup, the north star names *dictionary + embedding
blocking* for candidate detection: `surface_embedding` (hashing-trick
character-trigram features, fully native and oracle-reproducible) and
one numpy kernel, `_best_links` (sign-LSH bucket blocking + cosine
against a dictionary index broadcast from the driver, so the dictionary
must be broadcast-sized, as for `link_mentions`), recover the typos,
truncations and re-orderings exact matching misses: over distinct
surfaces in `embedding_link_candidates`, over the `mention:` ids of
linked triples in `resolve_mention_residue`.
"""

from __future__ import annotations

import re
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delm_spark.operators.dedup import normalize_text

#: normalize_text's whitespace class: Java regex \s is ASCII-only
_WS = re.compile(r"\s+", re.ASCII)

#: mention rows per matmul block inside the scoring kernel — bounds the
#: score block at MENTION_BLOCK x bucket_load floats no matter how hot a
#: bucket gets (a skewed 50k x 50k bucket would otherwise be a 20 GB
#: dense matrix in one task)
_MENTION_BLOCK = 2048


def surface_embedding(col: Column) -> Column:
    """Hashing-trick character-trigram embedding of a mention surface
    (array<double> of 64 bucket counts), fully native. Trigram bucket =
    first 4 hex chars of md5 mod 64 — the md5 family the LSH/minhash
    operators already use, so an external SQL oracle re-derives identical
    vectors. `^`/`$` padding makes leading/trailing characters count.

    Built as ONE aggregate over the bucket array (fold: acc[b] += 1)
    rather than one filter branch per bucket: CollapseProject inlines
    lambda bodies, so a per-bucket filter would duplicate the whole
    trigram+md5 subtree 64 times — a megabyte-scale codegen unit that
    cost ~9 s of Janino compile time per query before any row was
    processed."""
    padded = F.concat(F.lit("^"), normalize_text(col), F.lit("$"))
    idx = F.sequence(F.lit(1), F.greatest(F.length(padded) - 2, F.lit(1)))
    tris = F.transform(idx, lambda i: padded.substr(i, F.lit(3)))
    buckets = F.transform(
        tris, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long") % 64
    )
    zeros = F.array_repeat(F.lit(0.0), 64)
    return F.aggregate(
        buckets,
        zeros,
        lambda acc, b: F.transform(
            acc, lambda v, i: F.when(i == b, v + 1).otherwise(v)
        ),
    )


def _trigram_counts(surfaces, dim: int, cache: dict) -> np.ndarray:
    """numpy twin of `surface_embedding` over raw surfaces: one float64
    row of integer trigram counts per surface (a null surface gets a zero
    row). Normalization replicates normalize_text exactly: ASCII-\\s+
    collapse, space-only trim (Spark trim strips ' ' only), then
    lowercase. Then padded '^s$', windows substr(i, 3) for i in
    1..max(len-2, 1) (the tail window of a length-2 padded string is the
    whole 2-char string, matching Spark substr semantics), bucket =
    int(md5(utf8)[:4], 16) % dim. `cache` memoizes trigram -> bucket —
    trigram diversity is alphabet-bounded, so the md5 cost amortizes to
    ~zero across a batch."""
    import hashlib

    out = np.zeros((len(surfaces), dim))
    for i, s in enumerate(surfaces):
        if s is None:
            continue
        padded = "^" + _WS.sub(" ", s).strip(" ").lower() + "$"
        for k in range(max(len(padded) - 2, 1)):
            t = padded[k : k + 3]
            b = cache.get(t)
            if b is None:
                b = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:4], 16) % dim
                cache[t] = b
            out[i, b] += 1.0
    return out


def surface_embeddings_fast(
    df: DataFrame, surface_col: str, out_col: str, dim: int = 64
) -> DataFrame:
    """Arrow-batched numpy twin of `surface_embedding` — identical
    integer-count vectors (pytest-pinned, tests/test_linking.py), ~30x
    the throughput: the native column expression is a nested higher-order
    function that evaluates INTERPRETED (~130 us/surface). A null surface
    gets a null embedding, like the native expression."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(DoubleType()))]
    )

    def gen(batches):
        cache: dict = {}
        for pdf in batches:
            surfaces = pdf[surface_col].tolist()
            vecs = _trigram_counts(surfaces, dim, cache)
            out = pdf.copy()
            out[out_col] = [None if s is None else v for s, v in zip(surfaces, vecs)]
            yield out

    return df.mapInPandas(gen, schema)


def _band_buckets(emb: np.ndarray, planes: np.ndarray, n_planes: int) -> np.ndarray:
    """(rows, bands) sign-LSH bucket ids, the numpy twin of `lsh_bucket`
    with band b on planes [b*n_planes, (b+1)*n_planes): one matmul
    against every band's hyperplanes. Integer counts against +-1 planes
    make each dot exact, so the sign bits equal the native ones."""
    bits = (emb @ planes.T >= 0).reshape(len(emb), len(planes) // n_planes, n_planes)
    return (bits.astype(np.int64) << np.arange(n_planes)).sum(axis=2)


def _dictionary_index(
    dictionary: DataFrame, dim: int, n_planes: int, probe_radius: int, bands: int
) -> dict:
    """The dictionary side of `_best_links`, built on the driver from ONE
    collect (no shuffle: the smallest canonical id per surface is taken
    here): rows are the distinct surfaces sorted by canonical_id, so a
    lower row index IS the smaller-canonical-id tie-break. Holds the trigram
    counts and their norms, the hyperplanes of every band, and per band
    a map bucket -> sorted rows whose own bucket lies within Hamming
    distance `probe_radius` (the multi-probe set). Entries with a null
    surface or canonical id are left out: they can link nothing."""
    from delm_spark.operators.similarity import _probe_masks, hyperplane_signs

    smallest: dict = {}
    for surface, cid in dictionary.select("surface", "canonical_id").dropna().collect():
        smallest[surface] = min(cid, smallest.get(surface, cid))
    rows = sorted((c, s) for s, c in smallest.items())
    emb = _trigram_counts([s for _, s in rows], dim, {})
    planes = np.array([hyperplane_signs(dim, p) for p in range(bands * n_planes)])
    masks = np.array(_probe_masks(n_planes, probe_radius))
    ids = np.repeat(np.arange(len(rows)), len(masks))
    probes = []
    for home in _band_buckets(emb, planes, n_planes).T:
        keys = (home[:, None] ^ masks).ravel()
        order = np.lexsort((ids, keys))
        uniq, starts = np.unique(keys[order], return_index=True)
        probes.append(dict(zip(uniq.tolist(), np.split(ids[order], starts[1:]))))
    return {
        "emb": emb,
        "norms": np.sqrt(np.einsum("ij,ij->i", emb, emb)),
        "cids": np.array([c for c, _ in rows], dtype=object),
        "planes": planes,
        "probes": probes,
    }


def _best_links(surfaces, ix: dict, dim: int, n_planes: int, cache: dict):
    """The scoring kernel: (best, row) arrays giving each surface's (none
    may be null) best cosine and dictionary row under the index `ix` (ties
    break to the smaller row, i.e. canonical_id; row -1 when no entry
    shares a probed bucket). Groups the surfaces by bucket per band and
    scores each group against that bucket's probe rows in blocked matmuls
    of at most `_MENTION_BLOCK` surfaces (never a dense surface x
    dictionary matrix). Trigram embeddings are integer-valued, so dots
    and squared norms are exact in float64 under any summation order and
    every score equals the native cosine bit for bit."""
    emb, norms = ix["emb"], ix["norms"]
    m = _trigram_counts(surfaces, dim, cache)
    mn = np.sqrt(np.einsum("ij,ij->i", m, m))
    best = np.full(len(surfaces), -np.inf)
    row = np.full(len(surfaces), -1)
    for home, probes in zip(_band_buckets(m, ix["planes"], n_planes).T, ix["probes"]):
        order = np.argsort(home, kind="stable")
        keys, starts = np.unique(home[order], return_index=True)
        for key, members in zip(keys.tolist(), np.split(order, starts[1:])):
            cand = probes.get(key)
            if cand is None:
                continue
            d, dn = emb[cand], norms[cand]
            for lo in range(0, len(members), _MENTION_BLOCK):
                mi = members[lo : lo + _MENTION_BLOCK]
                s = (m[mi] @ d.T) / np.maximum(np.outer(mn[mi], dn), 1e-12)
                mx = s.max(axis=1)
                # cand is sorted, so the first maximum is the smallest
                # row; bands merge on (score desc, row asc)
                r = cand[np.argmax(s == mx[:, None], axis=1)]
                win = (mx > best[mi]) | ((mx == best[mi]) & (r < row[mi]))
                best[mi[win]], row[mi[win]] = mx[win], r[win]
    return best, row


def embedding_link_candidates(
    mentions: DataFrame,
    dictionary: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    probe_radius: int = 2,
    threshold: float = 0.5,
    bands: int = 1,
) -> DataFrame:
    """Embedding-blocked entity-link candidates: each distinct mention
    `surface` is matched to its best dictionary entity by trigram-embedding
    cosine, with sign-LSH bucket blocking: a mention scores only the
    dictionary entries whose bucket lies within Hamming distance
    `probe_radius` of its own.

    `bands` > 1 uses that many INDEPENDENT n_planes-bit hash tables (the
    MinHash-LSH banding discipline): a pair is a candidate when ANY band
    matches, so recall is 1-(1-p^r)^b instead of a single table's
    P(Hamming <= radius) — the right regime once the dictionary outgrows
    what one table's bucket count can block (one 8-plane table has only
    256 buckets; with bands, blocking power and recall scale
    independently). bands=1 is the single-table multi-probe scheme the
    oracle queries pin.

    One pass: the dictionary bucket index (`_dictionary_index`) is built
    on the driver and broadcast — the dictionary must be broadcast-sized,
    as `link_mentions` already requires — and ONE mapInPandas stage over
    the distinct mention surfaces runs `_best_links` on each Arrow batch.

    Returns (surface, canonical_id, link_score): the best entity per
    mention with cosine >= threshold (ties break to the smallest
    canonical_id); a null surface gets no row. This is the scoring stage
    of the north star's 'dictionary+embedding blocking' — exact
    dictionary hits should be resolved by `link_mentions` first; this
    recovers the near-miss tail.
    """
    spark = mentions.sparkSession
    bc = spark.sparkContext.broadcast(
        _dictionary_index(dictionary, dim, n_planes, probe_radius, bands)
    )

    def score(batches):
        ix = bc.value
        cache: dict = {}
        for pdf in batches:
            surf = pdf["surface"].to_numpy(dtype=object)
            surf = surf[[s is not None for s in surf]]
            best, row = _best_links(surf, ix, dim, n_planes, cache)
            keep = (row >= 0) & (best >= threshold)
            yield pd.DataFrame(
                {
                    "surface": surf[keep],
                    "canonical_id": ix["cids"][row[keep]],
                    "link_score": best[keep],
                }
            )

    # Explicit width: AQE sizes the dedup shuffle for JVM bytes, and 100k
    # short surfaces coalesce to ONE partition — which would run the
    # Python kernel single-threaded. Explicit repartitions are AQE-exempt.
    return (
        mentions.select("surface")
        .dropDuplicates(["surface"])
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(score, "surface string, canonical_id string, link_score double")
    )


def resolve_mention_residue(
    triples: DataFrame,
    dictionary: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    probe_radius: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Second linking pass (the north star's 'dictionary + EMBEDDING
    blocking'): rewrite each `mention:<norm>` id that exact lookup left in
    `link_mentions` output to the canonical id `_best_links` finds for
    `<norm>` at cosine >= threshold.

    ONE projection over `triples`, narrowed without a shuffle to the
    default parallelism so its Python tasks run in one wave: one iterator
    pandas UDF takes the residue surfaces of subj_id and obj_id (null for
    exact hits and null ids), scores each Arrow batch's distinct surfaces
    that its task has not seen yet, and returns both ids as one struct;
    `coalesce` keeps the ids it did not resolve. No join, and nothing
    upstream needs materializing."""
    sc = triples.sparkSession.sparkContext
    bc = sc.broadcast(_dictionary_index(dictionary, dim, n_planes, probe_radius, 1))

    def resolve(batches: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        ix = bc.value
        cache: dict = {}
        #: surface -> canonical id or None, memoized for the whole task
        links: dict = {}
        for subj, obj in batches:
            uniq = pd.unique(pd.concat([subj, obj]).dropna())
            new = [s for s in uniq if s not in links]
            if new:
                best, row = _best_links(new, ix, dim, n_planes, cache)
                hit = (row >= 0) & (best >= threshold)
                ids = np.full(len(new), None, dtype=object)
                ids[hit] = ix["cids"][row[hit]]
                links.update(zip(new, ids.tolist()))
            # Series.map(dict) costs len(dict): map via this batch's part
            batch = {s: links[s] for s in uniq}
            yield pd.DataFrame({"subj_id": subj.map(batch), "obj_id": obj.map(batch)})

    def residue(c: str) -> Column:
        # the id minus its 'mention:' prefix: already normalize_text()ed
        return F.when(F.col(c).startswith("mention:"), F.expr(f"substring({c}, 9)"))

    udf = F.pandas_udf(resolve, "subj_id string, obj_id string")
    kept = {c: F.coalesce(F.col(f"__r.{c}"), F.col(c)).alias(c) for c in ("subj_id", "obj_id")}
    narrow = triples.coalesce(sc.defaultParallelism)
    return narrow.withColumn("__r", udf(residue("subj_id"), residue("obj_id"))).select(
        *[kept.get(c, F.col(c)) for c in triples.columns]
    )


def link_mentions(triples: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Attach `subj_id` / `obj_id` to the `subj` / `obj` surfaces via
    broadcast dictionary lookup.

    Unlinked mentions fall back to a deterministic `mention:<norm>` id so
    downstream canonicalization still groups exact-duplicate surfaces.
    """
    dict_s = F.broadcast(
        dictionary.select(
            F.col("surface").alias("__surf_s"), F.col("canonical_id").alias("__cid_s")
        )
    )
    dict_o = F.broadcast(
        dictionary.select(
            F.col("surface").alias("__surf_o"), F.col("canonical_id").alias("__cid_o")
        )
    )
    out = (
        triples.withColumn("__subj_norm", normalize_text(F.col("subj")))
        .withColumn("__obj_norm", normalize_text(F.col("obj")))
        .join(dict_s, F.col("__subj_norm") == F.col("__surf_s"), "left")
        .join(dict_o, F.col("__obj_norm") == F.col("__surf_o"), "left")
        .withColumn(
            "subj_id",
            F.coalesce(F.col("__cid_s"), F.concat(F.lit("mention:"), F.col("__subj_norm"))),
        )
        .withColumn(
            "obj_id",
            F.coalesce(F.col("__cid_o"), F.concat(F.lit("mention:"), F.col("__obj_norm"))),
        )
        .drop("__surf_s", "__surf_o", "__cid_s", "__cid_o", "__subj_norm", "__obj_norm")
    )
    return out
