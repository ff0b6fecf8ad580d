"""Mention linking (kg/linking.py): the numpy trigram-embedding twin and
the embedding-blocked candidate kernel, checked against a pure-Python
all-pairs reference, plus the composed pipeline's residue pass."""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from delm_spark.kg import linking
from delm_spark.kg.linking import embedding_link_candidates
from delm_spark.operators.similarity import hyperplane_signs


def _ref_vector(surface: str, dim: int) -> list:
    """Trigram counts of one raw surface, written out longhand:
    normalize_text (ASCII whitespace collapse, space trim, lowercase),
    '^s$' padding, md5 bucket of every 3-char window."""
    padded = "^" + re.sub(r"\s+", " ", surface, flags=re.ASCII).strip(" ").lower() + "$"
    v = [0] * dim
    for i in range(max(len(padded) - 2, 1)):
        tri = padded[i : i + 3].encode("utf-8")
        v[int(hashlib.md5(tri).hexdigest()[:4], 16) % dim] += 1
    return v


def _ref_buckets(v: list, planes: list, n_planes: int) -> list:
    """One sign-LSH bucket per band; band b uses planes b*n_planes.."""
    return [
        sum(
            1 << p
            for p in range(n_planes)
            if sum(x * h for x, h in zip(v, planes[b * n_planes + p])) >= 0
        )
        for b in range(len(planes) // n_planes)
    ]


def reference_links(
    mentions, dictionary, dim=64, n_planes=8, probe_radius=2, threshold=0.5, bands=1
) -> dict:
    """All-pairs reference of embedding_link_candidates: a dictionary
    entry (smallest canonical id per surface) is a candidate for a
    mention when their buckets are within `probe_radius` bits in ANY
    band; the best candidate is the argmax of (score desc, canonical_id
    asc), kept when score >= threshold. Returns {surface: (id, score)}."""
    planes = [hyperplane_signs(dim, p) for p in range(bands * n_planes)]
    best_id: dict = {}
    for s, c in dictionary:
        if s is not None and c is not None:
            best_id[s] = min(best_id.get(s, c), c)
    ents = []
    for s, c in best_id.items():
        v = _ref_vector(s, dim)
        ents.append((c, v, _ref_buckets(v, planes, n_planes), math.sqrt(sum(x * x for x in v))))
    out = {}
    for m in {m for m in mentions if m is not None}:
        mv = _ref_vector(m, dim)
        mb = _ref_buckets(mv, planes, n_planes)
        mn = math.sqrt(sum(x * x for x in mv))
        scored = [
            (float(sum(a * b for a, b in zip(mv, dv))) / max(mn * dn, 1e-12), c)
            for c, dv, db, dn in ents
            if any(bin(x ^ y).count("1") <= probe_radius for x, y in zip(mb, db))
        ]
        if scored:
            score, cid = min(scored, key=lambda t: (-t[0], t[1]))
            if score >= threshold:
                out[m] = (cid, score)
    return out


def _kernel_links(spark, mentions, dictionary, **kw) -> dict:
    m = spark.createDataFrame([(s,) for s in mentions], "surface string")
    d = spark.createDataFrame(dictionary, "surface string, canonical_id string")
    rows = embedding_link_candidates(m, d, **kw).collect()
    out = {r["surface"]: (r["canonical_id"], r["link_score"]) for r in rows}
    assert len(out) == len(rows), "one row per distinct mention surface"
    return out


def _dictionary_rows(spark):
    from delm_spark.data.synthetic import entity_dictionary

    return [(r["surface"], r["canonical_id"]) for r in entity_dictionary(spark).collect()]


@pytest.mark.parametrize("bands", [1, 2])
@pytest.mark.parametrize("probe_radius", [0, 2])
def test_kernel_matches_all_pairs_reference(spark, bands, probe_radius):
    """Bit-equal link_score and the same argmax as the all-pairs
    reference, over truncated, clipped, exact, noisy and repeated
    mentions."""
    dictionary = _dictionary_rows(spark)
    surfaces = [s for s, _ in dictionary]
    mentions = (
        [s[:-1] for s in surfaces]
        + [s[1:] for s in surfaces]
        + surfaces[:5]
        + surfaces[:3]
        + ["Acme  CORP", "zzz qqq", "x", "", "weather report"]
    )
    kw = dict(dim=64, n_planes=8, probe_radius=probe_radius, threshold=0.5, bands=bands)
    want = reference_links(mentions, dictionary, **kw)
    assert len(want) > 20
    assert _kernel_links(spark, mentions, dictionary, **kw) == want


# Two dictionary surfaces at EXACTLY equal cosine to the mention but in
# different buckets: 'acmeb'/'pacme' sit in different band-0 buckets,
# each one bit from 'acme' (bands=1, radius 2); 'acme groupf' shares only
# band 0 with 'acme group' and 'lacme group' only band 1 (bands=2,
# radius 0), so the bands must merge on (score desc, canonical_id asc).
TIES = {
    "across_buckets": ("acme", "acmeb", "pacme", dict(bands=1, probe_radius=2)),
    "across_bands": ("acme group", "acme groupf", "lacme group", dict(bands=2, probe_radius=0)),
}


@pytest.mark.parametrize("case", sorted(TIES))
@pytest.mark.parametrize("low_first", [True, False])
def test_kernel_equal_scores_break_to_smallest_canonical_id(spark, case, low_first):
    mention, first, second, kw = TIES[case]
    kw = dict(kw, dim=64, n_planes=8, threshold=0.0)
    planes = [hyperplane_signs(64, p) for p in range(kw["bands"] * 8)]
    bkts = [_ref_buckets(_ref_vector(s, 64), planes, 8) for s in (mention, first, second)]
    assert bkts[1] != bkts[2]  # the tie really crosses buckets
    ids = ("ent:a", "ent:b") if low_first else ("ent:b", "ent:a")
    dictionary = [(first, ids[0]), (second, ids[1])]
    want = reference_links([mention], dictionary, **kw)
    scores = {
        s: reference_links([mention], [(s, "x")], **kw)[mention][1] for s in (first, second)
    }
    assert scores[first] == scores[second]
    assert want[mention][0] == "ent:a"
    assert _kernel_links(spark, [mention], dictionary, **kw) == want


def test_kernel_duplicate_surface_and_null_mention(spark):
    """A surface listed under two canonical ids links to the smaller one;
    a null mention surface gets no row, also when it is a batch's only
    row."""
    dictionary = [("acme corp", "org:b"), ("acme corp", "org:a"), ("globex inc", "org:c")]
    mentions = ["acme cor", None, "globex in", None]
    want = reference_links(mentions, dictionary)
    assert want["acme cor"][0] == "org:a"
    assert _kernel_links(spark, mentions, dictionary) == want
    assert _kernel_links(spark, [None], dictionary) == {}


def test_kernel_splits_hot_bucket_into_mention_blocks(spark, monkeypatch):
    """A bucket group larger than _MENTION_BLOCK is scored in several
    matmul blocks with the same result. One plane gives two buckets, so
    with 48 mentions some partition's batch holds more than
    _MENTION_BLOCK=2 mentions of one bucket."""
    monkeypatch.setattr(linking, "_MENTION_BLOCK", 2)
    dictionary = _dictionary_rows(spark)
    mentions = [s[:-1] for s, _ in dictionary][:48]
    kw = dict(dim=64, n_planes=1, probe_radius=0, threshold=0.3, bands=1)
    planes = [hyperplane_signs(64, 0)]
    hot = max(
        sum(_ref_buckets(_ref_vector(m, 64), planes, 1) == [b] for m in set(mentions))
        for b in (0, 1)
    )
    assert hot > spark.sparkContext.defaultParallelism * linking._MENTION_BLOCK
    want = reference_links(mentions, dictionary, **kw)
    assert _kernel_links(spark, mentions, dictionary, **kw) == want


def test_surface_embeddings_fast_identical_to_native(spark):
    """The Arrow-batched trigram-embedding twin must reproduce the native
    column expression exactly — including normalization (ASCII-\\s+
    collapse, space-only trim, lowercase), tail-window substr semantics
    on short strings, and UTF-8 md5 bucketing of non-ASCII trigrams."""
    from delm_spark.kg.linking import surface_embedding, surface_embeddings_fast

    surfaces = [
        "alice smith",
        "Alice  Smith",          # case + double space
        " alice\tsmith ",        # trim + tab collapse
        "a",                     # padded length 3 -> one window
        "",                      # padded length 2 -> tail window '^$'
        "ab",                    # padded length 4
        "josé garcía-lópez",     # multi-byte UTF-8 trigrams
        "ACME Corp.",
        "x" * 200,               # long run, repeated trigram
        "w00042 w10993 w05511",  # bench-shaped vocab surface
    ]
    df = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    native = {
        r["surface"]: list(r["e"])
        for r in df.select(
            "surface", surface_embedding(F.col("surface")).alias("e")
        ).collect()
    }
    fast = {
        r["surface"]: list(r["e"])
        for r in surface_embeddings_fast(df, "surface", "e", 64).collect()
    }
    assert fast == native
    assert fast == {s: [float(x) for x in _ref_vector(s, 64)] for s in surfaces}


def test_surface_embeddings_fast_null_surface(spark):
    """A null surface must null-propagate (row dropped at posexplode)
    like the native expression, not TypeError the task."""
    from delm_spark.kg.linking import surface_embeddings_fast

    df = spark.createDataFrame(
        [("alice",), (None,), ("bob",)], "surface string"
    )
    rows = surface_embeddings_fast(df, "surface", "e", 64).collect()
    by_s = {r["surface"]: r["e"] for r in rows}
    assert by_s[None] is None
    assert by_s["alice"] is not None and by_s["bob"] is not None


def test_run_pipeline_embedding_link_resolves_typos(spark):
    from delm_spark.data.synthetic import entity_dictionary
    from delm_spark.kg.pipeline import PipelineConfig, run_pipeline

    t = spark.createDataFrame(
        [
            # 'Acme Cor' is a one-char truncation of dictionary 'acme corp'
            ("c1", 0, "user", "Alice Smith works at Acme Cor.", "", "2026-01-01"),
            # exact hit for contrast
            ("c2", 0, "user", "Bob Jones works at Acme Corp.", "", "2026-01-01"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d = entity_dictionary(spark)

    exact = run_pipeline(spark, t, d, PipelineConfig())
    by_conv = {r["conv_id"]: r for r in exact.triples.collect()}
    assert by_conv["c1"]["obj_id"] == "mention:acme cor"  # exact linking misses

    composed = run_pipeline(
        spark, t, d, PipelineConfig(embedding_link=True, embedding_link_threshold=0.5)
    )
    by_conv = {r["conv_id"]: r for r in composed.triples.collect()}
    assert by_conv["c1"]["obj_id"] == "org:acme"  # embedding pass recovers it
    assert by_conv["c2"]["obj_id"] == "org:acme"
    assert by_conv["c1"]["subj_id"] == "person:alice_smith"
    # and the canonical edge table reflects the recovered link
    edges = {r["conv_id"]: r for r in composed.edges.collect()}
    assert edges["c1"]["obj_canonical"] == "org:acme"


def _resolve(spark, rows, dictionary) -> list:
    """resolve_mention_residue over (k, subj_id, obj_id) rows, run as ONE
    task so that surfaces repeated across its Arrow batches meet again."""
    df = spark.createDataFrame(rows, "k int, subj_id string, obj_id string").coalesce(1)
    d = spark.createDataFrame(dictionary, "surface string, canonical_id string")
    out = linking.resolve_mention_residue(df, d)
    assert out.columns == df.columns
    return sorted(tuple(r) for r in out.collect())


def test_resolver_matches_kernel_across_batches_and_passes_nulls(spark):
    """Each `mention:` id resolves to the reference kernel's link,
    whether its surface repeats inside one Arrow batch or across many
    (two rows per batch); null ids and ids that are not `mention:` pass
    through unchanged."""
    dictionary = _dictionary_rows(spark)
    surfaces = [s[:-1] for s, _ in dictionary[:12]] + ["zzz qqq", "x"]
    want = reference_links(surfaces, dictionary)
    assert 5 < len(want) < len(surfaces)
    rows = [
        (i, f"mention:{surfaces[i % len(surfaces)]}", f"mention:{surfaces[i * 5 % len(surfaces)]}")
        for i in range(4 * len(surfaces))
    ]
    rows += [(900, None, "org:acme"), (901, "person:alice_smith", None), (902, None, None)]

    def resolved(mid):
        hit = mid is not None and mid.startswith("mention:") and want.get(mid[8:])
        return hit[0] if hit else mid

    expected = sorted((k, resolved(s), resolved(o)) for k, s, o in rows)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        assert _resolve(spark, rows, dictionary) == expected
    finally:
        spark.conf.set(key, prev)
    assert _resolve(spark, rows, dictionary) == expected


def test_resolver_without_residue_and_memo_per_task(spark):
    """A frame with no `mention:` id, or resolved against an empty
    dictionary, comes back unchanged; and the resolved-surface memo lives
    in one task, not in the (reused) Python worker: the same surface
    resolves against whichever dictionary the call was given."""
    exact = [(1, "org:acme", "person:bob_jones"), (2, None, "org:acme")]
    dictionary = [("acme corp", "org:a"), ("globex inc", "org:c")]
    assert _resolve(spark, exact, dictionary) == sorted(exact)
    rows = [(1, "person:x", "mention:acme cor")]
    assert _resolve(spark, rows, []) == rows
    assert _resolve(spark, rows, dictionary) == [(1, "person:x", "org:a")]
    moved = [("acme corp", "org:z"), ("globex inc", "org:c")]
    assert _resolve(spark, rows, moved) == [(1, "person:x", "org:z")]
