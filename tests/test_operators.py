"""Operator-level golden tests vs the reference's strategies, plus
distributed-vs-pure merge equivalence and dedup/similarity sanity."""

from __future__ import annotations

import hashlib
import json
import re

import pytest
from pyspark.sql import functions as F

from delm_spark.constants import PARAGRAPH_SPLIT_REGEX
from delm_spark.operators.dedup import (
    SIMHASH_BITS,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures_agg,
    ngram_jaccard_pairs,
    simhash_signatures_agg,
)
from delm_spark.operators.explode import explode_json_results
from delm_spark.operators.merge import majority_vote_df, merge_nested_records
from delm_spark.operators.scoring import keyword_score_expr, validate_score_filter
from delm_spark.operators.similarity import brute_force_topk, lsh_topk
from delm_spark.operators.splitting import (
    fixed_window_split_udf,
    paragraph_split_expr,
    regex_split_expr,
)
from delm_spark.schemas import majority_vote, spec_from_dict

TEXTS = [
    "Para one.\n\nPara two line.\n \nPara three",
    "single paragraph no breaks",
    "  \n\n  leading sep \n\ntrailing\n\n",
    "One. Two! Three? Four. Five. Six. Seven.",
    "",
    "a.b sentence without spaces. Next one! And?  Last",
]


def _spark_split(spark, expr_builder, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    rows = df.select("i", expr_builder(F.col("t")).alias("chunks")).orderBy("i").collect()
    return [r["chunks"] for r in rows]


def test_paragraph_split_matches_reference(spark, ref_delm):
    ref = ref_delm["splitting"].ParagraphSplit()
    got = _spark_split(spark, paragraph_split_expr, TEXTS)
    for text, chunks in zip(TEXTS, got):
        assert chunks == ref.split(text), f"text={text!r}"


def test_regex_split_matches_reference(spark, ref_delm):
    pattern = r"(?<=[.!?])\s+"
    ref = ref_delm["splitting"].RegexSplit(pattern)
    got = _spark_split(spark, lambda c: regex_split_expr(c, pattern), TEXTS)
    for text, chunks in zip(TEXTS, got):
        assert chunks == ref.split(text), f"text={text!r}"


@pytest.mark.parametrize("window,stride", [(2, 2), (3, 1), (5, 5)])
def test_fixed_window_split_matches_reference(spark, ref_delm, window, stride):
    ref = ref_delm["splitting"].FixedWindowSplit(window=window, stride=stride)
    udf = fixed_window_split_udf(window=window, stride=stride)
    got = _spark_split(spark, lambda c: udf(c), TEXTS)
    for text, chunks in zip(TEXTS, got):
        assert chunks == ref.split(text), f"text={text!r} w={window} s={stride}"


def test_keyword_score_matches_reference(spark, ref_delm):
    kws = ["para", "SIX", "missing-kw"]
    ref = ref_delm["scoring"].KeywordScorer(kws)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "i int, t string")
    rows = (
        df.select("i", keyword_score_expr(F.col("t"), kws).alias("s"))
        .orderBy("i").collect()
    )
    for text, r in zip(TEXTS, rows):
        assert r["s"] == ref.score(text), f"text={text!r}"


def test_score_filter_validation():
    assert validate_score_filter("delm_score >= 0.7") == "delm_score >= 0.7"
    with pytest.raises(ValueError):
        validate_score_filter("__import__('os')")


# The paragraph/regex split and keyword-score expressions were rewritten
# for speed; these pin each against the expression it replaced, on
# adversarial inputs.


def _old_strip(x):
    return F.regexp_replace(F.regexp_replace(x, r"^\s+", ""), r"\s+$", "")


def _old_paragraph_split(col):
    """The pre-r6 chain: split -> transform(regex strip) -> filter."""
    return F.filter(
        F.transform(F.split(col, PARAGRAPH_SPLIT_REGEX), lambda x: _old_strip(x)),
        lambda x: x != F.lit(""),
    )


NASTY_TEXTS = [
    None,
    "",
    " ",
    "\n\n",
    " \t \n\n \t ",
    "plain single paragraph",
    "a\n\nb",
    "a \n\n b",
    "a\nb\n\nc",
    "a \nb\n\nc d",
    "a\n\n\n\nb",
    "a\n\n \t \n\nb",
    "a\r\n\r\nb",
    "a\r\n \r\nb",
    "a\r \n\nb",
    "a\n\nb",
    "\n\nleading break",
    "trailing break\n\n",
    "  edge ws  \n\n  and more  ",
    "tab\tinside\n\nkeeps\ttabs",
    "multi\n\nthree\n\npieces here",
    "unicode éü\n\nsnowman ☃",
    "a\f\n\nb",
    "a\n\r\nb",
    "x \n \n y",
    "inner  spaces   kept\n\nok",
]


def test_paragraph_split_matches_old_chain(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(NASTY_TEXTS)], "i int, t string")
    got = df.select(
        "i",
        paragraph_split_expr(F.col("t")).alias("new"),
        _old_paragraph_split(F.col("t")).alias("old"),
    ).collect()
    for r in got:
        assert r["new"] == r["old"], (NASTY_TEXTS[r["i"]], r["new"], r["old"])


def test_paragraph_split_posexplode_positions(spark):
    """chunk_pos must be identical under the new expression (the KG
    pipeline's composite key depends on it)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(NASTY_TEXTS)], "i int, t string")
    new = df.select(
        "i", F.posexplode(paragraph_split_expr(F.col("t"))).alias("p", "c")
    ).collect()
    old = df.select(
        "i", F.posexplode(_old_paragraph_split(F.col("t"))).alias("p", "c")
    ).collect()
    assert sorted(map(tuple, new)) == sorted(map(tuple, old))


def test_regex_split_strip_matches_old(spark):
    """_strip is now btrim over the ASCII-\\s set; must equal the old
    regexp_replace pair for every piece."""
    def old_regex_split(col, pattern):
        return F.filter(
            F.transform(F.split(col, pattern), lambda x: _old_strip(x)),
            lambda x: x != F.lit(""),
        )

    texts = [
        None,
        "",
        "the quick the lazy",
        "  x the y\t",
        "a the  the b",
        "\tthe\t",
        "unicode é the ☃ end",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = df.select(
        "i",
        regex_split_expr(F.col("t"), r"\s+the\s+").alias("new"),
        old_regex_split(F.col("t"), r"\s+the\s+").alias("old"),
    ).collect()
    for r in got:
        assert r["new"] == r["old"], (texts[r["i"]], r["new"], r["old"])


def test_keyword_score_matches_exists_form(spark):
    keywords = ["works at", "uses the", "Dislikes"]

    def old_score(col):
        kw_arr = F.array(*[F.lit(k.lower()) for k in keywords])
        lowered = F.lower(col)
        return F.exists(kw_arr, lambda kw: lowered.contains(kw)).cast("double")

    texts = [
        None,
        "",
        "Alice WORKS AT Acme.",
        "nothing relevant",
        "she dislikes it; he uses the tool",
        "works  at (double space)",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = df.select(
        "i",
        keyword_score_expr(F.col("t"), keywords).alias("new"),
        old_score(F.col("t")).alias("old"),
    ).collect()
    for r in got:
        assert r["new"] == r["old"], (texts[r["i"]], r["new"], r["old"])


def test_keyword_score_empty_keywords_raises(spark):
    with pytest.raises(ValueError):
        keyword_score_expr(F.lit("x"), [])


def test_majority_vote_df_matches_pure(spark):
    # records with ties and order-dependent winners
    data = [
        ("r1", "a", 0), ("r1", "b", 1), ("r1", "b", 2), ("r1", "a", 3),
        ("r2", "x", 0), ("r2", "y", 1), ("r2", "y", 2),
        ("r3", "only", 5),
    ]
    df = spark.createDataFrame(data, "record_id string, value string, pos int")
    got = {
        r["record_id"]: r["value"] for r in majority_vote_df(df).collect()
    }
    for rid in ("r1", "r2", "r3"):
        ordered = [v for r, v, p in sorted(data, key=lambda x: x[2]) if r == rid]
        assert got[rid] == majority_vote(ordered), rid


def test_merge_nested_records_orders_items(spark):
    rows = [
        ("c1", 1, 0, 1, "s2", "p", "o2"),
        ("c1", 0, 0, 0, "s1", "p", "o1"),
        ("c1", 1, 0, 0, "s15", "p", "o15"),
        ("c2", 0, 0, 0, "x", "q", "y"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, chunk_pos int, item_pos int, "
        "subj string, pred string, obj string",
    )
    got = {r["conv_id"]: r["items"] for r in merge_nested_records(df).collect()}
    assert [i["subj"] for i in got["c1"]] == ["s1", "s15", "s2"]
    assert [i["subj"] for i in got["c2"]] == ["x"]


def test_explode_json_results_matches_reference(spark, ref_delm):
    import pandas as pd

    cfg = {
        "schema_type": "nested",
        "container_name": "books",
        "variables": [
            {"name": "title", "description": "d", "data_type": "string"},
            {"name": "price", "description": "d", "data_type": "number"},
            {"name": "tags", "description": "d", "data_type": "[string]"},
        ],
    }
    jsons = [
        json.dumps({"books": [
            {"title": "A", "price": 1.5, "tags": ["x", "y"]},
            {"title": "B", "price": None, "tags": []},
        ]}),
        json.dumps({"books": [{"title": "C", "price": 3.0, "tags": ["z"]}]}),
        "{}",
    ]
    spec = spec_from_dict(cfg)
    df = spark.createDataFrame(
        [(i, j) for i, j in enumerate(jsons)], "chunk_id int, delm_extracted_data_json string"
    )
    got = explode_json_results(df, spec).orderBy("chunk_id", "title").toPandas()

    schema = ref_delm["schemas"].SchemaRegistry().create(cfg)
    pdf = pd.DataFrame({"chunk_id": range(len(jsons)), "json": jsons})
    ref = ref_delm["post"].explode_json_results(pdf, schema, json_column="json")
    ref = ref.sort_values(["chunk_id", "title"]).reset_index(drop=True)
    assert got["title"].tolist() == ref["title"].tolist()
    assert got["chunk_id"].tolist() == ref["chunk_id"].tolist()
    assert [list(t) for t in got["tags"]] == [list(t) for t in ref["tags"]]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "Hello  World"), (1, "hello world"), (2, "different"), (5, " hello world ")],
        "id int, text string",
    )
    kept = sorted(r["id"] for r in exact_dedup(df, "text", "id").collect())
    assert kept == [1, 2]


@pytest.mark.parametrize(
    "ddl, value",
    [
        ("array<map<string,int>>", [{"a": 1}]),
        ("struct<m: map<string,int>>", ({"a": 1},)),
    ],
    ids=["array_map", "struct_map"],
)
def test_exact_dedup_nested_map_column(spark, ddl, value):
    """A map nested inside an array or struct is as unorderable as a
    top-level one: the min(struct) aggregate would fail analysis, so the
    window form must take over."""
    df = spark.createDataFrame(
        [(3, "Hello  World", value), (1, "hello world", value), (2, "different", value)],
        f"id int, text string, payload {ddl}",
    )
    kept = exact_dedup(df, "text", "id").collect()
    assert sorted(r["id"] for r in kept) == [1, 2]
    assert all(r["payload"] is not None for r in kept)


def test_minhash_and_jaccard_find_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated text about spark dataframes and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "id int, text string"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(df, "text", "id", k=16, bands=8).collect()}
    assert (1, 2) in pairs
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(
               df, "text", "id", threshold=0.5, allow_all_pairs=True
           ).collect()}
    assert (1, 2) in jac and jac[(1, 2)] > 0.5


def _norm_words(text: str) -> list:
    """Python twin of `split(normalize_text(text), ' ')` for ASCII text."""
    return re.sub(r"\s+", " ", text).strip(" ").lower().split(" ")


def _token_hash(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)


def _simhash_ref(text: str) -> int:
    hs = [_token_hash(t) for t in set(_norm_words(text))]
    return sum(
        1 << b
        for b in range(SIMHASH_BITS)
        if 2 * sum((h >> b) & 1 for h in hs) >= len(hs)
    )


def test_simhash_signatures_agg_matches_md5_reference(spark):
    """The SQL-text bit votes and fold equal a pure-Python md5 SimHash:
    an exact-half vote (2*sum == n) sets the bit, bit 59 (the top bit of
    the 15-hex-digit token hash) lands in the signature, an empty text
    hashes its one empty token, and a null text yields no row."""
    top = next(f"tok{i}" for i in range(100) if _token_hash(f"tok{i}") >> 59)
    texts = {
        1: "alpha beta",
        2: top,
        3: f"The  quick\tBROWN fox {top} the quick brown dog",
        4: "",
        5: None,
        6: "one two three four five six seven eight nine ten eleven",
    }
    df = spark.createDataFrame(list(texts.items()), "id int, text string")
    got = {
        r["id"]: r["__sh"]
        for r in simhash_signatures_agg(df, "text", "id").collect()
    }
    want = {i: _simhash_ref(t) for i, t in texts.items() if t is not None}
    assert got == want
    # the cases are really exercised: "alpha" and "beta" differ in some bit
    h = [_token_hash(t) for t in ("alpha", "beta")]
    assert any((h[0] >> b & 1) != (h[1] >> b & 1) for b in range(SIMHASH_BITS))
    assert got[2] >> 59 == 1 and got[2] == _token_hash(top)


def _shingles_ref(text, n: int = 3) -> list:
    if text is None:
        return [None]
    w = _norm_words(text)
    if len(w) < n:
        return [" ".join(w)]
    return sorted({" ".join(w[i : i + n]) for i in range(len(w) - n + 1)})


def test_minhash_signatures_agg_matches_hashlib_mins(spark):
    """k=16 SQL-text salted mins equal hashlib's: min over the shingle
    set of md5('salt{i}|' + shingle) hex digests; a text shorter than n
    words is its own single shingle, a null text a null signature."""
    k = 16
    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "The quick  brown fox jumps over the lazy DOG again",
        3: "two words",
        4: "",
        5: None,
        6: "a a a a a a",
    }
    df = spark.createDataFrame(list(texts.items()), "id int, text string")
    got = {
        r["id"]: list(r["__sig"])
        for r in minhash_signatures_agg(df, "text", "id", k=k).collect()
    }
    want = {}
    for i, t in texts.items():
        sh = _shingles_ref(t)
        want[i] = (
            [None] * k
            if sh == [None]
            else [
                min(hashlib.md5(f"salt{j}|{s}".encode()).hexdigest() for s in sh)
                for j in range(k)
            ]
        )
    assert got == want


def test_brute_force_topk_self_first(spark):
    import numpy as np

    rng = np.random.RandomState(42)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(df, q, k=3).orderBy("rank").collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["score"] - 1.0) < 1e-9
    # LSH path returns a subset containing the self-match
    lsh = lsh_topk(df, q, dim=8, k=3, n_planes=4).orderBy("rank").collect()
    assert lsh[0]["vec_id"] == 0


def test_fixture_determinism(spark):
    """The committed oracle fixtures (tests/fixtures/) must equal a fresh
    regeneration — the synthetic generator is pure hash-derived, so any
    drift means the fixtures (and their oracle results) are stale."""
    from delm_spark.data.synthetic import entity_dictionary, generate_transcripts
    from tests.fixtures.make_fixtures import FIXTURE_DIR, N_CONVS, N_HOT

    committed = spark.read.parquet(str(FIXTURE_DIR / "transcripts.parquet"))
    fresh = generate_transcripts(spark, n_convs=N_CONVS, n_hot=N_HOT)
    assert committed.count() == fresh.count()
    assert committed.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(committed).count() == 0

    d_committed = spark.read.parquet(str(FIXTURE_DIR / "dictionary.parquet"))
    d_fresh = entity_dictionary(spark)
    assert d_committed.exceptAll(d_fresh).count() == 0
    assert d_fresh.exceptAll(d_committed).count() == 0


def test_fuzzy_fixture_determinism():
    """The committed fuzzy-score oracle table must equal a regeneration
    from the live scorer over the testdata documents (bit-identical
    doubles — the UDF and the fixture share fuzzy_score_text)."""
    import pyarrow.parquet as pq

    from tests.fixtures.make_fixtures import FIXTURE_DIR, make_fuzzy_fixture

    committed = pq.read_table(FIXTURE_DIR / "fuzzy_scores.parquet")
    fresh = make_fuzzy_fixture()
    assert committed.equals(fresh)


def test_ngram_jaccard_all_pairs_requires_opt_in(spark):
    """The O(n^2) no-candidates path must be explicit: reaching it by
    accident on a corpus is the classic quadratic blow-up."""
    import pytest as _pytest
    from delm_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "id long, text string")
    with _pytest.raises(ValueError, match="allow_all_pairs"):
        ngram_jaccard_pairs(df, "text", "id")


def test_incremental_dedup_flags_batch_near_dups(spark):
    import pandas as pd

    from delm_spark.operators.dedup import incremental_dedup, minhash_index

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun"
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [base, "completely different content about spark plans"],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11],
                # near-dup of corpus doc 1 (one word changed), plus a clean doc
                "text": [base.replace("afternoon", "evening"), "novel text entirely"],
            }
        )
    )
    bands_df, sh_df = minhash_index(corpus)
    out = {
        r["doc_id"]: r
        for r in incremental_dedup(
            batch, bands_df, sh_df, jaccard_threshold=0.5
        ).collect()
    }
    assert out[10]["is_dup"] == 1 and out[10]["dup_of"] == 1
    assert 0.5 <= out[10]["jaccard"] < 1.0
    assert out[11]["is_dup"] == 0 and out[11]["dup_of"] is None


def test_incremental_dedup_broadcasts_batch_not_corpus(spark):
    """Steady state is batch << corpus: the batch side must broadcast so
    the corpus index is never reshuffled."""
    import pandas as pd

    from delm_spark.operators.dedup import incremental_dedup, minhash_index

    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["alpha beta gamma delta"]})
    )
    batch = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "text": ["alpha beta gamma epsilon"]})
    )
    bands_df, sh_df = minhash_index(corpus)
    out = incremental_dedup(batch, bands_df, sh_df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan


def test_incremental_dedup_exact_copy_scores_one(spark):
    import pandas as pd

    from delm_spark.operators.dedup import incremental_dedup, minhash_index

    text = "identical content replicated byte for byte across batches"
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [5], "text": [text]})
    )
    batch = spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": [text]}))
    bands_df, sh_df = minhash_index(corpus)
    r = incremental_dedup(batch, bands_df, sh_df).head()
    assert (r["is_dup"], r["dup_of"], r["jaccard"]) == (1, 5, 1.0)


def test_duplicate_spans_hand_values(spark):
    """Two docs sharing a 10-token run -> one span each covering exactly
    that run; disjoint shared runs -> separate islands; sub-width runs
    and unique text -> nothing."""
    import pytest

    from delm_spark.operators.dedup import duplicate_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    shared2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    rows = [
        # doc 0: shared run at tokens 0-9, unique tail
        (0, shared + " unique zero tail one two three four five six seven"),
        # doc 1: unique head (3 tokens), shared run at 3-12, gap, shared2 at 20-29
        (1, "uno dos tres " + shared + " filler a b c d e f " + shared2),
        # doc 2: shared2 only, at 0-9
        (2, shared2 + " something else entirely here now ok yes no maybe"),
        # doc 3: 7-token prefix of shared (sub-width) -> no span
        (3, "alpha bravo charlie delta echo foxtrot golf DIFFERENT x y z w"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["doc_id"], r["span_start"]): r
        for r in duplicate_spans(df, "text", "doc_id", width=8).collect()
    }
    assert set(got) == {(0, 0), (1, 3), (1, 20), (2, 0)}
    assert got[(0, 0)]["span_end"] == 9 and got[(0, 0)]["span_tokens"] == 10
    assert got[(0, 0)]["n_shingles"] == 3  # starts 0,1,2
    assert got[(0, 0)]["max_docs_sharing"] == 2
    assert got[(1, 3)]["span_end"] == 12
    assert got[(1, 20)]["span_end"] == 29
    assert got[(2, 0)]["span_tokens"] == 10

    with pytest.raises(ValueError):
        duplicate_spans(df, "text", "doc_id", width=1)


def test_duplicate_spans_null_text_and_partition_invariance(spark):
    from delm_spark.operators.dedup import duplicate_spans

    shared = " ".join(f"w{i}" for i in range(12))
    rows = [(0, shared), (1, shared), (2, None), (3, "   "), (4, "short one")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    a = sorted(map(tuple, duplicate_spans(df, "text", "doc_id").collect()))
    b = sorted(
        map(tuple, duplicate_spans(df.repartition(7), "text", "doc_id").collect())
    )
    assert a == b
    assert {t[0] for t in a} == {0, 1}
