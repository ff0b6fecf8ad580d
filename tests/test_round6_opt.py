"""Round-6 optimization equivalence tests.

Each optimization that rewrites an operator's internals is pinned here
against the exact expression it replaced, on adversarial inputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delm_spark.constants import PARAGRAPH_SPLIT_REGEX


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
    from delm_spark.operators.splitting import paragraph_split_expr

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
    from delm_spark.operators.splitting import paragraph_split_expr

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
    from delm_spark.operators.splitting import regex_split_expr

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
    from delm_spark.operators.scoring import keyword_score_expr

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
    from delm_spark.operators.scoring import keyword_score_expr

    with pytest.raises(ValueError):
        keyword_score_expr(F.lit("x"), [])


def test_driver_cache_row_ceiling_refuses(spark, tmp_path, monkeypatch):
    """The driver-resident cache backends must refuse (with remediation
    text) when the distinct-miss count exceeds the configured ceiling —
    a first run's misses are corpus-sized and would otherwise OOM the
    driver mid-collect (VERDICT r5 #3)."""
    from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG
    from delm_spark.extraction import extract
    from delm_spark.extraction.backend import RuleTripleExtractor
    from delm_spark.extraction.sqlite_cache import SqliteSemanticCache
    from delm_spark.schemas.spec import spec_from_dict

    spec = spec_from_dict(TRIPLE_SCHEMA_CFG)
    cache = SqliteSemanticCache(str(tmp_path / "cache.db"))
    df = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(5)],
        "chunk_id long, delm_text_chunk string",
    )
    monkeypatch.setattr(extract, "DRIVER_CACHE_MAX_ROWS", 2)
    with pytest.raises(RuntimeError) as err:
        extract.extract_chunks(
            df, spec, RuleTripleExtractor(spec), driver_cache=cache,
        )
    # the only production caller, DelmSpark.process_via_llm, takes its
    # cache from the config, so the remedy must be a config setting
    assert "semantic_cache.backend: parquet" in str(err.value)
    assert "driver_cache_max_rows" not in str(err.value)
    # under the ceiling: unchanged behavior
    monkeypatch.setattr(extract, "DRIVER_CACHE_MAX_ROWS", 100)
    out = extract.extract_chunks(
        df, spec, RuleTripleExtractor(spec), driver_cache=cache,
    )
    assert out.count() == 5


def test_entity_ranks_two_phase_matches_global_window(spark):
    """The range-partitioned two-phase rank must equal the old global
    row_number dense rank on a vocabulary large enough to span many
    partitions, and its plan must not sort the vocabulary in one task."""
    from pyspark.sql import Window

    from delm_spark.kg.completion import entity_ranks

    tri = spark.range(20000).select(
        F.concat(F.lit("e"), F.lpad((F.col("id") * 7919 % 15013).cast("string"), 6, "0")).alias("subj"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("x"), F.lpad((F.col("id") * 104729 % 9973).cast("string"), 5, "0")).alias("obj"),
    )
    got = entity_ranks(tri).collect()
    ents = (
        tri.select(F.col("subj").alias("entity"))
        .unionByName(tri.select(F.col("obj").alias("entity")))
        .distinct()
    )
    old = ents.select(
        "entity",
        (F.row_number().over(Window.orderBy("entity")) - 1).cast("long").alias("rank"),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, old))
    # plan gate: the only SinglePartition window input is the per-block
    # census (an aggregate), never the vocabulary
    plan = entity_ranks(tri)._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window .*SinglePartition", plan):
        tail = plan[m.start() : m.start() + 2000]
        assert "HashAggregate" in tail, tail
