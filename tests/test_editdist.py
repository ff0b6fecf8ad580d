"""Closed-form tests for the FastSS edit-distance join
(operators/editdist.py)."""

import pytest
from pyspark.sql import functions as F

from delm_spark.operators.editdist import deletion_variants, edit_distance_pairs


def _strings(spark, rows):
    return spark.createDataFrame(rows, "id string, s string")


def test_deletion_variants_closed_form(spark):
    df = spark.range(1).select(F.lit("abc").alias("s"))
    v1 = sorted(df.select(deletion_variants(F.col("s"), 1).alias("v")).first()["v"])
    assert v1 == ["ab", "abc", "ac", "bc"]
    v2 = sorted(df.select(deletion_variants(F.col("s"), 2).alias("v")).first()["v"])
    assert v2 == ["a", "ab", "abc", "ac", "b", "bc", "c"]
    with pytest.raises(ValueError):
        deletion_variants(F.col("s"), 3)


def test_pairs_complete_vs_brute_force(spark):
    """FastSS must find EXACTLY the brute-force lev<=d pairs (recall 1
    by the deletion-neighborhood theorem, precision 1 by the refine)."""
    words = [
        "alice", "alicia", "alce", "bob", "bobb", "carol",
        "carlo", "dave", "davve", "xavier",
    ]
    df = _strings(spark, [(f"i{k}", w) for k, w in enumerate(words)])
    for d in (1, 2):
        got = {
            (r["id_a"], r["id_b"], r["lev"])
            for r in edit_distance_pairs(df, "s", "id", max_edits=d).collect()
        }
        import itertools

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[-1]

        want = {
            (f"i{i}", f"i{j}", lev(words[i], words[j]))
            for i, j in itertools.combinations(range(len(words)), 2)
            if lev(words[i], words[j]) <= d
        }
        assert got == want, (d, got ^ want)


def test_length_gates_and_validation(spark):
    df = _strings(spark, [("a", "ab"), ("b", "abc"), ("c", "x" * 70)])
    out = edit_distance_pairs(df, "s", "id", max_edits=1)
    # "ab" (below min_len) and the 70-char key (above max_len) never join
    assert out.count() == 0
