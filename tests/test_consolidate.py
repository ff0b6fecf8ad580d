"""Mention consolidation (kg/consolidate.py): minting canonical
entities for recurring unresolved-mention variants — hand values, a
union-find reference cross-check, and the rewrite step."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from delm_spark.kg.consolidate import apply_consolidation, consolidate_mentions

SCHEMA = "subj_id string, pred string, obj_id string"


def _mint(component: str) -> str:
    return "entity:" + hashlib.md5(component.encode()).hexdigest()[:16]


def _triples(spark, objs):
    return spark.createDataFrame(
        [("person:a", "p", f"mention:{o}") for o in objs], SCHEMA
    )


def test_consolidation_hand_values(spark):
    # cluster {acme labs, acme lab} (1 edit), singleton {zeta corp} drops
    t = _triples(
        spark,
        ["acme labs", "acme labs", "acme labs", "acme lab", "zeta corp"],
    )
    got = {r["mention_id"]: r.asDict() for r in consolidate_mentions(t).collect()}
    assert set(got) == {"mention:acme labs", "mention:acme lab"}
    row = got["mention:acme lab"]
    assert row["new_id"] == _mint("acme lab")  # component = min surface
    assert row["display"] == "acme labs"  # most-supported surface wins
    assert row["n_members"] == 2 and row["cluster_support"] == 4
    assert got["mention:acme labs"]["new_id"] == row["new_id"]


def test_consolidation_display_tie_breaks_to_smallest(spark):
    t = _triples(spark, ["abcd", "abce"])  # equal support 1 each
    got = consolidate_mentions(t).collect()
    assert {r["display"] for r in got} == {"abcd"}


def test_consolidation_counts_subject_endpoints_too(spark):
    t = spark.createDataFrame(
        [("mention:abcd", "p", "mention:abce"),
         ("mention:abcd", "p", "org:x")],
        SCHEMA,
    )
    got = {r["mention_id"]: r for r in consolidate_mentions(t).collect()}
    assert got["mention:abcd"]["cluster_support"] == 3  # 2 subj + 1 obj...
    assert got["mention:abcd"]["display"] == "abcd"


def test_consolidation_guards(spark):
    t = _triples(spark, ["abcd"])
    # no pairs at all: empty result, correct schema
    out = consolidate_mentions(t)
    assert out.count() == 0
    assert out.columns == [
        "mention_id", "new_id", "display", "n_members", "cluster_support"
    ]


def test_apply_consolidation_rewrites_both_endpoints(spark):
    t = spark.createDataFrame(
        [("mention:acme lab", "p", "mention:acme labs"),
         ("person:a", "p", "mention:acme labs"),
         ("person:a", "p", "org:untouched")],
        SCHEMA,
    )
    mapping = consolidate_mentions(t)
    out = apply_consolidation(t, mapping).collect()
    minted = _mint("acme lab")
    assert {(r["subj_id"], r["obj_id"]) for r in out} == {
        (minted, minted),
        ("person:a", minted),
        ("person:a", "org:untouched"),
    }
    assert apply_consolidation(t, mapping).columns == t.columns


def _ref_consolidate(occurrences, max_edits=1):
    """Union-find reference over exhaustive levenshtein pairs."""
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

    support: dict[str, int] = {}
    for s in occurrences:
        support[s] = support.get(s, 0) + 1
    parent = {s: s for s in support}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in itertools.combinations(sorted(support), 2):
        if 3 <= len(a) <= 64 and 3 <= len(b) <= 64 and lev(a, b) <= max_edits:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[str, list[str]] = {}
    for s in support:
        clusters.setdefault(find(s), []).append(s)
    out = {}
    for comp, members in clusters.items():
        if len(members) < 2:
            continue
        comp_label = min(members)
        display = sorted(members, key=lambda m: (-support[m], m))[0]
        for m in members:
            out[m] = (
                _mint(comp_label),
                display,
                len(members),
                sum(support[x] for x in members),
            )
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    occurrences=st.lists(
        st.sampled_from(
            ["abcd", "abcde", "abce", "wxyz", "wxy z", "qqqq", "qqqqq"]
        ),
        min_size=1,
        max_size=14,
    )
)
def test_consolidation_equals_union_find_reference(spark, occurrences):
    t = _triples(spark, occurrences)
    got = {
        r["mention_id"]: (
            r["new_id"], r["display"], r["n_members"], r["cluster_support"]
        )
        for r in consolidate_mentions(t).collect()
    }
    want = {
        f"mention:{s}": v for s, v in _ref_consolidate(occurrences).items()
    }
    assert got == want
