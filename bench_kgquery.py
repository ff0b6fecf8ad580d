#!/usr/bin/env python
"""Round-5 KG-query-family scale bench: BGP triple-pattern matching,
predicate canonicalization, and functional-fact resolution — each at a
scale where every stage shuffles for real, each with a CLOSED-FORM
assertion (no compare-to-self):

- BGP chain (?x works_at ?o), (?o located_in ?c) over a ~4M-triple
  table where every one of the 1M persons has exactly one employer and
  every org exactly one city: bindings == 1,000,000 exactly, with 3M
  noise-predicate triples that the constant pushdown must exclude at
  the parquet scan (PushedFilters plan-asserted).
- BGP colleagues (?a works_at ?org), (?b works_at ?org), a < b: with
  orgs of exactly n = P/O members the distinct-binding count is the
  closed form O * C(n, 2).
- predicate canonicalization over 10M triples / 2,000-predicate
  vocabulary (1,000 base predicates split into two surface forms with
  IDENTICAL 5,000-pair extensions): exactly 1,000 clusters of 2, every
  canonical the lexicographically-smaller base form, all Jaccards
  exactly 1e6.
- functional resolution over 5M assertions (1M subjects x 3 candidate
  objects, the first asserted 3x): exactly 1M 'current' rows, every one
  the support-3 object.

Per-phase wall and event-log attribution (bench_util). Writes
BENCH/KGQUERY_SCALE.md at full scale; prints ONE JSON line. Usage:
`python bench_kgquery.py [--scale S]` (S >= 0.01: 200 orgs, one per city).
"""

from __future__ import annotations

import json
import math
from datetime import date

import bench_util

SCALE = bench_util.cli().scale
ORG_N = 50  # members per org
# orgs in multiples of 8 keep N_PERSONS = 50 * N_ORGS a multiple of 16,
# which the property-path gcd preconditions below need
N_ORGS = bench_util.scaled(20_000, SCALE, 8)
N_PERSONS = ORG_N * N_ORGS
N_CITIES = 200
N_NOISE = 3 * N_PERSONS
N_PREDS = 1000
PAIRS_PER_PRED = bench_util.scaled(5000, SCALE)
N_SUBJECTS = bench_util.scaled(1_000_000, SCALE)

# the colleague closed form needs equal-size orgs
assert N_PERSONS % N_ORGS == 0, "N_PERSONS must be a multiple of N_ORGS"
# the property-path closed form needs the noise replicas of subject s
# to all hit the same dst (7*(s + k*N_PERSONS) + 13 ≡ 7s + 13 mod P)
assert N_NOISE % N_PERSONS == 0, "N_NOISE must be a multiple of N_PERSONS"
# ... and hop levels must never collide: a*s ≡ b (mod P) is solvable iff
# gcd(a, P) | b, so f=f^2 (6s ≡ -13) and f=f^3 / f^2=f^3 (48s ≡ -104)
# must be UNsolvable for the per-level census to be exactly P each
assert 13 % math.gcd(6, N_PERSONS) != 0, "hop collision: 6s=-13 solvable"
assert 104 % math.gcd(48, N_PERSONS) != 0, "hop collision: 48s=-104 solvable"
# the typing census counts min(N_ORGS, N_CITIES) distinct cities
assert N_ORGS >= N_CITIES, "need every city id realized"
EXPECT_COLLEAGUES = N_ORGS * (ORG_N * (ORG_N - 1) // 2)


def main() -> None:
    from pyspark.sql import functions as F

    from delm_spark.kg.ontology import canonicalize_predicates
    from delm_spark.kg.query import match_pattern
    from delm_spark.kg.quality import resolve_functional

    spark, evdir = bench_util.session("kgquery")

    # ---- inputs, materialized once (untimed) -----------------------------
    def make_triples(spark):
        person = F.format_string("person%08d", F.col("id"))
        works = spark.range(0, N_PERSONS, 1, 64).select(
            person.alias("subj_id"),
            F.lit("works_at").alias("pred"),
            F.format_string("org%06d", F.col("id") % N_ORGS).alias("obj_id"),
        )
        located = spark.range(0, N_ORGS, 1, 8).select(
            F.format_string("org%06d", F.col("id")).alias("subj_id"),
            F.lit("located_in").alias("pred"),
            F.format_string("city%04d", F.col("id") % N_CITIES).alias(
                "obj_id"
            ),
        )
        noise = spark.range(0, N_NOISE, 1, 64).select(
            F.format_string("person%08d", F.col("id") % N_PERSONS).alias(
                "subj_id"
            ),
            F.lit("mentions").alias("pred"),
            F.format_string(
                "person%08d", (F.col("id") * 7 + 13) % N_PERSONS
            ).alias("obj_id"),
        )
        return works.unionByName(located).unionByName(noise)

    triples, n_triples = bench_util.corpus(
        spark, f"kq_triples_{N_PERSONS}x{N_ORGS}x{N_NOISE}", make_triples
    )
    assert n_triples == N_PERSONS + N_ORGS + N_NOISE

    def make_aliased(spark):
        # base predicate b asserts PAIRS_PER_PRED distinct (subj, obj)
        # pairs, EACH under both surface forms p<b> and p<b>_alt
        return (
            spark.range(0, N_PREDS * PAIRS_PER_PRED, 1, 64)
            .select(
                (F.col("id") % N_PREDS).alias("b"),
                F.format_string("s%08d", F.col("id")).alias("subj_id"),
                F.format_string("o%08d", F.col("id")).alias("obj_id"),
            )
            .select(
                "subj_id",
                "obj_id",
                F.explode(
                    F.array(
                        F.format_string("p%04d", F.col("b")),
                        F.format_string("p%04d_alt", F.col("b")),
                    )
                ).alias("pred"),
            )
        )

    aliased, n = bench_util.corpus(
        spark, f"kq_aliased_{N_PREDS}x{PAIRS_PER_PRED}", make_aliased
    )
    assert n == 2 * N_PREDS * PAIRS_PER_PRED

    def make_facts(spark):
        # subject i: obj 0 asserted at turns 0,1,2; objs 1 and 2 once
        return (
            spark.range(0, N_SUBJECTS, 1, 64)
            .select(
                F.format_string("e%08d", F.col("id")).alias("subj_id"),
                F.explode(
                    F.array(*[F.lit(int(t)) for t in (0, 1, 2, 3, 4)])
                ).alias("turn_idx"),
            )
            .select(
                "subj_id",
                F.lit("works_at").alias("pred"),
                F.concat(
                    F.col("subj_id"),
                    F.lit("-obj"),
                    F.when(F.col("turn_idx") < 3, F.lit(0)).otherwise(
                        F.col("turn_idx") - 2
                    ),
                ).alias("obj_id"),
                F.concat(F.lit("c-"), F.col("subj_id")).alias("conv_id"),
                "turn_idx",
            )
        )

    facts, n = bench_util.corpus(spark, f"kq_facts_{N_SUBJECTS}", make_facts)
    assert n == 5 * N_SUBJECTS

    # ---- phases -----------------------------------------------------------
    def phase_chain():
        out = match_pattern(
            triples,
            [("?x", "works_at", "?o"), ("?o", "located_in", "?c")],
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "PushedFilters: [IsNotNull(pred), EqualTo(pred," in plan
        n = out.count()
        assert n == N_PERSONS, n
        return {"bindings": n, "pushdown_asserted": True}

    def phase_colleagues():
        out = match_pattern(
            triples,
            [("?a", "works_at", "?org"), ("?b", "works_at", "?org")],
        ).filter(F.col("a") < F.col("b"))
        n = out.count()
        assert n == EXPECT_COLLEAGUES, n
        return {"pairs": n}

    def phase_pred_canon():
        got = canonicalize_predicates(aliased, min_jaccard_micro=900_000)
        bad = got.filter(
            (F.col("n_members") != 2)
            | (F.col("canonical_pred") != F.regexp_replace("pred", "_alt$", ""))
            | (F.col("n_pairs") != PAIRS_PER_PRED)
        ).count()
        n = got.count()
        assert bad == 0 and n == 2 * N_PREDS, (bad, n)
        return {"vocab": n, "clusters": N_PREDS}

    def phase_resolution():
        got = resolve_functional(facts)
        cur = got.filter(F.col("status") == "current")
        n_cur = cur.count()
        bad = cur.filter(
            ~F.col("obj").endswith("-obj0") | (F.col("n_support") != 3)
        ).count()
        n_all = got.count()
        assert n_cur == N_SUBJECTS and bad == 0 and n_all == 3 * N_SUBJECTS, (
            n_cur,
            bad,
            n_all,
        )
        return {"current": n_cur, "asserted_objects": n_all}

    def phase_typing():
        from delm_spark.kg.typing import infer_entity_types, signature_table

        sig = signature_table(
            spark,
            [
                ("works_at", "person", "org"),
                ("located_in", "org", "place"),
            ],
        )
        got = infer_entity_types(triples, sig)
        n = got.count()
        # closed form: every person 1 vote -> person; every org
        # ORG_N range votes + 1 domain vote -> org; every city
        # N_ORGS/N_CITIES place votes; 'mentions' unsigned -> ignored
        assert n == N_PERSONS + N_ORGS + N_CITIES, n
        bad = got.filter(
            (F.col("entity").startswith("person") & (F.col("entity_type") != "person"))
            | (F.col("entity").startswith("org") & ((F.col("entity_type") != "org") | (F.col("n_votes") != ORG_N + 1)))
            | (F.col("entity").startswith("city") & (F.col("entity_type") != "place"))
            | (F.col("n_types") != 1)
        ).count()
        assert bad == 0, bad
        return {"typed_entities": n}

    def phase_union():
        from delm_spark.kg.query import match_union

        # closed form: the works_at branch yields exactly P distinct
        # (x, org) bindings and the located_in branch exactly O distinct
        # (org->x, city) bindings; variables are disjoint per branch so
        # the padded union is P + O rows exactly
        out = match_union(
            triples,
            [[("?x", "works_at", "?org")], [("?x", "located_in", "?city")]],
        )
        n = out.count()
        assert n == N_PERSONS + N_ORGS, n
        return {"bindings": n}

    def phase_values():
        # VALUES restricts ?org to 16 named orgs, pushed into both
        # pattern scans: bindings = 16 orgs x ORG_N members, and the
        # In(obj_id,...) constant set must reach the parquet scan
        vals = [f"org{i:06d}" for i in range(16)]
        out = match_pattern(
            triples,
            [("?x", "works_at", "?org"), ("?org", "located_in", "?c")],
            values={"org": vals},
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(pred), EqualTo(pred," in plan
        assert "org000015" in plan  # the In list reached a scan filter
        n = out.count()
        assert n == 16 * ORG_N, n
        return {"bindings": n, "values_pushdown_asserted": True}

    def phase_kcore():
        from delm_spark.kg.graph import k_core

        # 'mentions' is the permutation s -> 7s+13 (mod P): a disjoint
        # union of cycles, none of length 1 or 2 (the gcd asserts at the
        # top), so the undirected simple graph is 2-regular — its 2-core
        # is EXACTLY all P nodes at core_degree 2, and peeling must
        # detect the fixed point on the first re-count
        counters: dict = {}
        got = k_core(
            triples.filter(F.col("pred") == "mentions").select(
                F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
            ),
            k=2,
            counters=counters,
        )
        n = got.count()
        bad = got.filter(F.col("core_degree") != 2).count()
        assert n == N_PERSONS and bad == 0, (n, bad)
        assert counters["rounds"] == 2, counters  # nothing ever peels
        return {"core_nodes": n, "rounds": counters["rounds"]}

    def phase_path():
        from delm_spark.kg.query import property_path

        # 'mentions' is the functional graph s -> 7s+13 (mod P); 7 and
        # P are coprime and 6s=-13, 48s=-104 have no solutions mod P,
        # so f(s), f2(s), f3(s) are pairwise distinct from s's view:
        # exactly P pairs at each hop level. The LIST form exercises the
        # round-5 alternation signature (same isin scan, one label).
        got = property_path(triples, ["mentions"], max_hops=3)
        census = {
            r["hops"]: r["n"]
            for r in got.groupBy("hops")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert census == {1: N_PERSONS, 2: N_PERSONS, 3: N_PERSONS}, census
        return {"reached_pairs": 3 * N_PERSONS}

    phases = [
        ("bgp_chain_4m", phase_chain),
        ("bgp_colleagues_24m", phase_colleagues),
        ("bgp_union_4m", phase_union),
        ("bgp_values_4m", phase_values),
        ("kcore_cycles_1m", phase_kcore),
        ("pred_canon_10m", phase_pred_canon),
        ("functional_resolution_5m", phase_resolution),
        ("entity_typing_4m", phase_typing),
        ("property_path_3hop_3m", phase_path),
    ]

    (run,), _ = bench_util.run_phases(spark, evdir, phases)
    summary = {"cores": spark.sparkContext.defaultParallelism, **run}

    p = {r["phase"]: r for r in run["phases"]}
    rows = "\n".join(
        f"| {r['phase']} | {r['wall_sec']} | {r['shuffle_write_mb']} | {r['n_jobs']} |"
        for r in run["phases"]
    )
    thr = {
        "chain_triples_per_sec": int(n_triples / p["bgp_chain_4m"]["wall_sec"]),
        "colleague_pairs_per_sec": int(
            EXPECT_COLLEAGUES / p["bgp_colleagues_24m"]["wall_sec"]
        ),
        "canon_triples_per_sec": int(
            2 * N_PREDS * PAIRS_PER_PRED / p["pred_canon_10m"]["wall_sec"]
        ),
        "resolution_rows_per_sec": int(
            5 * N_SUBJECTS / p["functional_resolution_5m"]["wall_sec"]
        ),
        "typing_triples_per_sec": int(
            n_triples / p["entity_typing_4m"]["wall_sec"]
        ),
        "path_pairs_per_sec": int(
            3 * N_PERSONS / p["property_path_3hop_3m"]["wall_sec"]
        ),
    }
    md = f"""# BENCH — round-5 KG query family at scale

Generated {date.today().isoformat()} by bench_kgquery.py on local[{summary["cores"]}]
(steal gate <= {bench_util.STEAL_GATE}%: {"MET" if run["steal_gate_met"] else "NOT met — walls are upper bounds"}; best-attempt steal {run["steal_pct"]}%).

Inputs: {n_triples:,}-triple table ({N_PERSONS:,} works_at +
{N_ORGS:,} located_in + {N_NOISE:,} noise-predicate triples the
pattern constants must exclude at the scan), a
{2 * N_PREDS * PAIRS_PER_PRED:,}-triple / {2 * N_PREDS:,}-predicate
aliased corpus, and {5 * N_SUBJECTS:,} functional assertions over
{N_SUBJECTS:,} subjects. Every phase asserts a closed form in-run:

- **BGP chain**: (?x works_at ?o), (?o located_in ?c) ==
  {N_PERSONS:,} bindings exactly (each person one employer, each org
  one city); the works_at/located_in constants are plan-asserted as
  parquet PushedFilters, so the 3M noise triples never leave the scan.
- **BGP colleagues**: orgs have exactly n = {ORG_N} members, so
  (?a works_at ?org), (?b works_at ?org), a < b ==
  O * C(n, 2) = {EXPECT_COLLEAGUES:,} distinct bindings.
- **predicate canonicalization**: 1,000 base predicates split into two
  surface forms with IDENTICAL {PAIRS_PER_PRED:,}-pair extensions —
  exactly {N_PREDS:,} clusters of 2, canonical = the base form,
  asserted for the whole {2 * N_PREDS:,}-predicate vocabulary.
- **functional resolution**: subject i asserts obj0 at three turns and
  two rivals once each — exactly {N_SUBJECTS:,} 'current' rows, every
  one the support-3 object, {3 * N_SUBJECTS:,} ranked rows total.
- **entity typing**: the signature map votes every person/org/city to
  its construction type with zero role conflicts — all
  {N_PERSONS + N_ORGS + N_CITIES:,} entities asserted, orgs at exactly
  {ORG_N + 1} votes (range x{ORG_N} + domain x1), the 3M unsigned
  'mentions' triples contributing nothing.
- **property path**: 'mentions' is the functional graph s -> 7s+13
  (mod {N_PERSONS:,}); 6s=-13 and 48s=-104 have no solutions mod 1e6,
  so hop levels never collide — the {{1, 2, 3}}-hop census is exactly
  {N_PERSONS:,} pairs per level (run through the round-5 alternation
  signature, pred as a list).
- **BGP UNION**: {{?x works_at ?org}} UNION {{?x located_in ?city}} —
  branch variables are disjoint, so the null-padded union is exactly
  {N_PERSONS:,} + {N_ORGS:,} bindings; each branch plans and filters
  independently, the union adds no shuffle.
- **BGP VALUES**: the 2-pattern chain restricted to 16 named orgs —
  exactly 16 x {ORG_N} bindings, with the In(obj_id, ...) constant set
  plan-asserted INSIDE a scan filter (the works_at leg shrinks from
  {N_PERSONS:,} rows to {16 * ORG_N:,} before the join).
- **k-core**: the 'mentions' permutation graph is a disjoint union of
  cycles, none of length 1 or 2 (gcd preconditions), so the undirected
  simple graph is 2-regular — the 2-core is EXACTLY all
  {N_PERSONS:,} nodes at core_degree 2, and the peel detects the fixed
  point on its second count (counters-asserted).

| phase | wall (s) | shuffle write (MB) | jobs |
|---|---|---|---|
{rows}

Throughput: {json.dumps(thr)}

100-TB read: BGP constants cut the scan to the matching predicates
BEFORE any exchange (pushdown is what makes a pattern query over a
10^12-triple table feasible at all); the join chain shuffles only the
filtered pattern legs on their shared variables, and AQE
broadcast-converts constant-heavy legs (the 20k-row located_in side).
Predicate canonicalization's only corpus-sized work is the distinct +
per-(subj, obj) set collection; everything after lives in the
vocabulary-sized predicate space (the CC step resolves 2,000 nodes on
the driver fast path). Functional resolution shuffles map-side-combined
partials first and windows only the aggregated one-row-per-asserted-
object frame.
"""
    bench_util.report("KGQUERY_SCALE", summary, md, SCALE == 1)


if __name__ == "__main__":
    main()
