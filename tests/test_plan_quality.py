"""Physical-plan quality gates: filters reach the parquet scan, small
dimensions broadcast, scans prune columns, and the native operator chain
stays inside whole-stage codegen. These guard the 100-TB properties that
row counts can't."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tests.conftest import TESTDATA, py4j_calls

SF_DIR = str(TESTDATA / "sf0.001")


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _has_codegen(df) -> bool:
    # with AQE on, pre-execution formatted plans hide codegen spans; the
    # codegen explain mode still reports compiled subtrees
    return "WholeStageCodegen" in _plan(df, "codegen")


def _last_execution_id(store) -> int:
    runs = store.executionsList()
    return runs.apply(runs.size() - 1).executionId() if runs.size() else -1


def _executions_since(store, last: int) -> list:
    """SQL executions with an id above `last`, oldest first. Selected by
    id, not by list position: the status store keeps only the newest
    spark.sql.ui.retainedExecutions (1000), so in a long session its
    count stops growing and a positional offset selects nothing."""
    runs = store.executionsList()
    out = []
    for i in range(runs.size() - 1, -1, -1):
        if runs.apply(i).executionId() <= last:
            break
        out.append(runs.apply(i))
    return out[::-1]


def test_q1_pushes_filter_and_prunes_columns(spark):
    df = entry_mod.q1_pricing_summary(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # only the needed columns are read
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema
    assert _has_codegen(df)


def test_q3_broadcasts_customer_dim(spark):
    plan = _plan(entry_mod.q3_top_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_brand_revenue_broadcasts_part(spark):
    plan = _plan(entry_mod.broadcast_brand_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_keyword_score_is_native(spark):
    """R1 must not fall out of codegen into a Python eval."""
    df = entry_mod.keyword_score_filter(spark, SF_DIR)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert _has_codegen(df)


def test_regex_split_is_native(spark):
    plan = _plan(entry_mod.regex_split_chunks(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_entity_link_broadcasts_dictionary(spark):
    from delm_spark.data.synthetic import entity_dictionary
    from delm_spark.kg.linking import link_mentions

    triples = spark.createDataFrame(
        [("c", 0, 0, 0, "Alice Smith", "works_at", "Acme Corp")],
        "conv_id string, turn_idx int, chunk_pos int, item_pos int, "
        "subj string, pred string, obj string",
    )
    plan = _plan(link_mentions(triples, entity_dictionary(spark)))
    assert plan.count("BroadcastHashJoin") >= 2  # subj + obj lookups
    assert "SortMergeJoin" not in plan


def test_extraction_plan_gate(spark, tmp_path):
    """The rule backend's extraction is native in every extract_chunks
    mode: no Python node in anything it runs or returns, and its regex
    scan appears once in the optimized plan (CollapseProject must not
    inline the items column into several consumers — each copy would
    re-run the scan per row). A backend with only extract_raw still gets
    the Arrow-batched MapInPandas stage, never row-at-a-time Python."""
    from delm_spark.data.synthetic import TRIPLE_SCHEMA_CFG, generate_transcripts
    from delm_spark.extraction.backend import RuleTripleExtractor
    from delm_spark.kg.pipeline import chunk_transcripts
    from delm_spark.schemas.spec import spec_from_dict
    from tests.test_extraction import MODES, _reference_backend, run_mode

    spec = spec_from_dict(TRIPLE_SCHEMA_CFG)
    backend = RuleTripleExtractor(spec)
    chunks = chunk_transcripts(generate_transcripts(spark, n_convs=5))
    store = spark._jsparkSession.sharedState().statusStore()
    python_nodes = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")

    for mode in MODES:
        last = _last_execution_id(store)
        out = run_mode(chunks, spec, backend, mode, tmp_path / mode)
        # every SQL execution the call ran (cache writes, driver-cache
        # collects) plus the plan it returns
        plans = [e.physicalPlanDescription() for e in _executions_since(store, last)]
        plans.append(_plan(out))
        for node in python_nodes:
            assert not any(node in p for p in plans), (mode, node)
        if mode in ("inline", "dedup"):
            optimized = out._jdf.queryExecution().optimizedPlan().toString()
            assert optimized.count("regexp_extract_all") == 1, (mode, optimized)

    python_backend = _reference_backend(backend)
    for mode in ("inline", "dedup"):
        plan = _plan(run_mode(chunks, spec, python_backend, mode, tmp_path))
        assert "MapInPandas" in plan, mode
        assert "BatchEvalPython" not in plan, mode


def _job_names(spark, group: str) -> list:
    jobs = spark._jsparkSession.sparkContext().statusStore()
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    return [jobs.job(j).name() for j in ids]


def test_residue_linking_is_one_arrow_pass(spark, tmp_path):
    """The embedding residue pass is ONE Arrow projection over the linked
    triples: one ArrowEvalPython and no join, exchange, cogroup, window
    argmax, row-at-a-time Python or eager localCheckpoint job in anything
    resolve_mention_residue runs, from the call through collecting its
    result — and the checkpointed pipeline runs no localCheckpoint job
    either (the resolver consumes the linked frame once, so nothing
    upstream is materialized for it)."""
    from delm_spark.kg.linking import resolve_mention_residue
    from delm_spark.kg.pipeline import PipelineConfig, run_pipeline

    d = entry_mod._fixture_dictionary(spark)
    typos = entry_mod._typo_transcripts(spark)
    linked = run_pipeline(spark, typos, d, PipelineConfig()).triples.localCheckpoint(
        eager=True
    )
    before = linked.filter(F.col("obj_id").startswith("mention:")).count()
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    last = _last_execution_id(store)
    sc.setJobGroup("residue-gate", "residue linking plan gate")
    try:
        # every column, as the pipeline's stage commit consumes it
        rows = resolve_mention_residue(linked, d).collect()
    finally:
        sc.setJobGroup(None, None)
    assert sum(r["obj_id"].startswith("mention:") for r in rows) < before

    # executed operator trees only: the formatted description repeats each
    # node in its details section and in the pre-reuse initial plan
    trees = [
        e.physicalPlanDescription().split("\n\n")[0].split("== Initial Plan ==")[0]
        for e in _executions_since(store, last)
    ]
    for node in ("FlatMapCoGroupsInPandas", "Window", "BatchEvalPython", "Join", "Exchange"):
        assert not any(node in t for t in trees), node
    assert sum(t.count("ArrowEvalPython") for t in trees) == 1
    names = _job_names(spark, "residue-gate")
    assert names and not any(n.startswith("localCheckpoint") for n in names), names

    # one wave of Python tasks however wide the input: a wider frame is
    # narrowed to the default parallelism, without a shuffle
    n = 3 * sc.defaultParallelism
    wide = linked.repartition(n).localCheckpoint(eager=True)
    assert wide.rdd.getNumPartitions() == n
    narrow = resolve_mention_residue(wide, d)
    assert narrow.rdd.getNumPartitions() == sc.defaultParallelism
    assert sorted(map(tuple, narrow.collect())) == sorted(map(tuple, rows))

    sc.setJobGroup("residue-gate-pipeline", "checkpointed linked pipeline")
    try:
        cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ck"), embedding_link=True)
        assert "s3_triples" in run_pipeline(spark, typos, d, cfg).runner.built
    finally:
        sc.setJobGroup(None, None)
    names = _job_names(spark, "residue-gate-pipeline")
    assert names and not any(n.startswith("localCheckpoint") for n in names), names


#: Spark jobs per checkpointed stage of the fixture pipeline (dedup
#: extraction + embedding residue linking), counted by job group; the
#: budgets are the measured counts. "read" is every
#: StageRunner._read_stage call (no job: the stored schema is passed, so
#: nothing is inferred), "other" what runs outside any stage (the one
#: dictionary snapshot collect; the canonical map and the residue index
#: read that local snapshot without a job). s3_triples = dictionary
#: broadcast, write.
JOB_BUDGET = {
    "build": {
        "s1_chunks": 1,
        "s2_extracted": 4,
        "s3_triples": 2,
        "s4_edges": 2,
        "s5_nodes": 2,
        "read": 0,
        "other": 1,
    },
    "resume": {"read": 0, "other": 1},
}


def test_checkpointed_pipeline_job_budget(spark, tmp_path, monkeypatch):
    """Per-stage job counts of the checkpointed pipeline and of its resume
    pass stay within JOB_BUDGET; the resume pass reuses every stage and
    runs no schema-inference job."""
    import uuid

    from delm_spark.kg.pipeline import PipelineConfig, StageRunner, run_pipeline

    sc = spark.sparkContext
    stage, read = StageRunner.stage, StageRunner._read_stage

    def grouped(group, fn):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"{tag}:{group}")
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(
        StageRunner,
        "stage",
        lambda self, name, *a, **k: grouped(name, lambda: stage(self, name, *a, **k)),
    )
    monkeypatch.setattr(
        StageRunner, "_read_stage", lambda self, name: grouped("read", lambda: read(self, name))
    )
    cfg = PipelineConfig(
        checkpoint_dir=str(tmp_path / "ck"), dedup_extraction=True, embedding_link=True
    )
    d = entry_mod._fixture_dictionary(spark)
    t = entry_mod._typo_transcripts(spark)
    counts = {}
    for run in ("build", "resume"):
        tag = uuid.uuid4().hex
        res = grouped("other", lambda: run_pipeline(spark, t, d, cfg))
        groups = ("read", "other", *res.runner.built)
        counts[run] = {
            g: len(sc.statusTracker().getJobIdsForGroup(f"{tag}:{g}")) for g in groups
        }
    assert not res.runner.built and len(res.runner.resumed) == 5
    over = {
        (run, g): (n, JOB_BUDGET[run][g])
        for run in counts
        for g, n in counts[run].items()
        if n > JOB_BUDGET[run][g]
    }
    assert not over, f"(run, group): (jobs, budget) over budget: {over}"


def test_topk_partial_group_limit(spark):
    """Similarity top-k must ship a BOUNDED merge: the rank<=k filter
    compiles to WindowGroupLimit with a PARTIAL pass below the exchange,
    so each map task emits at most k rows per query — the per-query
    window never funnels all N*q scores into q tasks."""
    from delm_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    dim = len(emb.select("embedding").first()[0])

    for df in (
        brute_force_topk(emb, q, k=10),
        lsh_topk(emb, q, dim=dim, k=10, n_planes=8, probe_radius=1),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        ex = plan.find("Exchange hashpartitioning(query_id")
        partial = plan.find("WindowGroupLimit")
        partial = plan.find("Partial", partial)
        assert ex != -1 and partial != -1, plan
        # tree prints top-down: the Partial pass must sit BELOW (after)
        # the shuffle that feeds the final merge
        assert partial > ex, plan


def test_merge_records_single_exchange(spark):
    """The per-record merge must be ONE aggregation: a single shuffle on
    the record id, no per-variable vote joins (formerly 2V exchanges + V
    joins for V scalar variables)."""
    import json

    from delm_spark.operators.merge import merge_records
    from delm_spark.schemas.spec import spec_from_dict
    from tests.test_clean_parity import MULTIPLE_CFG, SIMPLE_CFG

    df = spark.createDataFrame(
        [("r1", 0, json.dumps({"authors": ["a"], "book_prices": [1.0],
                               "genre": "fiction", "available": True,
                               "title": "t"}))],
        "record_id string, pos int, delm_extracted_data_json string",
    )
    for cfg in (SIMPLE_CFG, MULTIPLE_CFG):
        plan = (
            merge_records(df, spec_from_dict(cfg), "record_id", "pos")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange") == 1, plan
        assert "Join" not in plan, plan


def test_pipeline_has_no_python_rdd_scans(spark):
    """Regression guard for the round-4 perf class: plain-rows
    createDataFrame frames are Python-RDD backed ('Scan ExistingRDD' fed
    by a Python runner), and EVERY downstream action re-runs Python
    deserializer tasks (~6 s/action at 32 cores for a 50-row dictionary).
    The dictionary and the driver-CC canonical map must materialize as
    Arrow-backed LocalTableScans, and the exact pipeline's plans (which
    contain no localCheckpoint, the one legitimate JVM ExistingRDD
    source) must be ExistingRDD-free end-to-end."""
    from delm_spark.data.synthetic import entity_dictionary, generate_transcripts
    from delm_spark.kg.canonicalize import canonical_map
    from delm_spark.kg.pipeline import PipelineConfig, run_pipeline

    d = entity_dictionary(spark)
    assert "ExistingRDD" not in _plan(d)
    assert "ExistingRDD" not in _plan(canonical_map(d))

    t = generate_transcripts(spark, n_convs=20, n_hot=1)
    res = run_pipeline(spark, t, d, PipelineConfig())
    for df in (res.edges, res.nodes, res.triples):
        assert "ExistingRDD" not in _plan(df), _plan(df)[:2000]


def test_lsh_pair_plans_have_no_distinct_aggregate(spark):
    """Both pair generators emit each pair exactly once from its first
    matching block/band, so no post-join distinct (a full shuffle of the
    candidate set — the largest intermediate on clustered corpora) may
    appear in the plan. Exactly-once-ness itself is asserted on data."""
    from delm_spark.operators.dedup import minhash_lsh_pairs, simhash_dedup_pairs

    docs = spark.read.parquet(str(TESTDATA / "sf0.001" / "documents.parquet"))
    for pairs in (
        minhash_lsh_pairs(docs, "text", "doc_id"),
        simhash_dedup_pairs(docs, "text", "doc_id"),
    ):
        plan = _plan(pairs, "simple")
        # a distinct() would plan as HashAggregate over the join output
        after_join = plan.split("SortMergeJoin")[0]
        assert "HashAggregate(keys=[id_a" not in plan
        assert "HashAggregate(keys=[__id" not in after_join
        rows = [tuple(r) for r in pairs.collect()]
        assert len(rows) == len(set(rows))


def test_asof_join_single_exchange(spark):
    """The union-window as-of join must cost exactly ONE hash exchange
    (on the join key) — the whole point of the form vs a range
    theta-join (BroadcastNestedLoop / inflated sort-merge)."""
    from delm_spark.operators.temporal import asof_join

    left = spark.range(1000).selectExpr(
        "id AS event_id", "id % 37 AS k",
        "timestamp_seconds(1700000000 + id * 7) AS ts",
    )
    right = spark.range(500).selectExpr(
        "id AS click_id", "id % 37 AS k",
        "timestamp_seconds(1700000000 + id * 11) AS ts",
    )
    out = asof_join(left, right, ["k"], "ts", "ts", ["click_id"],
                    tolerance_sec=3600)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tfidf_reuses_token_exchange_and_group_limits(spark):
    """tfidf_top_terms must serve the tf and df branches from ONE token
    pass (ReusedExchange in the executed plan — requires max_tf to stay
    in the output, see the operator docstring) and plan the per-doc
    top-n as WindowGroupLimit, with zero Python stages."""
    df = entry_mod.tfidf_top_terms_docs(spark, SF_DIR)
    df.collect()  # AQE finalizes exchange reuse only at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan


def test_sketch_and_weighted_sample_plan_shapes(spark):
    """kmv = one distinct exchange + TakeOrdered; hll = two exchanges
    (registers + 1-row agg); weighted sample = ZERO exchanges, pure
    map + TakeOrdered — all JVM-native."""
    kmv = entry_mod.kmv_distinct_tokens(spark, SF_DIR)
    p = _plan(kmv, "simple")
    assert "TakeOrderedAndProject" in p and "EvalPython" not in p

    from delm_spark.operators.sample import weighted_ticket_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ws = weighted_ticket_sample(
        docs, 50, "doc_id", F.expr("n_chars div 200 + 1"), max_weight=8
    )
    p = _plan(ws, "simple")
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p
    assert "EvalPython" not in p

    hll = entry_mod.hll_users_events(spark, SF_DIR)
    p = _plan(hll, "simple")
    assert p.count("Exchange") <= 2 and "EvalPython" not in p


def test_negative_samples_broadcasts_entity_ranks(spark):
    """Replacement entities arrive via broadcast joins; the corruption
    path never SMJs the draw table against the dictionary, and nothing
    falls out to Python."""
    from delm_spark.kg.completion import negative_samples

    t = spark.createDataFrame(
        [(f"e{i}", "p", f"e{i+1}") for i in range(50)],
        "subj string, pred string, obj string",
    )
    plan = _plan(negative_samples(t, k=2))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_entity_ranks_reuses_range_exchange(spark):
    """entity_ranks reads its range-partitioned vocabulary twice (the
    within-block row_number and the block census); the ranks are right
    only if both read the SAME range boundaries, so the executed plan
    must run the range exchange once and reuse it for the second read."""
    from delm_spark.kg.completion import entity_ranks

    t = spark.createDataFrame(
        [(f"e{i}", "p", f"e{i+1}") for i in range(50)],
        "subj string, pred string, obj string",
    )
    ranks = entity_ranks(t)
    assert sorted(r["rank"] for r in ranks.collect()) == list(range(51))
    final = ranks._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    ranged = [ln for ln in final.splitlines() if "rangepartitioning" in ln]
    assert len(ranged) == 2, final
    assert sum("ReusedExchange" in ln for ln in ranged) == 1, final


def test_link_prediction_no_cartesian_all_native(spark):
    from delm_spark.kg.completion import link_prediction_scores

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src long, dst long"
    )
    plan = _plan(link_prediction_scores(e))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_probe_join_broadcasts_sketch(spark):
    """The <= depth*width-cell sketch must broadcast into the probe
    join — estimating keys never shuffles on the cell key."""
    from delm_spark.operators.sketch import cms_estimate_counts

    df = spark.createDataFrame(
        [(f"u{i % 20}",) for i in range(500)], "k string"
    )
    plan = _plan(cms_estimate_counts(df, "k", depth=4, width=64))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rollup_is_single_expand_native(spark):
    """ROLLUP compiles to one Expand + aggregation — no unions of
    repeated scans, no Python."""
    df = entry_mod.events_rollup_cube(spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" in plan
    # one physical scan feeds every rollup level (formatted plans print
    # each node twice — tree + details — so count file-index entries)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Union" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_match_pattern_pushes_constants_to_scan(spark, tmp_path):
    """BGP constants must reach the parquet scan as PushedFilters and the
    connected join plan must have no cartesian product."""
    from delm_spark.kg.query import match_pattern

    p = str(tmp_path / "triples")
    spark.createDataFrame(
        [("a", "works_at", "o"), ("o", "located_in", "c"),
         ("a", "mentions", "b")],
        "subj_id string, pred string, obj_id string",
    ).write.parquet(p)
    df = match_pattern(
        spark.read.parquet(p),
        [("?x", "works_at", "?o"), ("?o", "located_in", "?c")],
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "EqualTo(pred,works_at)" in pushed or "EqualTo(pred,located_in)" in pushed


def test_typing_broadcasts_signatures(spark):
    """The signature join must be a broadcast hash join; the vote count
    and winner pick stay native (no Python stages)."""
    from delm_spark.kg.typing import infer_entity_types, signature_table

    t = spark.createDataFrame(
        [("a", "works_at", "o")], "subj_id string, pred string, obj_id string"
    )
    df = infer_entity_types(t, signature_table(spark))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_property_path_no_cartesian_no_python(spark):
    from delm_spark.kg.query import property_path

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")],
        "subj_id string, pred string, obj_id string",
    )
    df = property_path(t, "p", max_hops=3)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_predicate_similarity_broadcasts_sizes_no_pair_self_join(spark):
    """Predicate co-counts come from the native HOF pair expansion —
    the plan must contain NO join before the vocabulary-sized size
    joins (which broadcast)."""
    from delm_spark.kg.ontology import predicate_similarity

    t = spark.createDataFrame(
        [("a", "p1", "b"), ("a", "p2", "b")],
        "subj_id string, pred string, obj_id string",
    )
    plan = _plan(predicate_similarity(t))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_rdfs_closure_corpus_joins_all_broadcast(spark):
    """RDFS materialization must touch the corpus only through broadcast
    hash joins against schema-sized closures — no sort-merge join, no
    cartesian product, no Python stage. The schema-side transitive
    closures iterate on the ontology alone (localCheckpoint'd before the
    corpus plan is built), so the corpus plan stays a single linear pass."""
    from delm_spark.kg.reason import rdfs_closure

    data = spark.createDataFrame(
        [("alice", "works_at", "acme"), ("acme", "hq_in", "paris")],
        "subj_id string, pred string, obj_id string",
    )
    schema = spark.createDataFrame(
        [
            ("works_at", "subproperty_of", "affiliated_with"),
            ("works_at", "domain", "Person"),
            ("hq_in", "range", "Place"),
            ("Person", "subclass_of", "Agent"),
        ],
        "subj_id string, pred string, obj_id string",
    )
    plan = _plan(rdfs_closure(data, schema))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


#: py4j round-trips allowed for ONE warm build (no action on the result) of
#: each query: about 1.5x the count the SQL-text builders make (814 / 605 /
#: 1,383 / 1,735 on the sf0.001 fixtures). Building every hyperplane sign,
#: SimHash bit vote, MinHash salt and centroid number as its own Column
#: made 2,537 / 8,781 / 7,873 / 13,689. kmeans' build includes its Lloyd
#: iterations (one collect each).
PY4J_BUILD_BUDGET = {
    "near_dup_pipeline_docs": 1200,
    "simhash_pairs_docs": 900,
    "lsh_topk_embeddings": 2000,
    "kmeans_clusters_embeddings": 2600,
}


@pytest.mark.parametrize("name", sorted(PY4J_BUILD_BUDGET))
def test_builder_py4j_budget(spark, name):
    """Driver-side build cost guard: the near-dup/ANN/k-means builders
    hand their large repetitive expressions to the JVM as SQL text, and
    the session skips PySpark's per-Column call-site capture. Either
    regressing multiplies the py4j calls per build by 3-20x."""
    build = entry_mod.queries()[name]
    build(spark, SF_DIR)  # warm: first-use class loading is not the builder's
    with py4j_calls() as n:
        build(spark, SF_DIR)
    assert n[0] <= PY4J_BUILD_BUDGET[name], (name, n[0])
