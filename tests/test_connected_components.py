"""Connected components: driver union-find (small graphs) must agree with
the distributed min-label propagation (forced via driver_cutoff=0)."""

from __future__ import annotations

import pytest

from delm_spark.kg.canonicalize import connected_components

EDGES = [
    ("a", "b"), ("b", "c"),          # chain -> component "a"
    ("x", "y"),                       # pair -> "x"
    ("m", "n"), ("n", "o"), ("o", "m"),  # cycle -> "m"
    ("solo1", "solo2"),
]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


def _as_map(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_driver_and_distributed_agree(spark, edges_df):
    small = _as_map(connected_components(edges_df))  # driver path
    big = _as_map(connected_components(edges_df, driver_cutoff=0))  # distributed
    assert small == big
    assert small["c"] == "a" and small["y"] == "x" and small["o"] == "m"


def test_distributed_converges_on_long_chain(spark):
    # 30-node chain: needs multiple propagation rounds
    edges = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(30)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = _as_map(connected_components(df, driver_cutoff=0))
    assert set(got.values()) == {"n00"}
    assert len(got) == 31


def test_iteration_costs_one_job(spark):
    """Convergence is an observe() metric on the checkpoint job, so each
    propagation round is ONE Spark job (previously +1 join/limit/count job
    per round — ~0.5 s of fixed scheduler overhead each in local mode)."""
    import delm_spark.kg.canonicalize as cc_mod

    edges = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(30)]
    df = spark.createDataFrame(edges, "src string, dst string")
    sc = spark.sparkContext
    # AQE splits one materialization into a job per query stage, which
    # makes absolute job counts meaningless; with it off, each eager
    # checkpoint is exactly one job and the ledger is checkable
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("cc-jobcount", "cc job-count test")
    try:
        _as_map(connected_components(df, driver_cutoff=0))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc-jobcount"))
    iters = cc_mod.LAST_RUN_ITERATIONS
    assert iters >= 3  # the chain actually exercised multiple rounds
    # fixed overhead: sym checkpoint + edge count + repartition checkpoint
    # + initial labels checkpoint + the final collect = 5 jobs; each
    # iteration adds exactly ONE (its checkpoint — the old scheme added a
    # second join/limit/count job per round)
    assert n_jobs <= 5 + iters + 1, (n_jobs, iters)


def test_connected_components_long_ids_above_2_53(spark):
    """64-bit ids above 2^53 keep their values and their bigint type on
    both paths: the convergence sentinel carries the labels' component
    type instead of round-tripping through double."""
    base = 1 << 60  # far above double's 2^53 integer precision
    edges = spark.createDataFrame(
        [
            (base + 1, base + 2),
            (base + 2, base + 3),
            (base + 10, base + 11),
        ],
        "src long, dst long",
    )
    expected = {
        base + 1: base + 1,
        base + 2: base + 1,
        base + 3: base + 1,
        base + 10: base + 10,
        base + 11: base + 10,
    }
    cc = connected_components(edges, driver_cutoff=0)
    # the label column keeps the node type end-to-end (no string coercion)
    assert cc.schema["component"].dataType.simpleString() == "bigint"
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert got == expected

    # the DRIVER union-find path must agree in values AND type — a
    # hardcoded string schema would silently fall back to a Python-RDD
    # frame (Arrow can't cast int64 -> string) and flip the dtype
    ccd = connected_components(edges)  # under the cutoff -> driver path
    assert ccd.schema["component"].dataType.simpleString() == "bigint"
    assert {r["node"]: r["component"] for r in ccd.collect()} == expected
    plan = ccd._sc._jvm.PythonSQLUtils.explainString(
        ccd._jdf.queryExecution(), "simple"
    )
    assert "ExistingRDD" not in plan
