#!/usr/bin/env python
"""sf1 bench point (10x the per-round sf0.1): materialize an sf1-shaped
testdata directory by deterministic 10x replication of the sf0.1 tables
(fact keys shifted per replica so joins fan out linearly, document text
prefixed per replica so near-dup candidate buckets grow with corpus size
instead of exploding with planted 10-way exact duplicates), then run the
unmodified bench.py suite against it once.

Evidence target: wall-time growth stays ~linear from sf0.1 to sf1 for
the headline queries (kg_pipeline runs a 10x transcript corpus via
bench.py's own sf-derived sizing). Results go into the ONE JSON line
bench.py prints; the comparison table lands in BENCH/BASELINE.md
(written by hand from the two JSON lines, round 4).

Usage: `python bench_sf1.py [--scale S]` replicates sf(0.1 * S), found
beside bench.py's SF_DIR, into a temp-dir "sf1" and runs bench.py on it
(--scale 0.1 replicates sf0.01; bench.py still sizes its KG corpus as sf1).
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

import bench
import bench_util

SCALE = bench_util.cli().scale
SRC = Path(bench.SF_DIR).parent / f"sf{0.1 * SCALE:g}"
REPLICAS = 10
#: the final path component must be literally 'sf1' — bench.py derives the
#: scale factor (and the kg corpus size) from the directory name
DST = Path(tempfile.gettempdir(), "delm_testdata", f"{SRC.name}x{REPLICAS}", "sf1")


def build(spark) -> None:
    from pyspark.sql import functions as F

    r = spark.range(REPLICAS).select(F.col("id").alias("__r"))

    def t(name):
        return spark.read.parquet(f"{SRC}/{name}.parquet")

    def write(df, name, parts=32):
        df.repartition(parts).write.mode("overwrite").parquet(
            f"{DST}/{name}.parquet"
        )

    # key shift per replica: big enough to clear the source key space
    K = 10_000_000

    def shift(col):
        return (F.col(col) + F.col("__r") * K).alias(col)

    # dims replicated with consistent key shifts so every join fans out 10x
    write(
        t("customer").crossJoin(F.broadcast(r)).select(
            shift("c_custkey"), "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
        ),
        "customer", 8,
    )
    write(
        t("part").crossJoin(F.broadcast(r)).select(
            shift("p_partkey"), "p_name", "p_brand", "p_type", "p_size",
            "p_retailprice",
        ),
        "part", 8,
    )
    write(
        t("supplier").crossJoin(F.broadcast(r)).select(
            shift("s_suppkey"), "s_name", "s_nationkey", "s_acctbal"
        ),
        "supplier", 4,
    )
    write(
        t("orders").crossJoin(F.broadcast(r)).select(
            shift("o_orderkey"), shift("o_custkey"), "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ),
        "orders", 16,
    )
    write(
        t("lineitem").crossJoin(F.broadcast(r)).select(
            shift("l_orderkey"), shift("l_partkey"), shift("l_suppkey"),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ),
        "lineitem", 64,
    )
    write(
        t("events").crossJoin(F.broadcast(r)).select(
            shift("event_id"), "ts", shift("user_id"), "event_type", "value",
            "props",
        ),
        "events", 16,
    )
    # replica prefix changes the shingle/token stream -> no planted 10-way
    # exact duplicates; corpus-level near-dup structure scales naturally
    write(
        t("documents").crossJoin(F.broadcast(r)).select(
            shift("doc_id"),
            F.concat(
                F.format_string("rep%d ", F.col("__r")), F.col("text")
            ).alias("text"),
            "lang", "source",
            (F.col("n_chars") + 5).alias("n_chars"),
        ),
        "documents", 32,
    )
    write(
        t("embeddings").crossJoin(F.broadcast(r)).select(
            shift("vec_id"), "embedding", "label"
        ),
        "embeddings", 16,
    )
    for small in ("nation", "region"):
        write(t(small), small, 1)


def main() -> None:
    if not Path(DST, "embeddings.parquet", "_SUCCESS").exists():
        spark, _ = bench_util.session("sf1-build")
        build(spark)
        spark.stop()
        print(f"built {DST}", file=sys.stderr)
    # bench.py defaults to local[32]; size it to this host's cores unless
    # the caller chose SPARK_GRAFT_CPUS (the caller's environment wins)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        **os.environ,
        "SPARK_GRAFT_SF_DIR": str(DST),
    }
    subprocess.run(
        [sys.executable, str(bench_util.REPO / "bench.py")],
        env=env,
        check=True,
    )


if __name__ == "__main__":
    main()
