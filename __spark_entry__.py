"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-construction pipeline (synthetic
transcript corpus per BASELINE.json input_hint — deterministically
generated, see delm_spark/data/synthetic.py) and returns the canonical
edge table. `queries()` exposes the operator inventory from SURVEY.md §2
against the driver-provided testdata tables; `oracle_sql()` gives the
DuckDB-equivalent SQL for every SQL-expressible operator.

Column aliases are kept identical between the Spark builders and the
oracle SQL (the driver hashes values after sorting columns by name).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from delm_spark.data.synthetic import entity_dictionary, generate_transcripts
from delm_spark.kg.graph import (
    clustering_coefficient,
    degree_distribution,
    k_hop_neighbors,
    pagerank,
    triangles,
)
from delm_spark.kg.pipeline import PipelineConfig, run_pipeline
from delm_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from delm_spark.operators.scoring import fuzzy_score_udf, keyword_score_expr
from delm_spark.operators.similarity import brute_force_topk
from delm_spark.operators.splitting import (
    fixed_window_split_udf,
    regex_split_expr,
)
from delm_spark.operators.text import lang_id, quality_score, whitespace_token_count
from delm_spark.operators.merge import majority_vote_df
from delm_spark.operators.skew import salted_count


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism (r6, guide §2.5 'input
    skew: one huge unsplittable file'): the local testdata tables are
    single-row-group parquet files, so every scan is ONE task and any
    heavy per-row map work (n-gram explodes, md5 chains, interpreted HOF
    folds) serializes on one core until the first exchange. The explicit
    repartition costs one small-text shuffle and is AQE-exempt; on a real
    multi-file table the scan parallelism makes it unnecessary (the
    simhash/minhash queries have used this shape since r4)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


#: committed oracle fixtures (tests/fixtures/make_fixtures.py): the synthetic
#: transcript corpus is Spark-xxhash64-derived, which DuckDB cannot
#: regenerate, so the KG-chain queries and their oracle SQL both read these
#: materialized parquet files (determinism pytest-asserted).
_FIXTURES = Path(__file__).resolve().parent / "tests" / "fixtures"


def _fixture_transcripts(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(str(_FIXTURES / "transcripts.parquet"))


def _fixture_dictionary(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(str(_FIXTURES / "dictionary.parquet"))



_FIXTURE_PIPE_CACHE: dict = {}


def _fixture_pipeline(spark: SparkSession):
    """Default-config pipeline over the committed fixture corpus, memoized
    per SparkSession with its triples localCheckpoint-ed: ~20 queries()
    entries derive from this exact result, and each would otherwise re-run
    the whole extraction DAG once per query — in the driver's correctness
    gate AND in tests/test_oracle_parity.py. Deterministic fixture input +
    deterministic pipeline => the memo is pure; keyed on applicationId so
    a fresh session never sees another session's checkpointed blocks."""
    key = spark.sparkContext.applicationId
    res = _FIXTURE_PIPE_CACHE.get(key)
    if res is None:
        res = run_pipeline(
            spark,
            _fixture_transcripts(spark),
            _fixture_dictionary(spark),
            PipelineConfig(),
        )
        res.triples = res.triples.localCheckpoint(eager=True)
        _FIXTURE_PIPE_CACHE.clear()  # one live session at a time
        _FIXTURE_PIPE_CACHE[key] = res
    return res


def _n_convs_for(sf_dir: str) -> int:
    name = Path(sf_dir).name
    return {"sf0.001": 150, "sf0.01": 600, "sf0.1": 3000}.get(name, 150)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transcripts -> chunks -> extract -> triples -> exact
    dictionary link -> embedding-blocked residue resolution -> canonicalized
    KG edges (the north star's full 'dictionary + embedding blocking'
    chain). Deterministic synthetic corpus (the testdata star schema has no
    transcript table; BASELINE.json input_hint defines the shape,
    synthesized at small scale)."""
    transcripts = generate_transcripts(spark, n_convs=150, n_hot=2)
    cfg = PipelineConfig(embedding_link=True)
    res = run_pipeline(spark, transcripts, entity_dictionary(spark), cfg)
    return res.edges


# ---------------------------------------------------------------------------
# queries — one entry per implemented operator (SURVEY.md §2)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """A5/A7/W2: wide aggregation with exact integer-cents money sums."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # integer-unit sums: l_quantity is integral; integer sums are
            # order-independent (FP addition order differs across engines)
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_price_cents"),
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_price_cents"),
            F.round(F.sum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_orders(spark, sf_dir):
    """J2 + A5 + W4: 3-way join, revenue agg, top-10.

    Join order (r6, guide §3): reduce orders by the selective customer
    filter FIRST (broadcast cust into orders), then broadcast the
    REDUCED order set into the lineitem probe — the fact scan probes a
    ~5x smaller hashed relation and the full orders table never builds a
    broadcast (2.13s -> 1.26s at sf1.0; inner joins commute, results
    row-identical)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    building = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(building), li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(10)
    )


def broadcast_brand_revenue(spark, sf_dir):
    """J5-analog: explicit broadcast of a small dimension into a fact agg."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(F.sum(rev).alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("p_brand")
    )


def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join (customer-orders-lineitem-supplier-
    nation-region) with the same-nation co-location predicate
    (c_nationkey = s_nationkey). Dims broadcast; the two fact joins
    shuffle on their keys; revenue in integer cents for engine-stable
    hashing."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(supp),
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("n_name"))
    )


def semi_join_orders(spark, sf_dir):
    """P6/J3: left-semi filter of orders by European customers."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_cust = (
        cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select("c_custkey")
    )
    return (
        orders.join(euro_cust, orders["o_custkey"] == euro_cust["c_custkey"], "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


def anti_join_customers(spark, sf_dir):
    """E8 resume pattern: anti-join (customers with no orders)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def left_join_order_customer(spark, sf_dir):
    """J1: results <- metadata left join."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"], "left")
        .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    )


def window_top_orders_per_customer(spark, sf_dir):
    """W1: row_number per key, top-3."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    )


def distinct_counts(spark, sf_dir):
    """A7: distinct counts."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def union_nation_counts(spark, sf_dir):
    """W5: unionByName of two keyed aggregates."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    a = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("side", F.lit("customer"))
    b = supp.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("side", F.lit("supplier"))
    return a.unionByName(b).orderBy("side", "nationkey")


def regex_split_chunks(spark, sf_dir):
    """T3+T4: RegexSplit semantics (split, trim, drop empties) + posexplode."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    chunks = regex_split_expr(F.col("text"), r"\s+the\s+")
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_pos", "chunk")
    ).orderBy("doc_id", "chunk_pos")


def keyword_score_filter(spark, sf_dir):
    """R1+P5: native keyword scoring + score filter + count by lang."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.withColumn(
        "delm_score", keyword_score_expr(F.col("text"), ["spark", "vector"])
    )
    return (
        scored.filter(F.col("delm_score") >= 1.0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_relevant"))
        .orderBy("lang")
    )


def majority_vote_lang(spark, sf_dir):
    """A1: majority vote with the reference's first-encounter tie-break."""
    docs = _t(spark, sf_dir, "documents")
    votes = majority_vote_df(
        docs.select(
            F.col("source").alias("record_id"),
            F.col("lang").alias("value"),
            F.col("doc_id").alias("pos"),
        )
    )
    return votes.select(
        F.col("record_id").alias("source"), F.col("value").alias("major_lang")
    ).orderBy("source")


def exact_dedup_docs(spark, sf_dir):
    """Exact dedup: normalized-text hash, keep min id."""
    # NOT spread (r6): sha2+window is cheap per row; a repartition of the
    # text column costs more than the single-task scan it parallelizes
    # (measured 0.74s -> 1.49s WITH the spread)
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id").orderBy("doc_id")


def duplicate_spans_docs(spark, sf_dir):
    """Exact duplicate-substring spans (operators/dedup.py
    duplicate_spans, Lee-et-al-2022 ExactSubstr at token granularity):
    maximal >=8-token spans shared by >=2 documents via shingle
    fingerprints — per-doc lead-chain shingling, (hash, doc)-deduped
    sharing counts, gap-and-island merge. Never all-pairs, never a
    distributed suffix sort."""
    from delm_spark.operators.dedup import duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicate_spans(docs, "text", "doc_id", width=8).orderBy(
        "doc_id", "span_start"
    )


def token_count_by_lang(spark, sf_dir):
    """F8: whitespace token counting, aggregated."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("tokens", whitespace_token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("sum_tokens"),
            (F.sum("tokens") / F.count(F.lit(1))).cast("double").alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def bpe_token_count_docs(spark, sf_dir):
    """F8 sub-word path: BPE-ish pre-tokenization count (word runs +
    standalone punctuation) per document, native regexp_extract_all; the
    oracle runs the identical lookaround-free pattern in RE2."""
    from delm_spark.operators.text import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("n_tokens")
    ).orderBy("doc_id")


def doc_fingerprint(spark, sf_dir):
    """F6/F7: canonical-text md5 fingerprint per document."""
    from delm_spark.operators.dedup import normalize_text

    docs = _t(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint")).orderBy("doc_id")


def embedding_topk_cosine(spark, sf_dir):
    """Similarity search baseline: exact cosine top-10 for 3 query vectors."""
    emb = _spread(_t(spark, sf_dir, "embeddings")).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        brute_force_topk(emb, queries, k=10)
        .select("query_id", "vec_id", "rank")
        .orderBy("query_id", "rank")
    )


def lsh_topk_embeddings(spark, sf_dir):
    """ANN scale path: multi-probe sign-LSH (8 md5-derived hyperplanes,
    probe radius 2) + exact cosine re-rank; ONE broadcast equi-join on the
    bucket id. The oracle re-derives the same hyperplanes and candidate
    set in SQL — exact output parity, not just recall."""
    from delm_spark.operators.similarity import lsh_topk

    emb = _spread(_t(spark, sf_dir, "embeddings")).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        lsh_topk(emb, queries, dim=64, k=10, n_planes=8, probe_radius=2)
        .select("query_id", "vec_id", "rank")
        .orderBy("query_id", "rank")
    )


def ivf_topk_embeddings(spark, sf_dir):
    """ANN scale path #2: IVF (inverted-file) — vectors binned to their
    nearest of 16 md5-picked centroids, queries probe the 4 closest cells,
    exact cosine re-rank inside. The oracle re-derives the centroid pick,
    the assignment argmax, and the probe ranking in SQL — exact output
    parity."""
    from delm_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return (
        ivf_topk(emb, queries, n_centroids=16, nprobe=4, k=10)
        .select("query_id", "vec_id", "rank")
        .orderBy("query_id", "rank")
    )


def embedding_near_dup_vecs(spark, sf_dir):
    """Embedding-cosine near-dup dedup: the embeddings table is unioned
    with deterministically perturbed copies (vec_id+100000, first
    component scaled 1.05) — planted near-dup pairs at cosine ~0.999 —
    then embedding_near_dup_pairs blocks candidates by sign-LSH self-join
    and thresholds exact cosine. The oracle re-derives the perturbation,
    the hyperplane buckets, the Hamming-radius candidate set, and the
    rounded-cosine threshold in SQL."""
    from delm_spark.operators.similarity import embedding_near_dup_pairs

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    perturbed = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding")[0] * 1.05),
            F.slice(F.col("embedding"), 2, 63),
        ).alias("embedding"),
    )
    return (
        embedding_near_dup_pairs(
            emb.unionByName(perturbed), dim=64, threshold=0.99, probe_radius=1
        )
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


def events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch analog of the streaming path)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .orderBy("hour", "event_type")
    )


def events_sessionize(spark, sf_dir):
    """W-ops: lag + cumulative sum sessionization (30-min gap)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # epoch bigints: timestamp canonicalization differs across
            # engines inside aggregates; integers hash identically
            F.min("ts").cast("timestamp").cast("long").alias("session_start"),
            F.max("ts").cast("timestamp").cast("long").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


def stateful_sessionize_events(spark, sf_dir):
    """Streaming twin of events_sessionize: the applyInPandasWithState
    sessionizer (delm_spark/streaming/stateful.py) run in availableNow
    mode over the events table, exercising the state store end-to-end.

    Closed-form semantics the oracle reproduces in SQL: sessions closed by
    a later event (every session except each user's chronologically last)
    emit in the data batches; the final no-data batch fires event-time
    timeouts, emitting a user's last session iff its timeout timestamp
    (session_end + gap) lies strictly below the final watermark
    (max event time - 2 h)."""
    import tempfile

    from delm_spark.streaming.stateful import sessionize_stream

    import os

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file-stream source wants a DIRECTORY; the testdata table is a
    # single file, so stream a temp dir holding a symlink to it
    src_dir = tempfile.mkdtemp(prefix="delm_stateful_src_")
    os.symlink(path, f"{src_dir}/events.parquet")
    # watermarks require TIMESTAMP (the table stores TIMESTAMP_NTZ); the
    # session tz is UTC, so the cast is value-preserving
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    closed = sessionize_stream(stream, gap_sec=1800, watermark="2 hours")
    out = tempfile.mkdtemp(prefix="delm_stateful_sess_")
    q = (
        closed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).orderBy("user_id", "session_start")


def stream_dedup_events(spark, sf_dir):
    """Streaming STATEFUL dedup (dropDuplicatesWithinWatermark): the
    events feed deduped on (user_id, event_type) in the streaming state
    store under an event-time watermark, availableNow trigger, exactly-
    once parquet sink. Over the bounded corpus with a watermark spanning
    the full time range, the emitted key set equals batch DISTINCT —
    which is the closed-form oracle (only the key columns are emitted:
    which duplicate's payload survives is explicitly unspecified)."""
    import os
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    src_dir = tempfile.mkdtemp(prefix="delm_streamdedup_src_")
    os.symlink(path, f"{src_dir}/events.parquet")
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .select("user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "365 days")
    )
    dd = stream.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    out = tempfile.mkdtemp(prefix="delm_streamdedup_out_")
    q = (
        dd.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    )


def dedup_events_first(spark, sf_dir):
    """dropDuplicates-with-order: earliest event per (user, type)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    )


def minhash_signature_docs(spark, sf_dir):
    """MinHash signatures (k=4, md5-based, SQL-reproducible) via the
    one-pass explode+groupBy scale path (single shuffle, no k-fold
    shingle recompute)."""
    from delm_spark.operators.dedup import minhash_signatures_agg

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signatures_agg(docs, "text", "doc_id", k=4)
    return sig.select(
        "doc_id",
        *[F.element_at("__sig", i + 1).alias(f"sig_{i}") for i in range(4)],
    ).orderBy("doc_id")


def ngram_jaccard_docs(spark, sf_dir):
    """Exact n-gram Jaccard similarity pairs (all-pairs on a 200-doc slice)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.2, allow_all_pairs=True
    ).orderBy(
        "id_a", "id_b"
    )


def lang_id_docs(spark, sf_dir):
    """Stopword-vote language heuristic per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("pred_lang")).orderBy(
        "doc_id"
    )


def quality_score_docs(spark, sf_dir):
    """Composite heuristic text-quality score per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    ).orderBy("doc_id")


def salted_user_counts(spark, sf_dir):
    """Two-phase salted aggregation (skew path) == plain groupBy count."""
    ev = _t(spark, sf_dir, "events")
    return salted_count(ev, "user_id", buckets=8).orderBy("user_id")


def collect_ordered_langs(spark, sf_dir):
    """A2 semantics: order-preserving list concat per record — explicit
    (sort_array of (pos, val) structs) where the reference relies on
    implicit input order (post_processing.py:80-90)."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("doc_id").alias("p"), F.col("lang").alias("v")))
        ).alias("__s")
    )
    return agg.select(
        "source",
        # scalar representation: the driver's canonicalizer sorts result
        # columns in pandas and array cells are unhashable — join to string
        F.array_join(
            F.transform(F.col("__s"), lambda s: s.getField("v")), "|"
        ).alias("langs"),
    ).orderBy("source")


def explode_extracted_triples(spark, sf_dir):
    """X1: the chunk -> score/filter -> rule-extract -> clean -> explode
    chain over the committed fixture corpus; the oracle reproduces every
    stage in DuckDB SQL (regexp split / extract_all / cleaning predicates)."""
    from delm_spark.operators.explode import explode_json_results
    from delm_spark.extraction.backend import RuleTripleExtractor
    from delm_spark.extraction.extract import extract_chunks
    from delm_spark.kg.pipeline import chunk_transcripts, score_and_filter
    from delm_spark.schemas.spec import spec_from_dict
    from delm_spark.data.synthetic import FACT_KEYWORDS, TRIPLE_SCHEMA_CFG

    spec = spec_from_dict(TRIPLE_SCHEMA_CFG)
    t = _fixture_transcripts(spark)
    chunks = score_and_filter(chunk_transcripts(t), list(FACT_KEYWORDS), 1.0)
    ext = extract_chunks(
        chunks.select("conv_id", "turn_idx", "chunk_pos", "delm_text_chunk"),
        spec, RuleTripleExtractor(spec),
    )
    return explode_json_results(
        ext, spec, keep_cols=["conv_id", "turn_idx", "chunk_pos"]
    ).orderBy("conv_id", "turn_idx", "chunk_pos", "subj", "pred", "obj")


def embedding_entity_link(spark, sf_dir):
    """North-star 'dictionary+embedding blocking': corrupted mention
    surfaces (each fixture-dictionary surface truncated by one character)
    linked back to their canonical entities via trigram-hash embeddings +
    sign-LSH bucket blocking + cosine scoring. The oracle re-derives the
    embeddings (md5 trigram buckets), the hyperplanes, the probe-radius
    candidate set, and the (score desc, canonical_id asc) argmax in SQL —
    exact output parity for the fuzzy-linking path."""
    from delm_spark.kg.linking import embedding_link_candidates

    d = _fixture_dictionary(spark)
    mentions = d.filter(F.length("surface") > 6).select(
        F.expr("substring(surface, 1, length(surface) - 1)").alias("surface")
    )
    return (
        embedding_link_candidates(
            mentions, d, dim=64, n_planes=8, probe_radius=2, threshold=0.5
        )
        .select("surface", "canonical_id")
        .orderBy("surface", "canonical_id")
    )


def kg_triples_stream(spark, sf_dir):
    """Streaming twin of explode_extracted_triples: the same
    chunk -> score -> extract -> clean -> explode chain (one extraction
    kernel, its native items exploded directly) run as a Structured
    Streaming query (file source, availableNow trigger,
    exactly-once parquet sink) over the fixture corpus — same oracle SQL
    as the batch chain, so batch/stream parity is oracle-checked, not just
    pytest-asserted."""
    import tempfile

    from delm_spark.streaming.stream import (
        read_transcript_stream,
        run_stream_to_parquet,
        streaming_triples,
    )

    stream = read_transcript_stream(spark, str(_FIXTURES / "transcripts.parquet"))
    out = tempfile.mkdtemp(prefix="delm_stream_triples_")
    q = run_stream_to_parquet(streaming_triples(stream), out, out + "_ckpt")
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .select("conv_id", "turn_idx", "chunk_pos", "subj", "pred", "obj")
        .orderBy("conv_id", "turn_idx", "chunk_pos", "subj", "pred", "obj")
    )


def streaming_kg_merge(spark, sf_dir):
    """Streaming x incremental-KG composition: the fixture corpus split
    into two conv-disjoint parquet file drops, consumed one file per
    micro-batch (maxFilesPerTrigger=1), each micro-batch running the full
    batch pipeline inside foreachBatch and appending only fresh
    conversations to the edges sink (kg_stream.run_streaming_kg_merge).
    The merge == from-scratch invariant (kg/update.py) means the streamed
    two-batch graph must equal the single-batch pipeline's edges — so the
    oracle is the SAME DuckDB replica as kg_triples_pipeline."""
    import tempfile

    from delm_spark.streaming.kg_stream import run_streaming_kg_merge
    from delm_spark.streaming.stream import read_transcript_stream

    t = _fixture_transcripts(spark)
    base = tempfile.mkdtemp(prefix="delm_stream_kg_")
    feed = f"{base}/feed"
    # two conv-disjoint drops -> two micro-batches; coalesce(1) makes each
    # drop exactly one file so the trigger boundary is deterministic
    t.filter(F.col("conv_id") < "conv_00000100").coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    t.filter(F.col("conv_id") >= "conv_00000100").coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    stream = read_transcript_stream(spark, feed, max_files_per_trigger=1)
    q = run_streaming_kg_merge(
        stream, _fixture_dictionary(spark), f"{base}/kg", f"{base}/ckpt"
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{base}/kg/edges")
        .select(
            "conv_id", "turn_idx", "chunk_pos", "item_pos",
            "subj", "pred", "obj", "subj_id", "obj_id",
        )
        .orderBy("conv_id", "turn_idx", "chunk_pos", "item_pos")
    )


def kg_triples_pipeline(spark, sf_dir):
    """Flagship KG pipeline (chunk/score/extract/clean/link) over the
    committed fixture corpus; the oracle reproduces the full chain plus the
    broadcast dictionary linking in DuckDB SQL."""
    res = _fixture_pipeline(spark)
    return res.triples.orderBy("conv_id", "turn_idx", "chunk_pos", "item_pos")


def kg_snapshot_diff(spark, sf_dir):
    """KG snapshot diff (kg/update.py graph_diff): the audit table an
    incremental maintenance run publishes — added/removed linked triples
    between two snapshot views of the fixture graph (conversation ranges
    overlapping in the middle, so both change classes are non-empty).
    Set semantics == SQL EXCEPT; two hash-keyed anti joins, never
    all-pairs."""
    from delm_spark.kg.update import graph_diff

    res = _fixture_pipeline(spark)
    tri = res.triples.select(
        "conv_id", "turn_idx", "chunk_pos", "item_pos",
        "subj", "pred", "obj", "subj_id", "obj_id",
    )
    old = tri.filter(F.col("conv_id") <= "conv_00000099")
    new = tri.filter(F.col("conv_id") >= "conv_00000050")
    return graph_diff(old, new).orderBy(
        "change", "conv_id", "turn_idx", "chunk_pos", "item_pos"
    )


def _typo_transcripts(spark):
    """Fixture corpus plus one synthetic conversation per long dictionary
    surface whose OBJECT entity is the surface truncated by one character:
    exact dictionary lookup misses it, so the composed pipeline's embedding
    pass must recover the canonical id."""
    t = _fixture_transcripts(spark)
    d = _fixture_dictionary(spark)
    typo = d.filter(F.length("surface") > 6).select(
        F.concat(F.lit("typo:"), F.col("surface")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.lit("Alice Smith works at "),
            F.initcap(F.expr("substring(surface, 1, length(surface) - 1)")),
            F.lit("."),
        ).alias("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    # dictionary surfaces are stored normalized (lowercase); initcap makes
    # the truncated surface look like a real mention so the capitalized-
    # entity extraction regex still matches it
    return t.unionByName(typo.select(*t.columns))


def kg_triples_linked_pipeline(spark, sf_dir):
    """The COMPOSED flagship chain (north-star 'dictionary + embedding
    blocking'): chunk -> score -> extract -> clean -> exact dictionary link
    -> embedding-blocked residue resolution (kg/linking.py
    resolve_mention_residue). Typo'd object surfaces (one-char truncations
    injected by _typo_transcripts) resolve to canonical ids; the oracle
    re-derives the entire chain INCLUDING the trigram embeddings, LSH
    blocking, and per-surface argmax in DuckDB SQL."""
    t = _typo_transcripts(spark)
    cfg = PipelineConfig(embedding_link=True, embedding_link_threshold=0.5)
    res = run_pipeline(spark, t, _fixture_dictionary(spark), cfg)
    return res.triples.select(
        "conv_id", "turn_idx", "chunk_pos", "item_pos",
        "subj", "pred", "obj", "subj_id", "obj_id",
    ).orderBy("conv_id", "turn_idx", "chunk_pos", "item_pos")


def kg_nodes_canonical(spark, sf_dir):
    """Entity canonicalization (broadcast dict link + connected components);
    the oracle derives each node's canonical id independently from the
    dictionary's alias map."""
    res = _fixture_pipeline(spark)
    return res.nodes.orderBy("entity_id")


def connected_components_demo(spark, sf_dir):
    """J6: DISTRIBUTED min-label + pointer-jumping connected components
    (driver_cutoff=0 forces the iterative join path) over a chain graph
    derived from orders: an edge links consecutive orderkeys within each
    64-key block. Components are maximal consecutive runs — the oracle
    derives them closed-form (gaps-and-islands), independently of any
    label-propagation logic."""
    from delm_spark.kg.canonicalize import connected_components

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 20000)
    keys = orders.select(F.col("o_orderkey").alias("k"))
    nxt = keys.select((F.col("k")).alias("k2"))
    edges = (
        keys.filter((F.col("k") % 64) != 63)
        .join(nxt, F.col("k") + 1 == F.col("k2"), "left_semi")
        .select(
            F.format_string("n%08d", F.col("k")).alias("src"),
            F.format_string("n%08d", F.col("k") + 1).alias("dst"),
        )
    )
    return connected_components(edges, driver_cutoff=0).orderBy("node")


def _kg_graph_edges(spark):
    """Entity-id edge table of the fixture KG: one (src, dst) row per
    linked triple — the input every graph-analytics query consumes."""
    res = _fixture_pipeline(spark)
    return res.triples.select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )


def kg_degree_distribution(spark, sf_dir):
    """Graph analytics over the materialized KG: node-degree histogram of
    the linked triple table (degree = incident triple endpoints). The
    oracle re-derives the full extraction+linking chain in DuckDB and
    aggregates it the same way."""
    return degree_distribution(_kg_graph_edges(spark)).orderBy("degree")


def kg_two_hop_entities(spark, sf_dir):
    """Graph analytics over the materialized KG: 2-hop BFS neighborhood
    (undirected) of the three lexicographically-first canonical entities,
    with minimal hop counts — frontier expansion via per-hop equi-joins
    (kg/graph.py k_hop_neighbors)."""
    seeds = (
        _fixture_dictionary(spark)
        .select(F.col("canonical_id").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(3)
    )
    return k_hop_neighbors(_kg_graph_edges(spark), seeds, k=2).orderBy(
        "hops", "node"
    )


def _rn_graph_base(spark, sf_dir, n):
    """Dense-rank node ids 0..n-1 over the n smallest orderkeys: a
    deterministic synthetic graph substrate both engines derive
    identically (sort+limit bounds the row_number window to n rows)."""
    from pyspark.sql.window import Window

    base = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(n)
    )
    w = Window.orderBy("o_orderkey")
    return base.select(
        (F.row_number().over(w) - 1).cast("long").alias("rn")
    )


_PR_N, _PR_ITERS, _PR_DAMPING = 1024, 3, 0.85


def _block_graph(spark, sf_dir, hub: bool):
    """(u, v) edges over _rn_graph_base(_PR_N): 64-node blocks, each a
    chain i->i+1 plus, with `hub`, edges i->block head for i in 1..62
    (block tails dangle), else skip edges i->i+2."""
    rn = _rn_graph_base(spark, sf_dir, _PR_N)
    chain = rn.filter(F.col("rn") % 64 != 63).select(
        F.col("rn").alias("u"), (F.col("rn") + 1).alias("v")
    )
    if hub:
        extra = rn.filter((F.col("rn") % 64).between(1, 62)).select(
            F.col("rn").alias("u"), (F.col("rn") - F.col("rn") % 64).alias("v")
        )
    else:
        extra = rn.filter(F.col("rn") % 64 <= 61).select(
            F.col("rn").alias("u"), (F.col("rn") + 2).alias("v")
        )
    return chain.unionByName(extra)


def pagerank_demo(spark, sf_dir):
    """Power-iteration PageRank (kg/graph.py) on a deterministic synthetic
    graph: 64-node blocks with a chain i->i+1 plus hub edges i->block head;
    block tails (i%64==63) are dangling, exercising the dangling-mass
    redistribution. The oracle unrolls the identical 3 iterations as CTEs;
    ranks are scaled by N and rounded to 4dp for FP-stable comparison."""
    ranks = pagerank(
        _block_graph(spark, sf_dir, hub=True),
        iters=_PR_ITERS,
        damping=_PR_DAMPING,
        src="u",
        dst="v",
    )
    return ranks.select(
        "node", F.round(F.col("rank") * _PR_N, 4).alias("rank_scaled")
    ).orderBy("node")


def ppr_demo(spark, sf_dir):
    """Personalized PageRank (kg/graph.py personalized_pagerank) on the
    same chain+hub synthetic graph as pagerank_demo, teleporting to the
    block-head seed set (rn % 64 == 0): rank mass concentrates around
    seeds instead of spreading uniformly — the KG relevance ranking
    'what matters around these entities'. Dangling block-tail mass also
    returns to the seeds. The oracle unrolls the identical 3 iterations
    with the seed-teleport vector; ranks scaled by N, rounded to 4dp."""
    from delm_spark.kg.graph import personalized_pagerank

    rn = _rn_graph_base(spark, sf_dir, _PR_N)
    seeds = rn.filter(F.col("rn") % 64 == 0).select(F.col("rn").alias("node"))
    ranks = personalized_pagerank(
        _block_graph(spark, sf_dir, hub=True),
        seeds,
        iters=_PR_ITERS,
        damping=_PR_DAMPING,
        src="u",
        dst="v",
    )
    return ranks.select(
        "node", F.round(F.col("rank") * _PR_N, 4).alias("rank_scaled")
    ).orderBy("node")


def triangle_blocks_demo(spark, sf_dir):
    """Degree-ordered triangle enumeration (kg/graph.py triangles) on a
    synthetic graph whose 64-node blocks carry chain (i,i+1) and skip
    (i,i+2) edges — 62 triangles per block; counts grouped by block. The
    oracle counts the same triangles with an a<b<c three-way self-join."""
    tri = triangles(_block_graph(spark, sf_dir, hub=False), src="u", dst="v")
    return (
        tri.groupBy(F.floor(F.col("a") / 64).cast("long").alias("block"))
        .agg(F.count("*").cast("long").alias("n_triangles"))
        .orderBy("block")
    )


def minhash_lsh_pairs_docs(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs over documents. The local
    corpus is one parquet file (one scan task); the explicit round-robin
    repartition spreads the shingle+md5 work across all cores — on a real
    multi-file table the scan parallelism makes it unnecessary."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(docs, "text", "doc_id", k=16, bands=4).orderBy(
        "id_a", "id_b"
    )


def near_dup_pipeline_docs(spark, sf_dir):
    """The composed near-dup SCALE path: MinHash-LSH candidate pairs ->
    exact n-gram Jaccard re-rank on candidates only (never all-pairs).
    Oracle reproduces both stages in SQL."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    cands = minhash_lsh_pairs(docs, "text", "doc_id", k=16, bands=4)
    return (
        ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.5, candidates=cands
        )
        .orderBy("id_a", "id_b")
    )


def near_dup_canonical_docs(spark, sf_dir):
    """Cluster-level near-dup resolution (operators/dedup.py
    near_dup_canonical): LSH candidates -> exact-Jaccard verification ->
    connected components over the verified pair graph -> keep the
    smallest doc_id per cluster. One row per input doc with its
    canonical representative and the keep verdict; the oracle re-derives
    the whole chain incl. components via a recursive reachability CTE."""
    from delm_spark.operators.dedup import near_dup_canonical

    docs = _spread(_t(spark, sf_dir, "documents"))
    return near_dup_canonical(
        docs, "text", "doc_id", k=16, bands=4, n=3, threshold=0.5
    ).orderBy("doc_id")


def containment_dedup_docs(spark, sf_dir):
    """ASYMMETRIC near-dup detection (operators/dedup.py
    containment_pairs): MinHash-LSH candidates -> exact shingle-set
    containment of the SMALLER set, |A∩B| / min(|A|,|B|), in exact
    BIGINT micro-units — catches the quote/boilerplate/near-subset
    pattern symmetric Jaccard under-scores. The oracle reuses the
    minhash/banding SQL and re-derives every containment value with
    the same integer arithmetic."""
    from delm_spark.operators.dedup import containment_pairs

    docs = _spread(_t(spark, sf_dir, "documents"))
    return containment_pairs(
        docs, "text", "doc_id", n=3, k=16, bands=4, threshold_micro=600_000
    ).orderBy("id_a", "id_b")


def kg_triple_provenance(spark, sf_dir):
    """Triple support accounting (kg/analytics.py triple_provenance):
    one row per canonical (subj_id, pred, obj_id) with extraction count,
    distinct-conversation count, surface-form variety, and a
    deterministic first-seen pointer — the confidence table downstream
    triple filtering consumes. Single groupBy over the flagship
    pipeline's linked triples; the oracle re-derives the whole chain
    plus the aggregation in SQL."""
    from delm_spark.kg.analytics import triple_provenance

    res = _fixture_pipeline(spark)
    return triple_provenance(res.triples).orderBy("subj_id", "pred", "obj_id")


def kg_entity_cooccur(spark, sf_dir):
    """Entity co-occurrence lift (kg/analytics.py entity_cooccurrence):
    conversation-level distinct entity sets -> native pair expansion (no
    self-join, no skew blow-up) -> pair counts -> exact-integer lift
    (1e6 * N * c_ab div (c_a * c_b), = exp(PMI) in micro-units). The
    oracle re-derives counts and lift with the same BIGINT arithmetic."""
    from delm_spark.kg.analytics import entity_cooccurrence

    res = _fixture_pipeline(spark)
    return entity_cooccurrence(res.triples).orderBy("entity_a", "entity_b")


def kg_communities(spark, sf_dir):
    """Community detection (kg/communities.py label_propagation):
    4-round synchronous LPA with deterministic tie-breaks (most-frequent
    neighbor label, ties to the smallest) over the flagship pipeline's
    canonical entity graph — GraphX LabelPropagation semantics, two
    node-keyed shuffles per round, no all-pairs structure. The oracle
    unrolls the same 4 rounds in SQL."""
    from delm_spark.kg.communities import label_propagation

    res = _fixture_pipeline(spark)
    edges = res.triples.select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    return label_propagation(edges, iters=4).orderBy("node")


def kg_pattern_colleagues(spark, sf_dir):
    """BGP triple-pattern query (kg/query.py match_pattern) over the
    materialized KG: the SPARQL-core conjunctive pattern
    (?a works_at ?org), (?b works_at ?org) with ?a < ?b — colleague
    pairs through a shared employer. Constants push into the triple
    scan before the single shared-variable equi-join; the oracle
    re-derives the linked triples and runs the equivalent self-join."""
    from delm_spark.kg.query import match_pattern

    res = _fixture_pipeline(spark)
    bindings = match_pattern(
        res.triples,
        [("?a", "works_at", "?org"), ("?b", "works_at", "?org")],
    )
    return (
        bindings.filter(F.col("a") < F.col("b"))
        .select("a", "b", "org")
        .orderBy("a", "b", "org")
    )


def kg_predicate_canonical(spark, sf_dir):
    """Ontology induction (kg/ontology.py canonicalize_predicates):
    predicates whose distinct (subj_id, obj_id) pair sets overlap at
    Jaccard >= 0.5 (exact integer micro-units) collapse to the
    lexicographically-smallest member via connected components.
    Relation-surface variation is synthesized deterministically — a
    conversation whose md5(conv_id) leads with an odd hex digit asserts
    pred || '_alt' — so each predicate splits into two extensionally
    overlapping surface forms that must re-merge, while extensionally
    disjoint predicates stay singletons. The oracle replays the alias,
    the integer Jaccard, and min-label propagation in SQL."""
    from delm_spark.kg.ontology import canonicalize_predicates

    res = _fixture_pipeline(spark)
    aliased = res.triples.withColumn(
        "pred",
        F.when(
            F.conv(F.substring(F.md5("conv_id"), 1, 1), 16, 10).cast("int")
            % 2
            == 1,
            F.concat(F.col("pred"), F.lit("_alt")),
        ).otherwise(F.col("pred")),
    )
    return canonicalize_predicates(aliased, min_jaccard_micro=500_000).orderBy(
        "pred"
    )


def kg_functional_resolution(spark, sf_dir):
    """Contradiction resolution for functional predicates
    (kg/quality.py resolve_functional): each (subj, pred) group of a
    functional predicate ranks its asserted objects by support count
    desc, last-seen pointer desc, obj asc — rank 1 is the 'current'
    fact, the rest 'superseded' audit history. One map-side-combinable
    aggregation + one window over the aggregated rows; the oracle
    replays both in SQL."""
    from delm_spark.kg.quality import resolve_functional

    res = _fixture_pipeline(spark)
    return resolve_functional(res.triples).orderBy("subj", "pred", "rank")


def kg_entity_types(spark, sf_dir):
    """Entity-type induction (kg/typing.py infer_entity_types): every
    triple votes its predicate's domain type for the subject and range
    type for the object (signature table broadcast); per-entity majority
    with ties to the smallest type name, plus n_types as the
    role-conflict flag. One combinable vote count + one entity
    aggregation; the oracle replays both in SQL."""
    from delm_spark.kg.typing import infer_entity_types, signature_table

    res = _fixture_pipeline(spark)
    return infer_entity_types(res.triples, signature_table(spark)).orderBy(
        "entity"
    )


def kg_type_violations(spark, sf_dir):
    """SHACL-style shape gate (kg/typing.py type_violations): triples
    whose endpoints' induced types contradict the predicate signature.
    Violations are synthesized deterministically — conversations whose
    md5 leads with hex '0' re-assert every triple endpoint-SWAPPED, so
    orgs/places land in person slots while the majority vote still
    types them correctly (swaps are a 1/16 minority). The oracle
    replays the corruption, the vote, and the per-triple check."""
    from delm_spark.kg.typing import signature_table, type_violations

    res = _fixture_pipeline(spark)
    base = res.triples.select("subj_id", "pred", "obj_id")
    swapped = (
        res.triples.filter(F.substring(F.md5("conv_id"), 1, 1) == "0")
        .select(
            F.col("obj_id").alias("subj_id"),
            "pred",
            F.col("subj_id").alias("obj_id"),
        )
    )
    return type_violations(
        base.unionByName(swapped), signature_table(spark)
    ).orderBy("subj", "pred", "obj", "violation")


def kg_reports_chain(spark, sf_dir):
    """SPARQL property path reports_to{1,3} (kg/query.py property_path):
    every management-chain pair up to 3 levels with MINIMAL hop count —
    per-level frontier equi-join + anti-join against reached pairs
    (pairs, never paths; cycle-safe by construction). The oracle
    enumerates all <=3-hop paths and takes min(hops), tractable at
    fixture scale and independent of the BFS logic."""
    from delm_spark.kg.query import property_path

    res = _fixture_pipeline(spark)
    return property_path(res.triples, "reports_to", max_hops=3).orderBy(
        "src", "dst"
    )


def kg_pattern_optional(spark, sf_dir):
    """SPARQL OPTIONAL + FILTER NOT EXISTS (kg/query.py match_pattern):
    employees and employers, the manager LEFT-joined where known,
    excluding anyone with a surviving creation record. The corpus is
    dense (every employee has both), so the inner predicates are
    deterministically THINNED by the md5 parity of the asserting
    subject — reports_to survives odd parity, created even — giving a
    real null/bound and kept/dropped mix. The oracle replays thinning,
    left join, and anti join in SQL."""
    from delm_spark.kg.query import match_pattern

    res = _fixture_pipeline(spark)
    h = (
        F.conv(F.substring(F.md5("subj_id"), 1, 1), 16, 10).cast("int") % 2
    )
    thinned = res.triples.filter(
        ~((F.col("pred") == "reports_to") & (h == 0))
        & ~((F.col("pred") == "created") & (h == 1))
    )
    return match_pattern(
        thinned,
        [("?x", "works_at", "?org")],
        optional=[[("?x", "reports_to", "?mgr")]],
        not_exists=[[("?x", "created", "?artifact")]],
    ).orderBy("x", "org", "mgr")


def kg_pattern_union(spark, sf_dir):
    """SPARQL UNION (kg/query.py match_union): { ?x works_at ?org }
    UNION { ?x uses_tool ?tool } — the two affiliation shapes as one
    bindings table with SPARQL unbound-variable semantics (each branch
    leaves the other's variable null). Each branch plans independently
    with its own pushed constant filter; the union is a zero-shuffle
    concatenation and the trailing DISTINCT is the only cross-branch
    exchange. The oracle is the literal SQL UNION of the two scans."""
    from delm_spark.kg.query import match_union

    res = _fixture_pipeline(spark)
    return match_union(
        res.triples,
        [[("?x", "works_at", "?org")], [("?x", "uses_tool", "?tool")]],
    ).orderBy(
        F.asc_nulls_first("org"), F.asc_nulls_first("tool"), F.asc("x")
    )


def kg_pattern_values(spark, sf_dir):
    """SPARQL VALUES inline data (kg/query.py match_pattern values=):
    the colleague-pair pattern restricted to two named employers. The
    constraint is pushed into BOTH pattern scans as an isin filter
    before the shared-variable join — at 100 TB this is the difference
    between joining two org-filtered slivers and joining the whole
    works_at relation. The oracle appends the same IN list to the
    pattern self-join."""
    from delm_spark.kg.query import match_pattern

    res = _fixture_pipeline(spark)
    bindings = match_pattern(
        res.triples,
        [("?a", "works_at", "?org"), ("?b", "works_at", "?org")],
        values={"org": ["org:acme", "org:initech"]},
    )
    return (
        bindings.filter(F.col("a") < F.col("b"))
        .select("a", "b", "org")
        .orderBy("a", "b", "org")
    )


def kg_pattern_bind(spark, sf_dir):
    """SPARQL BIND computed variables (kg/query.py match_pattern
    bind=): the COALESCE-over-OPTIONAL idiom — employees with their
    manager LEFT-joined where known (reports_to deterministically
    thinned by md5 parity of the asserting subject, same corpus shaping
    as kg_pattern_optional, so a real null/bound mix exists), then BIND
    fills the unmanaged rows with a label, derives an integer managed
    flag, and chains a report_line key off the earlier bind. Pure
    projection: zero exchanges beyond the pattern joins; Catalyst folds
    all three expressions into the join's output stage. The oracle
    replays thinning, left join, and the same coalesce/CASE/concat."""
    from delm_spark.kg.query import match_pattern

    res = _fixture_pipeline(spark)
    h = (
        F.conv(F.substring(F.md5("subj_id"), 1, 1), 16, 10).cast("int") % 2
    )
    thinned = res.triples.filter(
        ~((F.col("pred") == "reports_to") & (h == 0))
    )
    return match_pattern(
        thinned,
        [("?x", "works_at", "?org")],
        optional=[[("?x", "reports_to", "?mgr")]],
        bind={
            "mgr_label": "coalesce(mgr, '<unmanaged>')",
            "managed": "CASE WHEN mgr IS NULL THEN 0 ELSE 1 END",
            "report_line": "concat(x, '->', mgr_label)",
        },
    ).orderBy("x", "org", "mgr")


def kg_pattern_inverse(spark, sf_dir):
    """SPARQL 1.1 inverse path (kg/query.py match_pattern ^pred): the
    org-centric roster — ``(?org, ^works_at, ?x), (?org, located_in,
    ?city)`` walks works_at BACKWARD so both patterns share the org
    subject position, the natural shape when the query starts from the
    organization. Compile-time column-role swap: same scan, pushdown,
    and equi-join plan as the forward form. The oracle joins the
    (swapped) works_at scan to located_in on org."""
    from delm_spark.kg.query import match_pattern

    res = _fixture_pipeline(spark)
    return match_pattern(
        res.triples,
        [("?org", "^works_at", "?x"), ("?org", "located_in", "?city")],
    ).orderBy("org", "x", "city")


_RDFS_ONTOLOGY = [
    ("works_at", "subproperty_of", "affiliated_with"),
    ("affiliated_with", "subproperty_of", "related_to"),
    ("works_at", "domain", "ent:Person"),
    ("works_at", "range", "ent:Org"),
    ("located_in", "domain", "ent:Org"),
    ("located_in", "range", "ent:Place"),
    ("ent:Org", "subclass_of", "ent:Agent"),
    ("ent:Person", "subclass_of", "ent:Agent"),
    ("ent:Agent", "subclass_of", "ent:Entity"),
]


def kg_rdfs_closure(spark, sf_dir):
    """RDFS entailment materialization (kg/reason.py rdfs_closure):
    the extracted fixture graph under a small curated ontology —
    works_at lifts through a two-level property chain (rdfs5/7),
    domain/range declarations type people, orgs, and places (rdfs2/3),
    and the class hierarchy propagates every type up to ent:Entity
    (rdfs9/11). Schema-side closures run on the 9-row ontology via the
    property-path fixpoint; the corpus is touched only by broadcast
    joins. Output = distinct asserted+entailed triples with an
    asserted-wins inferred flag. The oracle replays the rules with the
    hand-unrolled constant closures (the ontology is inline, so its
    transitive pairs are enumerable by eye)."""
    from delm_spark.kg.reason import rdfs_closure

    res = _fixture_pipeline(spark)
    schema = spark.createDataFrame(
        _RDFS_ONTOLOGY, "subj_id string, pred string, obj_id string"
    )
    return rdfs_closure(
        res.triples.select("subj_id", "pred", "obj_id"), schema
    ).orderBy("subj_id", "pred", "obj_id")


def ground_pronouns_kg(spark, sf_dir):
    """First-person pronoun grounding (kg/ground.py ground_pronouns):
    deictic triple subjects bind to per-conversation speaker entities
    speaker:<conv_id>:<role>. Input triples are synthesized per
    dictionary surface — one pronoun triple ('I', works_at, surface)
    and one control triple (surface, works_at, 'acme corp') at
    conv 'pg:'||surface, turn length(surface)%3. The role table is the
    REAL fixture transcript (none of whose conv_ids match, exercising
    the semi-join pruning) unioned with synthetic turns for
    even-length surfaces only — odd-length pronouns stay ungrounded
    (subject kept verbatim, grounded=0). The oracle replays the rule
    as one left join + CASE."""
    from delm_spark.kg.ground import ground_pronouns

    d = _fixture_dictionary(spark)
    conv = F.concat(F.lit("pg:"), F.col("surface"))
    turn = (F.length("surface") % 3).cast("int")
    triples = d.select(
        conv.alias("conv_id"), turn.alias("turn_idx"),
        F.lit("I").alias("subj"), F.lit("works_at").alias("pred"),
        F.col("surface").alias("obj"),
    ).unionByName(
        d.select(
            conv.alias("conv_id"), turn.alias("turn_idx"),
            F.col("surface").alias("subj"),
            F.lit("works_at").alias("pred"),
            F.lit("acme corp").alias("obj"),
        )
    )
    roles = _fixture_transcripts(spark).select(
        "conv_id", "turn_idx", "role"
    ).unionByName(
        d.filter(F.length("surface") % 2 == 0).select(
            conv.alias("conv_id"), turn.alias("turn_idx"),
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                (F.length("surface") % 3 + 1).cast("int"),
            ).alias("role"),
        )
    )
    return ground_pronouns(triples, roles).select(
        "conv_id", "turn_idx", "subj", "pred", "obj", "grounded"
    ).orderBy("conv_id", "turn_idx", "subj", "pred", "obj")


def address_pronouns_kg(spark, sf_dir):
    """Second-person grounding (kg/ground.py ground_pronouns
    second_person=): 'you' binds to the ADDRESSEE — the other role of a
    two-party conversation; monologues and 3+-party conversations stay
    ungrounded. Per dictionary surface, conv 'ap:'||surface gets a
    ('you', reports_to, surface) and an ('I', works_at, surface) triple
    at turn 0, whose role table has turn 0 = user always, turn 1 =
    assistant iff length(surface)%2=0, turn 2 = tool iff
    length(surface)%3=0 — yielding all four census cases (two-party
    user/assistant, two-party user/tool, monologue, three-party). The
    oracle replays the rule with an explicit two-role census +
    addressee self-join."""
    from delm_spark.kg.ground import SECOND_PERSON, ground_pronouns

    d = _fixture_dictionary(spark)
    conv = F.concat(F.lit("ap:"), F.col("surface"))
    triples = d.select(
        conv.alias("conv_id"), F.lit(0).cast("int").alias("turn_idx"),
        F.lit("you").alias("subj"), F.lit("reports_to").alias("pred"),
        F.col("surface").alias("obj"),
    ).unionByName(
        d.select(
            conv.alias("conv_id"), F.lit(0).cast("int").alias("turn_idx"),
            F.lit("I").alias("subj"), F.lit("works_at").alias("pred"),
            F.col("surface").alias("obj"),
        )
    )
    roles = d.select(
        conv.alias("conv_id"), F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
    ).unionByName(
        d.filter(F.length("surface") % 2 == 0).select(
            conv.alias("conv_id"), F.lit(1).cast("int").alias("turn_idx"),
            F.lit("assistant").alias("role"),
        )
    ).unionByName(
        d.filter(F.length("surface") % 3 == 0).select(
            conv.alias("conv_id"), F.lit(2).cast("int").alias("turn_idx"),
            F.lit("tool").alias("role"),
        )
    )
    return ground_pronouns(
        triples, roles, second_person=SECOND_PERSON
    ).select(
        "conv_id", "turn_idx", "subj", "pred", "obj", "grounded"
    ).orderBy("conv_id", "turn_idx", "subj", "pred", "obj")


def kg_core_entities(spark, sf_dir):
    """k-core density gate (kg/graph.py k_core): entities of the 2-core
    of the canonical entity graph with their in-core degree — the
    standard pre-filter that scopes expensive disambiguation to densely
    embedded entities. Iterative peeling: two node-keyed aggregations +
    two semi-joins per round, edges only shrink, fixed point detected
    by a monotone node count. The oracle unrolls the same peeling a
    fixed number of rounds (fixture convergence is pinned by a pytest
    asserting the unroll depth suffices)."""
    from delm_spark.kg.graph import k_core

    res = _fixture_pipeline(spark)
    edges = res.triples.select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    return k_core(edges, k=2).orderBy("node")


def kg_affiliation_chain(spark, sf_dir):
    """SPARQL property-path alternation (kg/query.py property_path with
    a predicate LIST): (works_at|located_in){1,2} — person-to-employer
    and on to the employer's city in one closure, with minimal hop
    counts. Same frontier/anti-join shape as the single-predicate path;
    alternation only widens the edge scan's isin. The oracle enumerates
    1- and 2-hop chains over the union edge set and takes min(hops)."""
    from delm_spark.kg.query import property_path

    res = _fixture_pipeline(spark)
    return property_path(
        res.triples, ["works_at", "located_in"], max_hops=2
    ).orderBy("src", "dst")


def kg_mention_consolidation(spark, sf_dir):
    """Mention consolidation (kg/consolidate.py consolidate_mentions):
    unresolved mention variants cluster by surface edit distance (FastSS
    deletion-neighborhood blocking + CC over verified pairs only) and
    recurring clusters mint a deterministic entity id — the feedback
    loop that grows the dictionary where the graph has no curated
    knowledge. Unknown-mention streams are synthesized deterministically
    from the fixture triples: every object becomes a 'proj <obj>'
    mention, and conversations with odd md5 parity also assert its
    one-char truncation — each object yields a 2-surface cluster within
    edit distance 1. The oracle is deliberately BLOCKING-FREE: it pairs
    the small fixture vocabulary by exhaustive levenshtein and unrolls
    min-label propagation, so FastSS recall itself is under test."""
    from delm_spark.kg.consolidate import consolidate_mentions

    stream, _ = _planted_mention_stream(spark)
    return consolidate_mentions(stream).orderBy("mention_id")


def _planted_mention_stream(spark):
    """(triple stream with planted mention variants, gold node->cluster)
    shared by kg_mention_consolidation and kg_er_metrics: every fixture
    object becomes a 'proj <obj>' mention, odd-md5 conversations also
    assert its one-char truncation; gold is each surface's base mention
    (min per node, so a truncation colliding with another object's base
    stays a well-defined assignment)."""
    res = _fixture_pipeline(spark)
    odd = (
        F.conv(F.substring(F.md5("conv_id"), 1, 1), 16, 10).cast("int") % 2
        == 1
    )
    base_id = F.concat(F.lit("mention:proj "), F.lower("obj"))
    base = res.triples.select(
        "subj_id",
        F.lit("mentions_project").alias("pred"),
        base_id.alias("obj_id"),
        base_id.alias("gold_base"),
        "conv_id",
    )
    variant = base.filter(odd).withColumn(
        "obj_id", F.expr("substring(obj_id, 1, length(obj_id) - 1)")
    )
    ments = base.unionByName(variant)
    gold = ments.groupBy(F.col("obj_id").alias("node")).agg(
        F.min("gold_base").alias("cluster")
    )
    return ments.drop("gold_base"), gold


def kg_er_metrics(spark, sf_dir):
    """Pairwise ER-clustering evaluation (kg/er_eval.py
    pairwise_er_metrics) of the mention-consolidation output against
    its planted gold: predicted = consolidate_mentions' minted entity
    per mention (absent mentions = singletons), gold = each surface's
    base mention. One row of exact-BIGINT pair censuses + integer
    micro-unit P/R/F1 — computed from cluster SIZES only (sum C(n,2)
    per label census), never by materializing pairs; the oracle replays
    the consolidation chain and the same size-census arithmetic."""
    from delm_spark.kg.consolidate import consolidate_mentions
    from delm_spark.kg.er_eval import pairwise_er_metrics

    stream, gold = _planted_mention_stream(spark)
    mapping = consolidate_mentions(stream)
    predicted = mapping.select(
        F.col("mention_id").alias("node"), F.col("new_id").alias("cluster")
    )
    return pairwise_er_metrics(predicted, gold)


def _fixture_fact_occurrences(spark):
    """Timestamped triple occurrences: pipeline triples joined back to
    their source turns on the natural (conv_id, turn_idx) key, ts as
    exact epoch seconds (BIGINT on both engines)."""
    res = _fixture_pipeline(spark)
    ts = _fixture_transcripts(spark).select(
        "conv_id", "turn_idx", F.col("ts").cast("long").alias("epoch")
    )
    return res.triples.join(ts, ["conv_id", "turn_idx"]).select(
        "subj_id", "pred", "obj_id", "epoch"
    )


def kg_fact_intervals(spark, sf_dir):
    """Temporal fact validity (kg/temporal_facts.py fact_intervals):
    one interval per distinct fact — first/last seen + support from one
    combinable aggregation over the occurrence stream, then functional
    predicates (works_at, located_in) get valid_to = the successor
    object's first_seen via a (subj, pred) window over the
    already-aggregated fact table (partition width = objects per
    subject-predicate, corpus-size independent). The oracle replays the
    agg + lead window in SQL."""
    from delm_spark.kg.temporal_facts import fact_intervals

    occ = _fixture_fact_occurrences(spark)
    return fact_intervals(
        occ, functional_preds=["works_at", "located_in"], ts_col="epoch"
    ).orderBy("subj_id", "pred", "obj_id")


def kg_facts_asof(spark, sf_dir):
    """Point-in-time KG snapshot (kg/temporal_facts.py facts_asof): the
    graph state at the corpus midpoint timestamp — facts with
    valid_from <= mid < valid_to (open-ended for current facts). The
    midpoint is (min+max) DIV 2 of the occurrence epochs, a 1-row
    bounded aggregate collected driver-side (the snapshot ts is a query
    PARAMETER at scale, not data); the oracle computes the same mid in
    a CTE and applies the same interval filter."""
    from delm_spark.kg.temporal_facts import fact_intervals, facts_asof

    occ = _fixture_fact_occurrences(spark)
    iv = fact_intervals(
        occ, functional_preds=["works_at", "located_in"], ts_col="epoch"
    )
    mid = occ.agg(
        F.expr("(min(epoch) + max(epoch)) DIV 2").alias("mid")
    ).collect()[0]["mid"]
    return facts_asof(iv, mid).orderBy("subj_id", "pred", "obj_id")


def kg_pattern_aggregate(spark, sf_dir):
    """SPARQL GROUP BY + aggregates (kg/query.py match_aggregate) over
    the materialized KG: per city, how many distinct organizations are
    located there, how many distinct people work at those orgs, the
    solution-multiset size of the two-pattern join, and the
    lexicographically-first person. Exercises RDF set-of-triples dedup
    (multi-support triples count once) + bag-semantics join
    multiplicity + exact-over-strings aggregates; the oracle re-derives
    the same two filtered scans, the org-keyed join, and the GROUP BY
    in SQL."""
    from delm_spark.kg.query import match_aggregate

    res = _fixture_pipeline(spark)
    return match_aggregate(
        res.triples,
        [("?p", "works_at", "?org"), ("?org", "located_in", "?city")],
        group_by=["city"],
        aggs=[
            ("count_distinct", "org", "n_orgs"),
            ("count_distinct", "p", "n_people"),
            ("count", None, "n_solutions"),
            ("min", "p", "first_person"),
        ],
    ).orderBy("city")


def kg_construct_colleagues(spark, sf_dir):
    """SPARQL CONSTRUCT (kg/query.py construct): materialize the derived
    symmetric colleague graph from the shared-employer BGP — template
    [(?a colleague_of ?b), (?b colleague_of ?a)] over
    (?a works_at ?org),(?b works_at ?org) FILTER a < b. The result is a
    GRAPH (distinct 3-column triple frame with the store's own column
    names), directly unionable back into the KG; the oracle emits all
    ordered pairs of distinct co-workers."""
    from delm_spark.kg.query import construct

    res = _fixture_pipeline(spark)
    return construct(
        res.triples,
        [("?a", "works_at", "?org"), ("?b", "works_at", "?org")],
        template=[
            ("?a", "colleague_of", "?b"),
            ("?b", "colleague_of", "?a"),
        ],
        filter_expr="a < b",
    ).orderBy("subj_id", "obj_id")


def kg_ask_patterns(spark, sf_dir):
    """SPARQL ASK (kg/query.py ask): existence checks over the
    materialized KG, one labeled row per question — does anyone work at
    org:acme, and does org:acme itself assert employment anywhere. The
    pattern compiles like match_pattern, then limit(1) short-circuits
    (CollectLimit stops the join at the first satisfying binding, so a
    satisfiable ASK touches a handful of partitions at any corpus
    size). The oracle is SQL EXISTS over the same distinct triple
    store."""
    from delm_spark.kg.query import ask

    res = _fixture_pipeline(spark)
    yes = ask(res.triples, [("?p", "works_at", "org:acme")]).select(
        F.lit("anyone_works_at_acme").alias("label"), "ask"
    )
    no = ask(res.triples, [("org:acme", "works_at", "?x")]).select(
        F.lit("acme_works_somewhere").alias("label"), "ask"
    )
    return yes.unionByName(no).orderBy("label")


def kg_describe_entity(spark, sf_dir):
    """SPARQL DESCRIBE (kg/query.py describe): org:acme's depth-1 ego
    neighborhood — every distinct triple where the node is subject or
    object, role-tagged. ONE scan of the triple table with a pushed
    disjunctive constant filter, no join; the oracle is the same
    filtered distinct with a CASE role."""
    from delm_spark.kg.query import describe

    res = _fixture_pipeline(spark)
    return describe(res.triples, "org:acme").orderBy(
        "role", "subj_id", "pred", "obj_id"
    )


def kg_pattern_topk(spark, sf_dir):
    """SPARQL solution modifiers (kg/query.py match_pattern
    order_by/limit): the colleague BGP under a TOTAL lexicographic
    ORDER BY + LIMIT 25. limit demands an order over every output
    variable (partial orders make the tie-break engine-dependent, so
    they are refused), which is what makes the top-k byte-comparable to
    the oracle's ORDER BY/LIMIT. Spark plans the pair as TakeOrdered —
    per-partition partial top-k, no global sort shuffle."""
    from delm_spark.kg.query import match_pattern

    res = _fixture_pipeline(spark)
    return match_pattern(
        res.triples,
        [("?a", "works_at", "?org"), ("?b", "works_at", "?org")],
        filter_expr="a < b",
        order_by=["a", "b", "org"],
        limit=25,
    )


def kg_export_ntriples(spark, sf_dir):
    """N-Triples export (kg/rdf.py to_ntriples): the distinct triple
    set serialized as W3C RDF statements ``<s> <p> <o> .`` under the
    urn:delm: base, ids percent-encoded per the module escape table
    (space and IRI-forbidden characters survive round trips; RDF graphs
    are sets, so export dedups). Map-only after one 3-column distinct;
    the oracle replays the identical replace-chain concat in SQL."""
    from delm_spark.kg.rdf import to_ntriples

    res = _fixture_pipeline(spark)
    return to_ntriples(res.triples).orderBy("line")


def kg_roundtrip_ntriples(spark, sf_dir):
    """N-Triples import (kg/rdf.py from_ntriples): parse the export
    back — regexp term split, base strip, percent-decode, malformed
    lines to a tagged null row instead of a job kill. The round trip
    must reproduce the distinct triple set exactly, which is what the
    oracle asserts (SELECT DISTINCT of the linked triples, all
    well-formed)."""
    from delm_spark.kg.rdf import from_ntriples, to_ntriples

    res = _fixture_pipeline(spark)
    parsed = from_ntriples(to_ntriples(res.triples))
    return parsed.select("subj_id", "pred", "obj_id", "malformed").orderBy(
        "subj_id", "pred", "obj_id"
    )


def kg_path_fixpoint(spark, sf_dir):
    """Unbounded property-path closure ``reports_to+`` (kg/query.py
    property_path max_hops=None): the frontier loop runs to FIXPOINT —
    a level that adds no new (src, dst) pair ends the walk, so the
    management-chain closure needs no depth guess. Termination is
    structural (reached pairs only grow inside the finite pair space;
    the per-level anti-join means a cycle, including the fixture's
    self-loops, can never re-enqueue a pair). The oracle is a DuckDB
    RECURSIVE CTE with min(hops) per pair, hop-guarded at 15;
    tests/test_rdf.py pins that the fixture closure converges well
    below the guard, which makes the bounded recursion exact."""
    from delm_spark.kg.query import property_path

    res = _fixture_pipeline(spark)
    return property_path(res.triples, "reports_to", max_hops=None).orderBy(
        "src", "dst"
    )


def kg_path_star(spark, sf_dir):
    """Zero-or-more property path ``reports_to*`` (kg/query.py
    property_path zero_or_more=True): the fixpoint closure plus a
    hops=0 self-pair for every node of the predicate subgraph; a
    self-pair a cycle reaches at k > 0 hops collapses to its 0-hop row
    (min-hop semantics). The oracle unions the node set's zero rows
    with the recursive closure's non-self pairs."""
    from delm_spark.kg.query import property_path

    res = _fixture_pipeline(spark)
    return property_path(
        res.triples, "reports_to", max_hops=None, zero_or_more=True
    ).orderBy("src", "dst", "hops")


def kg_harmonic_centrality(spark, sf_dir):
    """Sampled harmonic centrality (kg/graph.py harmonic_centrality):
    C(v) = sum of 1/d(s, v) micro-units over a deterministic md5-drawn
    source sample — the scale-sane pivot from quadratic all-pairs
    closeness to n_sources multi-source-BFS levels (one equi-join +
    anti-join per level, minimal dist by construction, early exit on an
    empty level). Harmonic, not classic closeness, so disconnected
    fixtures don't poison the score. The oracle replays the BFS as a
    hop-guarded RECURSIVE CTE with min(dist) per (source, node) and the
    same integer micro-unit sum."""
    from delm_spark.kg.graph import harmonic_centrality

    res = _fixture_pipeline(spark)
    edges = res.triples.select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    return harmonic_centrality(edges, n_sources=8, max_depth=6).orderBy(
        "node"
    )


def kmeans_clusters_embeddings(spark, sf_dir):
    """Distributed Lloyd k-means in EXACT integer arithmetic
    (operators/cluster.py): vectors quantized once to BIGINT micro-units,
    integer squared-L2, centroid update = sum div count, md5-ordered
    deterministic init, argmin ties to the smallest cluster — so the
    3-iteration fit + assignment is bit-reproducible and the oracle
    unrolls the identical math in SQL. Assignment is a native array_min
    fold over a constant-folded centroid literal: ZERO shuffle of the
    corpus side."""
    from delm_spark.operators.cluster import kmeans_cluster

    emb = _spread(_t(spark, sf_dir, "embeddings"))
    return kmeans_cluster(emb, k=8, iters=3).orderBy("vec_id")


def tool_sequences_transcripts(spark, sf_dir):
    """Agent-trajectory tool-sequence mining (kg/trajectory.py
    tool_sequences): consecutive tool bigrams per conversation (lead
    over the conv_id window restricted to tool turns), support = total
    occurrences + distinct conversations. One conv shuffle + one
    map-side-combinable n-gram aggregation."""
    from delm_spark.kg.trajectory import tool_sequences

    t = _fixture_transcripts(spark)
    return tool_sequences(t, n=2).orderBy("tool_seq")


def transcript_integrity_report(spark, sf_dir):
    """Per-conversation structural QA (kg/trajectory.py
    transcript_integrity) over the fixture corpus PLUS four
    deterministically corrupted copies of every conversation —
    duplicated turn index, reversed timestamps, stuck role, blanked
    turns — so every disposition class is exercised, not vacuous.
    Single window+aggregate shuffle; the oracle replays the corruption
    and the gate in SQL."""
    from delm_spark.kg.trajectory import transcript_integrity

    t = _fixture_transcripts(spark)
    pre = lambda p: F.concat(F.lit(p), F.col("conv_id"))  # noqa: E731
    dup = t.select(
        pre("dup:").alias("conv_id"),
        F.when(F.col("turn_idx") == 1, 0)
        .otherwise(F.col("turn_idx"))
        .alias("turn_idx"),
        "role", "text", "tool", "ts",
    )
    rev = t.select(
        pre("rev:").alias("conv_id"), "turn_idx", "role", "text", "tool",
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 1000 - turn_idx, 0, 0)"
        ).alias("ts"),
    )
    rr = t.select(
        pre("rr:").alias("conv_id"), "turn_idx",
        F.lit("agent").alias("role"), "text", "tool", "ts",
    )
    empty = t.select(
        pre("empty:").alias("conv_id"), "turn_idx", "role",
        F.when(F.col("turn_idx") % 3 == 0, "")
        .otherwise(F.col("text"))
        .alias("text"),
        "tool", "ts",
    )
    allv = t.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    for v in (dup, rev, rr, empty):
        allv = allv.unionByName(v)
    return transcript_integrity(allv).orderBy("conv_id")


def fuzzy_surface_pairs(spark, sf_dir):
    """Edit-distance similarity join (operators/editdist.py
    edit_distance_pairs): FastSS deletion-neighborhood blocking + ONE
    variant equi-join + exact native levenshtein refine — never
    all-pairs. Input = dictionary surfaces plus a one-char-truncated
    typo copy of every long surface, so the lev<=1 pair set is real.
    The oracle re-derives the deletion neighborhoods (list_transform),
    the blocking join, and the refine in SQL."""
    from delm_spark.operators.editdist import edit_distance_pairs

    d = _fixture_dictionary(spark)
    orig = d.select(
        F.concat(F.lit("o:"), F.col("surface")).alias("key_id"),
        F.col("surface").alias("s"),
    )
    typo = d.filter(F.length("surface") > 6).select(
        F.concat(F.lit("t:"), F.col("surface")).alias("key_id"),
        F.expr("substring(surface, 1, length(surface) - 1)").alias("s"),
    )
    return edit_distance_pairs(
        orig.unionByName(typo), "s", "key_id", max_edits=1
    ).orderBy("id_a", "id_b")


def entity_timeline_kg(spark, sf_dir):
    """Canonical-entity temporal profile (kg/trajectory.py
    entity_timeline): pipeline triples join back to their source turns
    on the natural (conv_id, turn_idx) key for epoch timestamps, then
    one aggregation per entity — first/last mention, conversation
    spread, active span. The temporal companion of triple_provenance."""
    from delm_spark.kg.trajectory import entity_timeline

    res = _fixture_pipeline(spark)
    return entity_timeline(res.triples, _fixture_transcripts(spark)).orderBy(
        "entity"
    )


def context_window_turns(spark, sf_dir):
    """Rolling conversational context per turn (kg/trajectory.py
    context_windows, k=3): the north star's window-ordered turn
    assembly as a standalone operator — each turn paired with its
    previous-3-turn 'role: text' block. ONE conv_id shuffle; the frame
    is rowsBetween(-3,-1) so a hot conversation costs O(k x its own
    length), never corpus-wide state."""
    from delm_spark.kg.trajectory import context_windows

    t = _fixture_transcripts(spark)
    return context_windows(t, k=3).orderBy("conv_id", "turn_idx")


def turn_latency_transcripts(spark, sf_dir):
    """Per-conversation response-latency profile (kg/trajectory.py
    turn_latency): exact integer epoch-second gaps between consecutive
    turns, assistant-turn wait sums/maxes — one conv_id window shuffle
    whose hash distribution the trailing aggregation reuses."""
    from delm_spark.kg.trajectory import turn_latency

    t = _fixture_transcripts(spark)
    return turn_latency(t).orderBy("conv_id")


def random_walks_kg(spark, sf_dir):
    """Deterministic DeepWalk-style walk corpus (kg/walks.py
    random_walks) over the canonical entity graph: 4 hops from every
    node, next hop = md5-argmin neighbor — one equi-join + one min_by
    aggregation per hop, frontier stays one row per walk."""
    from delm_spark.kg.walks import random_walks

    res = _fixture_pipeline(spark)
    edges = res.triples.select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    return random_walks(edges, length=4, seed="walk").orderBy("walk_id")


def kmv_distinct_tokens(spark, sf_dir):
    """KMV distinct-count sketch (operators/sketch.py kmv_distinct) of
    the corpus token vocabulary: k=256 smallest 48-bit md5 hashes of the
    distinct normalized tokens; estimate (k-1)*2^48 div h_k, exact when
    cardinality < k. One distinct shuffle + TakeOrdered(k)."""
    from delm_spark.operators.dedup import normalize_text
    from delm_spark.operators.sketch import kmv_distinct

    docs = _spread(_t(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return kmv_distinct(toks, "tok", k=256)


def hll_users_events(spark, sf_dir):
    """HyperLogLog distinct users (operators/sketch.py hll_cardinality,
    p=8): md5-derived registers, exact-BIGINT harmonic sum, micronat
    linear counting — one map pass + a 256-row mergeable register
    aggregation, cross-engine reproducible unlike
    approx_count_distinct."""
    from delm_spark.operators.sketch import hll_cardinality

    events = _t(spark, sf_dir, "events")
    return hll_cardinality(events, "user_id")


def cms_user_counts_events(spark, sf_dir):
    """Count-Min frequency estimates (operators/sketch.py
    count_min_table + cms_estimate_counts, depth=4 width=64) for every
    distinct event user, joined to the exact counts: (user, est, exact)
    with est >= exact by CMS's one-sided guarantee. width=64 < 150 users
    forces real collisions, so the overestimates are exercised, not
    vacuous. The sketch build is one map-side-combinable aggregation to
    <= 256 cells; the probe is a broadcast join of those cells. The
    oracle re-derives the salted md5 bucket hashes, the cell table, and
    the per-key min in SQL."""
    from delm_spark.operators.sketch import cms_estimate_counts

    events = _t(spark, sf_dir, "events")
    est = cms_estimate_counts(events, "user_id", depth=4, width=64)
    exact = events.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("exact_count")
    )
    return (
        est.join(exact, "key")
        .select(
            F.col("key").cast("long").alias("user_id"),
            "est_count",
            "exact_count",
        )
        .orderBy("user_id")
    )


def events_rollup_cube(spark, sf_dir):
    """Hypertable-style time rollup: event counts and value sums at
    every granularity of ROLLUP(day, event_type) in ONE pass — the
    partial-aggregate expand that replaces N separate groupBys (and N
    scans) with one shuffle. grouping_id() disambiguates the levels;
    value sums are quantized to integer micro-units before aggregation
    so totals are order-independent. The oracle is DuckDB's own
    GROUP BY ROLLUP."""
    events = _t(spark, sf_dir, "events")
    base = events.select(
        F.to_date("ts").cast("string").alias("day"),
        "event_type",
        F.floor(F.col("value") * 1e6 + 0.5).cast("long").alias("value_micro"),
    )
    return (
        base.rollup("day", "event_type")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_events"),
            F.sum("value_micro").alias("value_micro_sum"),
        )
        .orderBy("gid", "day", "event_type")
    )


def weighted_sample_docs(spark, sf_dir):
    """Deterministic weighted sampling (operators/sample.py
    weighted_ticket_sample): length-weighted ticket lottery, priority =
    min of w md5 tickets per doc — native array_min over a sequence
    transform (no explode, no shuffle), TakeOrdered top-k."""
    from delm_spark.operators.sample import weighted_ticket_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_ticket_sample(
        docs, 50, "doc_id", F.expr("n_chars div 200 + 1"), max_weight=8
    ).orderBy("priority", "doc_id")


def tfidf_top_terms_docs(spark, sf_dir):
    """Per-document TF-IDF keywords (operators/search.py
    tfidf_top_terms): integer-micronat idf over corpus counts, top-3
    terms per doc via a WindowGroupLimit rank filter; the df table
    reuses the tf exchange (ReuseExchange), term join deliberately
    not broadcast (corpus-scale vocabulary)."""
    from delm_spark.operators.search import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tfidf_top_terms(docs, top_n=3).orderBy(
        "doc_id", F.desc("tfidf_micro"), "term"
    )


def bpe_learn_docs(spark, sf_dir):
    """Distributed BPE vocabulary learning (operators/bpe.py bpe_learn):
    4 merges over the documents corpus — ONE corpus shuffle builds the
    word-count table (then localCheckpointed), every merge round is a
    vocab-bounded pair count + 1-row argmax + map-only string rewrite.
    Double-space symbol representation makes the greedy merge a literal
    replace() with identical semantics in Spark and DuckDB."""
    from delm_spark.operators.bpe import bpe_learn

    docs = _t(spark, sf_dir, "documents")
    return bpe_learn(docs, n_merges=4).orderBy("rank")


def stream_hourly_triples(spark, sf_dir):
    """Watermarked windowed aggregation as a STREAM (streaming/stream.py
    hourly_triple_counts): the streaming triple chain stream-static-joins
    its source turns for event time, then counts triples per (1-hour
    window, predicate) with a 2-hour watermark in APPEND mode — so the
    parquet sink holds exactly the windows the watermark closed
    (window_end <= max event time - 2h; the availableNow no-data final
    batch flushes them). The oracle re-derives both the counts AND the
    eviction boundary in SQL, pinning Spark's late-data semantics, not
    just the arithmetic."""
    import tempfile

    from delm_spark.streaming.stream import (
        hourly_triple_counts,
        read_transcript_stream,
        run_stream_to_parquet,
        streaming_triples,
    )

    stream = read_transcript_stream(spark, str(_FIXTURES / "transcripts.parquet"))
    ts_map = _fixture_transcripts(spark).select("conv_id", "turn_idx", "ts")
    with_ts = streaming_triples(stream).join(ts_map, ["conv_id", "turn_idx"])
    out = tempfile.mkdtemp(prefix="delm_stream_hourly_")
    q = run_stream_to_parquet(hourly_triple_counts(with_ts), out, out + "_ckpt")
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .select(
            F.col("window_start").cast("long").alias("win_start"),
            F.col("window_end").cast("long").alias("win_end"),
            "pred",
            "n_triples",
        )
        .orderBy("win_start", "pred")
    )


def clustering_coeff_graph(spark, sf_dir):
    """Per-node local clustering coefficient (kg/graph.py
    clustering_coefficient) over the chain+skip block graph — exact
    integer cc_micro = (2e6 * triangles) div (d * (d-1)); composition of
    the degree-ordered triangle enumeration with the degree table. The
    oracle re-derives triangles with an a<b<c three-way self-join."""
    return clustering_coefficient(
        _block_graph(spark, sf_dir, hub=False), src="u", dst="v"
    ).orderBy("node")


def bigram_lm_docs(spark, sf_dir):
    """Bigram-LM surprisal per document (operators/curation.py
    bigram_lm_score): UNK-mapped top-30 vocabulary, add-one smoothing,
    integer micronats — per-doc bigrams from an IN-ROW array zip (no
    second corpus shuffle), conditional tables broadcast back. The
    fluency companion of unigram_lm_docs."""
    from delm_spark.operators.curation import bigram_lm_score

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_score(docs, vocab_size=30).orderBy("doc_id")


def negative_samples_kg(spark, sf_dir):
    """Filtered TransE-style negative sampling (kg/completion.py
    negative_samples) over the flagship extraction chain's triples: 2
    hash-drawn corruptions per positive (md5-derived side + replacement
    rank, broadcast entity dictionary), degenerate draws and
    false-negatives (corruptions that are themselves positives) removed.
    The oracle re-derives the extraction chain AND the sampling
    arithmetic (60-bit hex hash, integer div/mod, NOT EXISTS filter)."""
    from delm_spark.kg.completion import negative_samples

    triples = explode_extracted_triples(spark, sf_dir).select(
        "subj", "pred", "obj"
    )
    return negative_samples(triples, k=2, seed=0).orderBy(
        "subj", "pred", "obj", "neg_idx"
    )


def link_prediction_kg(spark, sf_dir):
    """Common-neighbor / Adamic-Adar / resource-allocation link
    prediction (kg/completion.py link_prediction_scores) over the
    chain+skip block graph: wedge enumeration through each common
    neighbor, per-w terms quantized to integers BEFORE the sum
    (aggregation-order independent), existing edges anti-joined out.
    The oracle replays the wedge join and the exact-integer scoring."""
    from delm_spark.kg.completion import link_prediction_scores

    return link_prediction_scores(
        _block_graph(spark, sf_dir, hub=False), src="u", dst="v"
    ).orderBy("u", "v")


def simhash_pairs_docs(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3, rotating 4-block LSH — full
    recall for Hamming <= 3 by pigeonhole; md5-derived 60-bit signatures
    so the oracle reproduces them)."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    return (
        simhash_dedup_pairs(docs, "text", "doc_id")
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    )


def multimodal_media_features(spark, sf_dir):
    """Multimodal plumbing end-to-end with an oracle: documents become
    opaque binary payloads (utf-8 bytes), flow through the Arrow media-
    feature UDF (re-chunked batches), and the oracle reproduces the
    non-stubbed outputs (byte length, content sha256) in SQL. The decode
    step itself is the documented deterministic fake (no codec libs)."""
    from delm_spark.operators.multimodal import extract_media_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.format_string("m%08d", F.col("doc_id")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    feats = extract_media_features(media)
    return feats.select("media_id", "n_bytes", "content_sha").orderBy("media_id")


def _media_docs(spark, sf_dir, n_docs, encode, *cols):
    """(media_id, content) for the documents with doc_id < n_docs and
    non-empty text: media_id is 'm%08d' of doc_id, content the bytes the
    pandas function `encode` makes from the columns `cols`."""
    from pyspark.sql.types import BinaryType

    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < n_docs) & (F.length("text") > 0)
    )
    # returnType passed explicitly: pd.Series annotations break typehint
    # resolution when pandas is imported inside the enclosing function
    return docs.select(
        F.format_string("m%08d", F.col("doc_id")).alias("media_id"),
        F.pandas_udf(encode, BinaryType())(*cols).alias("content"),
    )


def image_pixel_stats_docs(spark, sf_dir):
    """REAL pixel-decode path under the correctness gate: each document's
    text becomes a 32x32 gray image — pure function of the text — encoded
    by doc_id % 3 as (0) a baseline JPEG whose 8x8 tiles are constant
    (tile t = codepoint of char t%len, mod 256; tile-constant + the
    all-8s quant table make DCT round-trip bit-exact, jpeg_codec.py), (1)
    a GIF (stdlib LZW encoder, per-pixel pattern i%len), or (2) an
    uncompressed BMP (same per-pixel pattern). All three flow through the
    binary column + Arrow image_pixel_stats operator (stdlib decode ->
    luma stats) and come back as integers (luma sum, 16-bin histogram
    counts) the oracle re-derives closed-form from the SAME text — so all
    three encode->decode->stats roundtrips must be numerically exact.
    (Gray pixels make float32 luma exact: the Rec.601 coefficients sum to
    1.0 in float32.)"""
    import pandas as pd

    from delm_spark.operators.multimodal import image_pixel_stats

    W = H = 32

    def _to_img(ids, texts):
        import numpy as np

        from delm_spark.operators.image_codec import encode_bmp, encode_gif
        from delm_spark.operators.jpeg_codec import encode_jpeg

        def one(doc_id, t):
            t = t or "\x00"
            if doc_id % 3 == 0:
                tiles = np.frombuffer(
                    "".join(t[i % len(t)] for i in range(16)).encode("latin-1"),
                    np.uint8,
                ).reshape(4, 4)
                gray = np.repeat(np.repeat(tiles, 8, 0), 8, 1)
                return encode_jpeg(gray[:, :, None])
            vals = np.frombuffer(
                "".join(t[i % len(t)] for i in range(W * H)).encode("latin-1"),
                np.uint8,
            )
            img = np.repeat(vals.reshape(H, W)[:, :, None], 3, axis=2)
            return encode_gif(img) if doc_id % 3 == 1 else encode_bmp(img)

        return pd.Series([one(i, t) for i, t in zip(ids, texts)])

    stats = image_pixel_stats(_media_docs(spark, sf_dir, 200, _to_img, "doc_id", "text"))
    return stats.select(
        "media_id",
        "format",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_pixels").cast("long").alias("n_pixels"),
        F.round(F.col("mean_luma").cast("double") * F.col("n_pixels"))
        .cast("long")
        .alias("luma_sum"),
        F.array_join(
            F.transform(
                "luma_hist",
                lambda hh: F.round(hh.cast("double") * F.col("n_pixels")).cast(
                    "long"
                ),
            ),
            "|",
        ).alias("hist_counts"),
    ).orderBy("media_id")


def audio_features_docs(spark, sf_dir):
    """REAL audio-decode path under the correctness gate: each document's
    text becomes a 1000-sample 8 kHz mono PCM WAV (sample i = (codepoint
    of char i%len mod 256 - 128) * 256 — a pure function of the text),
    flows through the binary column + Arrow audio_features operator
    (stdlib RIFF/PCM decode -> integer features), and comes back as
    integers the oracle re-derives closed-form from the SAME text — so
    the encode->decode->stats roundtrip must be numerically exact."""
    from delm_spark.operators.multimodal import audio_features

    N = 1000

    def _to_wav(texts):
        import numpy as np

        from delm_spark.operators.av_codec import encode_wav

        def one(t):
            t = t or "\x00"
            vals = np.frombuffer(
                "".join(t[i % len(t)] for i in range(N)).encode("latin-1"),
                np.uint8,
            )
            samples = ((vals.astype(np.int16) - 128) << 8).astype(np.int16)
            return encode_wav(samples, 8000)

        return texts.map(one)

    return audio_features(_media_docs(spark, sf_dir, 200, _to_wav, "text")).select(
        "media_id",
        "format",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("channels").cast("int").alias("channels"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        F.col("sample_sum").cast("long").alias("sample_sum"),
        F.col("peak_abs").cast("long").alias("peak_abs"),
        F.col("zero_crossings").cast("long").alias("zero_crossings"),
    ).orderBy("media_id")


def video_frame_sample_docs(spark, sf_dir):
    """REAL video-decode + frame-sampling path under the correctness
    gate: each document's text becomes an 8-frame 8x8 uncompressed-DIB
    AVI (pixel j of frame f = codepoint of char (f*64+j)%len mod 256,
    gray), flows through the Arrow video_frame_stats operator sampling
    every 2nd frame, and the per-frame luma sums come back as integers
    the oracle re-derives closed-form from the SAME text. (Gray pixels
    make float32 luma exact, as in image_pixel_stats_docs.)"""
    from delm_spark.operators.multimodal import video_frame_stats

    FRAMES, W = 8, 8

    def _to_avi(texts):
        import numpy as np

        from delm_spark.operators.av_codec import encode_avi

        def one(t):
            t = t or "\x00"
            vals = np.frombuffer(
                "".join(
                    t[i % len(t)] for i in range(FRAMES * W * W)
                ).encode("latin-1"),
                np.uint8,
            )
            frames = [
                np.repeat(
                    vals[f * W * W : (f + 1) * W * W].reshape(W, W)[:, :, None],
                    3,
                    axis=2,
                )
                for f in range(FRAMES)
            ]
            return encode_avi(frames, fps=4)

        return texts.map(one)

    media = _media_docs(spark, sf_dir, 100, _to_avi, "text")
    return video_frame_stats(media, every_k=2).select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("n_frames").cast("int").alias("n_frames"),
        F.col("fps").cast("int").alias("fps"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.round(F.col("mean_luma").cast("double") * F.col("n_pixels"))
        .cast("long")
        .alias("luma_sum"),
        F.col("n_pixels").cast("long").alias("n_pixels"),
    ).orderBy("media_id", "frame_idx")


def fuzzy_score_docs(spark, sf_dir):
    """R2: pandas-UDF fuzzy scoring (rapidfuzz-equivalent partial ratio)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    udf = fuzzy_score_udf(["spark table", "vector join"])
    return (
        docs.select("doc_id", udf(F.col("text")).alias("delm_score"))
        .filter(F.col("delm_score") >= 0.8)
        .orderBy("doc_id")
    )


def fixed_window_chunks(spark, sf_dir):
    """T2: pandas-UDF sentence-window splitter."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    udf = fixed_window_split_udf(window=2, stride=2)
    return docs.select(
        "doc_id", F.posexplode(udf(F.col("text"))).alias("chunk_pos", "chunk")
    ).orderBy("doc_id", "chunk_pos")


def decontam_ngram_docs(spark, sf_dir):
    """Benchmark decontamination: word-4-gram overlap of the train split
    (doc_id % 17 != 0) against the held-out split (doc_id % 17 == 0) as
    a broadcast semi-join; the oracle re-derives the full n-gram chain."""
    from delm_spark.operators.curation import decontaminate

    docs = _spread(_t(spark, sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") % 17 != 0)
    test = docs.filter(F.col("doc_id") % 17 == 0)
    return decontaminate(train, test, n=4).orderBy("doc_id")


def gopher_quality_docs(spark, sf_dir):
    """Gopher-style repetition/quality rule filter (Rae et al. 2021
    App. A): per-doc repetition profile + one int flag per rule."""
    from delm_spark.operators.curation import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    return gopher_quality(docs).orderBy("doc_id")


def _pii_augmented(docs):
    """Deterministically inject PII into the synthetic corpus (which has
    none) so detection/redaction is exercised; the oracle performs the
    identical augmentation before running the same regexes."""
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((did % 1000).cast("string"), 3, "0"),
                    F.lit("-0199 re ssn 123-45-6789"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".17")
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def pii_redact_docs(spark, sf_dir):
    """PII detection + redaction over a deterministically augmented
    corpus — pure regex columns, lookaround-free for RE2 parity."""
    from delm_spark.operators.curation import pii_counts, redact_pii

    aug = _pii_augmented(_t(spark, sf_dir, "documents"))
    counts = pii_counts(F.col("text"))
    return aug.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ssn"].alias("n_ssn"),
        counts["ipv4"].alias("n_ipv4"),
        redact_pii(F.col("text")).alias("redacted"),
    ).orderBy("doc_id")


def unigram_lm_docs(spark, sf_dir):
    """Two-pass unigram-LM surprisal scoring (perplexity proxy): corpus
    top-30 vocabulary broadcast back over the token stream; integer
    micronats end-to-end so aggregation order cannot perturb values."""
    from delm_spark.operators.curation import unigram_lm_score

    docs = _spread(_t(spark, sf_dir, "documents"))
    return unigram_lm_score(docs, vocab_size=30).orderBy("doc_id")


def bm25_search_docs(spark, sf_dir):
    """Okapi BM25 lexical top-20 for a 3-term query; tf from native
    array filters (no full-token shuffle), df/avgdl broadcast, score
    quantized to micro-units per (doc, term) before the per-doc sum."""
    from delm_spark.operators.search import bm25_topk

    docs = _spread(_t(spark, sf_dir, "documents"))
    return bm25_topk(docs, ["spark", "merge", "window"], k=20)


def rrf_search_docs(spark, sf_dir):
    """Reciprocal-rank fusion (operators/search.py rrf_fuse) of two
    retrieval lists over the same 3-term query — BM25 top-30 and raw
    term-frequency top-30 — each contributing integer 1e6 div (60+rank)
    micro-units; fused top-20 by (rrf desc, id asc). The oracle
    re-derives BOTH rankers, the rank windows, and the fusion in SQL."""
    from delm_spark.operators.search import bm25_topk, rrf_fuse, term_count_topk

    docs = _t(spark, sf_dir, "documents")
    terms = ["spark", "merge", "window"]
    return rrf_fuse(
        [bm25_topk(docs, terms, k=30), term_count_topk(docs, terms, k=30)],
        k_rrf=60,
        k=20,
    )


def stratified_sample_docs(spark, sf_dir):
    """Deterministic per-language stratified sampling (domain-mixing
    primitive): keep iff md5-bucket(doc_id) < frac * 10000 — map-only,
    shuffle-free, reproducible row-for-row at any parallelism."""
    from delm_spark.operators.sample import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    fr = {"en": 0.5, "es": 0.25, "fr": 0.1, "de": 1.0, "zh": 0.05}
    return (
        stratified_sample(docs, "lang", fr, "doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def incremental_dedup_docs(spark, sf_dir):
    """Incremental corpus dedup: docs >= 250 arrive as a new batch and
    are checked against the LSH index of the existing corpus (docs
    < 250) — candidate probe on the index's band table (batch side
    broadcast, corpus never reshuffled), exact Jaccard re-rank on
    survivors, best match per new doc."""
    from delm_spark.operators.dedup import incremental_dedup, minhash_index

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    bands_df, sh_df = minhash_index(corpus)
    return incremental_dedup(
        batch, bands_df, sh_df, jaccard_threshold=0.5
    ).orderBy("doc_id")


def pack_sequences_docs(spark, sf_dir):
    """Sequence packing into 500-token training packs via the two-phase
    distributed prefix sum (block-partitioned cumsum + tiny offset
    window); the oracle's sequential SUM() OVER (ORDER BY doc_id)
    proves the distributed layout equals the sequential semantics."""
    from delm_spark.operators.packing import pack_sequences, pack_summary

    docs = _t(spark, sf_dir, "documents")
    packed = pack_sequences(docs, budget=500, block_size=100)
    return pack_summary(packed).orderBy("pack_id")


def curation_pipeline_docs(spark, sf_dir):
    """The COMPOSED curation chain (exact dedup -> near-dup -> Gopher ->
    decontam -> redact -> pack) over the corpus (doc_id % 17 != 0) with
    the held-out split (doc_id % 17 == 0) as the decontam reference;
    one disposition row per input doc, oracle re-derives all six stages."""
    from delm_spark.curate import CurationConfig, run_curation

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    test = docs.filter(F.col("doc_id") % 17 == 0)
    out = run_curation(
        corpus,
        test_df=test,
        config=CurationConfig(near_dup_threshold=0.5, decontam_n=8, pack_budget=500),
    )
    return out.orderBy("doc_id")



def asof_join_events(spark, sf_dir):
    """Backward as-of join (operators/temporal.py): every purchase event
    picks up the most recent prior click by the same user within a 1-hour
    tolerance — union-window form, ONE shuffle on user_id, no range
    theta-join pair blow-up. The oracle is DuckDB's native ASOF LEFT
    JOIN: an independent engine implementation of the same semantics."""
    from delm_spark.operators.temporal import asof_join, dedupe_right

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = dedupe_right(
        ev.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        ),
        ["user_id"],
        "ts",
        "click_id",
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_id"],
        tolerance_sec=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        # two-step cast: the parquet ts is TIMESTAMP_NTZ, which has no
        # direct long cast (same canonicalization as events_sessionize)
        F.col("ts").cast("timestamp").cast("long").alias("purchase_ts"),
        F.col("ts_asof").cast("timestamp").cast("long").alias("click_ts"),
        F.col("click_id_asof").alias("click_id"),
    ).orderBy("event_id")


def kg_consistency_report(spark, sf_dir):
    """KG publish gate (kg/quality.py): consistency checks over the
    materialized triple table — self-loops, duplicate triples, unresolved
    mention endpoints, functional-predicate violations — each ONE
    map-side-combinable aggregation. The oracle re-derives the full
    extraction+linking chain and every check independently in SQL."""
    from delm_spark.kg.quality import consistency_report

    res = _fixture_pipeline(spark)
    return consistency_report(res.triples).orderBy("check_name")


def semantic_dedup_vecs(spark, sf_dir):
    """SemDeDup-style semantic dedup (operators/similarity.py): embeddings
    (+ planted perturbed near-copies at cosine ~0.999) are clustered via
    the deterministic IVF quantizer, then a vector is a duplicate iff an
    earlier same-cluster vector has 6-dp-rounded cosine >= 0.99 — the
    pair search never leaves its cluster. The oracle re-derives the
    centroid pick, the argmax assignment, and the exists check in SQL."""
    from delm_spark.operators.similarity import semantic_dedup

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    perturbed = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding")[0] * 1.05),
            F.slice(F.col("embedding"), 2, 63),
        ).alias("embedding"),
    )
    return semantic_dedup(
        emb.unionByName(perturbed), n_clusters=8, threshold=0.99
    ).orderBy("vec_id")


def quality_classifier_docs(spark, sf_dir):
    """Model-based quality filtering (operators/curation.py): a
    hashed-feature naive-Bayes log-odds linear classifier trained in ONE
    corpus pass (proxy label: lang == 'en'), then every doc scored under
    the broadcast model in integer micronats — the fastText-style quality
    scorer of a training-data pipeline. The oracle re-derives training
    AND scoring end-to-end in SQL."""
    from delm_spark.operators.curation import (
        hashed_linear_score,
        nb_logodds_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    w = nb_logodds_weights(docs, F.col("lang") == F.lit("en"), dim=512)
    return hashed_linear_score(docs, w, dim=512).orderBy("doc_id")


def dsir_importance_docs(spark, sf_dir):
    """DSIR importance resampling weights (operators/curation.py
    dsir_weights, Xie et al. 2023): hashed-unigram ln p_target - ln p_raw
    in integer micronats (target = lang 'en' docs, raw = whole corpus),
    every doc scored under the broadcast 512-bucket model via
    hashed_linear_score — sum_weight_micro IS log importance x 1e6. The
    oracle re-derives both distributions and the scoring in SQL."""
    from delm_spark.operators.curation import dsir_weights, hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    w = dsir_weights(docs, docs.filter(F.col("lang") == "en"), dim=512)
    return hashed_linear_score(docs, w, dim=512).orderBy("doc_id")


def shard_assign_docs(spark, sf_dir):
    """Training-shard export (operators/packing.py): deterministic global
    pseudo-shuffle — shard and within-shard position both derive from one
    salted md5, so shards are fixed-count, order-decorrelated from corpus
    order, and byte-reproducible across reruns and task retries."""
    from delm_spark.operators.packing import shard_assign

    docs = _t(spark, sf_dir, "documents")
    return shard_assign(docs, "doc_id", n_shards=8).orderBy("shard", "shard_pos")



def transcript_curation_pipeline(spark, sf_dir):
    """The COMPOSED transcript-curation chain (curate.py
    run_transcript_curation) over the fixture conversations plus planted
    exact-dup / near-dup / too-short / tool-heavy conversations: assemble
    turns -> integer structural gates -> md5-pack-key exact dedup ->
    MinHash-LSH + exact-Jaccard near-dup -> redact -> pack. One
    disposition row per conversation; the oracle re-derives assembly,
    both gates, and the whole dedup+pack chain in SQL."""
    from delm_spark.curate import TranscriptCurationConfig, run_transcript_curation

    t = _fixture_transcripts(spark).select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )
    dup = t.filter(F.col("conv_id") < "conv_00000010").select(
        F.concat(F.lit("dup:"), F.col("conv_id")).alias("conv_id"),
        "turn_idx", "role", "text", "tool",
    )
    near_base = t.filter(F.col("conv_id") < "conv_00000005")
    near = near_base.select(
        F.concat(F.lit("near:"), F.col("conv_id")).alias("conv_id"),
        "turn_idx", "role", "text", "tool",
    )
    near_extra = (
        near_base.select("conv_id")
        .distinct()
        .select(
            F.concat(F.lit("near:"), F.col("conv_id")).alias("conv_id"),
            F.lit(1000).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.lit("thanks again for all the help").alias("text"),
            F.lit(None).cast("string").alias("tool"),
        )
    )
    extra = spark.createDataFrame(
        [
            ("short:0", 0, "user", "hello there", None),
            ("short:0", 1, "assistant", "hi how can i help", None),
        ]
        + [("tools:0", i, "tool", f"tool output row {i}", "Duckbill") for i in range(10)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    turns = (
        t.unionByName(dup)
        .unionByName(near)
        .unionByName(near_extra)
        .unionByName(extra)
    )
    return run_transcript_curation(
        turns, config=TranscriptCurationConfig()
    ).orderBy("conv_id")



def range_join_events(spark, sf_dir):
    """Distributed interval-containment join WITHOUT an equi key
    (operators/temporal.py range_bucket_join): every error event matched
    to the 2-hour windows opened by early users' signups — intervals
    explode to hour buckets, points map to one bucket, ONE equi-join on
    the bucket id + exact range refilter (each pair meets in exactly one
    bucket, no dedup). The oracle is the plain theta join."""
    from delm_spark.operators.temporal import range_bucket_join

    ev = _t(spark, sf_dir, "events")
    windows = ev.filter(
        (F.col("event_type") == "signup") & (F.col("user_id") < 5)
    ).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOUR")).alias("w_end"),
    )
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "ts")
    out = range_bucket_join(
        errors, windows, "ts", "w_start", "w_end", bucket_sec=3600
    )
    return out.select(
        "event_id",
        "window_id",
        F.col("ts").cast("timestamp").cast("long").alias("err_ts"),
        F.col("w_start").cast("timestamp").cast("long").alias("win_start"),
    ).orderBy("event_id", "window_id")


def corpus_profile_docs(spark, sf_dir):
    """Corpus observability profile: per-language doc counts, total
    chars, and exact median/min/max doc length — the census a curation
    run logs before/after each stage. Exact interpolating percentile
    (not approx) so the SQL oracle reproduces it bit-for-bit; the .5
    interpolation fractions floor deterministically."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.expr("CAST(floor(percentile(n_chars, 0.5)) AS BIGINT)").alias(
                "median_chars"
            ),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )



def pq_topk_embeddings(spark, sf_dir):
    """PQ-ADC ANN (operators/quantize.py): vectors compress to m=8
    codebook codes; per query an 8x16 integer distance table is
    broadcast, ADC = one integer sum per (query, vector), top-40 by ADC
    exact-cosine re-ranked to top-10. All distances are fixed-point
    nano-units BEFORE aggregation, so the oracle re-derives codebooks,
    code assignment, ADC, and the re-rank bit-for-bit in SQL."""
    from delm_spark.operators.quantize import pq_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(
        emb, queries, m=8, k_codes=16, k=10, refine=4, dim=64
    ).orderBy("query_id", "rank")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order matters: the driver's correctness gate checks the FIRST
    # 50 entries.  Queries that have never had a driver CORRECTNESS row (the
    # round-4 curation / temporal / PQ / packing family) are placed first;
    # multi-round-green veterans (driver-green in r02+r03+r04, still pinned
    # by tests/test_oracle_parity.py every round) are rotated to the tail.
    return {
        # --- never driver-checked (round-4/5 additions; fuzzy_score_docs and
        # fixed_window_chunks, green in r03, rotate to the tail to free two
        # gate slots for the round-5 BGP/ontology queries)
        "kg_pattern_colleagues": kg_pattern_colleagues,
        "kg_predicate_canonical": kg_predicate_canonical,
        "decontam_ngram_docs": decontam_ngram_docs,
        "gopher_quality_docs": gopher_quality_docs,
        "pii_redact_docs": pii_redact_docs,
        "unigram_lm_docs": unigram_lm_docs,
        "bm25_search_docs": bm25_search_docs,
        "stratified_sample_docs": stratified_sample_docs,
        "incremental_dedup_docs": incremental_dedup_docs,
        "pack_sequences_docs": pack_sequences_docs,
        "curation_pipeline_docs": curation_pipeline_docs,
        "asof_join_events": asof_join_events,
        "kg_consistency_report": kg_consistency_report,
        "semantic_dedup_vecs": semantic_dedup_vecs,
        "quality_classifier_docs": quality_classifier_docs,
        "shard_assign_docs": shard_assign_docs,
        "transcript_curation_pipeline": transcript_curation_pipeline,
        "range_join_events": range_join_events,
        "corpus_profile_docs": corpus_profile_docs,
        "pq_topk_embeddings": pq_topk_embeddings,
        # --- round-5 additions
        "streaming_kg_merge": streaming_kg_merge,
        "near_dup_canonical_docs": near_dup_canonical_docs,
        "containment_dedup_docs": containment_dedup_docs,
        "kg_triple_provenance": kg_triple_provenance,
        "kg_entity_cooccur": kg_entity_cooccur,
        "kg_communities": kg_communities,
        "kmeans_clusters_embeddings": kmeans_clusters_embeddings,
        "tool_sequences_transcripts": tool_sequences_transcripts,
        "entity_timeline_kg": entity_timeline_kg,
        "random_walks_kg": random_walks_kg,
        "kmv_distinct_tokens": kmv_distinct_tokens,
        "hll_users_events": hll_users_events,
        "weighted_sample_docs": weighted_sample_docs,
        "tfidf_top_terms_docs": tfidf_top_terms_docs,
        "bpe_learn_docs": bpe_learn_docs,
        "stream_hourly_triples": stream_hourly_triples,
        "clustering_coeff_graph": clustering_coeff_graph,
        "bigram_lm_docs": bigram_lm_docs,
        "negative_samples_kg": negative_samples_kg,
        "link_prediction_kg": link_prediction_kg,
        "cms_user_counts_events": cms_user_counts_events,
        "events_rollup_cube": events_rollup_cube,
        "rrf_search_docs": rrf_search_docs,
        "transcript_integrity_report": transcript_integrity_report,
        "fuzzy_surface_pairs": fuzzy_surface_pairs,
        # --- round-5 late additions, never driver-checked: inside the gate so
        # every query gains a hard CORRECTNESS row at least once
        "context_window_turns": context_window_turns,
        "turn_latency_transcripts": turn_latency_transcripts,
        "duplicate_spans_docs": duplicate_spans_docs,
        "dsir_importance_docs": dsir_importance_docs,
        "kg_snapshot_diff": kg_snapshot_diff,
        # --- slot 51+: below the driver's 50-query gate; first in line for
        # rotation into it next round
        "kg_functional_resolution": kg_functional_resolution,
        "kg_entity_types": kg_entity_types,
        "kg_type_violations": kg_type_violations,
        "kg_reports_chain": kg_reports_chain,
        "kg_pattern_optional": kg_pattern_optional,
        "kg_pattern_union": kg_pattern_union,
        "kg_pattern_values": kg_pattern_values,
        "kg_pattern_bind": kg_pattern_bind,
        "kg_pattern_inverse": kg_pattern_inverse,
        "kg_rdfs_closure": kg_rdfs_closure,
        "kg_core_entities": kg_core_entities,
        "kg_affiliation_chain": kg_affiliation_chain,
        "kg_mention_consolidation": kg_mention_consolidation,
        "kg_pattern_aggregate": kg_pattern_aggregate,
        "kg_construct_colleagues": kg_construct_colleagues,
        "kg_er_metrics": kg_er_metrics,
        "kg_fact_intervals": kg_fact_intervals,
        "kg_facts_asof": kg_facts_asof,
        "kg_ask_patterns": kg_ask_patterns,
        "kg_describe_entity": kg_describe_entity,
        "kg_pattern_topk": kg_pattern_topk,
        "kg_export_ntriples": kg_export_ntriples,
        "kg_roundtrip_ntriples": kg_roundtrip_ntriples,
        "kg_path_fixpoint": kg_path_fixpoint,
        "kg_path_star": kg_path_star,
        "kg_harmonic_centrality": kg_harmonic_centrality,
        # --- the flagship KG chain rotates just past the gate this round: all
        # five were driver-green in r04, entry() still smoke-runs the composed
        # linked pipeline every round, and tests/test_oracle_parity.py pins all
        # of them against DuckDB each pytest run.  The five slots freed go to
        # the never-checked late additions above.
        "explode_extracted_triples": explode_extracted_triples,
        "embedding_entity_link": embedding_entity_link,
        "kg_triples_stream": kg_triples_stream,
        "kg_triples_pipeline": kg_triples_pipeline,
        "kg_triples_linked_pipeline": kg_triples_linked_pipeline,
        "kg_nodes_canonical": kg_nodes_canonical,
        # --- single/double-round green or complex pipelines
        "stateful_sessionize_events": stateful_sessionize_events,
        "stream_dedup_events": stream_dedup_events,
        "image_pixel_stats_docs": image_pixel_stats_docs,
        "audio_features_docs": audio_features_docs,
        "video_frame_sample_docs": video_frame_sample_docs,
        "kg_degree_distribution": kg_degree_distribution,
        "kg_two_hop_entities": kg_two_hop_entities,
        "pagerank_demo": pagerank_demo,
        "ppr_demo": ppr_demo,
        "triangle_blocks_demo": triangle_blocks_demo,
        "connected_components_demo": connected_components_demo,
        "near_dup_pipeline_docs": near_dup_pipeline_docs,
        # --- multi-round-green veterans (r02+r03+r04 driver rows + pytest)
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "bpe_token_count_docs": bpe_token_count_docs,
        "ivf_topk_embeddings": ivf_topk_embeddings,
        "embedding_near_dup_vecs": embedding_near_dup_vecs,
        "embedding_topk_cosine": embedding_topk_cosine,
        "lsh_topk_embeddings": lsh_topk_embeddings,
        "minhash_signature_docs": minhash_signature_docs,
        "ngram_jaccard_docs": ngram_jaccard_docs,
        "quality_score_docs": quality_score_docs,
        "salted_user_counts": salted_user_counts,
        "multimodal_media_features": multimodal_media_features,
        "minhash_lsh_pairs_docs": minhash_lsh_pairs_docs,
        "simhash_pairs_docs": simhash_pairs_docs,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_orders": q3_top_orders,
        "broadcast_brand_revenue": broadcast_brand_revenue,
        "semi_join_orders": semi_join_orders,
        "anti_join_customers": anti_join_customers,
        "left_join_order_customer": left_join_order_customer,
        "window_top_orders_per_customer": window_top_orders_per_customer,
        "distinct_counts": distinct_counts,
        "union_nation_counts": union_nation_counts,
        "regex_split_chunks": regex_split_chunks,
        "keyword_score_filter": keyword_score_filter,
        "majority_vote_lang": majority_vote_lang,
        "exact_dedup_docs": exact_dedup_docs,
        "token_count_by_lang": token_count_by_lang,
        "doc_fingerprint": doc_fingerprint,
        "collect_ordered_langs": collect_ordered_langs,
        "events_hourly": events_hourly,
        "events_sessionize": events_sessionize,
        "dedup_events_first": dedup_events_first,
        "lang_id_docs": lang_id_docs,
        "fuzzy_score_docs": fuzzy_score_docs,
        "fixed_window_chunks": fixed_window_chunks,
        "ground_pronouns_kg": ground_pronouns_kg,
        "address_pronouns_kg": address_pronouns_kg,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   SUM(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty,
                   SUM(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS sum_base_price_cents,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS sum_disc_price_cents,
                   round(SUM(l_quantity) / COUNT(*), 6)::DOUBLE AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT o_orderkey, o_orderdate,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue_cents DESC, o_orderkey ASC
            LIMIT 10
        """,
        "broadcast_brand_revenue": """
            SELECT p_brand,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS revenue_cents,
                   COUNT(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand ORDER BY p_brand
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
            ORDER BY revenue_cents DESC, n_name ASC
        """,
        "semi_join_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders
            WHERE o_custkey IN (
                SELECT c_custkey FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE')
            ORDER BY o_orderkey
        """,
        "anti_join_customers": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            ORDER BY c_custkey
        """,
        "left_join_order_customer": """
            SELECT o_orderkey, o_custkey, c_name, c_mktsegment
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
            ORDER BY o_orderkey
        """,
        "window_top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, rn FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders)
            WHERE rn <= 3 ORDER BY o_custkey, rn
        """,
        "distinct_counts": """
            SELECT COUNT(DISTINCT o_custkey) AS n_customers,
                   COUNT(DISTINCT o_orderstatus) AS n_statuses,
                   COUNT(*) AS n_orders
            FROM orders
        """,
        "union_nation_counts": """
            SELECT * FROM (
                SELECT c_nationkey AS nationkey, COUNT(*) AS n, 'customer' AS side
                FROM customer GROUP BY c_nationkey
                UNION ALL
                SELECT s_nationkey AS nationkey, COUNT(*) AS n, 'supplier' AS side
                FROM supplier GROUP BY s_nationkey)
            ORDER BY side, nationkey
        """,
        "regex_split_chunks": """
            SELECT doc_id,
                   generate_subscripts(l, 1) - 1 AS chunk_pos,
                   unnest(l) AS chunk
            FROM (SELECT doc_id,
                         list_filter(list_transform(
                             regexp_split_to_array(text, '\\s+the\\s+'),
                             x -> trim(x)), x -> x <> '') AS l
                  FROM documents)
            ORDER BY doc_id, chunk_pos
        """,
        "keyword_score_filter": """
            SELECT lang, COUNT(*) AS n_relevant
            FROM documents
            WHERE (CASE WHEN contains(lower(text), 'spark')
                          OR contains(lower(text), 'vector')
                   THEN 1.0 ELSE 0.0 END) >= 1.0
            GROUP BY lang ORDER BY lang
        """,
        "majority_vote_lang": """
            SELECT source, lang AS major_lang FROM (
                SELECT source, lang,
                       row_number() OVER (PARTITION BY source
                           ORDER BY cnt DESC, first_pos ASC) AS rn
                FROM (SELECT source, lang, COUNT(*) AS cnt, MIN(doc_id) AS first_pos
                      FROM documents GROUP BY source, lang))
            WHERE rn = 1 ORDER BY source
        """,
        "exact_dedup_docs": """
            SELECT MIN(doc_id) AS doc_id FROM documents
            GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
            ORDER BY doc_id
        """,
        "duplicate_spans_docs": """
            WITH norm AS (
                SELECT doc_id,
                       string_split(lower(trim(regexp_replace(
                           coalesce(text, ''), '\\s+', ' ', 'g'))), ' ') AS ws
                FROM documents),
            sh AS (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(ws[i : i + 7], ' ')) AS h
                FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i
                      FROM norm)
                WHERE ws[i] <> '' AND i + 7 <= len(ws)),
            dup AS (
                SELECT h, count(*) AS n_docs
                FROM (SELECT DISTINCT h, doc_id FROM sh)
                GROUP BY h HAVING count(*) >= 2),
            hits AS (
                SELECT s.doc_id, s.pos, d.n_docs
                FROM sh s JOIN dup d USING (h)),
            isl AS (
                SELECT doc_id, pos, n_docs,
                       CASE WHEN pos - lag(pos) OVER w <= 8
                            THEN 0 ELSE 1 END AS new_isl
                FROM hits
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            grp AS (
                SELECT doc_id, pos, n_docs,
                       sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
                FROM isl)
            SELECT doc_id,
                   min(pos)::BIGINT AS span_start,
                   (max(pos) + 7)::BIGINT AS span_end,
                   (max(pos) + 8 - min(pos))::BIGINT AS span_tokens,
                   count(*)::BIGINT AS n_shingles,
                   max(n_docs)::BIGINT AS max_docs_sharing
            FROM grp GROUP BY doc_id, island
            ORDER BY doc_id, span_start
        """,
        "token_count_by_lang": """
            SELECT lang, COUNT(*) AS n_docs,
                   SUM(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS sum_tokens,
                   (SUM(len(regexp_split_to_array(trim(text), '\\s+')))::DOUBLE
                    / COUNT(*)) AS avg_tokens
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "bpe_token_count_docs": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tokens
            FROM documents ORDER BY doc_id
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "embedding_topk_cosine": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
                       FROM embeddings WHERE vec_id < 3),
                 e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings),
                 scored AS (
                   SELECT q.query_id, e.vec_id,
                          list_sum(list_transform(generate_series(1, len(ee)),
                                                  i -> ee[i] * qe[i]))
                          / greatest(
                              sqrt(list_sum(list_transform(generate_series(1, len(ee)),
                                                           i -> ee[i] * ee[i])))
                            * sqrt(list_sum(list_transform(generate_series(1, len(qe)),
                                                           i -> qe[i] * qe[i]))),
                              1e-12) AS score
                   FROM e CROSS JOIN q)
            SELECT query_id, vec_id, rank FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id ASC) AS rank
                FROM scored)
            WHERE rank <= 10 ORDER BY query_id, rank
        """,
        # IVF ANN: same centroid pick (md5-ordered sample), same argmax
        # assignment (cos desc, centroid_id asc), same probe ranking, same
        # final (score desc, vec_id asc) top-k — exact output parity
        "ivf_topk_embeddings": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings),
            cents AS (
                SELECT vec_id AS centroid_id, ee AS cv FROM e
                ORDER BY md5(vec_id::VARCHAR || '|ivf') LIMIT 16),
            a_sc AS (
                SELECT e.vec_id, e.ee, c.centroid_id,
                       list_sum(list_transform(generate_series(1, len(ee)),
                                               i -> ee[i] * cv[i]))
                       / greatest(
                           sqrt(list_sum(list_transform(generate_series(1, len(ee)),
                                                        i -> ee[i] * ee[i])))
                         * sqrt(list_sum(list_transform(generate_series(1, len(cv)),
                                                        i -> cv[i] * cv[i]))),
                           1e-12) AS cos
                FROM e CROSS JOIN cents c),
            assigned AS (
                SELECT vec_id, ee, centroid_id AS cell FROM (
                    SELECT vec_id, ee, centroid_id,
                           row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, centroid_id ASC) AS rn
                    FROM a_sc) WHERE rn = 1),
            q AS (SELECT vec_id AS query_id, ee AS qe FROM e WHERE vec_id < 3),
            q_sc AS (
                SELECT q.query_id, q.qe, c.centroid_id,
                       list_sum(list_transform(generate_series(1, len(qe)),
                                               i -> qe[i] * cv[i]))
                       / greatest(
                           sqrt(list_sum(list_transform(generate_series(1, len(qe)),
                                                        i -> qe[i] * qe[i])))
                         * sqrt(list_sum(list_transform(generate_series(1, len(cv)),
                                                        i -> cv[i] * cv[i]))),
                           1e-12) AS cos
                FROM q CROSS JOIN cents c),
            probes AS (
                SELECT query_id, qe, centroid_id AS cell FROM (
                    SELECT query_id, qe, centroid_id,
                           row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, centroid_id ASC) AS pr
                    FROM q_sc) WHERE pr <= 4),
            scored AS (
                SELECT p.query_id, a.vec_id,
                       list_sum(list_transform(generate_series(1, len(a.ee)),
                                               i -> a.ee[i] * p.qe[i]))
                       / greatest(
                           sqrt(list_sum(list_transform(generate_series(1, len(a.ee)),
                                                        i -> a.ee[i] * a.ee[i])))
                         * sqrt(list_sum(list_transform(generate_series(1, len(p.qe)),
                                                        i -> p.qe[i] * p.qe[i]))),
                           1e-12) AS score
                FROM assigned a JOIN probes p ON a.cell = p.cell)
            SELECT query_id, vec_id, rank FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id ASC) AS rank
                FROM scored)
            WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   COUNT(*) AS n,
                   SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_value_cents
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "events_sessionize": """
            WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR date_diff('second', lag(ts) OVER w, ts) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
                SELECT user_id, ts,
                       SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged)
            SELECT user_id, session_id::BIGINT AS session_id,
                   COUNT(*) AS n_events,
                   CAST(floor(date_part('epoch', MIN(ts))) AS BIGINT) AS session_start,
                   CAST(floor(date_part('epoch', MAX(ts))) AS BIGINT) AS session_end
            FROM sess GROUP BY user_id, session_id
            ORDER BY user_id, session_id
        """,
        # the stateful sessionizer's emissions in closed form: gap-closed
        # sessions (all but each user's last) + last sessions whose
        # event-time timeout (end+gap) falls strictly below the final
        # watermark (max raw event time - 2h). Gap arithmetic is on floored
        # epoch seconds (the stream fn floors before comparing, matching
        # unix_timestamp in the batch twin); the watermark comparison is at
        # raw ms precision like Spark's.
        "stateful_sessionize_events": """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR CAST(floor(date_part('epoch', ts)) AS BIGINT)
                                    - CAST(floor(date_part('epoch', lag(ts) OVER w)) AS BIGINT) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
                SELECT user_id, ts,
                       SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged),
            agg AS (
                SELECT user_id,
                       COUNT(*) AS n_events,
                       CAST(floor(date_part('epoch', MIN(ts))) AS BIGINT) AS session_start,
                       CAST(floor(date_part('epoch', MAX(ts))) AS BIGINT) AS session_end,
                       MAX(session_id) AS sid,
                       MAX(MAX(session_id)) OVER (PARTITION BY user_id) AS last_sid
                FROM sess GROUP BY user_id, session_id),
            wm AS (
                SELECT epoch_ms(MAX(ts)) - 7200000 AS watermark_ms FROM events)
            SELECT user_id, session_start, session_end, n_events
            FROM agg, wm
            WHERE sid < last_sid
               OR (session_end + 1800) * 1000 < watermark_ms
            ORDER BY user_id, session_start
        """,
        "dedup_events_first": """
            SELECT user_id, event_type, event_id, ts FROM (
                SELECT user_id, event_type, event_id, ts,
                       row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS rn
                FROM events)
            WHERE rn = 1 ORDER BY user_id, event_type
        """,
        # streaming state-store dedup over the bounded feed == batch
        # DISTINCT on the dedup keys (survivor payloads are unspecified by
        # the operator, so only keys are compared)
        "stream_dedup_events": """
            SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id, event_type
        """,
        "minhash_signature_docs": """
            WITH sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, greatest(len(w) - 2, 1)),
                           i -> array_to_string(w[i:i+2], ' '))) AS s
                FROM (SELECT doc_id,
                             regexp_split_to_array(
                                 lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                                 ' ') AS w
                      FROM documents))
            SELECT doc_id,
                   list_min(list_transform(s, x -> md5('salt0|' || x))) AS sig_0,
                   list_min(list_transform(s, x -> md5('salt1|' || x))) AS sig_1,
                   list_min(list_transform(s, x -> md5('salt2|' || x))) AS sig_2,
                   list_min(list_transform(s, x -> md5('salt3|' || x))) AS sig_3
            FROM sh ORDER BY doc_id
        """,
        "ngram_jaccard_docs": """
            WITH sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, greatest(len(w) - 2, 1)),
                           i -> array_to_string(w[i:i+2], ' '))) AS s
                FROM (SELECT doc_id,
                             regexp_split_to_array(
                                 lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                                 ' ') AS w
                      FROM documents WHERE doc_id < 200))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   (len(list_intersect(a.s, b.s))::DOUBLE
                    / greatest(len(list_distinct(list_concat(a.s, b.s))), 1)) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE (len(list_intersect(a.s, b.s))::DOUBLE
                   / greatest(len(list_distinct(list_concat(a.s, b.s))), 1)) >= 0.2
            ORDER BY id_a, id_b
        """,
        "lang_id_docs": """
            WITH w AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS words
                FROM documents),
            hits AS (
                SELECT doc_id,
                       list_aggregate([
                           {'hits': len(list_filter(words, x -> list_contains(['the','and','of','to','is'], x))), 'lang': 'en'},
                           {'hits': len(list_filter(words, x -> list_contains(['el','la','de','que','los'], x))), 'lang': 'es'},
                           {'hits': len(list_filter(words, x -> list_contains(['le','la','les','des','est'], x))), 'lang': 'fr'},
                           {'hits': len(list_filter(words, x -> list_contains(['der','die','und','das','ist'], x))), 'lang': 'de'}
                       ], 'max') AS best
                FROM w)
            SELECT doc_id,
                   CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS pred_lang
            FROM hits ORDER BY doc_id
        """,
        "quality_score_docs": """
            SELECT doc_id,
                   round((
                       least(length(text) / 500.0, 1.0)
                       + (CASE WHEN (length(text)::DOUBLE
                                     / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1))
                                    BETWEEN 3 AND 10
                               THEN 1.0 ELSE 0.5 END)
                       + (1.0 - least(
                             (length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE
                              / greatest(length(text), 1)) * 2, 1.0))
                   ) / 3.0, 6) AS quality
            FROM documents ORDER BY doc_id
        """,
        "salted_user_counts": """
            SELECT user_id, COUNT(*) AS n FROM events
            GROUP BY user_id ORDER BY user_id
        """,
        "collect_ordered_langs": """
            SELECT source, array_to_string(list(lang ORDER BY doc_id), '|') AS langs
            FROM documents GROUP BY source ORDER BY source
        """,
        "fixed_window_chunks": """
            -- RE2 has no lookbehind; '(?<=[.!?])\\s+' split is emulated by
            -- replacing each split point with a sentinel then splitting
            -- (verified piece-for-piece against Python re.split)
            WITH s AS (
                SELECT doc_id,
                       string_split(regexp_replace(text, '([.!?])\\s+',
                                                   '\\1' || chr(1), 'g'),
                                    chr(1)) AS sents
                FROM documents WHERE doc_id < 20),
            c AS (
                SELECT doc_id, list_filter(list_transform(
                        generate_series(1, greatest(len(sents), 1), 2),
                        i -> regexp_replace(regexp_replace(
                                 array_to_string(sents[i:i+1], ' '),
                                 '^\\s+', ''), '\\s+$', '')),
                    x -> x <> '') AS chunks
                FROM s)
            SELECT doc_id,
                   generate_subscripts(chunks, 1) - 1 AS chunk_pos,
                   unnest(chunks) AS chunk
            FROM c ORDER BY doc_id, chunk_pos
        """,
        "ground_pronouns_kg": _ground_pronouns_oracle_sql(),
        "address_pronouns_kg": _address_pronouns_oracle_sql(),
        "multimodal_media_features": """
            SELECT printf('m%08d', doc_id) AS media_id,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   sha256(text) AS content_sha
            FROM documents ORDER BY media_id
        """,
        # re-derives the pixel values closed-form from the text that built
        # the BMP payload — the Spark side must round-trip the bytes
        # through the real encoder+decoder to produce the same integers
        "image_pixel_stats_docs": """
            WITH px AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN
                           -- jpeg lane: 8x8 tile-constant (tile index
                           -- (y//8)*4 + x//8 over a 32x32 canvas)
                           list_transform(generate_series(0, 1023), i ->
                               ord(substr(text,
                                   ((((i // 32) // 8) * 4 + ((i % 32) // 8))
                                    % length(text)) + 1, 1)) % 256)
                       ELSE
                           list_transform(generate_series(0, 1023), i ->
                               ord(substr(text, (i % length(text)) + 1, 1))
                               % 256)
                       END AS p
                FROM documents WHERE doc_id < 200 AND length(text) > 0)
            SELECT printf('m%08d', doc_id) AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'gif'
                        ELSE 'bmp' END AS format,
                   32 AS width, 32 AS height,
                   CAST(1024 AS BIGINT) AS n_pixels,
                   CAST(list_sum(p) AS BIGINT) AS luma_sum,
                   array_to_string(list_transform(generate_series(0, 15), b ->
                       CAST(len(list_filter(p, v -> v // 16 = b)) AS BIGINT)),
                       '|') AS hist_counts
            FROM px ORDER BY media_id
        """,
        # re-derives the PCM sample values closed-form from the text that
        # built the WAV payload — the Spark side must round-trip the bytes
        # through the real RIFF encoder+decoder to produce the same
        # integers (1000 samples, 8 kHz mono 16-bit => 125 ms exactly)
        "audio_features_docs": """
            WITH sm AS (
                SELECT doc_id,
                       list_transform(generate_series(0, 999), i ->
                           (ord(substr(text, (i % length(text)) + 1, 1)) % 256
                            - 128) * 256) AS s
                FROM documents WHERE doc_id < 200 AND length(text) > 0)
            SELECT printf('m%08d', doc_id) AS media_id,
                   'wav' AS format,
                   8000 AS sample_rate, 1 AS channels,
                   CAST(1000 AS BIGINT) AS n_samples,
                   CAST(125 AS BIGINT) AS duration_ms,
                   CAST(list_sum(s) AS BIGINT) AS sample_sum,
                   CAST(list_max(list_transform(s, v -> abs(v))) AS BIGINT)
                       AS peak_abs,
                   CAST(len(list_filter(generate_series(2, 1000), i ->
                       (s[i-1] < 0) != (s[i] < 0))) AS BIGINT) AS zero_crossings
            FROM sm ORDER BY media_id
        """,
        # re-derives each sampled frame's luma sum closed-form from the
        # text that built the AVI payload (8 frames of 8x8 gray, every
        # 2nd frame sampled -> frames 0,2,4,6)
        "video_frame_sample_docs": """
            WITH fr AS (
                SELECT doc_id, text, f
                FROM documents
                CROSS JOIN (SELECT unnest([0, 2, 4, 6]) AS f) t
                WHERE doc_id < 100 AND length(text) > 0)
            SELECT printf('m%08d', doc_id) AS media_id,
                   CAST(f AS INT) AS frame_idx,
                   8 AS n_frames, 4 AS fps, 8 AS width, 8 AS height,
                   CAST(list_sum(list_transform(generate_series(0, 63), j ->
                       ord(substr(text, ((f * 64 + j) % length(text)) + 1, 1))
                       % 256)) AS BIGINT) AS luma_sum,
                   CAST(64 AS BIGINT) AS n_pixels
            FROM fr ORDER BY media_id, frame_idx
        """,
        # DuckDB cannot run SequenceMatcher, so the expected FuzzyScorer
        # output is a committed lookup table keyed by md5(text) — the same
        # committed-fixture pattern as the KG oracles. The fixture covers
        # the union of doc_id<50 texts across every testdata sf, so the one
        # static SQL is valid at whichever scale the gate runs
        # (tests/fixtures/make_fixtures.py:make_fuzzy_fixture; regeneration
        # determinism is pytest-asserted).
        "fuzzy_score_docs": f"""
            SELECT d.doc_id, f.delm_score
            FROM documents d
            JOIN read_parquet('{(_FIXTURES / "fuzzy_scores.parquet").as_posix()}') f
              ON md5(d.text) = f.text_md5
            WHERE d.doc_id < 50 AND f.delm_score >= 0.8
            ORDER BY d.doc_id
        """,
        "connected_components_demo": """
            -- closed-form expected components for the consecutive-orderkey
            -- chain graph: maximal runs of consecutive keys within a 64-key
            -- block (gaps-and-islands); derivation is independent of any
            -- label-propagation logic. Runs of length 1 have no edges and
            -- are absent from the CC output.
            WITH nodes AS (
                SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 20000),
            g AS (
                SELECT k, k - row_number() OVER (ORDER BY k) AS island,
                       k // 64 AS blk
                FROM nodes),
            runs AS (
                SELECT k, MIN(k) OVER (PARTITION BY island, blk) AS mk,
                       COUNT(*) OVER (PARTITION BY island, blk) AS cnt
                FROM g)
            SELECT printf('n%08d', k) AS node, printf('n%08d', mk) AS component
            FROM runs WHERE cnt >= 2 ORDER BY node
        """,
        "simhash_pairs_docs": """
            WITH toks AS (
                SELECT doc_id, unnest(list_distinct(regexp_split_to_array(
                    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))) AS t
                FROM documents),
            h AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS hv
                FROM toks),
            hl AS (SELECT doc_id, list(hv) AS hs, COUNT(*) AS n FROM h GROUP BY doc_id),
            sig AS (
                SELECT doc_id,
                       list_sum(list_transform(generate_series(0, 59),
                           b -> CASE WHEN 2 * len(list_filter(hs, x -> ((x >> b) & 1) = 1)) >= n
                                     THEN (CAST(1 AS BIGINT) << b)
                                     ELSE CAST(0 AS BIGINT) END))::BIGINT AS s
                FROM hl),
            blocks AS (
                SELECT doc_id, s, k, ((s >> (k * 15)) & 32767) AS blk
                FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) t)
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
            FROM blocks a JOIN blocks b
              ON a.k = b.k AND a.blk = b.blk AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.s, b.s)) <= 3
            ORDER BY id_a, id_b
        """,
        "minhash_lsh_pairs_docs": _minhash_lsh_oracle_sql(k=16, bands=4),
        "near_dup_pipeline_docs": _minhash_lsh_oracle_sql(
            k=16, bands=4, jaccard_threshold=0.5
        ),
        "near_dup_canonical_docs": _minhash_lsh_oracle_sql(
            k=16, bands=4, jaccard_threshold=0.5, canonical=True
        ),
        "containment_dedup_docs": _minhash_lsh_oracle_sql(
            k=16, bands=4, containment_micro=600_000
        ),
        "kg_pattern_colleagues": _kg_oracle_sql("pattern"),
        "kg_functional_resolution": _kg_oracle_sql("functional_resolution"),
        "kg_entity_types": _kg_oracle_sql("entity_types"),
        "kg_type_violations": _kg_oracle_sql("type_violations"),
        "kg_reports_chain": _kg_oracle_sql("reports_chain"),
        "kg_pattern_optional": _kg_oracle_sql("pattern_optional"),
        "kg_pattern_union": _kg_oracle_sql("pattern_union"),
        "kg_pattern_values": _kg_oracle_sql("pattern_values"),
        "kg_pattern_bind": _kg_oracle_sql("pattern_bind"),
        "kg_pattern_inverse": _kg_oracle_sql("pattern_inverse"),
        "kg_rdfs_closure": _kg_oracle_sql("rdfs"),
        "kg_core_entities": _kg_oracle_sql("kcore"),
        "kg_affiliation_chain": _kg_oracle_sql("chain_alt"),
        "kg_mention_consolidation": _kg_oracle_sql("mention_consolidation"),
        "kg_pattern_aggregate": _kg_oracle_sql("pattern_aggregate"),
        "kg_construct_colleagues": _kg_oracle_sql("construct_colleagues"),
        "kg_er_metrics": _kg_oracle_sql("er_metrics"),
        "kg_fact_intervals": _kg_oracle_sql("fact_intervals"),
        "kg_facts_asof": _kg_oracle_sql("facts_asof"),
        "kg_ask_patterns": _kg_oracle_sql("ask"),
        "kg_describe_entity": _kg_oracle_sql("describe"),
        "kg_pattern_topk": _kg_oracle_sql("pattern_topk"),
        "kg_export_ntriples": _kg_oracle_sql("ntriples"),
        "kg_roundtrip_ntriples": _kg_oracle_sql("ntriples_roundtrip"),
        "kg_path_fixpoint": _kg_oracle_sql("path_fixpoint"),
        "kg_path_star": _kg_oracle_sql("path_star"),
        "kg_harmonic_centrality": _kg_oracle_sql("harmonic"),
        "kg_predicate_canonical": _kg_oracle_sql("pred_canon"),
        "kg_triple_provenance": _kg_oracle_sql("provenance"),
        "kg_entity_cooccur": _kg_oracle_sql("cooccur"),
        "kg_communities": _kg_oracle_sql("communities"),
        "kmeans_clusters_embeddings": _kmeans_oracle_sql(k=8, iters=3),
        "tool_sequences_transcripts": _tool_sequences_oracle_sql(n=2),
        "bpe_learn_docs": _bpe_oracle_sql(n_merges=4),
        "bigram_lm_docs": """
            WITH docs AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(lower(
                           regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))),
                           ' '), w -> w <> '') AS ws
                FROM documents),
            tok AS (SELECT unnest(ws) AS w FROM docs),
            cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
            voc AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT 30),
            ex AS (SELECT doc_id, generate_subscripts(ws, 1) AS i,
                          unnest(ws) AS w
                   FROM docs),
            mx AS (SELECT e.doc_id, e.i,
                          CASE WHEN v.w IS NULL THEN '<unk>' ELSE e.w END AS mw
                   FROM ex e LEFT JOIN voc v ON e.w = v.w),
            grams AS (SELECT a.doc_id, a.mw AS w1, b.mw AS w2
                      FROM mx a JOIN mx b
                        ON a.doc_id = b.doc_id AND b.i = a.i + 1),
            uni AS (SELECT w1, floor(ln(count(*) + 31) * 1e6 + 0.5)::BIGINT
                               AS ln_den
                    FROM grams GROUP BY w1),
            bi AS (SELECT w1, w2, floor(ln(count(*) + 1) * 1e6 + 0.5)::BIGINT
                              AS ln_num
                   FROM grams GROUP BY w1, w2),
            sc AS (SELECT g.doc_id, u.ln_den - b.ln_num AS s
                   FROM grams g
                   JOIN bi b USING (w1, w2) JOIN uni u USING (w1)),
            pd AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                          sum(s)::BIGINT AS sum_surprisal_micro,
                          (sum(s) // count(*))::BIGINT AS avg_surprisal_micro
                   FROM sc GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
                   coalesce(sum_surprisal_micro, 0)::BIGINT
                       AS sum_surprisal_micro,
                   coalesce(avg_surprisal_micro, 0)::BIGINT
                       AS avg_surprisal_micro
            FROM docs d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id
        """,
        "stream_hourly_triples": _kg_oracle_sql("hourly"),
        "entity_timeline_kg": _kg_oracle_sql("timeline"),
        "random_walks_kg": _kg_oracle_sql("walks"),
        # operators/sketch.py kmv_distinct over the distinct-token stream:
        # 48-bit md5 hashes, k smallest, (k-1)*2^48 div h_k (exact < k)
        "kmv_distinct_tokens": """
            WITH toks AS (
                SELECT unnest(string_split(trim(lower(
                           regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
                FROM documents),
            h AS (SELECT DISTINCT
                         ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h
                  FROM toks WHERE tok <> ''),
            mins AS (SELECT h FROM h ORDER BY h LIMIT 256)
            SELECT count(*) AS k_used, max(h) AS kth_hash,
                   CASE WHEN count(*) < 256 THEN count(*)
                        ELSE (255::BIGINT * 281474976710656) // max(h)
                   END AS est_distinct
            FROM mins
        """,
        "hll_users_events": _hll_oracle_sql("events", "user_id"),
        # operators/sketch.py count_min_table + cms_estimate_counts:
        # salted md5 bucket hashes, cell table, per-key min, exact join
        "cms_user_counts_events": """
            WITH j AS (SELECT unnest([0, 1, 2, 3]) AS depth_row),
            buckets AS (
                SELECT user_id, depth_row,
                       ('0x' || substr(md5('cm' || CAST(depth_row AS VARCHAR)
                            || '|' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                           % 64 AS bucket
                FROM events CROSS JOIN j),
            cells AS (
                SELECT depth_row, bucket, count(*)::BIGINT AS cell_count
                FROM buckets GROUP BY depth_row, bucket),
            probes AS (
                SELECT DISTINCT user_id, depth_row, bucket FROM buckets),
            est AS (
                SELECT p.user_id, min(c.cell_count)::BIGINT AS est_count
                FROM probes p JOIN cells c USING (depth_row, bucket)
                GROUP BY p.user_id),
            exact AS (
                SELECT user_id, count(*)::BIGINT AS exact_count
                FROM events GROUP BY user_id)
            SELECT user_id, est_count, exact_count
            FROM est JOIN exact USING (user_id)
            ORDER BY user_id
        """,
        # one-pass ROLLUP(day, event_type) with grouping_id and
        # integer-micro value sums — oracle is DuckDB's native ROLLUP
        "events_rollup_cube": """
            WITH base AS (
                SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
                       floor(value * 1e6 + 0.5)::BIGINT AS value_micro
                FROM events)
            SELECT day, event_type,
                   (GROUPING(day) * 2 + GROUPING(event_type))::BIGINT AS gid,
                   count(*)::BIGINT AS n_events,
                   sum(value_micro)::BIGINT AS value_micro_sum
            FROM base
            GROUP BY ROLLUP(day, event_type)
            ORDER BY gid, day, event_type
        """,
        # operators/sample.py weighted_ticket_sample: min-of-w-md5-tickets
        # priority, clamped length-derived weights, top-50
        "weighted_sample_docs": """
            WITH w AS (
                SELECT doc_id,
                       least(greatest(coalesce(n_chars // 200 + 1, 1), 1), 8)
                           AS weight_used
                FROM documents),
            p AS (SELECT doc_id, weight_used,
                         list_min(list_transform(
                             generate_series(1, weight_used),
                             i -> md5(doc_id::VARCHAR || '#' || i)))
                             AS priority
                  FROM w)
            SELECT doc_id, weight_used, priority FROM p
            ORDER BY priority, doc_id LIMIT 50
        """,
        # operators/search.py tfidf_top_terms: integer-micronat idf, top-3
        # per doc, ties to the lexicographically smaller term
        "tfidf_top_terms_docs": """
            WITH d AS (SELECT * FROM documents WHERE doc_id < 200),
            toks AS (
                SELECT doc_id, unnest(string_split(trim(lower(
                           regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
                FROM d),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM toks WHERE term <> '' GROUP BY doc_id, term),
            dftab AS (SELECT term, count(*)::BIGINT AS df,
                             max(tf)::BIGINT AS max_tf
                      FROM tf GROUP BY term),
            n AS (SELECT floor(ln(count(*)) * 1e6 + 0.5)::BIGINT AS ln_n FROM d),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf, dftab.df, dftab.max_tf,
                       tf.tf * (n.ln_n
                                - floor(ln(dftab.df) * 1e6 + 0.5)::BIGINT)
                           AS tfidf_micro
                FROM tf JOIN dftab USING (term) CROSS JOIN n),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf_micro DESC, term ASC) AS rn
                FROM scored)
            SELECT doc_id, term, tf, df, max_tf, tfidf_micro FROM ranked
            WHERE rn <= 3 ORDER BY doc_id, tfidf_micro DESC, term
        """,
        "explode_extracted_triples": _kg_oracle_sql("triples"),
        "kg_triples_stream": _kg_oracle_sql("triples"),
        # streamed two-micro-batch merge must equal the from-scratch batch
        # pipeline (kg/update.py invariant) — hence the identical oracle
        "streaming_kg_merge": _kg_oracle_sql("linked"),
        "kg_triples_pipeline": _kg_oracle_sql("linked"),
        "kg_snapshot_diff": _kg_oracle_sql("diff"),
        "kg_triples_linked_pipeline": _kg_oracle_sql("linked_embedding", typos=True),
        "context_window_turns": _context_windows_oracle_sql(k=3),
        "turn_latency_transcripts": _turn_latency_oracle_sql(),
        "kg_nodes_canonical": _kg_oracle_sql("nodes"),
        "kg_degree_distribution": _kg_oracle_sql("degree"),
        "kg_two_hop_entities": _kg_oracle_sql("two_hop"),
        "kg_consistency_report": _kg_oracle_sql("consistency"),
        "transcript_curation_pipeline": _transcript_curation_oracle_sql(),
        "range_join_events": """
            WITH w AS (
                SELECT event_id AS window_id, ts AS w_start,
                       ts + INTERVAL 2 HOUR AS w_end
                FROM events WHERE event_type = 'signup' AND user_id < 5),
            e AS (SELECT event_id, ts FROM events WHERE event_type = 'error')
            SELECT e.event_id, w.window_id,
                   CAST(floor(date_part('epoch', e.ts)) AS BIGINT) AS err_ts,
                   CAST(floor(date_part('epoch', w.w_start)) AS BIGINT)
                       AS win_start
            FROM e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
            ORDER BY event_id, window_id
        """,
        "pq_topk_embeddings": _pq_topk_oracle_sql(
            dim=64, m=8, k_codes=16, k=10, refine=4
        ),
        "corpus_profile_docs": """
            SELECT lang, COUNT(*)::BIGINT AS n_docs,
                   SUM(n_chars)::BIGINT AS total_chars,
                   CAST(floor(quantile_cont(n_chars, 0.5)) AS BIGINT)
                       AS median_chars,
                   MIN(n_chars)::BIGINT AS min_chars,
                   MAX(n_chars)::BIGINT AS max_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "semantic_dedup_vecs": _semantic_dedup_oracle_sql(
            dim=64, n_clusters=8, threshold=0.99
        ),
        "asof_join_events": """
            WITH clicks AS (
                SELECT user_id, ts, max(event_id) AS click_id
                FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
            p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
            SELECT p.event_id, p.user_id,
                   CAST(floor(date_part('epoch', p.ts)) AS BIGINT) AS purchase_ts,
                   CASE WHEN c.ts >= p.ts - INTERVAL 3600 SECOND
                        THEN CAST(floor(date_part('epoch', c.ts)) AS BIGINT)
                   END AS click_ts,
                   CASE WHEN c.ts >= p.ts - INTERVAL 3600 SECOND
                        THEN c.click_id END AS click_id
            FROM p ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
            ORDER BY event_id
        """,
        "quality_classifier_docs": """
            WITH toks AS (
                SELECT doc_id, lang = 'en' AS y,
                       unnest(list_filter(regexp_split_to_array(
                           lower(trim(regexp_replace(coalesce(text, ''),
                                                     '\\s+', ' ', 'g'))),
                           ' '), t -> t <> '')) AS w
                FROM documents),
            feats AS (
                SELECT doc_id, y,
                       ('0x' || substr(md5(w), 1, 15))::BIGINT % 512 AS feature
                FROM toks),
            wt AS (
                SELECT feature,
                       (CAST(floor(ln(SUM(CASE WHEN y THEN 1 ELSE 0 END) + 1)
                                   * 1e6 + 0.5) AS BIGINT)
                        - CAST(floor(ln(SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) + 1)
                                     * 1e6 + 0.5) AS BIGINT)) AS weight_micro
                FROM feats GROUP BY feature),
            scored AS (
                SELECT f.doc_id, coalesce(wt.weight_micro, 0) AS wm
                FROM feats f LEFT JOIN wt USING (feature)),
            agg AS (
                SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
                       SUM(wm)::BIGINT AS sum_weight_micro,
                       CAST(SUM(wm)::BIGINT // COUNT(*)::BIGINT AS BIGINT)
                           AS avg_weight_micro
                FROM scored GROUP BY doc_id)
            -- null-disposition contract: token-less docs (null/empty
            -- text) emit an explicit zero row, mirroring explode_outer
            SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                   coalesce(a.sum_weight_micro, 0) AS sum_weight_micro,
                   coalesce(a.avg_weight_micro, 0) AS avg_weight_micro
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY doc_id
        """,
        "dsir_importance_docs": """
            WITH toks AS (
                SELECT doc_id, lang,
                       unnest(list_filter(regexp_split_to_array(
                           lower(trim(regexp_replace(coalesce(text, ''),
                                                     '\\s+', ' ', 'g'))),
                           ' '), t -> t <> '')) AS w
                FROM documents),
            feats AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(w), 1, 15))::BIGINT % 512 AS feature
                FROM toks),
            tcnt AS (SELECT feature, count(*) AS tc FROM feats
                     WHERE lang = 'en' GROUP BY feature),
            rcnt AS (SELECT feature, count(*) AS rc FROM feats
                     GROUP BY feature),
            tot AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tcnt) AS tt,
                           (SELECT coalesce(sum(rc), 0) FROM rcnt) AS rt),
            wt AS (
                SELECT r.feature,
                       ((CAST(floor(ln(coalesce(t.tc, 0) + 1) * 1e6 + 0.5)
                              AS BIGINT)
                         - CAST(floor(ln(tot.tt + 512) * 1e6 + 0.5) AS BIGINT))
                        - (CAST(floor(ln(r.rc + 1) * 1e6 + 0.5) AS BIGINT)
                           - CAST(floor(ln(tot.rt + 512) * 1e6 + 0.5)
                                  AS BIGINT))) AS weight_micro
                FROM rcnt r LEFT JOIN tcnt t USING (feature), tot),
            scored AS (
                SELECT f.doc_id, coalesce(wt.weight_micro, 0) AS wm
                FROM feats f LEFT JOIN wt USING (feature)),
            agg AS (
                SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
                       SUM(wm)::BIGINT AS sum_weight_micro,
                       CAST(SUM(wm)::BIGINT // COUNT(*)::BIGINT AS BIGINT)
                           AS avg_weight_micro
                FROM scored GROUP BY doc_id)
            SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                   coalesce(a.sum_weight_micro, 0) AS sum_weight_micro,
                   coalesce(a.avg_weight_micro, 0) AS avg_weight_micro
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY doc_id
        """,
        "shard_assign_docs": """
            SELECT doc_id, shard,
                   (row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                    - 1)::BIGINT AS shard_pos
            FROM (
                SELECT doc_id,
                       ('0x' || substr(md5('shard0|' || CAST(doc_id AS VARCHAR)),
                                       1, 15))::BIGINT % 8 AS shard,
                       md5('shard0|' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents)
            ORDER BY shard, shard_pos
        """,
        "pagerank_demo": _pagerank_oracle_sql(_PR_N, _PR_ITERS, _PR_DAMPING),
        "ppr_demo": _ppr_oracle_sql(_PR_N, _PR_ITERS, _PR_DAMPING),
        "triangle_blocks_demo": _triangle_oracle_sql(_PR_N),
        "clustering_coeff_graph": _clustering_oracle_sql(_PR_N),
        "negative_samples_kg": _kg_oracle_sql("negatives"),
        "link_prediction_kg": _link_prediction_oracle_sql(_PR_N),
        "transcript_integrity_report": _integrity_oracle_sql(),
        "fuzzy_surface_pairs": _fuzzy_pairs_oracle_sql(),
        "lsh_topk_embeddings": _lsh_topk_oracle_sql(
            dim=64, k=10, n_planes=8, probe_radius=2
        ),
        "embedding_entity_link": _embedding_link_oracle_sql(
            dim=64, n_planes=8, probe_radius=2, threshold=0.5
        ),
        "embedding_near_dup_vecs": _near_dup_vecs_oracle_sql(
            dim=64, n_planes=8, probe_radius=1, threshold=0.99
        ),
        "decontam_ngram_docs": """
            WITH w AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                           ' ') AS w
                FROM documents),
            sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, greatest(len(w) - 3, 1)),
                           i -> array_to_string(w[i:i+3], ' '))) AS s
                FROM w),
            test AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 17 = 0),
            tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 17 <> 0)
            SELECT tr.doc_id,
                   COUNT(*)::BIGINT AS n_ngrams,
                   SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_contam,
                   round(SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                         / COUNT(*), 6) AS contam_frac,
                   (CASE WHEN SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) > 0
                         THEN 1 ELSE 0 END)::INT AS contaminated
            FROM tr LEFT JOIN test t ON tr.g = t.g
            GROUP BY tr.doc_id ORDER BY doc_id
        """,
        "gopher_quality_docs": """
            WITH w AS (
                SELECT doc_id, text,
                       regexp_split_to_array(
                           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                           ' ') AS w
                FROM documents),
            lines AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(text, chr(10)),
                                                  x -> trim(x)),
                                   x -> x <> '') AS lf
                FROM w),
            base AS (
                SELECT w.doc_id,
                       len(w.w)::INT AS word_count,
                       len(list_distinct(w.w))::INT AS n_distinct_words,
                       round(list_sum(list_transform(w.w, x -> length(x)))::DOUBLE
                             / greatest(len(w.w), 1), 6) AS mean_word_len,
                       round(1 - len(list_distinct(l.lf))::DOUBLE
                             / greatest(len(l.lf), 1), 6) AS dup_line_frac
                FROM w JOIN lines l ON w.doc_id = l.doc_id),
            bg AS (
                SELECT doc_id,
                       CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
                            ELSE list_transform(generate_series(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+1], ' '))
                       END AS grams
                FROM w),
            e AS (SELECT doc_id, len(grams)::INT AS n_bigrams,
                         unnest(grams) AS g FROM bg),
            c AS (SELECT doc_id, n_bigrams, g, COUNT(*)::BIGINT AS cnt
                  FROM e GROUP BY 1, 2, 3),
            top AS (
                SELECT doc_id, n_bigrams, g AS top_bigram, cnt AS top_bigram_cnt
                FROM c
                QUALIFY row_number() OVER (PARTITION BY doc_id
                                           ORDER BY cnt DESC, g ASC) = 1)
            SELECT b.doc_id AS doc_id, b.word_count, b.n_distinct_words,
                   round(1 - b.n_distinct_words::DOUBLE
                         / greatest(b.word_count, 1), 6) AS dup_word_frac,
                   b.mean_word_len, b.dup_line_frac,
                   t.top_bigram, t.top_bigram_cnt,
                   round(t.top_bigram_cnt::DOUBLE
                         / greatest(t.n_bigrams, 1), 6) AS top_bigram_frac,
                   (CASE WHEN b.word_count BETWEEN 20 AND 100000
                         THEN 1 ELSE 0 END)::INT AS ok_word_count,
                   (CASE WHEN b.mean_word_len BETWEEN 2.0 AND 10.0
                         THEN 1 ELSE 0 END)::INT AS ok_mean_word_len,
                   (CASE WHEN b.dup_line_frac <= 0.30
                         THEN 1 ELSE 0 END)::INT AS ok_dup_lines,
                   (CASE WHEN round(t.top_bigram_cnt::DOUBLE
                               / greatest(t.n_bigrams, 1), 6) <= 0.18
                         THEN 1 ELSE 0 END)::INT AS ok_top_bigram,
                   (CASE WHEN b.word_count BETWEEN 20 AND 100000
                          AND b.mean_word_len BETWEEN 2.0 AND 10.0
                          AND b.dup_line_frac <= 0.30
                          AND round(t.top_bigram_cnt::DOUBLE
                                    / greatest(t.n_bigrams, 1), 6) <= 0.18
                         THEN 1 ELSE 0 END)::INT AS pass_quality
            FROM base b JOIN top t ON b.doc_id = t.doc_id
            ORDER BY b.doc_id
        """,
        "pii_redact_docs": """
            WITH aug AS (
                SELECT doc_id,
                       text
                       || (CASE WHEN doc_id % 3 = 0
                            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                 || '@example.com now' ELSE '' END)
                       || (CASE WHEN doc_id % 5 = 0
                            THEN ' call 555-'
                                 || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                                 || '-0199 re ssn 123-45-6789' ELSE '' END)
                       || (CASE WHEN doc_id % 7 = 0
                            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                                 || '.17' ELSE '' END) AS text
                FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT
                       AS n_email,
                   len(regexp_extract_all(text,
                       '\\b\\d{3}-\\d{3}-\\d{4}\\b'))::INT AS n_phone,
                   len(regexp_extract_all(text,
                       '\\b\\d{3}-\\d{2}-\\d{4}\\b'))::INT AS n_ssn,
                   len(regexp_extract_all(text,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INT
                       AS n_ipv4,
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                       text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
                       '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                       '<IP>', 'g') AS redacted
            FROM aug ORDER BY doc_id
        """,
        "unigram_lm_docs": """
            WITH w AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                           ' ') AS w
                FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS word FROM w),
            vocab AS (
                SELECT word, COUNT(*)::BIGINT AS cnt FROM tok
                GROUP BY 1 ORDER BY cnt DESC, word ASC LIMIT 30),
            v2 AS (SELECT word,
                          CAST(floor(ln(cnt) * 1e6 + 0.5) AS BIGINT)
                              AS ln_cnt_micro
                   FROM vocab),
            tot AS (SELECT CAST(floor(ln(COUNT(*)) * 1e6 + 0.5) AS BIGINT)
                               AS ln_total_micro
                    FROM tok),
            s AS (
                SELECT t.doc_id,
                       (tot.ln_total_micro
                        - coalesce(v2.ln_cnt_micro, 0)) AS sm
                FROM tok t LEFT JOIN v2 USING (word) CROSS JOIN tot)
            SELECT doc_id,
                   COUNT(*)::BIGINT AS n_tokens,
                   SUM(sm)::BIGINT AS sum_surprisal_micro,
                   CAST(SUM(sm)::BIGINT // COUNT(*)::BIGINT AS BIGINT)
                       AS avg_surprisal_micro
            FROM s GROUP BY doc_id ORDER BY doc_id
        """,
        "bm25_search_docs": """
            WITH w AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                           ' ') AS w
                FROM documents),
            docs AS (SELECT doc_id, len(w)::BIGINT AS dl, w FROM w),
            prof AS (SELECT COUNT(*)::BIGINT AS n_docs,
                            SUM(dl)::BIGINT AS sum_dl FROM docs),
            stacked AS (
                SELECT doc_id, dl, t.term,
                       len(list_filter(w, x -> x = t.term))::BIGINT AS tf
                FROM docs, (VALUES ('spark'), ('merge'), ('window')) t(term)
                WHERE len(list_filter(w, x -> x = t.term)) > 0),
            dfreq AS (SELECT term, COUNT(*)::BIGINT AS df
                      FROM stacked GROUP BY 1),
            scored AS (
                SELECT s.doc_id,
                       CAST(floor(
                           ln((p.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                           * (s.tf * (1.2 + 1.0)
                              / (s.tf + 1.2 * ((1.0 - 0.75)
                                 + 0.75 * s.dl / (p.sum_dl / p.n_docs))))
                           * 1e6 + 0.5) AS BIGINT) AS sc
                FROM stacked s JOIN dfreq d USING (term) CROSS JOIN prof p)
            SELECT doc_id,
                   SUM(sc)::BIGINT AS score_micro,
                   COUNT(*)::INT AS n_terms_hit
            FROM scored GROUP BY doc_id
            ORDER BY score_micro DESC, doc_id ASC LIMIT 20
        """,
        # operators/search.py rrf_fuse over bm25_topk(30) + term_count_topk(30)
        "rrf_search_docs": """
            WITH w AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                           ' ') AS w
                FROM documents),
            docs AS (SELECT doc_id, len(w)::BIGINT AS dl, w FROM w),
            prof AS (SELECT COUNT(*)::BIGINT AS n_docs,
                            SUM(dl)::BIGINT AS sum_dl FROM docs),
            stacked AS (
                SELECT doc_id, dl, t.term,
                       len(list_filter(w, x -> x = t.term))::BIGINT AS tf
                FROM docs, (VALUES ('spark'), ('merge'), ('window')) t(term)
                WHERE len(list_filter(w, x -> x = t.term)) > 0),
            dfreq AS (SELECT term, COUNT(*)::BIGINT AS df
                      FROM stacked GROUP BY 1),
            scored AS (
                SELECT s.doc_id,
                       CAST(floor(
                           ln((p.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                           * (s.tf * (1.2 + 1.0)
                              / (s.tf + 1.2 * ((1.0 - 0.75)
                                 + 0.75 * s.dl / (p.sum_dl / p.n_docs))))
                           * 1e6 + 0.5) AS BIGINT) AS sc
                FROM stacked s JOIN dfreq d USING (term) CROSS JOIN prof p),
            bm25 AS (
                SELECT doc_id, SUM(sc)::BIGINT AS score_micro
                FROM scored GROUP BY doc_id
                ORDER BY score_micro DESC, doc_id ASC LIMIT 30),
            tc AS (
                SELECT doc_id, SUM(tf)::BIGINT AS score_micro
                FROM stacked GROUP BY doc_id
                ORDER BY score_micro DESC, doc_id ASC LIMIT 30),
            r1 AS (
                SELECT doc_id,
                       1000000 // (60 + row_number() OVER (
                           ORDER BY score_micro DESC, doc_id ASC)) AS t
                FROM bm25),
            r2 AS (
                SELECT doc_id,
                       1000000 // (60 + row_number() OVER (
                           ORDER BY score_micro DESC, doc_id ASC)) AS t
                FROM tc),
            u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
            SELECT doc_id, SUM(t)::BIGINT AS rrf_micro,
                   COUNT(*)::INT AS n_lists
            FROM u GROUP BY doc_id
            ORDER BY rrf_micro DESC, doc_id ASC LIMIT 20
        """,
        "incremental_dedup_docs": _incremental_dedup_oracle_sql(
            k=16, bands=4, split=250, jaccard_threshold=0.5
        ),
        "curation_pipeline_docs": _curation_pipeline_oracle_sql(),
        "pack_sequences_docs": """
            WITH t AS (
                SELECT doc_id,
                       (CASE WHEN trim(text) = '' THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                        END)::BIGINT AS n_tokens
                FROM documents),
            c AS (
                SELECT doc_id, n_tokens,
                       SUM(n_tokens) OVER (ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)::BIGINT AS cs
                FROM t)
            SELECT ((cs - n_tokens) // 500)::BIGINT AS pack_id,
                   COUNT(*)::BIGINT AS n_docs,
                   SUM(n_tokens)::BIGINT AS total_tokens,
                   MIN(doc_id) AS first_doc,
                   MAX(doc_id) AS last_doc
            FROM c GROUP BY 1 ORDER BY pack_id
        """,
        "stratified_sample_docs": """
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                           % 10000 AS b
                FROM documents)
            WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500
                                WHEN 'fr' THEN 1000 WHEN 'de' THEN 10000
                                WHEN 'zh' THEN 500 ELSE 0 END
            ORDER BY doc_id
        """,
    }


def _pq_topk_oracle_sql(dim: int, m: int, k_codes: int, k: int, refine: int) -> str:
    """DuckDB replica of pq_topk: per-subspace md5-ordered codebooks,
    fixed-point (nano-unit int) squared-L2 code assignment, integer ADC
    sum, (adc, vec_id) top-refine*k, exact-cosine re-rank."""
    d_sub = dim // m
    l2fx = (
        "CAST(round(list_sum(list_transform(generate_series(1, {d}),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) * 1e9) AS BIGINT)"
    )
    cos = (
        "list_sum(list_transform(generate_series(1, {d}), i -> {a}[i] * {b}[i]))"
        " / greatest("
        "sqrt(list_sum(list_transform(generate_series(1, {d}), i -> {a}[i] * {a}[i])))"
        " * sqrt(list_sum(list_transform(generate_series(1, {d}), i -> {b}[i] * {b}[i]))),"
        " 1e-12)"
    )
    cb_parts = " UNION ALL ".join(
        f"""SELECT {j} AS subspace, code_id, cv FROM (
            SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR || '|pq{j}'))
                       - 1 AS code_id,
                   ee[{j * d_sub + 1}:{(j + 1) * d_sub}] AS cv
            FROM e ORDER BY md5(vec_id::VARCHAR || '|pq{j}') LIMIT {k_codes})"""
        for j in range(m)
    )
    sub_parts = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS subspace, ee[{j * d_sub + 1}:{(j + 1) * d_sub}] AS sv FROM e"
        for j in range(m)
    )
    qsub_parts = " UNION ALL ".join(
        f"SELECT query_id, {j} AS subspace, qe[{j * d_sub + 1}:{(j + 1) * d_sub}] AS sv FROM q"
        for j in range(m)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings),
        cb AS ({cb_parts}),
        subs AS ({sub_parts}),
        enc_sc AS (
            SELECT s.vec_id, s.subspace, cb.code_id,
                   {l2fx.format(d=d_sub, a='s.sv', b='cb.cv')} AS d
            FROM subs s JOIN cb ON s.subspace = cb.subspace),
        encoded AS (
            SELECT vec_id, subspace, code_id AS code FROM (
                SELECT vec_id, subspace, code_id,
                       row_number() OVER (PARTITION BY vec_id, subspace
                           ORDER BY d ASC, code_id ASC) AS rn
                FROM enc_sc) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ee AS qe FROM e WHERE vec_id < 3),
        qsubs AS ({qsub_parts}),
        qtab AS (
            SELECT s.query_id, s.subspace, cb.code_id AS code,
                   {l2fx.format(d=d_sub, a='s.sv', b='cb.cv')} AS d
            FROM qsubs s JOIN cb ON s.subspace = cb.subspace),
        adc AS (
            SELECT qtab.query_id, encoded.vec_id, SUM(d)::BIGINT AS adc
            FROM encoded JOIN qtab
              ON encoded.subspace = qtab.subspace AND encoded.code = qtab.code
            GROUP BY 1, 2),
        cands AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY adc ASC, vec_id ASC) AS r
                FROM adc) WHERE r <= {refine * k}),
        exact AS (
            SELECT c.query_id, c.vec_id,
                   {cos.format(d=dim, a='e.ee', b='q.qe')} AS score
            FROM cands c JOIN e ON c.vec_id = e.vec_id
            JOIN q ON c.query_id = q.query_id)
        SELECT query_id, vec_id, rank FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, vec_id ASC) AS rank
            FROM exact)
        WHERE rank <= {k} ORDER BY query_id, rank
    """


def _transcript_curation_oracle_sql() -> str:
    """DuckDB replica of run_transcript_curation over the fixture
    conversations + the same planted rows: string_agg assembly in
    turn_idx order, integer structural gates, then the proven curation
    chain (sha256 exact dedup, 3-gram MinHash-LSH k=16/b=4 + exact
    Jaccard >= 0.5, sequential-cumsum packing at budget 400) keyed on the
    60-bit md5 pack key (redaction is identity on this corpus, pinned by
    the pii_redact_docs oracle)."""
    tp = (_FIXTURES / "transcripts.parquet").as_posix() + "/*.parquet"
    sig_exprs = ",\n                       ".join(
        f"list_min(list_transform(s, x -> md5('salt{i}|' || x)))" for i in range(16)
    )
    return f"""
            WITH raw AS (
                SELECT conv_id, turn_idx, role, text
                FROM read_parquet('{tp}')),
            aug AS (
                SELECT conv_id, turn_idx, role, text FROM raw
                UNION ALL
                SELECT 'dup:' || conv_id, turn_idx, role, text FROM raw
                WHERE conv_id < 'conv_00000010'
                UNION ALL
                SELECT 'near:' || conv_id, turn_idx, role, text FROM raw
                WHERE conv_id < 'conv_00000005'
                UNION ALL
                SELECT 'near:' || conv_id, 1000, 'user',
                       'thanks again for all the help'
                FROM (SELECT DISTINCT conv_id FROM raw
                      WHERE conv_id < 'conv_00000005')
                UNION ALL
                SELECT * FROM (VALUES
                    ('short:0', 0, 'user', 'hello there'),
                    ('short:0', 1, 'assistant', 'hi how can i help'))
                    v(conv_id, turn_idx, role, text)
                UNION ALL
                SELECT 'tools:0', i, 'tool', 'tool output row ' || i
                FROM generate_series(0, 9) AS t(i)),
            assembled AS (
                SELECT conv_id,
                       string_agg(coalesce(role, '') || ': ' || coalesce(text, ''),
                                  chr(10) ORDER BY turn_idx) AS text,
                       COUNT(*)::BIGINT AS n_turns,
                       SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)::BIGINT
                           AS n_tool
                FROM aug GROUP BY conv_id),
            structural AS (
                SELECT conv_id, text,
                       CASE WHEN n_turns < 4 THEN 'too_short'
                            WHEN n_tool * 100 > n_turns * 40 THEN 'tool_heavy'
                       END AS sdrop
                FROM assembled),
            corpus AS (
                SELECT ('0x' || substr(md5(conv_id), 1, 15))::BIGINT AS doc_id,
                       conv_id, text,
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
                FROM structural WHERE sdrop IS NULL),
            h AS (SELECT doc_id, text, nt, sha256(nt) AS hh FROM corpus),
            keep1 AS (SELECT hh, min(doc_id) AS keep FROM h GROUP BY hh),
            s1 AS (SELECT h.doc_id, h.text, h.nt FROM h
                   JOIN keep1 ON h.hh = keep1.hh AND h.doc_id = keep1.keep),
            w1 AS (SELECT doc_id, regexp_split_to_array(nt, ' ') AS w FROM s1),
            sh AS (SELECT doc_id, list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 1)),
                       i -> array_to_string(w[i:i+2], ' '))) AS s
                   FROM w1),
            sig AS (SELECT doc_id, [
                       {sig_exprs}] AS g FROM sh),
            bands AS (SELECT doc_id, band,
                             md5(array_to_string(g[band*4+1 : band*4+4], '|'))
                                 AS bucket
                      FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) t),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM bands a JOIN bands b
                       ON a.band = b.band AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id),
            losers AS (SELECT DISTINCT cand.id_b AS doc_id
                       FROM cand
                       JOIN sh a ON cand.id_a = a.doc_id
                       JOIN sh b ON cand.id_b = b.doc_id
                       WHERE (len(list_intersect(a.s, b.s))::DOUBLE
                              / greatest(len(list_distinct(list_concat(a.s, b.s))), 1))
                             >= 0.5),
            s2 AS (SELECT s1.doc_id, s1.text FROM s1
                   LEFT JOIN losers USING (doc_id) WHERE losers.doc_id IS NULL),
            tok AS (SELECT doc_id,
                           (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                            END)::BIGINT AS n_tokens
                    FROM s2),
            packed AS (SELECT doc_id, n_tokens,
                              ((SUM(n_tokens) OVER (ORDER BY doc_id
                                                    ROWS UNBOUNDED PRECEDING)
                                - n_tokens) // 400)::BIGINT AS pack_id
                       FROM tok)
            SELECT st.conv_id,
                   coalesce(st.sdrop,
                            CASE WHEN c.doc_id <> k1.keep THEN 'exact_dup'
                                 WHEN lo.doc_id IS NOT NULL THEN 'near_dup'
                                 ELSE 'kept' END) AS status,
                   p.pack_id, p.n_tokens
            FROM structural st
            LEFT JOIN corpus c ON st.conv_id = c.conv_id
            LEFT JOIN h ON c.doc_id = h.doc_id
            LEFT JOIN keep1 k1 ON h.hh = k1.hh
            LEFT JOIN losers lo ON c.doc_id = lo.doc_id
            LEFT JOIN packed p ON c.doc_id = p.doc_id
            ORDER BY st.conv_id
    """


def _semantic_dedup_oracle_sql(dim: int, n_clusters: int, threshold: float) -> str:
    """DuckDB replica of semantic_dedup_vecs: same planted perturbation,
    md5-ordered centroid pick, (cos desc, centroid_id asc) argmax
    assignment, and the same-cell earlier-id exists check at a
    6-dp-rounded cosine threshold."""
    cos = (
        "list_sum(list_transform(generate_series(1, {d}), i -> {a}[i] * {b}[i]))"
        " / greatest("
        "sqrt(list_sum(list_transform(generate_series(1, {d}), i -> {a}[i] * {a}[i])))"
        " * sqrt(list_sum(list_transform(generate_series(1, {d}), i -> {b}[i] * {b}[i]))),"
        " 1e-12)"
    )
    return f"""
        WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS ee
                      FROM embeddings WHERE vec_id < 200),
        pert AS (SELECT vec_id + 100000 AS vec_id,
                        list_concat([ee[1] * 1.05], ee[2:{dim}]) AS ee
                 FROM base WHERE vec_id < 50),
        e AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        cents AS (
            SELECT vec_id AS centroid_id, ee AS cv FROM e
            ORDER BY md5(vec_id::VARCHAR || '|ivf') LIMIT {n_clusters}),
        a_sc AS (
            SELECT e.vec_id, e.ee, c.centroid_id,
                   {cos.format(d=dim, a='ee', b='cv')} AS cos
            FROM e CROSS JOIN cents c),
        assigned AS (
            SELECT vec_id, ee, centroid_id AS cell FROM (
                SELECT vec_id, ee, centroid_id,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY cos DESC, centroid_id ASC) AS rn
                FROM a_sc) WHERE rn = 1),
        hits AS (
            SELECT DISTINCT a.vec_id
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND b.vec_id < a.vec_id
            WHERE round({cos.format(d=dim, a='a.ee', b='b.ee')}, 6) >= {threshold})
        SELECT a.vec_id, a.cell, (h.vec_id IS NOT NULL) AS is_dup
        FROM assigned a LEFT JOIN hits h ON a.vec_id = h.vec_id
        ORDER BY a.vec_id
    """


def _near_dup_vecs_oracle_sql(
    dim: int, n_planes: int, probe_radius: int, threshold: float
) -> str:
    """DuckDB replica of embedding_near_dup_vecs: same planted
    perturbation, md5 hyperplanes, Hamming-radius self-blocking, and
    6-dp-rounded cosine threshold."""
    from delm_spark.operators.similarity import hyperplane_signs

    planes = " UNION ALL ".join(
        f"SELECT {p} AS p, [{', '.join(str(s) for s in hyperplane_signs(dim, p))}]::DOUBLE[] AS h"
        for p in range(n_planes)
    )
    return f"""
        WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
                      FROM embeddings WHERE vec_id < 100),
        pert AS (SELECT vec_id + 100000 AS vec_id,
                        list_concat([v[1] * 1.05], v[2:{dim}]) AS v
                 FROM base),
        e AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        planes AS ({planes}),
        bits AS (
            SELECT vec_id,
                   SUM(CASE WHEN list_sum(list_transform(generate_series(1, {dim}),
                                                         i -> v[i] * h[i])) >= 0
                            THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)::BIGINT AS bkt
            FROM e CROSS JOIN planes GROUP BY vec_id),
        eb AS (SELECT e.vec_id, v, bkt FROM e JOIN bits USING (vec_id)),
        cand AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_sum(list_transform(generate_series(1, {dim}),
                                                 i -> a.v[i] * b.v[i]))
                   / greatest(
                       sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                    i -> a.v[i] * a.v[i])))
                     * sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                    i -> b.v[i] * b.v[i]))),
                       1e-12), 6) AS cos_sim
            FROM eb a JOIN eb b
              ON bit_count(xor(a.bkt, b.bkt)) <= {probe_radius}
             AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, cos_sim FROM cand
        WHERE cos_sim >= {threshold}
        ORDER BY id_a, id_b
    """


def _embedding_link_oracle_sql(
    dim: int, n_planes: int, probe_radius: int, threshold: float
) -> str:
    """DuckDB replica of embedding_link_candidates over the fixture
    dictionary with one-char-truncated surfaces as mentions: identical
    trigram-md5 embeddings, md5 hyperplanes, Hamming-radius blocking, and
    (score desc, canonical_id asc) per-mention argmax."""
    from delm_spark.operators.similarity import hyperplane_signs

    dp = (_FIXTURES / "dictionary.parquet").as_posix() + "/*.parquet"
    planes = " UNION ALL ".join(
        f"SELECT {p} AS p, [{', '.join(str(s) for s in hyperplane_signs(dim, p))}]::DOUBLE[] AS h"
        for p in range(n_planes)
    )
    emb = """
        list_transform(generate_series(0, {dim_m1}), b ->
            CAST(len(list_filter(
                list_transform(
                    generate_series(1, greatest(len('^' || lower(trim(regexp_replace({col}, '\\s+', ' ', 'g'))) || '$') - 2, 1)),
                    i -> substr('^' || lower(trim(regexp_replace({col}, '\\s+', ' ', 'g'))) || '$', i, 3)),
                t -> ('0x' || substr(md5(t), 1, 4))::BIGINT % {dim} = b)) AS DOUBLE))
    """
    m_emb = emb.format(col="m.surface", dim=dim, dim_m1=dim - 1)
    d_emb = emb.format(col="d.surface", dim=dim, dim_m1=dim - 1)
    return f"""
        WITH raw AS (SELECT surface, canonical_id FROM read_parquet('{dp}')),
        d0 AS (SELECT surface, min(canonical_id) AS canonical_id
               FROM raw GROUP BY surface),
        m0 AS (SELECT DISTINCT substr(surface, 1, length(surface) - 1) AS surface
               FROM raw WHERE length(surface) > 6),
        d AS (SELECT d.surface, canonical_id, {d_emb} AS e FROM d0 d),
        m AS (SELECT m.surface, {m_emb} AS e FROM m0 m),
        planes AS ({planes}),
        dbits AS (
            SELECT surface, SUM(CASE WHEN list_sum(list_transform(
                generate_series(1, {dim}), i -> e[i] * h[i])) >= 0
                THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)::BIGINT AS bkt
            FROM d CROSS JOIN planes GROUP BY surface),
        mbits AS (
            SELECT surface, SUM(CASE WHEN list_sum(list_transform(
                generate_series(1, {dim}), i -> e[i] * h[i])) >= 0
                THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)::BIGINT AS bkt
            FROM m CROSS JOIN planes GROUP BY surface),
        cand AS (
            SELECT m.surface, d.canonical_id,
                   list_sum(list_transform(generate_series(1, {dim}),
                                           i -> m.e[i] * d.e[i]))
                   / greatest(
                       sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                    i -> m.e[i] * m.e[i])))
                     * sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                    i -> d.e[i] * d.e[i]))),
                       1e-12) AS score
            FROM m JOIN mbits mb ON m.surface = mb.surface
            JOIN dbits db ON bit_count(xor(mb.bkt, db.bkt)) <= {probe_radius}
            JOIN d ON d.surface = db.surface)
        SELECT surface, canonical_id FROM (
            SELECT surface, canonical_id, score,
                   row_number() OVER (PARTITION BY surface
                       ORDER BY score DESC, canonical_id ASC) AS rn
            FROM cand)
        WHERE rn = 1 AND score >= {threshold}
        ORDER BY surface, canonical_id
    """


def _lsh_topk_oracle_sql(dim: int, k: int, n_planes: int, probe_radius: int) -> str:
    """DuckDB replica of multi-probe sign-LSH top-k: same md5-derived
    hyperplanes (literal arrays), bucket = sign-bit signature, candidates =
    Hamming(bucket_e, bucket_q) <= radius (identical to the probe-mask
    expansion by definition), exact cosine re-rank."""
    from delm_spark.operators.similarity import hyperplane_signs

    planes = " UNION ALL ".join(
        f"SELECT {p} AS p, [{', '.join(str(s) for s in hyperplane_signs(dim, p))}]::DOUBLE[] AS h"
        for p in range(n_planes)
    )
    return f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            planes AS ({planes}),
            bits AS (
                SELECT vec_id,
                       CASE WHEN list_sum(list_transform(generate_series(1, {dim}),
                                                         i -> v[i] * h[i])) >= 0
                            THEN (CAST(1 AS BIGINT) << p) ELSE 0 END AS bit
                FROM e CROSS JOIN planes),
            bkt AS (SELECT vec_id, SUM(bit)::BIGINT AS bkt FROM bits GROUP BY vec_id),
            eb AS (SELECT e.vec_id, v, bkt FROM e JOIN bkt USING (vec_id)),
            qb AS (SELECT vec_id AS query_id, v AS qv, bkt AS qbkt
                   FROM eb WHERE vec_id < 3),
            cand AS (
                SELECT qb.query_id, eb.vec_id,
                       list_sum(list_transform(generate_series(1, {dim}),
                                               i -> v[i] * qv[i]))
                       / greatest(
                           sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                        i -> v[i] * v[i])))
                         * sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                        i -> qv[i] * qv[i]))),
                           1e-12) AS score
                FROM eb JOIN qb ON bit_count(xor(eb.bkt, qb.qbkt)) <= {probe_radius})
            SELECT query_id, vec_id, rank FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id ASC) AS rank
                FROM cand)
            WHERE rank <= {k} ORDER BY query_id, rank
        """


#: the RuleTripleExtractor pattern, RE2-compatible: DuckDB's RE2 has no
#: lookahead, so the trailing `(?=[.!?])` becomes a consuming `[.!?]` —
#: equivalent here because no match can start at a punctuation character
#: (entities start [A-Z]); verified triple-for-triple against Python re.
_KG_ENTITY = r"[A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)*"
_KG_PHRASES = [
    (" works at ", "works_at"),
    (" uses the ", "uses_tool"),
    (" is located in ", "located_in"),
    (" reports to ", "reports_to"),
    (" created ", "created"),
    (" dislikes ", "dislikes"),
]
_KG_ALLOWED = ["works_at", "uses_tool", "located_in", "reports_to", "created"]
_KG_NULL_WORDS = ["none", "null", "unknown", "n/a", ""]


def _ground_pronouns_oracle_sql() -> str:
    """DuckDB replica of ground_pronouns_kg: synthesize the same
    per-surface pronoun + control triples and even-length-only speaker
    turns, then replay the grounding rule as one left join against the
    min-role-per-turn lookup + CASE rewrite (kg/ground.py)."""
    tp = (_FIXTURES / "transcripts.parquet").as_posix() + "/*.parquet"
    dp = (_FIXTURES / "dictionary.parquet").as_posix() + "/*.parquet"
    prons = "'i','me','my','mine','myself','we','us','our','ours'"
    return f"""
        WITH d AS (SELECT surface FROM read_parquet('{dp}')),
        tr AS (
            SELECT 'pg:' || surface AS conv_id,
                   CAST(length(surface) % 3 AS INT) AS turn_idx,
                   'I' AS subj, 'works_at' AS pred, surface AS obj
            FROM d
            UNION ALL
            SELECT 'pg:' || surface, CAST(length(surface) % 3 AS INT),
                   surface, 'works_at', 'acme corp'
            FROM d),
        roles AS (
            SELECT conv_id, turn_idx, role FROM read_parquet('{tp}')
            UNION ALL
            SELECT 'pg:' || surface, CAST(length(surface) % 3 AS INT),
                   (['user', 'assistant', 'tool'])[length(surface) % 3 + 1]
            FROM d WHERE length(surface) % 2 = 0),
        rl AS (SELECT conv_id, turn_idx, min(role) AS role
               FROM roles GROUP BY conv_id, turn_idx)
        SELECT t.conv_id, t.turn_idx,
               CASE WHEN lower(t.subj) IN ({prons}) AND rl.role IS NOT NULL
                    THEN 'speaker:' || t.conv_id || ':' || rl.role
                    ELSE t.subj END AS subj,
               t.pred, t.obj,
               CASE WHEN lower(t.subj) IN ({prons}) AND rl.role IS NOT NULL
                    THEN 1 ELSE 0 END AS grounded
        FROM tr t LEFT JOIN rl
          ON t.conv_id = rl.conv_id AND t.turn_idx = rl.turn_idx
        ORDER BY t.conv_id, t.turn_idx, subj, t.pred, t.obj
    """


def _address_pronouns_oracle_sql() -> str:
    """DuckDB replica of address_pronouns_kg: same synthetic triples and
    role census, grounding replayed as speaker-role lookup + explicit
    two-role census + addressee self-join + CASE rewrite
    (kg/ground.py second_person path)."""
    dp = (_FIXTURES / "dictionary.parquet").as_posix() + "/*.parquet"
    return f"""
        WITH d AS (SELECT surface FROM read_parquet('{dp}')),
        tr AS (
            SELECT 'ap:' || surface AS conv_id, CAST(0 AS INT) AS turn_idx,
                   'you' AS subj, 'reports_to' AS pred, surface AS obj
            FROM d
            UNION ALL
            SELECT 'ap:' || surface, CAST(0 AS INT),
                   'I', 'works_at', surface
            FROM d),
        roles AS (
            SELECT 'ap:' || surface AS conv_id, CAST(0 AS INT) AS turn_idx,
                   'user' AS role
            FROM d
            UNION ALL
            SELECT 'ap:' || surface, CAST(1 AS INT), 'assistant'
            FROM d WHERE length(surface) % 2 = 0
            UNION ALL
            SELECT 'ap:' || surface, CAST(2 AS INT), 'tool'
            FROM d WHERE length(surface) % 3 = 0),
        rl AS (SELECT conv_id, turn_idx, min(role) AS role
               FROM roles GROUP BY conv_id, turn_idx),
        dr AS (SELECT DISTINCT conv_id, role FROM roles),
        c2 AS (SELECT conv_id FROM dr GROUP BY conv_id HAVING count(*) = 2),
        addr AS (SELECT a.conv_id, a.role, min(b.role) AS other
                 FROM dr a
                 JOIN dr b ON a.conv_id = b.conv_id AND a.role <> b.role
                 JOIN c2 ON a.conv_id = c2.conv_id
                 GROUP BY a.conv_id, a.role)
        SELECT t.conv_id, t.turn_idx,
               CASE WHEN lower(t.subj) = 'you' AND addr.other IS NOT NULL
                    THEN 'speaker:' || t.conv_id || ':' || addr.other
                    WHEN lower(t.subj) = 'i' AND rl.role IS NOT NULL
                    THEN 'speaker:' || t.conv_id || ':' || rl.role
                    ELSE t.subj END AS subj,
               t.pred, t.obj,
               CASE WHEN (lower(t.subj) = 'you' AND addr.other IS NOT NULL)
                      OR (lower(t.subj) = 'i' AND rl.role IS NOT NULL)
                    THEN 1 ELSE 0 END AS grounded
        FROM tr t
        LEFT JOIN rl
          ON t.conv_id = rl.conv_id AND t.turn_idx = rl.turn_idx
        LEFT JOIN addr
          ON t.conv_id = addr.conv_id AND rl.role = addr.role
        ORDER BY t.conv_id, t.turn_idx, subj, t.pred, t.obj
    """


def _kg_oracle_sql(kind: str, typos: bool = False) -> str:
    """DuckDB replica of the KG chain over the committed fixtures:
    paragraph-chunk -> keyword filter -> regex triple extraction (document
    order) -> cleaning rules (allowed predicate, null-word subj/obj,
    validate-in-text, required gating = row drop) -> item_pos re-index
    [-> dictionary linking -> node canonicalization | -> embedding-blocked
    mention-residue resolution]. `typos` appends the same synthetic
    truncated-surface conversations _typo_transcripts builds."""
    tp = (_FIXTURES / "transcripts.parquet").as_posix() + "/*.parquet"
    dp = (_FIXTURES / "dictionary.parquet").as_posix() + "/*.parquet"
    pat = f"({_KG_ENTITY})({'|'.join(p for p, _ in _KG_PHRASES)})({_KG_ENTITY})[.!?]"
    pred_case = " ".join(
        f"WHEN '{p}' THEN '{label}'" for p, label in _KG_PHRASES
    )
    kw_filter = " OR ".join(
        f"contains(lower(chunk), '{p.strip().lower()}')" for p, _ in _KG_PHRASES
    )
    allowed = ", ".join(f"'{a}'" for a in _KG_ALLOWED)
    nulls = ", ".join(f"'{w}'" for w in _KG_NULL_WORDS)
    src = f"SELECT conv_id, turn_idx, text FROM read_parquet('{tp}')"
    if typos:
        # Spark-initcap replica: uppercase each word's first char (surfaces
        # are already lowercase, so the rest needs no lowering)
        initcap = (
            "array_to_string(list_transform(string_split("
            "substr(surface, 1, length(surface) - 1), ' '), "
            "w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ')"
        )
        src = f"""{src}
                      UNION ALL
                      SELECT 'typo:' || surface, 0,
                             'Alice Smith works at ' || {initcap} || '.'
                      FROM read_parquet('{dp}') WHERE length(surface) > 6"""
    base = f"""
            WITH chunks AS (
                SELECT conv_id, turn_idx,
                       generate_subscripts(l, 1) - 1 AS chunk_pos,
                       unnest(l) AS chunk
                FROM (SELECT conv_id, turn_idx,
                             list_filter(list_transform(
                                 regexp_split_to_array(text, '\\r?\\n\\s*\\r?\\n'),
                                 x -> regexp_replace(regexp_replace(x, '^\\s+', ''), '\\s+$', '')),
                               x -> x <> '') AS l
                      FROM ({src}))),
            scored AS (
                SELECT * FROM chunks WHERE {kw_filter}),
            matches AS (
                SELECT conv_id, turn_idx, chunk_pos, chunk,
                       generate_subscripts(regexp_extract_all(chunk, '{pat}', 1), 1) AS raw_pos,
                       unnest(regexp_extract_all(chunk, '{pat}', 1)) AS subj,
                       unnest(regexp_extract_all(chunk, '{pat}', 2)) AS phrase,
                       unnest(regexp_extract_all(chunk, '{pat}', 3)) AS obj
                FROM scored),
            cleaned AS (
                SELECT conv_id, turn_idx, chunk_pos,
                       row_number() OVER (PARTITION BY conv_id, turn_idx, chunk_pos
                           ORDER BY raw_pos) - 1 AS item_pos,
                       subj, pred, obj, chunk
                FROM (SELECT *, CASE phrase {pred_case} END AS pred FROM matches)
                WHERE pred IN ({allowed})
                  AND lower(subj) NOT IN ({nulls})
                  AND lower(obj) NOT IN ({nulls})
                  AND contains(lower(chunk), lower(subj))
                  AND contains(lower(chunk), lower(obj)))"""
    if kind == "triples":
        return base + """
            SELECT conv_id, turn_idx, chunk_pos, subj, pred, obj
            FROM cleaned
            ORDER BY conv_id, turn_idx, chunk_pos, subj, pred, obj
        """
    if kind == "negatives":
        # kg/completion.py negative_samples(k=2, seed=0): 60-bit md5 hash
        # picks side (h%2) and replacement rank ((h//2) mod |E|); drop
        # degenerate draws and corruptions that are themselves positives
        return base + """,
            pos AS (SELECT DISTINCT subj, pred, obj FROM cleaned),
            ents AS (
                SELECT entity,
                       row_number() OVER (ORDER BY entity) - 1 AS rank
                FROM (SELECT subj AS entity FROM pos
                      UNION SELECT obj FROM pos)),
            n AS (SELECT count(*) AS n_ent FROM ents),
            drawn AS (
                SELECT subj, pred, obj, neg_idx,
                       ('0x' || substr(md5('neg|0|' || subj || '|' || pred
                            || '|' || obj || '|'
                            || CAST(neg_idx AS VARCHAR)), 1, 15))::BIGINT AS h
                FROM pos CROSS JOIN (SELECT unnest([0, 1]) AS neg_idx) t),
            sided AS (
                SELECT subj, pred, obj, neg_idx::BIGINT AS neg_idx,
                       CASE WHEN h % 2 = 0 THEN 'subj' ELSE 'obj'
                            END AS corrupt_side,
                       (h // 2) % (SELECT n_ent FROM n) AS repl_rank
                FROM drawn),
            repl AS (
                SELECT s.subj, s.pred, s.obj, s.neg_idx, s.corrupt_side,
                       CASE WHEN s.corrupt_side = 'subj' THEN e.entity
                            ELSE s.subj END AS neg_subj,
                       CASE WHEN s.corrupt_side = 'obj' THEN e.entity
                            ELSE s.obj END AS neg_obj
                FROM sided s JOIN ents e ON e.rank = s.repl_rank)
            SELECT subj, pred, obj, neg_idx, corrupt_side, neg_subj, neg_obj
            FROM repl r
            WHERE (neg_subj <> subj OR neg_obj <> obj)
              AND NOT EXISTS (SELECT 1 FROM pos p
                              WHERE p.subj = r.neg_subj AND p.pred = r.pred
                                AND p.obj = r.neg_obj)
            ORDER BY subj, pred, obj, neg_idx
        """
    linked = base + f""",
            dict AS (SELECT surface, canonical_id FROM read_parquet('{dp}')),
            normed AS (
                SELECT *, lower(trim(regexp_replace(subj, '\\s+', ' ', 'g'))) AS ns,
                          lower(trim(regexp_replace(obj, '\\s+', ' ', 'g'))) AS no
                FROM cleaned),
            linked AS (
                SELECT n.conv_id, n.turn_idx, n.chunk_pos, n.item_pos,
                       n.subj, n.pred, n.obj,
                       coalesce(ds.canonical_id, 'mention:' || n.ns) AS subj_id,
                       coalesce(dobj.canonical_id, 'mention:' || n.no) AS obj_id
                FROM normed n
                LEFT JOIN dict ds ON n.ns = ds.surface
                LEFT JOIN dict dobj ON n.no = dobj.surface)"""
    if kind == "linked":
        return linked + """
            SELECT conv_id, turn_idx, chunk_pos, item_pos,
                   subj, pred, obj, subj_id, obj_id
            FROM linked ORDER BY conv_id, turn_idx, chunk_pos, item_pos
        """
    if kind == "diff":
        # kg/update.py graph_diff over two conversation-range snapshot
        # views: set semantics == EXCEPT (distinct + null-safe equality)
        cols = ("conv_id, turn_idx, chunk_pos, item_pos, "
                "subj, pred, obj, subj_id, obj_id")
        return linked + f""",
            old AS (SELECT DISTINCT {cols} FROM linked
                    WHERE conv_id <= 'conv_00000099'),
            new AS (SELECT DISTINCT {cols} FROM linked
                    WHERE conv_id >= 'conv_00000050')
            SELECT *, 'added' AS change
            FROM (SELECT * FROM new EXCEPT SELECT * FROM old)
            UNION ALL
            SELECT *, 'removed' AS change
            FROM (SELECT * FROM old EXCEPT SELECT * FROM new)
            ORDER BY change, conv_id, turn_idx, chunk_pos, item_pos
        """
    if kind == "pattern":
        # kg/query.py match_pattern on (?a works_at ?org),
        # (?b works_at ?org): SELECT DISTINCT bindings == self-join of
        # the distinct triple set on the shared variable
        return linked + """,
            t AS (SELECT DISTINCT subj_id, pred, obj_id FROM linked)
            SELECT a.subj_id AS a, b.subj_id AS b, a.obj_id AS org
            FROM t a JOIN t b ON a.obj_id = b.obj_id
            WHERE a.pred = 'works_at' AND b.pred = 'works_at'
              AND a.subj_id < b.subj_id
            ORDER BY a, b, org
        """
    if kind == "pattern_aggregate":
        # kg/query.py match_aggregate: distinct triple store, the
        # two filtered scans joined on ?org (bag semantics), GROUP BY
        # ?city with exact-over-strings aggregates
        return linked + """,
            t AS (SELECT DISTINCT subj_id, pred, obj_id FROM linked),
            w AS (SELECT subj_id AS p, obj_id AS org FROM t
                  WHERE pred = 'works_at'),
            loc AS (SELECT subj_id AS org, obj_id AS city FROM t
                    WHERE pred = 'located_in')
            SELECT loc.city,
                   count(DISTINCT loc.org)::BIGINT AS n_orgs,
                   count(DISTINCT w.p)::BIGINT AS n_people,
                   count(*)::BIGINT AS n_solutions,
                   min(w.p) AS first_person
            FROM w JOIN loc ON w.org = loc.org
            GROUP BY loc.city
            ORDER BY city
        """
    if kind == "construct_colleagues":
        # kg/query.py construct: symmetric template over the a<b
        # colleague BGP == every ordered pair of distinct co-workers,
        # CONSTRUCT output is a SET (DISTINCT)
        return linked + """,
            t AS (SELECT DISTINCT subj_id, obj_id FROM linked
                  WHERE pred = 'works_at')
            SELECT DISTINCT a.subj_id AS subj_id,
                   'colleague_of' AS pred,
                   b.subj_id AS obj_id
            FROM t a JOIN t b ON a.obj_id = b.obj_id
             AND a.subj_id <> b.subj_id
            ORDER BY subj_id, obj_id
        """
    if kind == "pattern_union":
        # kg/query.py match_union: literal SQL UNION of the two branch
        # scans, each branch padding the other's variable with NULL —
        # UNION (not ALL) is the cross-branch DISTINCT
        return linked + """,
            t AS (SELECT DISTINCT subj_id, pred, obj_id FROM linked)
            SELECT * FROM (
                SELECT obj_id AS org, NULL::VARCHAR AS tool, subj_id AS x
                FROM t WHERE pred = 'works_at'
                UNION
                SELECT NULL::VARCHAR, obj_id, subj_id
                FROM t WHERE pred = 'uses_tool')
            ORDER BY org NULLS FIRST, tool NULLS FIRST, x
        """
    if kind == "pattern_values":
        # kg/query.py match_pattern with VALUES inline data: the
        # colleague self-join restricted to the two named employers
        return linked + """,
            t AS (SELECT DISTINCT subj_id, pred, obj_id FROM linked)
            SELECT a.subj_id AS a, b.subj_id AS b, a.obj_id AS org
            FROM t a JOIN t b ON a.obj_id = b.obj_id
            WHERE a.pred = 'works_at' AND b.pred = 'works_at'
              AND a.obj_id IN ('org:acme', 'org:initech')
              AND a.subj_id < b.subj_id
            ORDER BY a, b, org
        """
    if kind == "pattern_bind":
        # kg/query.py match_pattern with BIND over an OPTIONAL-null
        # variable: thinned reports_to, left join, then the same
        # coalesce/CASE/concat — bind is pure projection, so
        # distinct-then-compute == compute-then-distinct
        return linked + """,
            thin AS (
                SELECT * FROM linked
                WHERE NOT (pred = 'reports_to'
                           AND ('0x' || substr(md5(subj_id), 1, 1))::INT
                               % 2 = 0)),
            w AS (SELECT DISTINCT subj_id AS x, obj_id AS org FROM thin
                  WHERE pred = 'works_at'),
            r AS (SELECT DISTINCT subj_id AS x, obj_id AS mgr FROM thin
                  WHERE pred = 'reports_to'),
            b AS (
                SELECT DISTINCT w.x AS x, w.org AS org, r.mgr AS mgr
                FROM w LEFT JOIN r ON w.x = r.x)
            SELECT x, org, mgr,
                   coalesce(mgr, '<unmanaged>') AS mgr_label,
                   CASE WHEN mgr IS NULL THEN 0 ELSE 1 END AS managed,
                   x || '->' || coalesce(mgr, '<unmanaged>')
                       AS report_line
            FROM b
            ORDER BY x, org, mgr
        """
    if kind == "pattern_inverse":
        # kg/query.py match_pattern with ^works_at: the inverse path is
        # a column-role swap, so the oracle is the forward works_at
        # scan joined to located_in on the org
        return linked + """,
            t AS (SELECT DISTINCT subj_id, pred, obj_id FROM linked),
            w AS (SELECT obj_id AS org, subj_id AS x FROM t
                  WHERE pred = 'works_at'),
            loc AS (SELECT subj_id AS org, obj_id AS city FROM t
                    WHERE pred = 'located_in')
            SELECT DISTINCT w.org AS org, w.x AS x, loc.city AS city
            FROM w JOIN loc ON w.org = loc.org
            ORDER BY org, x, city
        """
    if kind == "rdfs":
        # kg/reason.py rdfs_closure: the inline 9-row ontology's
        # transitive closures are hand-unrolled constants; the rules
        # (7 -> 2/3 -> 9) replay as joins, min(inferred) = asserted wins
        return linked + """,
            t AS (SELECT subj_id, pred, obj_id FROM linked),
            subprop AS (SELECT * FROM (VALUES
                ('works_at', 'affiliated_with'),
                ('affiliated_with', 'related_to'),
                ('works_at', 'related_to')) v(src, dst)),
            subcls AS (SELECT * FROM (VALUES
                ('ent:Org', 'ent:Agent'),
                ('ent:Person', 'ent:Agent'),
                ('ent:Agent', 'ent:Entity'),
                ('ent:Org', 'ent:Entity'),
                ('ent:Person', 'ent:Entity')) v(src, dst)),
            dom AS (SELECT * FROM (VALUES
                ('works_at', 'ent:Person'),
                ('located_in', 'ent:Org')) v(pred, cls)),
            rng AS (SELECT * FROM (VALUES
                ('works_at', 'ent:Org'),
                ('located_in', 'ent:Place')) v(pred, cls)),
            schema_rows AS (SELECT * FROM (VALUES
                ('works_at', 'subproperty_of', 'affiliated_with'),
                ('affiliated_with', 'subproperty_of', 'related_to'),
                ('works_at', 'domain', 'ent:Person'),
                ('works_at', 'range', 'ent:Org'),
                ('located_in', 'domain', 'ent:Org'),
                ('located_in', 'range', 'ent:Place'),
                ('ent:Org', 'subclass_of', 'ent:Agent'),
                ('ent:Person', 'subclass_of', 'ent:Agent'),
                ('ent:Agent', 'subclass_of', 'ent:Entity')
                ) v(subj_id, pred, obj_id)),
            rule7 AS (
                SELECT t.subj_id, sp.dst AS pred, t.obj_id
                FROM t JOIN subprop sp ON t.pred = sp.src),
            props AS (
                SELECT subj_id, pred, obj_id FROM t
                UNION ALL SELECT * FROM rule7),
            rule2 AS (
                SELECT p.subj_id, 'type' AS pred, d.cls AS obj_id
                FROM props p JOIN dom d ON p.pred = d.pred),
            rule3 AS (
                SELECT p.obj_id AS subj_id, 'type' AS pred,
                       r.cls AS obj_id
                FROM props p JOIN rng r ON p.pred = r.pred),
            types AS (
                SELECT * FROM rule2
                UNION ALL SELECT * FROM rule3
                UNION ALL SELECT subj_id, pred, obj_id FROM props
                          WHERE pred = 'type'),
            rule9 AS (
                SELECT ty.subj_id, 'type' AS pred, sc.dst AS obj_id
                FROM types ty JOIN subcls sc ON ty.obj_id = sc.src),
            everything AS (
                SELECT subj_id, pred, obj_id, 0 AS inferred FROM t
                UNION ALL
                SELECT subj_id, pred, obj_id, 0 FROM schema_rows
                UNION ALL
                SELECT subj_id, pred, obj_id, 1 FROM rule7
                UNION ALL
                SELECT subj_id, pred, obj_id, 1 FROM rule2
                UNION ALL
                SELECT subj_id, pred, obj_id, 1 FROM rule3
                UNION ALL
                SELECT subj_id, pred, obj_id, 1 FROM rule9
                UNION ALL
                SELECT src, 'subproperty_of', dst, 1 FROM subprop
                UNION ALL
                SELECT src, 'subclass_of', dst, 1 FROM subcls)
            SELECT subj_id, pred, obj_id,
                   min(inferred)::INT AS inferred
            FROM everything
            GROUP BY subj_id, pred, obj_id
            ORDER BY subj_id, pred, obj_id
        """
    if kind == "ask":
        # kg/query.py ask: SQL EXISTS over the distinct triple store —
        # one row per labeled question
        return linked + """,
            t AS (SELECT DISTINCT subj_id, pred, obj_id FROM linked)
            SELECT * FROM (
                SELECT 'anyone_works_at_acme' AS label,
                       EXISTS(SELECT 1 FROM t
                              WHERE pred = 'works_at'
                                AND obj_id = 'org:acme') AS ask
                UNION ALL
                SELECT 'acme_works_somewhere',
                       EXISTS(SELECT 1 FROM t
                              WHERE pred = 'works_at'
                                AND subj_id = 'org:acme'))
            ORDER BY label
        """
    if kind == "describe":
        # kg/query.py describe: depth-1 ego neighborhood of org:acme,
        # role = CASE on which side matched (subject wins a self-loop)
        return linked + """
            SELECT DISTINCT subj_id, pred, obj_id,
                   CASE WHEN subj_id = 'org:acme' THEN 'subject'
                        ELSE 'object' END AS role
            FROM linked
            WHERE subj_id = 'org:acme' OR obj_id = 'org:acme'
            ORDER BY role, subj_id, pred, obj_id
        """
    if kind == "pattern_topk":
        # kg/query.py match_pattern order_by/limit: the colleague BGP
        # under a total lexicographic order — LIMIT is engine-safe only
        # because the order covers every output variable
        return linked + """,
            t AS (SELECT DISTINCT subj_id, pred, obj_id FROM linked)
            SELECT a.subj_id AS a, b.subj_id AS b, a.obj_id AS org
            FROM t a JOIN t b ON a.obj_id = b.obj_id
            WHERE a.pred = 'works_at' AND b.pred = 'works_at'
              AND a.subj_id < b.subj_id
            ORDER BY a, b, org
            LIMIT 25
        """
    if kind in ("ntriples", "ntriples_roundtrip"):
        from delm_spark.kg.rdf import DEFAULT_BASE, IRI_ESCAPES

        if kind == "ntriples_roundtrip":
            # from_ntriples(to_ntriples(t)) == the distinct triple set,
            # every line well-formed
            return linked + """
                SELECT DISTINCT subj_id, pred, obj_id,
                       false AS malformed
                FROM linked
                ORDER BY subj_id, pred, obj_id
            """

        def enc(expr: str) -> str:
            # the SAME percent-encode chain as kg/rdf.py, in order
            for raw, pct in IRI_ESCAPES:
                lit = (
                    f"chr({ord(raw)})"
                    if raw in "\n\r\t"
                    else "'" + raw.replace("'", "''") + "'"
                )
                expr = f"replace({expr}, {lit}, '{pct}')"
            return expr

        return linked + f""",
            t AS (SELECT DISTINCT subj_id, pred, obj_id FROM linked)
            SELECT '<{DEFAULT_BASE}' || {enc("subj_id")}
                || '> <{DEFAULT_BASE}' || {enc("pred")}
                || '> <{DEFAULT_BASE}' || {enc("obj_id")}
                || '> .' AS line
            FROM t ORDER BY line
        """
    if kind in ("path_fixpoint", "path_star"):
        # kg/query.py property_path(max_hops=None): a RECURSIVE CTE
        # with min(hops) per pair. The hop guard (< 15) bounds the
        # recursion through cycles/self-loops; tests/test_rdf.py pins
        # fixture convergence well below it, making the guard exact.
        closure = linked.replace(
            "WITH chunks AS", "WITH RECURSIVE chunks AS", 1
        ) + """,
            e AS (SELECT DISTINCT subj_id AS s, obj_id AS d FROM linked
                  WHERE pred = 'reports_to'
                    AND subj_id IS NOT NULL AND obj_id IS NOT NULL),
            walk(s, d, hops) AS (
                SELECT s, d, 1 FROM e
                UNION
                SELECT w.s, e2.d, w.hops + 1
                FROM walk w JOIN e e2 ON w.d = e2.s
                WHERE w.hops < 15),
            m AS (SELECT s, d, min(hops) AS hops FROM walk GROUP BY s, d)
        """
        if kind == "path_fixpoint":
            return closure + """
            SELECT s AS src, d AS dst, hops::BIGINT AS hops FROM m
            ORDER BY src, dst
            """
        # NOTE: under WITH RECURSIVE, DuckDB parses ANY CTE with a
        # top-level UNION as anchor/iteration (even self-reference-free
        # ones) and drops the cross-branch dedup — build the node set
        # with an explicit subquery DISTINCT instead
        return closure + """,
            nodes AS (SELECT DISTINCT node FROM (
                SELECT s AS node FROM e UNION ALL SELECT d FROM e))
            SELECT node AS src, node AS dst, 0::BIGINT AS hops FROM nodes
            UNION ALL
            SELECT s, d, hops::BIGINT FROM m WHERE s <> d
            ORDER BY src, dst, hops
        """
    if kind == "harmonic":
        # kg/graph.py harmonic_centrality(n_sources=8, max_depth=6):
        # multi-source BFS as a hop-guarded RECURSIVE CTE, min(dist)
        # per (source, node), integer micro-unit harmonic sum. Same
        # WITH RECURSIVE UNION caveat as path_star: non-recursive CTEs
        # use subquery DISTINCT, never a top-level UNION.
        return linked.replace(
            "WITH chunks AS", "WITH RECURSIVE chunks AS", 1
        ) + """,
            e AS (SELECT DISTINCT a, b FROM (
                      SELECT subj_id AS a, obj_id AS b FROM linked
                      UNION ALL
                      SELECT obj_id AS a, subj_id AS b FROM linked)
                  WHERE a IS NOT NULL AND b IS NOT NULL),
            nodes AS (SELECT DISTINCT node FROM (
                SELECT a AS node FROM e UNION ALL SELECT b FROM e)),
            srcs AS (SELECT node FROM nodes ORDER BY md5(node), node
                     LIMIT 8),
            walk(source, node, dist) AS (
                SELECT node, node, 0 FROM srcs
                UNION
                SELECT w.source, e.b, w.dist + 1
                FROM walk w JOIN e ON w.node = e.a
                WHERE w.dist < 6),
            m AS (SELECT source, node, min(dist) AS dist FROM walk
                  GROUP BY source, node)
            SELECT node,
                   sum(1000000 // dist)::BIGINT AS harmonic_micro,
                   count(*)::BIGINT AS n_reached
            FROM m WHERE dist > 0
            GROUP BY node ORDER BY node
        """
    if kind == "kcore":
        # kg/graph.py k_core(k=2): the same peeling unrolled a fixed
        # number of rounds (fixture convergence within the unroll depth
        # is pinned by test_kg_core_oracle_unroll_depth_suffices) —
        # round r recomputes degrees over the surviving simple
        # undirected edge set and keeps nodes of degree >= 2
        # every CTE is MATERIALIZED: round r references round r-1 three
        # times (degree count + both IN subqueries), so DuckDB's default
        # CTE inlining would copy the whole upstream pipeline 3^r times —
        # the unrolled peel only binds/runs as a chain of materializations
        rounds = []
        prev = "e0"
        for r in range(1, 7):
            rounds.append(f"""
            k{r} AS MATERIALIZED (
                SELECT node FROM (
                    SELECT u AS node FROM {prev}
                    UNION ALL SELECT v FROM {prev})
                GROUP BY node HAVING count(*) >= 2),
            e{r} AS MATERIALIZED (
                SELECT u, v FROM {prev}
                WHERE u IN (SELECT node FROM k{r})
                  AND v IN (SELECT node FROM k{r}))""")
            prev = f"e{r}"
        return linked + f""",
            e0 AS MATERIALIZED (
                SELECT DISTINCT least(subj_id, obj_id) AS u,
                                greatest(subj_id, obj_id) AS v
                FROM linked
                WHERE subj_id <> obj_id
                  AND subj_id IS NOT NULL AND obj_id IS NOT NULL),
            {",".join(rounds)}
            SELECT node, count(*)::BIGINT AS core_degree FROM (
                SELECT u AS node FROM {prev}
                UNION ALL SELECT v FROM {prev})
            GROUP BY node HAVING count(*) >= 2
            ORDER BY node
        """
    if kind in ("mention_consolidation", "er_metrics"):
        # kg/consolidate.py consolidate_mentions over the planted
        # 'proj <obj>' mention stream (+ one-char truncations for
        # odd-md5 conversations). Deliberately BLOCKING-FREE: pairs come
        # from exhaustive levenshtein over the fixture vocabulary (so the
        # Spark side's FastSS recall is itself under test), components
        # from min-label propagation unrolled 6 rounds (cluster graphs
        # are stars/short chains; parity fails loudly if 6 ever falls
        # short). MATERIALIZED throughout — each round references the
        # previous one three times. The er_metrics kind shares the whole
        # chain and scores the minted clustering against the planted
        # gold (each surface's base mention) with the same
        # size-census-only pairwise arithmetic as kg/er_eval.py.
        lpa = []
        prev = "l0"
        for r in range(1, 7):
            lpa.append(f"""
            l{r} AS MATERIALIZED (
                SELECT s, least(lab, coalesce(nb, lab)) AS lab FROM (
                    SELECT n.s, n.lab, min(m.lab) AS nb
                    FROM {prev} n
                    LEFT JOIN sym e ON n.s = e.x
                    LEFT JOIN {prev} m ON e.y = m.s
                    GROUP BY n.s, n.lab))""")
            prev = f"l{r}"
        cons = linked + f""",
            ments AS (
                SELECT 'mention:proj ' || lower(obj) AS id,
                       'mention:proj ' || lower(obj) AS base FROM linked
                UNION ALL
                SELECT substr('mention:proj ' || lower(obj), 1,
                              length('mention:proj ' || lower(obj)) - 1),
                       'mention:proj ' || lower(obj)
                FROM linked
                WHERE ('0x' || substr(md5(conv_id), 1, 1))::INT % 2 = 1),
            sup AS MATERIALIZED (
                SELECT id, count(*)::BIGINT AS support,
                       substr(id, 9) AS surface
                FROM ments GROUP BY id),
            pairs AS MATERIALIZED (
                SELECT a.surface AS sa, b.surface AS sb
                FROM sup a JOIN sup b ON a.surface < b.surface
                WHERE levenshtein(a.surface, b.surface) <= 1
                  AND length(a.surface) BETWEEN 3 AND 64
                  AND length(b.surface) BETWEEN 3 AND 64),
            sym AS MATERIALIZED (
                SELECT sa AS x, sb AS y FROM pairs
                UNION ALL SELECT sb, sa FROM pairs),
            l0 AS MATERIALIZED (
                SELECT DISTINCT x AS s, x AS lab FROM sym),
            {",".join(lpa)},
            clustered AS MATERIALIZED (
                SELECT p.id, p.support, p.surface, c.lab AS component
                FROM sup p JOIN {prev} c ON p.surface = c.s),
            stats AS MATERIALIZED (
                SELECT component, count(*)::BIGINT AS n_members,
                       sum(support)::BIGINT AS cluster_support,
                       (list(surface ORDER BY support DESC, surface ASC))[1]
                           AS display
                FROM clustered GROUP BY component)"""
        if kind == "mention_consolidation":
            return cons + """
            SELECT c.id AS mention_id,
                   'entity:' || substr(md5(c.component), 1, 16) AS new_id,
                   s.display, s.n_members, s.cluster_support
            FROM clustered c JOIN stats s USING (component)
            WHERE s.n_members >= 2
            ORDER BY mention_id
        """
        return cons + """,
            gold AS (SELECT id AS node, min(base) AS gc
                     FROM ments GROUP BY id),
            pred AS (SELECT c.id AS node,
                            'entity:' || substr(md5(c.component), 1, 16)
                                AS pc
                     FROM clustered c JOIN stats s USING (component)
                     WHERE s.n_members >= 2),
            assigned AS MATERIALIZED (
                SELECT g.node, coalesce(p.pc, 'sing:' || g.node) AS pc,
                       g.gc
                FROM gold g LEFT JOIN pred p USING (node)),
            pp AS (SELECT coalesce(sum((n * (n - 1)) // 2), 0)::BIGINT
                          AS pred_pairs
                   FROM (SELECT count(*)::BIGINT AS n FROM assigned
                         GROUP BY pc)),
            gp AS (SELECT coalesce(sum((n * (n - 1)) // 2), 0)::BIGINT
                          AS gold_pairs
                   FROM (SELECT count(*)::BIGINT AS n FROM assigned
                         GROUP BY gc)),
            ap AS (SELECT coalesce(sum((n * (n - 1)) // 2), 0)::BIGINT
                          AS agree_pairs
                   FROM (SELECT count(*)::BIGINT AS n FROM assigned
                         GROUP BY pc, gc)),
            census AS (SELECT count(*)::BIGINT AS n_nodes,
                              count(DISTINCT pc)::BIGINT
                                  AS n_pred_clusters,
                              count(DISTINCT gc)::BIGINT
                                  AS n_gold_clusters
                       FROM assigned),
            pr AS (SELECT *,
                          CASE WHEN pred_pairs > 0
                               THEN (1000000 * agree_pairs) // pred_pairs
                               ELSE 1000000 END::BIGINT
                              AS precision_micro,
                          CASE WHEN gold_pairs > 0
                               THEN (1000000 * agree_pairs) // gold_pairs
                               ELSE 1000000 END::BIGINT
                              AS recall_micro
                   FROM census, pp, gp, ap)
            SELECT *,
                   CASE WHEN precision_micro + recall_micro > 0
                        THEN (2 * precision_micro * recall_micro)
                             // (precision_micro + recall_micro)
                        ELSE 0 END::BIGINT AS f1_micro
            FROM pr
        """
    if kind in ("fact_intervals", "facts_asof"):
        # kg/temporal_facts.py: occurrence agg -> per-(subj,pred) lead
        # window for functional supersession; facts_asof filters to the
        # (min+max) DIV 2 midpoint snapshot
        body = linked + f""",
            ts_map AS (
                SELECT conv_id, turn_idx,
                       CAST(floor(date_part('epoch', ts)) AS BIGINT)
                           AS epoch
                FROM read_parquet('{tp}')),
            occ AS (
                SELECT l.subj_id, l.pred, l.obj_id, m.epoch
                FROM linked l JOIN ts_map m USING (conv_id, turn_idx)),
            facts AS (
                SELECT subj_id, pred, obj_id,
                       min(epoch) AS first_seen,
                       max(epoch) AS last_seen,
                       count(*)::BIGINT AS n_support
                FROM occ GROUP BY subj_id, pred, obj_id),
            iv AS (
                SELECT subj_id, pred, obj_id, first_seen, last_seen,
                       n_support, first_seen AS valid_from,
                       CASE WHEN pred IN ('works_at', 'located_in')
                            THEN lead(first_seen) OVER (
                                PARTITION BY subj_id, pred
                                ORDER BY first_seen, obj_id)
                            ELSE NULL END AS valid_to
                FROM facts)"""
        if kind == "fact_intervals":
            return body + """
            SELECT *, valid_to IS NULL AS is_current FROM iv
            ORDER BY subj_id, pred, obj_id
        """
        return body + """,
            mid AS (SELECT (min(epoch) + max(epoch)) // 2 AS m FROM occ)
            SELECT iv.*, valid_to IS NULL AS is_current
            FROM iv, mid
            WHERE iv.valid_from <= mid.m
              AND (iv.valid_to IS NULL OR iv.valid_to > mid.m)
            ORDER BY subj_id, pred, obj_id
        """
    if kind == "chain_alt":
        # kg/query.py property_path(['works_at','located_in'], 2):
        # 1/2-hop chains over the union edge set, min(hops) per pair
        return linked + """,
            e AS (SELECT DISTINCT subj_id AS s, obj_id AS d FROM linked
                  WHERE pred IN ('works_at', 'located_in')
                    AND subj_id IS NOT NULL AND obj_id IS NOT NULL),
            p1 AS (SELECT s, d, 1 AS hops FROM e),
            p2 AS (SELECT a.s, b.d, 2 AS hops
                   FROM e a JOIN e b ON a.d = b.s)
            SELECT s AS src, d AS dst, min(hops)::BIGINT AS hops
            FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
            GROUP BY s, d
            ORDER BY src, dst
        """
    if kind == "pred_canon":
        # kg/ontology.py canonicalize_predicates over the md5-parity
        # aliased predicates: distinct (pred, subj, obj) pair sets,
        # exact-integer Jaccard, edges at >= 0.5, then min-label
        # propagation unrolled 4 rounds (component diameter here is 1;
        # 4 rounds cover diameter 4) — component min == the Spark side's
        # connected-components canonical label
        prop = ""
        for r in range(1, 5):
            prop += f""",
            lab{r} AS (
                SELECT l.node,
                       least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
                FROM lab{r - 1} l
                LEFT JOIN psym s ON l.node = s.x
                LEFT JOIN lab{r - 1} n ON s.y = n.node
                GROUP BY l.node, l.lbl)"""
        return linked + f""",
            aliased AS (
                SELECT CASE WHEN ('0x' || substr(md5(conv_id), 1, 1))::INT
                                 % 2 = 1
                            THEN pred || '_alt' ELSE pred END AS pred,
                       subj_id, obj_id
                FROM linked),
            ppairs AS (SELECT DISTINCT pred, subj_id, obj_id FROM aliased),
            psizes AS (SELECT pred, count(*) AS n FROM ppairs GROUP BY pred),
            pco AS (
                SELECT a.pred AS pa, b.pred AS pb, count(*) AS c
                FROM ppairs a JOIN ppairs b
                  ON a.subj_id = b.subj_id AND a.obj_id = b.obj_id
                 AND a.pred < b.pred
                GROUP BY 1, 2),
            pedges AS (
                SELECT pa, pb
                FROM pco
                JOIN psizes sa ON sa.pred = pa
                JOIN psizes sb ON sb.pred = pb
                WHERE (1000000 * c) // (sa.n + sb.n - c) >= 500000),
            psym AS (SELECT pa AS x, pb AS y FROM pedges
                     UNION ALL SELECT pb, pa FROM pedges),
            lab0 AS (SELECT pred AS node, pred AS lbl FROM psizes){prop}
            SELECT l.node AS pred, l.lbl AS canonical_pred,
                   count(*) OVER (PARTITION BY l.lbl) AS n_members,
                   s.n AS n_pairs
            FROM lab4 l JOIN psizes s ON s.pred = l.node
            ORDER BY pred
        """
    if kind == "entity_types":
        # kg/typing.py infer_entity_types: domain/range votes from the
        # signature map, majority per entity, ties to smallest type
        sig = " UNION ALL ".join(
            f"SELECT '{p}' AS pred, '{d}' AS domain_type, "
            f"'{r}' AS range_type"
            for p, d, r in [
                ("works_at", "person", "org"),
                ("reports_to", "person", "person"),
                ("located_in", "org", "place"),
                ("uses_tool", "person", "tool"),
                ("created", "person", "artifact"),
            ]
        )
        return linked + f""",
            sig AS ({sig}),
            votes AS (
                SELECT entity, etype, count(*) AS c
                FROM (
                    SELECT l.subj_id AS entity, s.domain_type AS etype
                    FROM linked l JOIN sig s ON l.pred = s.pred
                    UNION ALL
                    SELECT l.obj_id, s.range_type
                    FROM linked l JOIN sig s ON l.pred = s.pred)
                WHERE entity IS NOT NULL
                GROUP BY entity, etype),
            ranked AS (
                SELECT entity, etype, c,
                       row_number() OVER (PARTITION BY entity
                           ORDER BY c DESC, etype ASC) AS rn,
                       (sum(c) OVER (PARTITION BY entity))::BIGINT
                           AS n_total,
                       count(*) OVER (PARTITION BY entity) AS n_types
                FROM votes)
            SELECT entity, etype AS entity_type, c AS n_votes,
                   n_total, n_types
            FROM ranked WHERE rn = 1
            ORDER BY entity
        """
    if kind == "type_violations":
        # kg/typing.py type_violations over the hash-swapped corpus:
        # same signature map, induced types from the corrupted corpus,
        # per-distinct-triple domain/range re-check
        sig = " UNION ALL ".join(
            f"SELECT '{p}' AS pred, '{d}' AS domain_type, "
            f"'{r}' AS range_type"
            for p, d, r in [
                ("works_at", "person", "org"),
                ("reports_to", "person", "person"),
                ("located_in", "org", "place"),
                ("uses_tool", "person", "tool"),
                ("created", "person", "artifact"),
            ]
        )
        return linked + f""",
            sigt AS ({sig}),
            corrupted AS (
                SELECT subj_id, pred, obj_id FROM linked
                UNION ALL
                SELECT obj_id, pred, subj_id FROM linked
                WHERE substr(md5(conv_id), 1, 1) = '0'),
            votes AS (
                SELECT entity, etype, count(*) AS c
                FROM (
                    SELECT l.subj_id AS entity, s.domain_type AS etype
                    FROM corrupted l JOIN sigt s ON l.pred = s.pred
                    UNION ALL
                    SELECT l.obj_id, s.range_type
                    FROM corrupted l JOIN sigt s ON l.pred = s.pred)
                WHERE entity IS NOT NULL
                GROUP BY entity, etype),
            etypes AS (
                SELECT entity, etype AS entity_type FROM (
                    SELECT entity, etype,
                           row_number() OVER (PARTITION BY entity
                               ORDER BY c DESC, etype ASC) AS rn
                    FROM votes)
                WHERE rn = 1),
            t AS (SELECT DISTINCT subj_id AS subj, pred, obj_id AS obj
                  FROM corrupted),
            j AS (
                SELECT t.subj, t.pred, t.obj,
                       st.entity_type AS subj_type,
                       ot.entity_type AS obj_type,
                       (st.entity_type IS NOT NULL
                        AND st.entity_type <> s.domain_type) AS dom_bad,
                       (ot.entity_type IS NOT NULL
                        AND ot.entity_type <> s.range_type) AS rng_bad
                FROM t
                JOIN sigt s ON t.pred = s.pred
                LEFT JOIN etypes st ON t.subj = st.entity
                LEFT JOIN etypes ot ON t.obj = ot.entity)
            SELECT subj, pred, obj, subj_type, obj_type,
                   CASE WHEN dom_bad AND rng_bad THEN 'both'
                        WHEN dom_bad THEN 'domain'
                        ELSE 'range' END AS violation
            FROM j WHERE dom_bad OR rng_bad
            ORDER BY subj, pred, obj, violation
        """
    if kind == "reports_chain":
        # kg/query.py property_path('reports_to', max_hops=3): enumerate
        # all 1/2/3-hop chains, min(hops) per (src, dst) pair
        return linked + """,
            e AS (SELECT DISTINCT subj_id AS s, obj_id AS d FROM linked
                  WHERE pred = 'reports_to'
                    AND subj_id IS NOT NULL AND obj_id IS NOT NULL),
            p1 AS (SELECT s, d, 1 AS hops FROM e),
            p2 AS (SELECT a.s, b.d, 2 AS hops
                   FROM e a JOIN e b ON a.d = b.s),
            p3 AS (SELECT a.s, c.d, 3 AS hops
                   FROM e a JOIN e b ON a.d = b.s JOIN e c ON b.d = c.s)
            SELECT s AS src, d AS dst, min(hops)::BIGINT AS hops
            FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
                  UNION ALL SELECT * FROM p3)
            GROUP BY s, d
            ORDER BY src, dst
        """
    if kind == "pattern_optional":
        # kg/query.py match_pattern with OPTIONAL + NOT EXISTS over the
        # md5-parity-thinned corpus
        return linked + """,
            thin AS (
                SELECT * FROM linked
                WHERE NOT (pred = 'reports_to'
                           AND ('0x' || substr(md5(subj_id), 1, 1))::INT
                               % 2 = 0)
                  AND NOT (pred = 'created'
                           AND ('0x' || substr(md5(subj_id), 1, 1))::INT
                               % 2 = 1)),
            w AS (SELECT DISTINCT subj_id AS x, obj_id AS org FROM thin
                  WHERE pred = 'works_at'),
            r AS (SELECT DISTINCT subj_id AS x, obj_id AS mgr FROM thin
                  WHERE pred = 'reports_to'),
            c AS (SELECT DISTINCT subj_id AS x FROM thin
                  WHERE pred = 'created')
            SELECT DISTINCT w.x AS x, w.org AS org, r.mgr AS mgr
            FROM w LEFT JOIN r ON w.x = r.x
            WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.x = w.x)
            ORDER BY w.x, w.org, r.mgr
        """
    if kind == "functional_resolution":
        # kg/quality.py resolve_functional: support + last-seen per
        # asserted object, evidential-strength ranking within each
        # (subj, pred) group of a functional predicate
        return linked + """,
            per_obj AS (
                SELECT subj_id AS subj, pred, obj_id AS obj,
                       count(*) AS n_support,
                       max(conv_id || '#'
                           || lpad(turn_idx::VARCHAR, 6, '0')) AS last_seen
                FROM linked
                WHERE pred IN ('works_at', 'reports_to', 'located_in')
                GROUP BY 1, 2, 3)
            SELECT subj, pred, obj, n_support, last_seen, "rank",
                   CASE WHEN "rank" = 1 THEN 'current'
                        ELSE 'superseded' END AS status
            FROM (SELECT *,
                         row_number() OVER (
                             PARTITION BY subj, pred
                             ORDER BY n_support DESC, last_seen DESC,
                                      obj ASC) AS "rank"
                  FROM per_obj)
            ORDER BY subj, pred, "rank"
        """
    if kind == "provenance":
        # kg/analytics.py triple_provenance: one aggregation over the
        # linked triples; first_seen's zero-padded turn index makes the
        # lexicographic min a deterministic (conv, turn) pointer
        return linked + """
            SELECT subj_id, pred, obj_id,
                   count(*) AS n_support,
                   count(DISTINCT conv_id) AS n_convs,
                   count(DISTINCT (subj || '|' || obj)) AS n_surfaces,
                   min(conv_id || '#' || lpad(turn_idx::VARCHAR, 6, '0'))
                       AS first_seen
            FROM linked
            GROUP BY subj_id, pred, obj_id
            ORDER BY subj_id, pred, obj_id
        """
    if kind == "cooccur":
        # kg/analytics.py entity_cooccurrence: conversation-level distinct
        # entity sets, unordered pairs, exact-BIGINT lift micro-units —
        # the same (1e6 * N * c_ab) div (c_a * c_b) integer arithmetic
        return linked + """,
            ents AS (
                SELECT DISTINCT conv_id, e
                FROM (SELECT conv_id, unnest([subj_id, obj_id]) AS e
                      FROM linked)),
            ca AS (SELECT e, count(*) AS c FROM ents GROUP BY e),
            ntab AS (SELECT count(DISTINCT conv_id) AS n FROM ents),
            cab AS (
                SELECT a.e AS entity_a, b.e AS entity_b,
                       count(*) AS n_cooccur
                FROM ents a JOIN ents b
                  ON a.conv_id = b.conv_id AND a.e < b.e
                GROUP BY a.e, b.e)
            SELECT entity_a, entity_b, n_cooccur,
                   ca1.c AS n_a, ca2.c AS n_b,
                   CAST((1000000 * ntab.n * n_cooccur)
                        // (ca1.c * ca2.c) AS BIGINT) AS lift_micro
            FROM cab
            JOIN ca ca1 ON cab.entity_a = ca1.e
            JOIN ca ca2 ON cab.entity_b = ca2.e
            CROSS JOIN ntab
            ORDER BY entity_a, entity_b
        """
    if kind == "hourly":
        # streaming/stream.py hourly_triple_counts in APPEND mode: the
        # parquet sink holds exactly the windows the final watermark
        # (max event time - 2h) closed — the WHERE below re-derives the
        # eviction boundary, so the oracle pins the late-data semantics
        return base + f""",
            ts_map AS (SELECT conv_id, turn_idx, ts FROM read_parquet('{tp}')),
            t AS (SELECT c.pred, m.ts
                  FROM cleaned c JOIN ts_map m USING (conv_id, turn_idx)),
            wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w
                   FROM read_parquet('{tp}'))
            SELECT CAST(floor(date_part('epoch', date_trunc('hour', ts)))
                       AS BIGINT) AS win_start,
                   CAST(floor(date_part('epoch',
                            date_trunc('hour', ts) + INTERVAL 1 HOUR))
                       AS BIGINT) AS win_end,
                   pred, count(*) AS n_triples
            FROM t CROSS JOIN wm
            WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
            GROUP BY 1, 2, pred
            ORDER BY win_start, pred
        """
    if kind == "timeline":
        # kg/trajectory.py entity_timeline: triples join their source
        # turns on (conv_id, turn_idx) for epoch seconds, one agg per
        # entity endpoint
        return linked + f""",
            ts_map AS (
                SELECT conv_id, turn_idx,
                       CAST(floor(date_part('epoch', ts)) AS BIGINT) AS epoch
                FROM read_parquet('{tp}')),
            ents AS (
                SELECT l.conv_id, e, m.epoch
                FROM (SELECT conv_id, turn_idx,
                             unnest([subj_id, obj_id]) AS e
                      FROM linked) l
                JOIN ts_map m USING (conv_id, turn_idx))
            SELECT e AS entity, count(*) AS n_mentions,
                   count(DISTINCT conv_id) AS n_convs,
                   min(epoch) AS first_ts, max(epoch) AS last_ts,
                   max(epoch) - min(epoch) AS span_sec
            FROM ents GROUP BY e ORDER BY entity
        """
    if kind == "walks":
        # kg/walks.py random_walks: 4 unrolled hops, next = arg_min
        # neighbor by md5(cur '>' nxt '#s|seed') over the symmetrized
        # simple graph
        length, seed = 4, "walk"
        sql = """,
            und AS (
                SELECT DISTINCT least(subj_id, obj_id) AS a,
                       greatest(subj_id, obj_id) AS b
                FROM linked WHERE subj_id <> obj_id),
            sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
            w0 AS (SELECT DISTINCT a AS walk_id, a AS cur, a AS path
                   FROM sym)"""
        prev = "w0"
        for s in range(1, length + 1):
            sql += f""",
            w{s} AS (
                SELECT walk_id,
                       arg_min(s.b, md5(w.cur || '>' || s.b
                                        || '#{s}|{seed}')) AS cur,
                       w.path || '>' || arg_min(s.b, md5(w.cur || '>' || s.b
                                        || '#{s}|{seed}')) AS path
                FROM {prev} w JOIN sym s ON w.cur = s.a
                GROUP BY walk_id, w.cur, w.path)"""
            prev = f"w{s}"
        return linked + sql + f"""
            SELECT walk_id, path, cur AS end_node
            FROM {prev} ORDER BY walk_id
        """
    if kind == "communities":
        # kg/communities.py label_propagation: 4 unrolled synchronous LPA
        # rounds — undirected simple graph, most-frequent neighbor label,
        # ties to the smallest label — then community sizes by window
        iters = 4
        # node set from the ORIGINAL edge list (self-loop-only nodes keep
        # their own label as singleton communities — they have no
        # neighbors to vote, so each round's LEFT join preserves them)
        lpa = """,
            und AS (
                SELECT DISTINCT least(subj_id, obj_id) AS a,
                       greatest(subj_id, obj_id) AS b
                FROM linked WHERE subj_id <> obj_id),
            sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
            lab0 AS (
                SELECT node, node AS lbl FROM (
                    SELECT DISTINCT subj_id AS node FROM linked
                    UNION
                    SELECT DISTINCT obj_id FROM linked))"""
        for r in range(1, iters + 1):
            lpa += f""",
            lab{r} AS (
                SELECT p.node, coalesce(v.lbl, p.lbl) AS lbl
                FROM lab{r - 1} p LEFT JOIN (
                    SELECT node, lbl FROM (
                        SELECT node, lbl, row_number() OVER (
                                   PARTITION BY node
                                   ORDER BY c DESC, lbl ASC) AS rn
                        FROM (SELECT s.a AS node, l.lbl, count(*) AS c
                              FROM sym s JOIN lab{r - 1} l ON s.b = l.node
                              GROUP BY s.a, l.lbl))
                    WHERE rn = 1) v ON p.node = v.node)"""
        return linked + lpa + f"""
            SELECT node, lbl AS community,
                   count(*) OVER (PARTITION BY lbl) AS n_members
            FROM lab{iters} ORDER BY node
        """
    if kind == "linked_embedding":
        # embedding-blocked residue resolution (resolve_mention_residue):
        # distinct 'mention:*' surfaces -> trigram-md5 embeddings -> sign-LSH
        # bucket blocking (Hamming <= radius == the probe-mask expansion) ->
        # per-surface (score desc, canonical_id asc) argmax at threshold
        dim, n_planes, probe_radius, threshold = 64, 8, 2, 0.5
        from delm_spark.operators.similarity import hyperplane_signs

        planes = " UNION ALL ".join(
            f"SELECT {p} AS p, [{', '.join(str(s) for s in hyperplane_signs(dim, p))}]::DOUBLE[] AS h"
            for p in range(n_planes)
        )
        emb = """
        list_transform(generate_series(0, {dim_m1}), b ->
            CAST(len(list_filter(
                list_transform(
                    generate_series(1, greatest(len('^' || lower(trim(regexp_replace({col}, '\\s+', ' ', 'g'))) || '$') - 2, 1)),
                    i -> substr('^' || lower(trim(regexp_replace({col}, '\\s+', ' ', 'g'))) || '$', i, 3)),
                t -> ('0x' || substr(md5(t), 1, 4))::BIGINT % {dim} = b)) AS DOUBLE))
        """
        m_emb = emb.format(col="m.surface", dim=dim, dim_m1=dim - 1)
        d_emb = emb.format(col="d.surface", dim=dim, dim_m1=dim - 1)
        return linked + f""",
            mres AS (
                SELECT DISTINCT substr(subj_id, 9) AS surface FROM linked
                WHERE subj_id LIKE 'mention:%'
                UNION
                SELECT DISTINCT substr(obj_id, 9) FROM linked
                WHERE obj_id LIKE 'mention:%'),
            d0 AS (SELECT surface, min(canonical_id) AS canonical_id
                   FROM dict GROUP BY surface),
            de AS (SELECT d.surface, canonical_id, {d_emb} AS e FROM d0 d),
            me AS (SELECT m.surface, {m_emb} AS e FROM mres m),
            planes AS ({planes}),
            dbits AS (
                SELECT surface, SUM(CASE WHEN list_sum(list_transform(
                    generate_series(1, {dim}), i -> e[i] * h[i])) >= 0
                    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)::BIGINT AS bkt
                FROM de CROSS JOIN planes GROUP BY surface),
            mbits AS (
                SELECT surface, SUM(CASE WHEN list_sum(list_transform(
                    generate_series(1, {dim}), i -> e[i] * h[i])) >= 0
                    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)::BIGINT AS bkt
                FROM me CROSS JOIN planes GROUP BY surface),
            ecand AS (
                SELECT m.surface, d.canonical_id,
                       list_sum(list_transform(generate_series(1, {dim}),
                                               i -> m.e[i] * d.e[i]))
                       / greatest(
                           sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                        i -> m.e[i] * m.e[i])))
                         * sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                        i -> d.e[i] * d.e[i]))),
                           1e-12) AS score
                FROM me m JOIN mbits mb ON m.surface = mb.surface
                JOIN dbits db ON bit_count(xor(mb.bkt, db.bkt)) <= {probe_radius}
                JOIN de d ON d.surface = db.surface),
            elink AS (
                SELECT surface, canonical_id FROM (
                    SELECT surface, canonical_id, score,
                           row_number() OVER (PARTITION BY surface
                               ORDER BY score DESC, canonical_id ASC) AS rn
                    FROM ecand)
                WHERE rn = 1 AND score >= {threshold})
            SELECT l.conv_id, l.turn_idx, l.chunk_pos, l.item_pos,
                   l.subj, l.pred, l.obj,
                   coalesce(es.canonical_id, l.subj_id) AS subj_id,
                   coalesce(eo.canonical_id, l.obj_id) AS obj_id
            FROM linked l
            LEFT JOIN elink es ON l.subj_id = 'mention:' || es.surface
            LEFT JOIN elink eo ON l.obj_id = 'mention:' || eo.surface
            ORDER BY conv_id, turn_idx, chunk_pos, item_pos
        """
    if kind == "nodes":
        return linked + """,
            ids AS (SELECT subj_id AS entity_id FROM linked
                    UNION SELECT obj_id FROM linked),
            cmap AS (SELECT canonical_id AS node, canonical_id FROM dict
                     UNION SELECT 'mention:' || surface, canonical_id FROM dict)
            SELECT i.entity_id,
                   coalesce(c.canonical_id, i.entity_id) AS canonical_id
            FROM ids i LEFT JOIN cmap c ON i.entity_id = c.node
            ORDER BY entity_id
        """
    if kind == "degree":
        return linked + """,
            endpoints AS (
                SELECT subj_id AS node FROM linked
                UNION ALL
                SELECT obj_id FROM linked),
            deg AS (SELECT node, count(*) AS degree FROM endpoints GROUP BY node)
            SELECT degree, count(*) AS n_nodes
            FROM deg GROUP BY degree ORDER BY degree
        """
    if kind == "consistency":
        return linked + """,
            checks AS (
                SELECT 'self_loop' AS check_name,
                       COUNT(*) FILTER (WHERE subj_id = obj_id)::BIGINT
                           AS n_violations
                FROM linked
                UNION ALL
                SELECT 'duplicate_triple', coalesce(SUM(extra), 0)::BIGINT FROM (
                    SELECT COUNT(*) - 1 AS extra FROM linked
                    GROUP BY subj_id, pred, obj_id)
                UNION ALL
                SELECT 'unresolved_subj',
                       COUNT(*) FILTER (WHERE subj_id LIKE 'mention:%')::BIGINT
                FROM linked
                UNION ALL
                SELECT 'unresolved_obj',
                       COUNT(*) FILTER (WHERE obj_id LIKE 'mention:%')::BIGINT
                FROM linked
                UNION ALL
                SELECT 'functional_violation', coalesce(SUM(excess), 0)::BIGINT
                FROM (
                    SELECT greatest(COUNT(DISTINCT obj_id) - 1, 0) AS excess
                    FROM linked
                    WHERE pred IN ('works_at', 'reports_to', 'located_in')
                    GROUP BY pred, subj_id)
                UNION ALL
                SELECT 'null_endpoint',
                       COUNT(*) FILTER (WHERE subj_id IS NULL
                                           OR obj_id IS NULL)::BIGINT
                FROM linked)
            SELECT check_name, n_violations FROM checks ORDER BY check_name
        """
    if kind == "two_hop":
        return linked + f""",
            und AS (
                SELECT subj_id AS a, obj_id AS b FROM linked
                UNION
                SELECT obj_id, subj_id FROM linked),
            seeds AS (
                SELECT node FROM (
                    SELECT DISTINCT canonical_id AS node
                    FROM read_parquet('{dp}'))
                ORDER BY node LIMIT 3),
            h1 AS (
                SELECT DISTINCT b AS node
                FROM und JOIN seeds ON und.a = seeds.node
                WHERE b NOT IN (SELECT node FROM seeds)),
            h2 AS (
                SELECT DISTINCT b AS node
                FROM und JOIN h1 ON und.a = h1.node
                WHERE b NOT IN (SELECT node FROM seeds)
                  AND b NOT IN (SELECT node FROM h1))
            SELECT node, 0 AS hops FROM seeds
            UNION ALL SELECT node, 1 FROM h1
            UNION ALL SELECT node, 2 FROM h2
            ORDER BY hops, node
        """
    raise ValueError(kind)


def _rn_graph_sql(n: int) -> str:
    """Shared CTE prefix of the synthetic-graph oracles: dense-rank node
    ids 0..n-1 over the n smallest orderkeys (mirrors _rn_graph_base)."""
    return f"""
            WITH base AS (
                SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT {n}),
            rn AS (
                SELECT CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS rn
                FROM base)"""


def _pagerank_oracle_sql(n: int, iters: int, damping: float) -> str:
    """Unrolled power-iteration replica of kg/graph.py pagerank over the
    chain+hub synthetic graph: per iteration, contributions reduce over
    in-edges, dangling mass (block tails have no out-edges) redistributes
    uniformly; identical FP formula to the Spark side, output scaled by N
    and rounded to 4dp."""
    teleport = repr((1.0 - damping) / n)
    it, prev = "", "r0"
    for i in range(1, iters + 1):
        it += f""",
            c{i} AS (
                SELECT e.v AS node, sum(r.rank / e.outdeg) AS c
                FROM edeg e JOIN {prev} r ON e.u = r.node GROUP BY e.v),
            d{i} AS (
                SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
                WHERE node NOT IN (SELECT u FROM outdeg)),
            r{i} AS (
                SELECT nd.node,
                       {teleport} + {damping!r} * (coalesce(c{i}.c, 0) + d{i}.dm / {n}) AS rank
                FROM nodes nd
                LEFT JOIN c{i} ON nd.node = c{i}.node
                CROSS JOIN d{i})"""
        prev = f"r{i}"
    return (
        _rn_graph_sql(n)
        + f""",
            edges AS (
                SELECT rn AS u, rn + 1 AS v FROM rn WHERE rn % 64 <> 63
                UNION ALL
                SELECT rn, rn - rn % 64 FROM rn WHERE rn % 64 BETWEEN 1 AND 62),
            nodes AS (
                SELECT DISTINCT u AS node FROM edges
                UNION
                SELECT DISTINCT v FROM edges),
            outdeg AS (
                SELECT u, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY u),
            edeg AS (SELECT e.u, e.v, o.outdeg FROM edges e JOIN outdeg o ON e.u = o.u),
            r0 AS (SELECT node, 1.0 / {n} AS rank FROM nodes){it}
            SELECT node, round(rank * {n}, 4)::DOUBLE AS rank_scaled
            FROM {prev} ORDER BY node
        """
    )


def _ppr_oracle_sql(n: int, iters: int, damping: float) -> str:
    """Unrolled personalized-PageRank replica (kg/graph.py
    personalized_pagerank) over the chain+hub synthetic graph with the
    block-head seed set: teleport AND dangling mass go to the seed
    vector p (1/|S| on seeds, 0 elsewhere); identical FP formula to the
    Spark side, output scaled by N and rounded to 4dp."""
    it, prev = "", "r0"
    for i in range(1, iters + 1):
        it += f""",
            c{i} AS (
                SELECT e.v AS node, sum(r.rank / e.outdeg) AS c
                FROM edeg e JOIN {prev} r ON e.u = r.node GROUP BY e.v),
            d{i} AS (
                SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
                WHERE node NOT IN (SELECT u FROM outdeg)),
            r{i} AS (
                SELECT t.node,
                       {(1.0 - damping)!r} * t.tele
                       + {damping!r} * (coalesce(c{i}.c, 0)
                                        + d{i}.dm * t.tele) AS rank
                FROM tele t
                LEFT JOIN c{i} ON t.node = c{i}.node
                CROSS JOIN d{i})"""
        prev = f"r{i}"
    return (
        _rn_graph_sql(n)
        + f""",
            edges AS (
                SELECT rn AS u, rn + 1 AS v FROM rn WHERE rn % 64 <> 63
                UNION ALL
                SELECT rn, rn - rn % 64 FROM rn WHERE rn % 64 BETWEEN 1 AND 62),
            nodes AS (
                SELECT DISTINCT u AS node FROM edges
                UNION
                SELECT DISTINCT v FROM edges),
            seeds AS (SELECT node FROM nodes WHERE node % 64 = 0),
            tele AS (
                SELECT node,
                       CASE WHEN node % 64 = 0
                            THEN 1.0 / (SELECT count(*) FROM seeds)
                            ELSE 0.0 END AS tele
                FROM nodes),
            outdeg AS (
                SELECT u, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY u),
            edeg AS (SELECT e.u, e.v, o.outdeg FROM edges e JOIN outdeg o ON e.u = o.u),
            r0 AS (SELECT node, tele AS rank FROM tele){it}
            SELECT node, round(rank * {n}, 4)::DOUBLE AS rank_scaled
            FROM {prev} ORDER BY node
        """
    )


def _triangle_oracle_sql(n: int) -> str:
    """Triangle counts per 64-block over the chain+skip synthetic graph:
    canonical u<v edge set, then the a<b<c three-way self-join — an
    implementation-independent enumeration the degree-ordered Spark
    operator must reproduce exactly."""
    return (
        _rn_graph_sql(n)
        + """,
            edges0 AS (
                SELECT rn AS u, rn + 1 AS v FROM rn WHERE rn % 64 <> 63
                UNION ALL
                SELECT rn, rn + 2 FROM rn WHERE rn % 64 <= 61),
            e AS (
                SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
                FROM edges0 WHERE u <> v),
            t AS (
                SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM e e1
                JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
                JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
            SELECT CAST(floor(a / 64) AS BIGINT) AS block,
                   count(*) AS n_triangles
            FROM t GROUP BY block ORDER BY block
        """
    )


def _clustering_oracle_sql(n: int) -> str:
    """Per-node clustering coefficient over the chain+skip graph: the
    implementation-independent a<b<c triangle enumeration, exploded to
    endpoints, joined to the degree table, exact-integer cc_micro."""
    return (
        _rn_graph_sql(n)
        + """,
            edges0 AS (
                SELECT rn AS u, rn + 1 AS v FROM rn WHERE rn % 64 <> 63
                UNION ALL
                SELECT rn, rn + 2 FROM rn WHERE rn % 64 <= 61),
            e AS (
                SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
                FROM edges0 WHERE u <> v),
            t AS (
                SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM e e1
                JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
                JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
            pn AS (
                SELECT node, count(*)::BIGINT AS n_triangles
                FROM (SELECT unnest([a, b, c]) AS node FROM t)
                GROUP BY node),
            deg AS (
                SELECT node, count(*)::BIGINT AS degree
                FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
                GROUP BY node)
            SELECT d.node, d.degree,
                   coalesce(pn.n_triangles, 0)::BIGINT AS n_triangles,
                   (CASE WHEN d.degree >= 2
                         THEN (2000000 * coalesce(pn.n_triangles, 0))
                              // (d.degree * (d.degree - 1))
                         ELSE 0 END)::BIGINT AS cc_micro
            FROM deg d LEFT JOIN pn USING (node) ORDER BY d.node
        """
    )


def _fuzzy_pairs_oracle_sql() -> str:
    """DuckDB replica of edit_distance_pairs(max_edits=1) over the
    dictionary surfaces + truncated-typo copies: deletion neighborhoods
    via list_transform, variant equi-join, exact levenshtein refine."""
    dp = (_FIXTURES / "dictionary.parquet").as_posix() + "/*.parquet"
    return f"""
            WITH dict AS (SELECT surface FROM read_parquet('{dp}')),
            tbl AS (
                SELECT 'o:' || surface AS id, surface AS s FROM dict
                UNION ALL
                SELECT 't:' || surface,
                       substr(surface, 1, length(surface) - 1)
                FROM dict WHERE length(surface) > 6),
            keys AS (
                SELECT id, s FROM tbl
                WHERE s IS NOT NULL AND length(s) BETWEEN 3 AND 64),
            expl AS (
                SELECT id, s,
                       unnest(list_distinct(list_prepend(s,
                           list_transform(range(0, length(s)),
                               i -> substr(s, 1, i) || substr(s, i + 2)))))
                           AS v
                FROM keys),
            cand AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                       a.s AS str_a, b.s AS str_b
                FROM expl a JOIN expl b
                  ON a.v = b.v AND a.id < b.id)
            SELECT id_a, id_b, str_a, str_b,
                   levenshtein(str_a, str_b)::BIGINT AS lev
            FROM cand WHERE levenshtein(str_a, str_b) <= 1
            ORDER BY id_a, id_b
        """


def _context_windows_oracle_sql(k: int = 3) -> str:
    """DuckDB replica of kg/trajectory.py context_windows: string_agg
    over a ROWS BETWEEN k PRECEDING AND 1 PRECEDING frame, coalesced to
    '' (Spark's concat_ws over an empty collect_list) with count(*)
    over the same frame."""
    tp = (_FIXTURES / "transcripts.parquet").as_posix() + "/*.parquet"
    return f"""
        SELECT conv_id, turn_idx, role, text,
               coalesce(
                   string_agg(role || ': ' || coalesce(text, ''), chr(10))
                       OVER w,
                   '') AS context,
               count(*) OVER w AS n_context_turns
        FROM read_parquet('{tp}')
        WINDOW w AS (PARTITION BY conv_id
                     ORDER BY turn_idx NULLS FIRST, ts NULLS FIRST,
                              role NULLS FIRST
                     ROWS BETWEEN {k} PRECEDING AND 1 PRECEDING)
        ORDER BY conv_id, turn_idx
    """


def _turn_latency_oracle_sql() -> str:
    """DuckDB replica of kg/trajectory.py turn_latency: lag of epoch
    seconds per conversation, exact-BIGINT sums/maxes, assistant-turn
    gaps isolated by role."""
    tp = (_FIXTURES / "transcripts.parquet").as_posix() + "/*.parquet"
    return f"""
        WITH lagged AS (
            SELECT conv_id,
                   epoch(ts)::BIGINT AS ep,
                   epoch(ts)::BIGINT - lag(epoch(ts)::BIGINT) OVER w
                       AS delta,
                   CASE WHEN role = 'assistant'
                        THEN epoch(ts)::BIGINT
                             - lag(epoch(ts)::BIGINT) OVER w
                        END AS asst_delta
            FROM read_parquet('{tp}')
            WINDOW w AS (PARTITION BY conv_id
                         ORDER BY turn_idx NULLS FIRST, ts NULLS FIRST,
                                  role NULLS FIRST))
        SELECT conv_id,
               count(*)::BIGINT AS n_turns,
               (max(ep) - min(ep))::BIGINT AS span_sec,
               coalesce(sum(delta), 0)::BIGINT AS sum_latency_sec,
               coalesce(max(delta), 0)::BIGINT AS max_latency_sec,
               count(asst_delta)::BIGINT AS asst_n,
               coalesce(sum(asst_delta), 0)::BIGINT AS asst_sum_latency_sec,
               coalesce(max(asst_delta), 0)::BIGINT AS asst_max_latency_sec
        FROM lagged GROUP BY conv_id ORDER BY conv_id
    """


def _integrity_oracle_sql() -> str:
    """DuckDB replica of transcript_integrity over the fixture corpus +
    the four corrupted variants the query builds (dup turn index,
    reversed timestamps, stuck role, blanked turns). NULLS FIRST matches
    Spark's ascending-null ordering in the lag window tiebreak."""
    tp = (_FIXTURES / "transcripts.parquet").as_posix() + "/*.parquet"
    return f"""
            WITH src AS (
                SELECT conv_id, turn_idx, role, text, tool, ts
                FROM read_parquet('{tp}')),
            allv AS (
                SELECT * FROM src
                UNION ALL
                SELECT 'dup:' || conv_id,
                       CASE WHEN turn_idx = 1 THEN 0 ELSE turn_idx END,
                       role, text, tool, ts FROM src
                UNION ALL
                SELECT 'rev:' || conv_id, turn_idx, role, text, tool,
                       TIMESTAMP '2024-01-01 00:00:00'
                           + (1000 - turn_idx) * INTERVAL 1 HOUR FROM src
                UNION ALL
                SELECT 'rr:' || conv_id, turn_idx, 'agent', text, tool, ts
                FROM src
                UNION ALL
                SELECT 'empty:' || conv_id, turn_idx, role,
                       CASE WHEN turn_idx % 3 = 0 THEN '' ELSE text END,
                       tool, ts FROM src),
            lagged AS (
                SELECT conv_id, turn_idx,
                       CASE WHEN ts < lag(ts) OVER w THEN 1 ELSE 0
                            END AS ts_reg,
                       CASE WHEN role = lag(role) OVER w THEN 1 ELSE 0
                            END AS role_rep,
                       CASE WHEN text IS NULL OR trim(text) = ''
                            THEN 1 ELSE 0 END AS emp,
                       CASE WHEN tool IS NOT NULL AND tool <> ''
                            THEN 1 ELSE 0 END AS tl
                FROM allv
                WINDOW w AS (PARTITION BY conv_id
                             ORDER BY turn_idx NULLS FIRST,
                                      ts NULLS FIRST, role NULLS FIRST)),
            agg AS (
                SELECT conv_id,
                       count(*)::BIGINT AS n_turns,
                       (count(*) - count(DISTINCT turn_idx))::BIGINT
                           AS n_dup_turn_idx,
                       (max(turn_idx) + 1
                        - count(DISTINCT turn_idx))::BIGINT
                           AS n_gap_turn_idx,
                       sum(ts_reg)::BIGINT AS n_ts_regressions,
                       sum(role_rep)::BIGINT AS n_role_repeats,
                       sum(emp)::BIGINT AS n_empty_text,
                       sum(tl)::BIGINT AS n_tool_turns
                FROM lagged GROUP BY conv_id)
            SELECT *,
                   CASE WHEN n_dup_turn_idx > 0 THEN 'dup_turn_idx'
                        WHEN n_gap_turn_idx > 0 THEN 'gap_turn_idx'
                        WHEN n_ts_regressions > 0 THEN 'ts_regression'
                        WHEN n_role_repeats > 0 THEN 'role_repeat'
                        WHEN n_empty_text > 0 THEN 'empty_text'
                        ELSE 'ok' END AS disposition
            FROM agg ORDER BY conv_id
        """


def _link_prediction_oracle_sql(n: int) -> str:
    """Common-neighbor / Adamic-Adar / resource-allocation scores over
    the chain+skip graph: adjacency self-join wedge enumeration, per-w
    terms quantized to integers BEFORE the sum, existing edges removed
    (kg/completion.py link_prediction_scores)."""
    return (
        _rn_graph_sql(n)
        + """,
            edges0 AS (
                SELECT rn AS u, rn + 1 AS v FROM rn WHERE rn % 64 <> 63
                UNION ALL
                SELECT rn, rn + 2 FROM rn WHERE rn % 64 <= 61),
            e AS (
                SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
                FROM edges0 WHERE u <> v),
            adj AS (
                SELECT u AS node, v AS nbr FROM e
                UNION ALL SELECT v, u FROM e),
            wterm AS (
                SELECT node,
                       floor(1e6 / ln(degree) + 0.5)::BIGINT AS aa_term,
                       (1000000 // degree)::BIGINT AS ra_term
                FROM (SELECT node, count(*)::BIGINT AS degree
                      FROM adj GROUP BY node)),
            wedges AS (
                SELECT a1.node AS node, a1.nbr AS u, a2.nbr AS v
                FROM adj a1 JOIN adj a2
                  ON a1.node = a2.node AND a1.nbr < a2.nbr),
            scored AS (
                SELECT u, v, count(*)::BIGINT AS common_neighbors,
                       sum(w.aa_term)::BIGINT AS aa_micro,
                       sum(w.ra_term)::BIGINT AS ra_micro
                FROM wedges JOIN wterm w USING (node)
                GROUP BY u, v)
            SELECT s.u, s.v, s.common_neighbors, s.aa_micro, s.ra_micro
            FROM scored s
            WHERE NOT EXISTS (SELECT 1 FROM e
                              WHERE e.u = s.u AND e.v = s.v)
            ORDER BY s.u, s.v
        """
    )


def _incremental_dedup_oracle_sql(
    k: int, bands: int, split: int, jaccard_threshold: float
) -> str:
    """DuckDB replica of minhash_index + incremental_dedup: corpus =
    doc_id < split, batch = doc_id >= split; LSH candidate probe, exact
    Jaccard re-rank, best corpus match per new doc (jaccard desc, id
    asc), left-joined back over the full batch."""
    rows = k // bands
    sig_exprs = ",\n                       ".join(
        f"list_min(list_transform(s, x -> md5('salt{i}|' || x)))" for i in range(k)
    )
    band_list = ", ".join(str(b) for b in range(bands))
    return f"""
            WITH sh AS (
                SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(w) - 2, 1)),
                    i -> array_to_string(w[i:i+2], ' '))) AS s
                FROM (SELECT doc_id, regexp_split_to_array(
                          lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
                      FROM documents)),
            sig AS (
                SELECT doc_id, [
                       {sig_exprs}] AS g
                FROM sh),
            bands AS (
                SELECT doc_id, band,
                       md5(array_to_string(g[band*{rows}+1 : band*{rows}+{rows}], '|')) AS bucket
                FROM sig CROSS JOIN (SELECT unnest([{band_list}]) AS band) t),
            cand AS (
                SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
                FROM bands c JOIN bands b
                  ON c.band = b.band AND c.bucket = b.bucket
                WHERE c.doc_id < {split} AND b.doc_id >= {split}),
            j AS (
                SELECT cand.new_id, cand.corpus_id,
                       (len(list_intersect(a.s, b.s))::DOUBLE
                        / greatest(len(list_distinct(list_concat(a.s, b.s))), 1)) AS jac
                FROM cand
                JOIN sh a ON cand.new_id = a.doc_id
                JOIN sh b ON cand.corpus_id = b.doc_id),
            best AS (
                SELECT new_id, corpus_id AS dup_of, round(jac, 6) AS jaccard
                FROM j WHERE jac >= {jaccard_threshold}
                QUALIFY row_number() OVER (PARTITION BY new_id
                                           ORDER BY jac DESC, corpus_id ASC) = 1)
            SELECT d.doc_id,
                   (best.dup_of IS NOT NULL)::INT AS is_dup,
                   best.dup_of, best.jaccard
            FROM (SELECT doc_id FROM documents WHERE doc_id >= {split}) d
            LEFT JOIN best ON d.doc_id = best.new_id
            ORDER BY d.doc_id
        """


def _curation_pipeline_oracle_sql() -> str:
    """DuckDB replica of the COMPOSED run_curation chain over the
    corpus split (doc_id % 17 != 0), assembling the proven per-stage
    fragments: sha256 exact dedup (keep min id), MinHash-LSH + exact
    Jaccard keep-first near-dup, Gopher rule flags, 8-gram decontam
    against the held-out split, and the sequential-cumsum packing over
    survivors (redaction is identity on this digit-free corpus, which
    the PII oracle pins separately)."""
    sig_exprs = ",\n                       ".join(
        f"list_min(list_transform(s, x -> md5('salt{i}|' || x)))" for i in range(16)
    )
    return f"""
            WITH corpus AS (
                SELECT doc_id, text,
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
                FROM documents WHERE doc_id % 17 <> 0),
            h AS (SELECT doc_id, text, nt, sha256(nt) AS hh FROM corpus),
            keep1 AS (SELECT hh, min(doc_id) AS keep FROM h GROUP BY hh),
            s1 AS (SELECT h.doc_id, h.text, h.nt FROM h
                   JOIN keep1 ON h.hh = keep1.hh AND h.doc_id = keep1.keep),
            w1 AS (SELECT doc_id, regexp_split_to_array(nt, ' ') AS w FROM s1),
            sh AS (SELECT doc_id, list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 2, 1)),
                       i -> array_to_string(w[i:i+2], ' '))) AS s
                   FROM w1),
            sig AS (SELECT doc_id, [
                       {sig_exprs}] AS g FROM sh),
            bands AS (SELECT doc_id, band,
                             md5(array_to_string(g[band*4+1 : band*4+4], '|')) AS bucket
                      FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) t),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM bands a JOIN bands b
                       ON a.band = b.band AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id),
            losers AS (SELECT DISTINCT cand.id_b AS doc_id
                       FROM cand
                       JOIN sh a ON cand.id_a = a.doc_id
                       JOIN sh b ON cand.id_b = b.doc_id
                       WHERE (len(list_intersect(a.s, b.s))::DOUBLE
                              / greatest(len(list_distinct(list_concat(a.s, b.s))), 1))
                             >= 0.5),
            s2 AS (SELECT s1.doc_id, s1.text, s1.nt FROM s1
                   LEFT JOIN losers USING (doc_id) WHERE losers.doc_id IS NULL),
            w2 AS (SELECT doc_id, text, regexp_split_to_array(nt, ' ') AS w FROM s2),
            lines2 AS (SELECT doc_id,
                              list_filter(list_transform(string_split(text, chr(10)),
                                                         x -> trim(x)),
                                          x -> x <> '') AS lf
                       FROM w2),
            bg2 AS (SELECT doc_id,
                           CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
                                ELSE list_transform(generate_series(1, len(w) - 1),
                                                    i -> array_to_string(w[i:i+1], ' '))
                           END AS grams
                    FROM w2),
            e2 AS (SELECT doc_id, len(grams)::INT AS n_bigrams, unnest(grams) AS g
                   FROM bg2),
            c2 AS (SELECT doc_id, n_bigrams, g, COUNT(*)::BIGINT AS cnt
                   FROM e2 GROUP BY 1, 2, 3),
            top2 AS (SELECT doc_id, n_bigrams, cnt AS top_cnt FROM c2
                     QUALIFY row_number() OVER (PARTITION BY doc_id
                                                ORDER BY cnt DESC, g ASC) = 1),
            gq AS (SELECT w2.doc_id,
                          (len(w2.w) BETWEEN 20 AND 100000
                           -- round to 6dp first: Spark's gopher flags
                           -- test the ROUNDED repetition_stats column
                           AND round(list_sum(list_transform(w2.w, x -> length(x)))::DOUBLE
                                     / greatest(len(w2.w), 1), 6) BETWEEN 2.0 AND 10.0
                           AND round(1 - len(list_distinct(l.lf))::DOUBLE
                                     / greatest(len(l.lf), 1), 6) <= 0.30
                           AND round(t.top_cnt::DOUBLE
                                     / greatest(t.n_bigrams, 1), 6) <= 0.18) AS ok
                   FROM w2 JOIN lines2 l ON w2.doc_id = l.doc_id
                   JOIN top2 t ON w2.doc_id = t.doc_id),
            s3 AS (SELECT s2.doc_id, s2.text, s2.nt FROM s2
                   JOIN gq ON s2.doc_id = gq.doc_id AND gq.ok),
            failedq AS (SELECT doc_id FROM gq WHERE NOT ok),
            tw AS (SELECT doc_id,
                          regexp_split_to_array(
                              lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                              ' ') AS w
                   FROM documents WHERE doc_id % 17 = 0),
            tg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 7, 1)),
                       i -> array_to_string(w[i:i+7], ' ')))) AS g
                   FROM tw),
            cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w3.w) - 7, 1)),
                       i -> array_to_string(w3.w[i:i+7], ' ')))) AS g
                   FROM (SELECT doc_id, regexp_split_to_array(nt, ' ') AS w
                         FROM s3) w3),
            contam AS (SELECT DISTINCT cg.doc_id FROM cg JOIN tg ON cg.g = tg.g),
            s4 AS (SELECT s3.doc_id, s3.text FROM s3
                   LEFT JOIN contam USING (doc_id) WHERE contam.doc_id IS NULL),
            tok AS (SELECT doc_id,
                           (CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                            END)::BIGINT AS n_tokens
                    FROM s4),
            packed AS (SELECT doc_id, n_tokens,
                              ((SUM(n_tokens) OVER (ORDER BY doc_id
                                                    ROWS UNBOUNDED PRECEDING)
                                - n_tokens) // 500)::BIGINT AS pack_id
                       FROM tok)
            SELECT c.doc_id,
                   CASE WHEN k1.keep IS NOT NULL AND c.doc_id <> k1.keep
                            THEN 'exact_dup'
                        WHEN lo.doc_id IS NOT NULL THEN 'near_dup'
                        WHEN fq.doc_id IS NOT NULL THEN 'quality'
                        WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                        ELSE 'kept' END AS status,
                   p.pack_id, p.n_tokens
            FROM h c
            LEFT JOIN keep1 k1 ON c.hh = k1.hh
            LEFT JOIN losers lo ON c.doc_id = lo.doc_id
            LEFT JOIN failedq fq ON c.doc_id = fq.doc_id
            LEFT JOIN contam ct ON c.doc_id = ct.doc_id
            LEFT JOIN packed p ON c.doc_id = p.doc_id
            ORDER BY c.doc_id
        """


def _bpe_oracle_sql(n_merges: int = 4) -> str:
    """DuckDB replica of operators/bpe.py bpe_learn: word counts once,
    then `n_merges` unrolled rounds of (pair count over the word table,
    1-row argmax with count-desc/left/right tie-break, double-space
    replace + gap renormalization)."""
    sql = r"""
        WITH toks0 AS (
            SELECT unnest(string_split_regex(trim(lower(
                       regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
            FROM documents),
        w0 AS (SELECT regexp_replace(w, '(.)', ' \1 ', 'g') AS rep,
                      count(*)::BIGINT AS cnt
               FROM toks0 WHERE w <> '' GROUP BY w)"""
    for r in range(1, n_merges + 1):
        sql += f""",
        pairs{r} AS (
            SELECT p['a'] AS l, p['r'] AS r, sum(cnt)::BIGINT AS pair_count
            FROM (
                SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])
                              ::STRUCT(a VARCHAR, r VARCHAR)[]) AS p, cnt
                FROM (SELECT string_split_regex(trim(rep), ' +') AS toks, cnt
                      FROM w{r - 1})
                WHERE len(toks) >= 2)
            GROUP BY 1, 2),
        best{r} AS (SELECT l, r, pair_count FROM pairs{r}
                    ORDER BY pair_count DESC, l, r LIMIT 1),
        w{r} AS (SELECT regexp_replace(
                     replace(rep, ' ' || b.l || '  ' || b.r || ' ',
                                  ' ' || b.l || b.r || ' '),
                     ' +', '  ', 'g') AS rep, cnt
                 FROM w{r - 1} CROSS JOIN best{r} b)"""
    union = " UNION ALL ".join(
        f"SELECT {r} AS rank, l AS left, r AS right, pair_count FROM best{r}"
        for r in range(1, n_merges + 1)
    )
    return sql + f"""
        SELECT * FROM ({union}) ORDER BY rank
    """


def _tool_sequences_oracle_sql(n: int = 2) -> str:
    """DuckDB replica of kg/trajectory.py tool_sequences over the
    committed transcript fixture: consecutive tool n-grams via lead()
    over the per-conversation tool-turn stream."""
    tp = (_FIXTURES / "transcripts.parquet").as_posix() + "/*.parquet"
    leads = ["tool"] + [
        f"lead(tool, {i}) OVER (PARTITION BY conv_id ORDER BY turn_idx)"
        for i in range(1, n)
    ]
    seq = " || '>' || ".join(leads)
    last = leads[-1]
    return f"""
        WITH t AS (
            SELECT conv_id, turn_idx, tool FROM read_parquet('{tp}')
            WHERE role = 'tool' AND tool IS NOT NULL),
        g AS (SELECT conv_id, {seq} AS tool_seq, {last} AS nxt FROM t)
        SELECT tool_seq, count(*) AS n_occurrences,
               count(DISTINCT conv_id) AS n_convs
        FROM g WHERE nxt IS NOT NULL
        GROUP BY tool_seq ORDER BY tool_seq
    """


def _hll_oracle_sql(table: str, col: str) -> str:
    """DuckDB replica of operators/sketch.py hll_cardinality (p=8):
    md5-derived registers, exact-BIGINT harmonic sum S = sum 2^(25-M),
    raw estimate (alpha_micro*m^2*2^25) div S, micronat linear counting
    below the 2.5m threshold. All products pre-multiplied in Python to
    dodge DuckDB's INT32 literal arithmetic."""
    from delm_spark.operators.sketch import hll_alpha_micro

    m = 256
    am = hll_alpha_micro(m)
    return f"""
        WITH r AS (
            SELECT ('0x' || substr(md5({col}::VARCHAR), 1, 2))::BIGINT AS reg,
                   ('0x' || substr(md5({col}::VARCHAR), 3, 6))::BIGINT AS rem
            FROM {table}),
        regs AS (SELECT reg, max(CASE WHEN rem = 0 THEN 25
                                      ELSE 25 - length(bin(rem)) END) AS M
                 FROM r GROUP BY reg),
        agg AS (SELECT count(*) AS n_used,
                       sum((1::BIGINT << (25 - M))) AS s_used FROM regs),
        est AS (SELECT n_used,
                       s_used + ({m} - n_used) * 33554432 AS s_scaled,
                       {am * m * m}::BIGINT * 33554432
                           // (s_used + ({m} - n_used) * 33554432) AS raw_micro
                FROM agg)
        SELECT {m} AS m, n_used, s_scaled::BIGINT AS s_scaled,
               ((CASE WHEN ({m} - n_used) > 0
                          AND raw_micro * 2 <= {5_000_000 * m}
                     THEN {m} * (floor(ln({m}) * 1e6 + 0.5)::BIGINT
                                 - floor(ln({m} - n_used) * 1e6 + 0.5)::BIGINT)
                     ELSE raw_micro END) // 1000000)::BIGINT AS est_distinct
        FROM est
    """


def _kmeans_oracle_sql(k: int, iters: int, salt: str = "kmeans") -> str:
    """DuckDB replica of operators/cluster.py kmeans_cluster: micro-unit
    quantization (floor(x*1e6) — IEEE-identical), md5-ordered init,
    `iters` unrolled Lloyd rounds (exact BIGINT squared-L2 argmin with
    ties to the smallest cluster_id; centroid = sum // count, both
    engines truncate toward zero; empty clusters keep their centroid),
    then the final assignment."""
    sql = f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(floor(x * 1000000) AS BIGINT)) AS vm
            FROM embeddings),
        cent0 AS (
            SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR || '|{salt}')) - 1
                       AS cluster_id,
                   vm AS cv
            FROM e ORDER BY md5(vec_id::VARCHAR || '|{salt}') LIMIT {k})"""
    prev = "cent0"
    for it in range(1, iters + 1):
        sql += f""",
        asg{it} AS (
            SELECT vec_id, vm, cluster_id FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                              ORDER BY d ASC, cluster_id ASC) AS rn
                FROM (SELECT e.vec_id, e.vm, c.cluster_id,
                             list_sum(list_transform(generate_series(1, len(vm)),
                                      i -> (vm[i] - cv[i]) * (vm[i] - cv[i]))) AS d
                      FROM e CROSS JOIN {prev} c))
            WHERE rn = 1),
        sums{it} AS (
            SELECT cluster_id, dim, sum(x) AS s, count(*) AS cnt FROM (
                SELECT cluster_id, unnest(vm) AS x,
                       unnest(range(1, len(vm) + 1)) AS dim
                FROM asg{it})
            GROUP BY cluster_id, dim),
        newc{it} AS (
            SELECT cluster_id, list(CAST(s // cnt AS BIGINT) ORDER BY dim) AS cv
            FROM sums{it} GROUP BY cluster_id),
        cent{it} AS (
            SELECT p.cluster_id, coalesce(n.cv, p.cv) AS cv
            FROM {prev} p LEFT JOIN newc{it} n USING (cluster_id))"""
        prev = f"cent{it}"
    return sql + f""",
        final AS (
            SELECT vec_id, cluster_id, d FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                              ORDER BY d ASC, cluster_id ASC) AS rn
                FROM (SELECT e.vec_id, e.vm, c.cluster_id,
                             list_sum(list_transform(generate_series(1, len(vm)),
                                      i -> (vm[i] - cv[i]) * (vm[i] - cv[i]))) AS d
                      FROM e CROSS JOIN {prev} c))
            WHERE rn = 1)
        SELECT vec_id, CAST(cluster_id AS INT) AS cluster_id,
               CAST(d AS BIGINT) AS dist_micro2
        FROM final ORDER BY vec_id
    """


def _minhash_lsh_oracle_sql(
    k: int,
    bands: int,
    jaccard_threshold: float | None = None,
    canonical: bool = False,
    containment_micro: int | None = None,
) -> str:
    """DuckDB replica of minhash_signatures_agg + banding + bucket join;
    with `jaccard_threshold`, adds the exact n-gram Jaccard re-rank on the
    candidate pairs (the composed near-dup pipeline)."""
    rows = k // bands
    sig_exprs = ",\n                       ".join(
        f"list_min(list_transform(s, x -> md5('salt{i}|' || x)))" for i in range(k)
    )
    band_list = ", ".join(str(b) for b in range(bands))
    base = f"""
            WITH sh AS (
                SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(w) - 2, 1)),
                    i -> array_to_string(w[i:i+2], ' '))) AS s
                FROM (SELECT doc_id, regexp_split_to_array(
                          lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
                      FROM documents)),
            sig AS (
                SELECT doc_id, [
                       {sig_exprs}] AS g
                FROM sh),
            bands AS (
                SELECT doc_id, band,
                       md5(array_to_string(g[band*{rows}+1 : band*{rows}+{rows}], '|')) AS bucket
                FROM sig CROSS JOIN (SELECT unnest([{band_list}]) AS band) t),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""
    if canonical:
        # connected components over the verified pair graph via a
        # recursive reachability closure: every node collects the labels
        # of all nodes that reach it, MIN label = component id; docs in
        # no pair map to themselves
        return base.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1) + f""",
            vp AS (
                SELECT id_a, id_b FROM cand
                JOIN sh a ON cand.id_a = a.doc_id
                JOIN sh b ON cand.id_b = b.doc_id
                WHERE (len(list_intersect(a.s, b.s))::DOUBLE
                       / greatest(len(list_distinct(list_concat(a.s, b.s))), 1))
                      >= {jaccard_threshold}),
            sym AS (SELECT id_a AS a, id_b AS b FROM vp
                    UNION SELECT id_b, id_a FROM vp),
            reach AS (
                SELECT a AS id, a AS lbl FROM sym
                UNION
                SELECT s.b AS id, r.lbl FROM reach r JOIN sym s ON r.id = s.a),
            comp AS (SELECT id, MIN(lbl) AS canonical FROM reach GROUP BY id)
            SELECT d.doc_id,
                   coalesce(c.canonical, d.doc_id) AS canonical_id,
                   (coalesce(c.canonical, d.doc_id) = d.doc_id) AS is_kept
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
            ORDER BY doc_id
        """
    if containment_micro is not None:
        # operators/dedup.py containment_pairs: exact BIGINT containment
        # of the smaller shingle set on the LSH candidates; contained_id
        # is the smaller set's doc (size tie -> id_a, which is < id_b)
        return base + f"""
            SELECT id_a, id_b,
                   CAST((1000000 * len(list_intersect(a.s, b.s)))
                        // greatest(least(len(a.s), len(b.s)), 1)
                        AS BIGINT) AS containment_micro,
                   CASE WHEN len(b.s) < len(a.s) THEN id_b ELSE id_a END
                       AS contained_id
            FROM cand
            JOIN sh a ON cand.id_a = a.doc_id
            JOIN sh b ON cand.id_b = b.doc_id
            WHERE CAST((1000000 * len(list_intersect(a.s, b.s)))
                       // greatest(least(len(a.s), len(b.s)), 1)
                       AS BIGINT) >= {containment_micro}
            ORDER BY id_a, id_b
        """
    if jaccard_threshold is None:
        return base + """
            SELECT id_a, id_b FROM cand ORDER BY id_a, id_b
        """
    return base + f"""
            SELECT id_a, id_b,
                   (len(list_intersect(a.s, b.s))::DOUBLE
                    / greatest(len(list_distinct(list_concat(a.s, b.s))), 1)) AS jaccard
            FROM cand
            JOIN sh a ON cand.id_a = a.doc_id
            JOIN sh b ON cand.id_b = b.doc_id
            WHERE (len(list_intersect(a.s, b.s))::DOUBLE
                   / greatest(len(list_distinct(list_concat(a.s, b.s))), 1)) >= {jaccard_threshold}
            ORDER BY id_a, id_b
        """
