"""Incremental KG maintenance (kg/update.py): merging per-batch pipeline
outputs must equal the from-scratch build exactly, and re-delivered
batches must be no-ops."""

from __future__ import annotations

from pyspark.sql import functions as F

from delm_spark.data.synthetic import entity_dictionary, generate_transcripts
from delm_spark.kg.pipeline import PipelineConfig, run_pipeline
from delm_spark.kg.update import merge_graph, nodes_from_edges


import pytest


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _split_corpus(spark):
    """One synthetic corpus split into two disjoint conv batches."""
    # 40 conversations is the smallest corpus where both batches still
    # carry every predicate family AND the embedding-link residue pass has
    # unresolved mentions to resolve; 80 doubled the module wall for no
    # added coverage.
    full = generate_transcripts(spark, n_convs=40)
    b1 = full.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    b2 = full.filter(F.crc32(F.col("conv_id")) % 2 == 1)
    return full, b1, b2


def _materialized(res):
    """Checkpoint a pipeline result's graph tables ONCE: without a
    checkpoint dir run_pipeline is one lazy DAG, so every downstream
    action in every test would re-run the whole extraction."""
    res.edges = res.edges.localCheckpoint(eager=True)
    res.nodes = res.nodes.localCheckpoint(eager=True)
    return res


@pytest.fixture(scope="module")
def built(spark):
    """Corpus split plus the three default-config pipeline builds the
    module's tests share — computed ONCE (the builds are read-only
    inputs to every merge assertion; rebuilding them per test tripled
    the module's wall for no added coverage)."""
    full, b1, b2 = _split_corpus(spark)
    d = entity_dictionary(spark)
    cfg = PipelineConfig()
    return {
        "full": full, "b1": b1, "b2": b2, "d": d, "cfg": cfg,
        "scratch": _materialized(run_pipeline(spark, full, d, cfg)),
        "r1": _materialized(run_pipeline(spark, b1, d, cfg)),
        "r2": _materialized(run_pipeline(spark, b2, d, cfg)),
    }


def test_incremental_merge_equals_from_scratch(built):
    nodes, edges = merge_graph(built["r1"].edges, built["r2"].edges)
    assert _rows(edges) == _rows(built["scratch"].edges)
    assert _rows(nodes) == _rows(built["scratch"].nodes)


def test_incremental_merge_equals_from_scratch_with_embedding_link(spark, built):
    full, b1, b2 = built["full"], built["b1"], built["b2"]
    d = built["d"]
    cfg = PipelineConfig(embedding_link=True)
    scratch = _materialized(run_pipeline(spark, full, d, cfg))
    r1 = _materialized(run_pipeline(spark, b1, d, cfg))
    r2 = _materialized(run_pipeline(spark, b2, d, cfg))
    nodes, edges = merge_graph(r1.edges, r2.edges)
    assert _rows(edges) == _rows(scratch.edges)
    assert _rows(nodes) == _rows(scratch.nodes)


def test_redelivered_batch_is_noop(built):
    _, merged = merge_graph(built["r1"].edges, built["r2"].edges)
    # deliver batch 2 again: nothing changes
    nodes2, merged2 = merge_graph(merged, built["r2"].edges)
    assert _rows(merged2) == _rows(merged)
    assert _rows(nodes2) == _rows(nodes_from_edges(merged))


def test_nodes_from_edges_matches_pipeline_nodes(built):
    res = built["scratch"]
    assert _rows(nodes_from_edges(res.edges)) == _rows(res.nodes)


def test_merge_counters_surface_partial_overlap(built):
    """ADVICE r4: partial-overlap batches must be detectable, not silent —
    counters report how many incoming conversations the exactly-once
    guard suppressed."""
    r1, r2 = built["r1"], built["r2"]
    n1 = r1.edges.select("conv_id").distinct().count()
    n2 = r2.edges.select("conv_id").distinct().count()
    # disjoint merge: nothing dropped
    c = {}
    _, merged = merge_graph(r1.edges, r2.edges, counters=c)
    assert c == {"dropped_conv_ids": 0, "fresh_conv_ids": n2}
    # partial overlap (redeliver b2 plus b1's convs): b2's convs dropped
    c2 = {}
    both = r1.edges.unionByName(r2.edges)
    merge_graph(merged, both, counters=c2)
    assert c2 == {"dropped_conv_ids": n1 + n2, "fresh_conv_ids": 0}


class TestStreamingKgMerge:
    """Streaming x incremental composition (streaming/kg_stream.py):
    foreachBatch drives the batch pipeline per micro-batch and appends
    fresh conversations only."""

    @staticmethod
    def _sink_edges(spark, tmp_path):
        from delm_spark.kg.pipeline import EDGE_COLS

        return spark.read.parquet(str(tmp_path / "kg" / "edges")).select(*EDGE_COLS)

    def _feed(self, spark, tmp_path, batches):
        feed = str(tmp_path / "feed")
        for b in batches:
            b.coalesce(1).write.mode("append").parquet(feed)
        return feed

    def test_two_microbatch_stream_equals_from_scratch(
        self, spark, tmp_path, built
    ):
        from delm_spark.kg.update import nodes_from_edges
        from delm_spark.streaming.kg_stream import run_streaming_kg_merge
        from delm_spark.streaming.stream import read_transcript_stream

        d = built["d"]
        feed = self._feed(spark, tmp_path, [built["b1"], built["b2"]])
        stream = read_transcript_stream(spark, feed, max_files_per_trigger=1)
        q = run_streaming_kg_merge(
            stream, d, str(tmp_path / "kg"), str(tmp_path / "ckpt")
        )
        q.awaitTermination()
        # >=2 micro-batches actually ran (one file per trigger)
        assert q.lastProgress["batchId"] >= 1
        edges = self._sink_edges(spark, tmp_path)
        nodes = nodes_from_edges(edges)
        scratch = built["scratch"]
        cols = [f.name for f in edges.schema.fields]
        assert _rows(edges.select(*cols)) == _rows(scratch.edges.select(*cols))
        assert _rows(nodes) == _rows(scratch.nodes)

    def test_redelivered_stream_appends_nothing(self, spark, tmp_path, built):
        """Restarting the stream with a FRESH checkpoint over the same feed
        (worst-case redelivery: every micro-batch replayed) appends zero
        rows — exactly-once emerges from conv-granular idempotence."""
        from delm_spark.streaming.kg_stream import run_streaming_kg_merge
        from delm_spark.streaming.stream import read_transcript_stream

        d = built["d"]
        feed = self._feed(spark, tmp_path, [built["b1"], built["b2"]])
        for ckpt in ("ckpt_a", "ckpt_b"):
            stream = read_transcript_stream(spark, feed, max_files_per_trigger=1)
            q = run_streaming_kg_merge(
                stream, d, str(tmp_path / "kg"), str(tmp_path / ckpt)
            )
            q.awaitTermination()
            if ckpt == "ckpt_a":
                first = _rows(self._sink_edges(spark, tmp_path))
        assert _rows(self._sink_edges(spark, tmp_path)) == first


def test_graph_diff_hand_values(spark):
    from delm_spark.kg.update import graph_diff

    old = spark.createDataFrame(
        [("c1", "a", "knows", "b"), ("c2", "a", "knows", "c"),
         ("c2", "a", "knows", "c"),          # support duplicate collapses
         ("c3", None, "orphan", "x")],       # null key: null-safe equality
        "conv_id string, subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("c1", "a", "knows", "b"), ("c3", None, "orphan", "x"),
         ("c4", "d", "works_at", "e")],
        "conv_id string, subj string, pred string, obj string",
    )
    got = {
        (r["change"], r["conv_id"]): r for r in graph_diff(old, new).collect()
    }
    assert set(got) == {("added", "c4"), ("removed", "c2")}

    with pytest.raises(ValueError, match="no shared key"):
        graph_diff(
            old.select(F.col("conv_id").alias("x")),
            new.select(F.col("conv_id").alias("y")),
        )


def test_graph_diff_is_exact_symmetric_difference(spark):
    """diff(a, b) reversed equals diff(b, a) with labels swapped, and
    diff(a, a) is empty."""
    from delm_spark.kg.update import graph_diff

    a = spark.range(100).select(
        F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("conv_id"),
        (F.col("id") % 13).cast("string").alias("subj"),
        F.lit("p").alias("pred"),
        (F.col("id") % 5).cast("string").alias("obj"),
    )
    b = a.filter("subj <> '3'")
    fwd = {(r["change"],) + tuple(r[c] for c in ("conv_id", "subj", "obj"))
           for r in graph_diff(a, b).collect()}
    rev = {(r["change"],) + tuple(r[c] for c in ("conv_id", "subj", "obj"))
           for r in graph_diff(b, a).collect()}
    assert {t[1:] for t in fwd if t[0] == "removed"} == {
        t[1:] for t in rev if t[0] == "added"
    }
    assert {t[1:] for t in fwd if t[0] == "added"} == {
        t[1:] for t in rev if t[0] == "removed"
    }
    assert graph_diff(a, a).count() == 0
