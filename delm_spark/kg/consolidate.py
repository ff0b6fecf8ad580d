"""Mention consolidation: mint canonical entities for UNRESOLVED mentions.

After dictionary linking (kg/linking.py) and embedding residue
resolution, every mention the dictionary does not know stays a
``mention:<normalized surface>`` node — and spelling variants of the
same unknown entity ("acme labs", "acme lab", "acme labss") stay
SEPARATE nodes forever, fragmenting the graph exactly where it has no
curated knowledge. The reference (Center-for-Applied-AI/delm) stops at
per-record extraction and has no entity store at all; this operator is
the KG-maintenance step that turns recurring unknown mentions into
first-class entities — the feedback loop that grows the dictionary.

Shape:

1. collect the distinct unresolved mention ids with their support
   (occurrence counts over both triple endpoints) — one
   map-side-combinable aggregation;
2. cluster their surfaces within Levenshtein distance 1 using the
   existing FastSS deletion-neighborhood join
   (operators/editdist.py — bounded variant fan-out, never all-pairs)
   and connected components over the VERIFIED pair graph only
   (kg/canonicalize.py — the corpus never reshuffles, CC touches only
   surfaces that matched a variant bucket);
3. per cluster, pick the display surface by support (ties to the
   smallest string), and mint the deterministic id
   ``entity:<md5(component label)[:16]>`` — retry/partition-independent
   because the component label is the min member surface;
4. only multi-member clusters are minted: a
   one-off singleton mention carries no evidence of being a stable
   entity, and minting it would just rename every unknown.

Scale notes: the mention vocabulary is corpus-sized but the FastSS
explode is bounded (len variants per surface) and the
candidate join is an equi-join on variant hash buckets; CC runs over
verified pairs only (cluster graphs are tiny cliques/stars). The
returned mapping is a (mention vocabulary)-sized table — apply it with
an equi-join per endpoint (apply_consolidation), NOT a broadcast, since
at web scale the unknown-mention vocabulary can be huge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MENTION_PREFIX = "mention:"


def consolidate_mentions(triples: DataFrame) -> DataFrame:
    """Cluster unresolved ``mention:*`` endpoints by surface edit
    distance and mint deterministic entity ids for recurring variants.

    Returns one row per consolidated mention:
    (mention_id, new_id, display, n_members, cluster_support), where
    ``display`` is the cluster's most-supported surface (ties to the
    smallest), ``n_members`` its distinct-surface count, and
    ``cluster_support`` the summed occurrence count. Singleton mentions
    are not returned. Surfaces of 3-64 characters take part.
    """
    from delm_spark.kg.canonicalize import connected_components
    from delm_spark.operators.editdist import edit_distance_pairs

    plen = len(MENTION_PREFIX)
    mentions = (
        triples.select(F.col("subj_id").alias("id"))
        .unionByName(triples.select(F.col("obj_id").alias("id")))
        .filter(F.col("id").startswith(MENTION_PREFIX))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .withColumn("surface", F.expr(f"substring(id, {plen + 1})"))
        .localCheckpoint(eager=True)
    )
    pairs = edit_distance_pairs(mentions, col="surface", id_col="surface")
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).select(F.col("node").alias("surface"), "component")
    clustered = mentions.join(comp, "surface")  # inner: singletons drop out
    stats = clustered.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("support").cast("long").alias("cluster_support"),
        # most-supported surface, ties to the smallest string: max of
        # (support, negated-order surface) needs an order-reversing trick;
        # min of struct(-support, surface) is exact and combinable
        F.min(F.struct((-F.col("support")).alias("ns"), F.col("surface")))[
            "surface"
        ].alias("display"),
    )
    return (
        clustered.join(stats, "component")
        .filter(F.col("n_members") >= 2)
        .select(
            F.col("id").alias("mention_id"),
            F.concat(
                F.lit("entity:"), F.substring(F.md5("component"), 1, 16)
            ).alias("new_id"),
            "display",
            "n_members",
            "cluster_support",
        )
    )


def apply_consolidation(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite consolidated mention endpoints to their minted entity ids
    (two left equi-joins — the mapping is mention-vocabulary-sized and
    deliberately NOT broadcast); unmapped endpoints pass through."""
    m = mapping.select("mention_id", "new_id")
    out = (
        triples.join(
            m.withColumnRenamed("mention_id", "subj_id").withColumnRenamed(
                "new_id", "__subj_new"
            ),
            "subj_id",
            "left",
        )
        .join(
            m.withColumnRenamed("mention_id", "obj_id").withColumnRenamed(
                "new_id", "__obj_new"
            ),
            "obj_id",
            "left",
        )
        .withColumn("subj_id", F.coalesce("__subj_new", "subj_id"))
        .withColumn("obj_id", F.coalesce("__obj_new", "obj_id"))
        .drop("__subj_new", "__obj_new")
    )
    return out.select(*triples.columns)
