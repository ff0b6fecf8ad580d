"""RDFS entailment materialization over the constructed triple table.

Production triple stores (Jena, RDFox, Virtuoso) materialize the RDFS
closure at load time so every downstream query sees inferred facts
without per-query reasoning. The reference (Center-for-Applied-AI/delm)
stops at emitting per-record extractions and has no ontology layer;
this module is the north-star extension that turns a small curated
schema (subclass / subproperty hierarchies, predicate domain / range
declarations) into materialized inferences over the extracted graph.

The RDFS core rules implemented (standard names in parentheses):

- subproperty transitivity (rdfs5):  p sub q, q sub r      => p sub r
- subproperty propagation  (rdfs7):  (s p o), p sub q      => (s q o)
- domain typing            (rdfs2):  (s p o), p domain C   => (s type C)
- range typing             (rdfs3):  (s p o), p range C    => (o type C)
- subclass transitivity    (rdfs11): C sub D, D sub E      => C sub E
- subclass propagation     (rdfs9):  (s type C), C sub D   => (s type D)

Reflexive entailments (rdfs6/8/10 — every class its own subclass etc.)
are deliberately NOT emitted: they are tautologies that double the
type-triple volume without informing any consumer, and standard
materializers offer the same switch.

Scale shape (100 TB framing): the DATA side is touched by exactly three
broadcast hash joins (subproperty closure, domain map, range map — all
schema-sized, always broadcast) plus the subclass propagation join on
the type slice; the only iteration is the two transitive closures,
which run on the SCHEMA graph alone (thousands of terms, not the
corpus) via the same frontier/anti-join fixpoint the property-path
engine uses — reused, not re-implemented. Rule evaluation is
STRATIFIED: with both closures precomputed, one pass per rule in
dependency order (7 -> 2/3 -> 9) reaches the full fixpoint, so the
corpus is never re-scanned in a loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from delm_spark.kg.query import property_path


def rdfs_closure(data: DataFrame, schema: DataFrame) -> DataFrame:
    """Materialize the RDFS closure of ``data`` under ``schema``.

    ``data`` holds extracted (subj, pred, obj) triples; ``schema`` holds
    the ontology as triples using the four reserved predicates
    ``subclass_of`` / ``subproperty_of`` / ``domain`` / ``range``; both
    use the (subj_id, pred, obj_id) columns, and derived types use the
    predicate ``type``.

    Returns the DISTINCT union of asserted and entailed triples with an
    ``inferred`` int column (0 = asserted in ``data`` or ``schema``,
    1 = derived) — a triple both asserted and derivable is asserted
    (min wins), so downstream provenance never downgrades. Entailed
    SCHEMA triples (transitive subclass / subproperty pairs) are
    included: the closure is a valid RDFS graph in its own right.

    Cycles in either hierarchy are safe (the closure fixpoint never
    re-enqueues a pair) — mutually-subclassed terms simply entail each
    other. Schema rows using non-reserved predicates are ignored, and
    a schema row whose subject/object is null is dropped rather than
    propagated.
    """
    s, p, o = "subj_id", "pred", "obj_id"
    schema = schema.filter(F.col(s).isNotNull() & F.col(o).isNotNull())

    def _closure(pred_name: str) -> DataFrame:
        # transitive closure on the SCHEMA graph only; empty-safe
        sub = schema.filter(F.col(p) == pred_name)
        if sub.isEmpty():
            return sub.select(
                F.col(s).alias("src"), F.col(o).alias("dst")
            )
        return property_path(sub, pred_name, max_hops=None).select("src", "dst")

    subprop = _closure("subproperty_of").localCheckpoint(eager=True)
    subclass = _closure("subclass_of").localCheckpoint(eager=True)

    # rdfs7: propagate every data triple up the property hierarchy
    rule7 = (
        data.join(
            F.broadcast(subprop.withColumnRenamed("src", p)), p
        )
        .select(F.col(s), F.col("dst").alias(p), F.col(o))
    )
    props = data.select(s, p, o).unionByName(rule7)

    # rdfs2 / rdfs3: domain and range typing over the EXPANDED triples
    dom = schema.filter(F.col(p) == "domain").select(
        F.col(s).alias(p), F.col(o).alias("__cls")
    )
    rng = schema.filter(F.col(p) == "range").select(
        F.col(s).alias(p), F.col(o).alias("__cls")
    )
    rule2 = props.join(F.broadcast(dom), p).select(
        F.col(s), F.lit("type").alias(p), F.col("__cls").alias(o)
    )
    rule3 = props.join(F.broadcast(rng), p).select(
        F.col(o).alias(s), F.lit("type").alias(p),
        F.col("__cls").alias(o),
    )

    # rdfs9: propagate type assertions (asserted + derived) up the
    # class hierarchy
    types = (
        props.filter(F.col(p) == "type")
        .unionByName(rule2)
        .unionByName(rule3)
    )
    rule9 = types.join(
        F.broadcast(subclass.withColumnRenamed("src", o)), o
    ).select(F.col(s), F.col(p), F.col("dst").alias(o))

    # entailed schema triples: the transitive pairs themselves
    sch5 = subprop.select(
        F.col("src").alias(s),
        F.lit("subproperty_of").alias(p),
        F.col("dst").alias(o),
    )
    sch11 = subclass.select(
        F.col("src").alias(s),
        F.lit("subclass_of").alias(p),
        F.col("dst").alias(o),
    )

    asserted = (
        data.select(s, p, o)
        .unionByName(schema.select(s, p, o))
        .withColumn("inferred", F.lit(0))
    )
    derived = (
        rule7.unionByName(rule2)
        .unionByName(rule3)
        .unionByName(rule9)
        .unionByName(sch5)
        .unionByName(sch11)
        .withColumn("inferred", F.lit(1))
    )
    return (
        asserted.unionByName(derived)
        .groupBy(s, p, o)
        .agg(F.min("inferred").cast("int").alias("inferred"))
    )
