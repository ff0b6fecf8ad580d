"""Distributed per-record merge of chunk-level extraction results (A1-A4).

Spark-native twin of delm_spark.schemas.merge (itself the parity port of
/root/reference/src/delm/utils/post_processing.py:14-146). The reference's
implicit input-order semantics become explicit ordering columns:

  * majority vote (scalars): groupBy count + first-seen position; winner =
    max count, ties broken by MIN first-seen chunk position — exactly the
    reference's "first value encountered in input order whose count is the
    top count" (post_processing.py:32-38), where input order is chunk order.
  * list / nested containers: sort_array(collect_list(struct(pos, vals)))
    then flatten — concatenation in chunk order, duplicates kept
    (post_processing.py:80-110).

All shuffles are keyed on the record id; one shuffle per merge (the vote
and concat aggregations share the groupBy key, so Catalyst plans a single
exchange per output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from delm_spark.schemas.spec import MultipleSpec, NestedSpec, SchemaSpec, SimpleSpec


def majority_vote_df(values: DataFrame) -> DataFrame:
    """A1: per record, the most frequent value; ties -> value whose FIRST
    occurrence (min pos) is earliest. Input rows = one (record_id, value,
    pos) row per occurrence.

    Returns (record_id, value).
    """
    counted = values.groupBy("record_id", "value").agg(
        F.count(F.lit(1)).alias("__cnt"), F.min("pos").alias("__first_pos")
    )
    w = Window.partitionBy("record_id").orderBy(
        F.desc("__cnt"), F.asc("__first_pos")
    )
    return (
        counted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("record_id", "value")
    )


def merge_nested_records(triples: DataFrame) -> DataFrame:
    """A3: concatenate nested-container items per conversation in chunk
    order.

    Returns (conv_id, items: array<struct<subj, pred, obj>>), items
    ordered by (turn_idx, chunk_pos, item_pos) — the distributed
    equivalent of merge_jsons_for_record for nested schemas
    (post_processing.py:99-110).
    """
    item_cols = ("subj", "pred", "obj")
    ordered_struct = F.struct(
        *[F.col(c) for c in ("turn_idx", "chunk_pos", "item_pos", *item_cols)]
    )
    agg = triples.groupBy("conv_id").agg(
        F.array_sort(F.collect_list(ordered_struct)).alias("__sorted")
    )
    return agg.select(
        "conv_id",
        F.transform(
            F.col("__sorted"),
            lambda s: F.struct(*[s.getField(c).alias(c) for c in item_cols]),
        ).alias("items"),
    )


def _vals_in_chunk_order(pos_col: str, col):
    """collect_list of (pos, value) -> values sorted by chunk position with
    null values dropped (the reference skips chunks where the variable is
    absent, post_processing.py:52-60 — and F.flatten of an array containing
    a NULL inner array would return NULL, silently losing every value)."""
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col(pos_col).alias("p"), col.alias("v")))
    )
    return F.filter(
        F.transform(ordered, lambda s: s.getField("v")), lambda x: x.isNotNull()
    )


def _majority_vote_expr(vals):
    """Native in-array majority vote over an ordered value array: winner =
    max count, ties -> earliest first occurrence (reference
    post_processing.py:32-38). O(distinct x n) per record — bounded by the
    chunk count per record, evaluated inside the single aggregation (no
    per-variable join/shuffle)."""
    ranked = F.array_sort(
        F.transform(
            F.array_distinct(vals),
            lambda d: F.struct(
                (-F.size(F.filter(vals, lambda x: x == d))).alias("nc"),
                F.array_position(vals, d).alias("fp"),
                d.alias("v"),
            ),
        )
    )
    return F.get(ranked, 0).getField("v")


def _variable_aggs(pos_col: str, path: str, variables: tuple) -> list:
    aggs = []
    for v in variables:
        col = F.col(f"{path}.{v.name}")
        vals = _vals_in_chunk_order(pos_col, col)
        expr = F.flatten(vals) if v.is_list() else _majority_vote_expr(vals)
        aggs.append(expr.alias(v.name))
    return aggs


def merge_records(
    extracted: DataFrame,
    spec: SchemaSpec,
    record_col: str,
    pos_col: str,
    json_col: str = "delm_extracted_data_json",
) -> DataFrame:
    """A1-A4: per-record merge of chunk-level extraction JSON for any spec
    level, in ONE aggregation (single shuffle keyed on the record id):

      simple   -> one column per variable (vote scalars / concat lists)
      nested   -> `container_name` column: items concatenated in chunk order
      multiple -> per sub-schema: struct column (simple sub) or bare item
                  array (nested sub) — the reference's merge shape
                  (post_processing.py:113-143)

    The reference's implicit input-order semantics use the explicit chunk
    position; null chunk values are dropped BEFORE flatten (a NULL inner
    array otherwise nulls the whole concat).
    """
    from delm_spark.schemas.compile import spark_schema_for

    schema = spark_schema_for(spec)
    parsed = extracted.select(
        F.col(record_col), F.col(pos_col).alias("__pos"),
        F.from_json(F.col(json_col), schema).alias("__d"),
    )
    if isinstance(spec, SimpleSpec):
        aggs = _variable_aggs("__pos", "__d", spec.variables)
    elif isinstance(spec, NestedSpec):
        aggs = [
            F.flatten(
                _vals_in_chunk_order("__pos", F.col(f"__d.{spec.container_name}"))
            ).alias(spec.container_name)
        ]
    elif isinstance(spec, MultipleSpec):
        aggs = []
        for name, sub in spec.schemas:
            if isinstance(sub, NestedSpec):
                aggs.append(
                    F.flatten(
                        _vals_in_chunk_order("__pos", F.col(f"__d.{name}"))
                    ).alias(name)
                )
            else:
                aggs.append(
                    F.struct(
                        *_variable_aggs("__pos", f"__d.{name}", sub.variables)
                    ).alias(name)
                )
    else:
        raise TypeError(f"Unknown spec type {type(spec).__name__}")
    return parsed.groupBy(record_col).agg(*aggs)
