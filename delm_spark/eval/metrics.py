"""Extraction-fidelity metrics (A6): precision / recall / F1.

Distributed rebuild of the reference's evaluation
(/root/reference/src/delm/utils/performance_estimation.py:264-388):
per field, tp = |T ∩ P|, fp = |P − T|, fn = |T − P| over per-record value
sets, then P/R/F1 column arithmetic. Sets are realized as exploded
(record, field, value) rows + full-outer join — set semantics without
collecting to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def set_confusion(
    expected: DataFrame,
    extracted: DataFrame,
    keys: list,
    value_cols: list,
) -> DataFrame:
    """Per-field confusion counts over distinct (keys, value) pairs.

    `expected` / `extracted` carry the same `keys` + `value_cols`; each
    value column is one evaluated field. Returns
    (field, tp, fp, fn, precision, recall, f1).
    """
    parts = []
    for c in value_cols:
        t = expected.select(*keys, F.col(c).alias("value")).where(
            F.col(c).isNotNull()
        ).distinct().withColumn("field", F.lit(c))
        p = extracted.select(*keys, F.col(c).alias("value")).where(
            F.col(c).isNotNull()
        ).distinct().withColumn("field", F.lit(c))
        j = t.withColumn("__t", F.lit(1)).join(
            p.withColumn("__p", F.lit(1)),
            on=keys + ["field", "value"],
            how="full_outer",
        )
        parts.append(
            j.groupBy("field").agg(
                F.sum(
                    F.when(F.col("__t").isNotNull() & F.col("__p").isNotNull(), 1).otherwise(0)
                ).alias("tp"),
                F.sum(
                    F.when(F.col("__t").isNull() & F.col("__p").isNotNull(), 1).otherwise(0)
                ).alias("fp"),
                F.sum(
                    F.when(F.col("__t").isNotNull() & F.col("__p").isNull(), 1).otherwise(0)
                ).alias("fn"),
            )
        )
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionByName(pdf)
    # P/R/F1 finalization (reference performance_estimation.py:371-385)
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return out.select(
        "field",
        "tp",
        "fp",
        "fn",
        prec.alias("precision"),
        rec.alias("recall"),
        (2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12))).alias("f1"),
    )


def field_path_confusion(pairs: DataFrame, spec) -> DataFrame:
    """Recursive field-path P/R/F1 (reference
    performance_estimation.py:280-388) over per-record JSON pairs,
    distributed: the per-record tree walk (a pure-Python kernel,
    eval/fieldpath.py, parity-tested against the reference) runs inside
    one mapInPandas emitting (field, tp, fp, fn) rows; the cross-record
    aggregation is a native groupBy(field) sum — the exact analog of the
    reference's defaultdict accumulation (py:352-369), but parallel over
    records.

    `pairs` carries one row per record with the merged expected_json and
    extracted_json strings. Returns (field, tp, fp, fn, precision,
    recall, f1).
    """
    import json as _json
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from delm_spark.eval.fieldpath import all_levels_precision_recall, build_required_map

    required_map = build_required_map(spec)
    out_schema = StructType(
        [
            StructField("field", StringType()),
            StructField("tp", LongType()),
            StructField("fp", LongType()),
            StructField("fn", LongType()),
        ]
    )

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for e_json, p_json in zip(pdf["expected_json"], pdf["extracted_json"]):
                y_true = _json.loads(e_json) if e_json else {}
                y_pred = _json.loads(p_json) if p_json else {}
                for fld, m in all_levels_precision_recall(
                    y_true, y_pred, required_map
                ).items():
                    rows.append((fld, m["tp"], m["fp"], m["fn"]))
            yield pd.DataFrame(rows, columns=["field", "tp", "fp", "fn"])

    counts = (
        pairs.select("expected_json", "extracted_json")
        .mapInPandas(walk, schema=out_schema)
        .groupBy("field")
        .agg(F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn"))
    )
    # finalization, reference performance_estimation.py:371-385
    prec = F.when(F.col("tp") + F.col("fp") > 0,
                  F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(0.0))
    rec = F.when(F.col("tp") + F.col("fn") > 0,
                 F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(F.lit(0.0))
    f1 = F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
                2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
                ).otherwise(F.lit(0.0))
    return counts.select(
        "field", "tp", "fp", "fn",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def triple_prf(expected: DataFrame, extracted: DataFrame) -> dict:
    """Whole-triple P/R/F1 on distinct (conv_id, subj, pred, obj)."""
    keys = ["conv_id", "subj", "pred", "obj"]
    t = expected.select(*keys).distinct()
    p = extracted.select(*keys).distinct()
    tp = t.join(p, keys, "inner").count()
    n_t, n_p = t.count(), p.count()
    precision = tp / n_p if n_p else 0.0
    recall = tp / n_t if n_t else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "expected": n_t, "predicted": n_p,
            "precision": precision, "recall": recall, "f1": f1}
