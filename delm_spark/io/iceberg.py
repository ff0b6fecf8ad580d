"""Iceberg table-format integration (the north star names Iceberg
transcript tables as the storage target).

This sandbox ships no iceberg-spark-runtime jar, so `iceberg_available`
reports False and every committed stage stays parquet + `_SUCCESS`
(semantics are identical — both commit paths are atomic: Iceberg via
snapshot swap, parquet via the `_SUCCESS` marker the StageRunner checks).
On a cluster with the runtime on the classpath and a catalog configured

    spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.<name>.type = hadoop | hive | rest ...

the StageRunner detects it at construction and commits stages as Iceberg
snapshots via `writeTo(...).createOrReplace()` instead, keyed as
`<catalog>.delm_stages.<stage_name>_<checkpoint-dir key>` tables in the
catalog found here (one table per stage and checkpoint dir).

The runtime probe, the catalog lookup and the write/read/exists
primitives live at module level so the dispatch logic is unit-testable
without the jar (tests monkeypatch them and assert the parquet and
iceberg code paths hand back identical frames).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

_SPARK_CATALOG_IMPL = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName(_SPARK_CATALOG_IMPL)
        return True
    except Exception:
        return False


def configured_catalog(spark: SparkSession) -> Optional[str]:
    """Name of the first session catalog configured with Iceberg's
    SparkCatalog implementation, else None."""
    prefix = "spark.sql.catalog."
    for key, value in spark.sparkContext.getConf().getAll():
        if key.startswith(prefix) and key.count(".") == 3 and value == _SPARK_CATALOG_IMPL:
            return key[len(prefix):]
    return None


def write_stage(df: DataFrame, ident: str, partition_by=None) -> None:
    """Commit one staged table as an Iceberg snapshot (atomic swap — the
    Iceberg analog of the parquet path's _SUCCESS marker). `partition_by`
    columns become identity partitions of the table spec."""
    w = df.writeTo(ident).using("iceberg")
    if partition_by:
        from pyspark.sql import functions as F

        w = w.partitionedBy(*[F.col(c) for c in partition_by])
    w.createOrReplace()


def read_stage(spark: SparkSession, ident: str) -> DataFrame:
    return spark.read.table(ident)


def stage_exists(spark: SparkSession, ident: str) -> bool:
    try:
        return spark.catalog.tableExists(ident)
    except Exception:
        return False
