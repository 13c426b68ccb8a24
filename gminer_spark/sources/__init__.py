"""Table sources/sinks: Iceberg when available, parquet otherwise.

The production design reads the pages corpus and writes checkpoints /
results as Iceberg tables (snapshot per superstep).  The Iceberg
runtime jars are not in this image, so the helpers probe for the
catalog and fall back to parquet paths with identical call sites —
swapping in Iceberg is configuration, not code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog", False,
            jvm.java.lang.Thread.currentThread().getContextClassLoader(),
        )
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame, ref: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if "/" not in ref and iceberg_available(df.sparkSession):
        writer.saveAsTable(ref, format="iceberg")
    else:
        writer.parquet(ref)
