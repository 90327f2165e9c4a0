"""Pages-table source adapter: Parquet now, Iceberg when the runtime
ships the connector.

The north star targets an Iceberg table of web pages; this container
has no iceberg-spark runtime jar, so `format="iceberg"` raises a clear
error instead of a Py4J stack. Everything downstream is agnostic —
both paths yield the same pinned-schema DataFrame, and on Iceberg the
scan benefits from partition pruning (recommended layout:
`days(warc_ts)` + `bucket(N, url)`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from idd_hw6_record_linkage_spark.schema import PAGES_SCHEMA


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_pages(
    spark: SparkSession, location: str, format: str = "parquet"
) -> DataFrame:
    """Load the pages table with the pinned schema (never inferred)."""
    if format == "parquet":
        return spark.read.schema(PAGES_SCHEMA).parquet(location)
    if format == "iceberg":
        if not iceberg_available(spark):
            raise RuntimeError(
                "iceberg-spark runtime jar not on the classpath; submit with "
                "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> "
                "or use format='parquet'"
            )
        return spark.read.format("iceberg").load(location)
    raise ValueError(f"unknown pages format: {format}")
