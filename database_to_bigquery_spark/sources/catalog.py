"""S1: catalog scan / table discovery.

The reference lists MySQL base tables (`SHOW FULL TABLES WHERE
Table_type = 'BASE TABLE'`, reference mysql_operations.py:50) and
intersects with a static allowlist (:45,:51). Here the same operator
over either a directory of parquet tables or a live JDBC catalog,
whose query comes from the URL's dialect (sources/dialects.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .dialects import dialect_for_url

#: The reference's table allowlist (reference mysql_operations.py:45).
REFERENCE_ALLOWLIST = ["backup_log", "daily_log", "servers_temp"]


def discover_tables(
    spark: SparkSession, sf_dir: str, allowlist: list[str] | None = None
) -> DataFrame:
    """List parquet tables under ``sf_dir`` ∩ allowlist, as a 1-column
    DataFrame (table_name string) — the S1 operator over a file catalog.

    Scale: catalog listing is metadata-only; at cluster scale this is a
    metastore/information_schema query, never a data scan.
    """
    names = sorted(
        f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    if allowlist is not None:
        names = [n for n in names if n in allowlist]
    return spark.createDataFrame([(n,) for n in names], "table_name string")


def discover_tables_jdbc(
    spark: SparkSession,
    jdbc_url: str,
    schema: str,
    allowlist: list[str],
    properties: dict[str, str] | None = None,
) -> list[str]:
    """S1 over a live database: push the URL's dialect catalog query
    (sources/dialects.py) to the source, intersect with the allowlist
    driver-side (the list is tiny — metadata, not data). A URL no
    dialect models raises ValueError before any connection opens."""
    query = dialect_for_url(jdbc_url).catalog_query.format(schema=schema)
    reader = spark.read.format("jdbc").option("url", jdbc_url).option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    names = [r["table_name"] for r in reader.load().collect()]
    return [n for n in names if n in allowlist]
