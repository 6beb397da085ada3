"""TableSpec: the reference's scattered per-table config (rename maps in
transformations.py, allowlist in mysql_operations.py:45, schema JSON in
config.py:27-29, partitioning in bigquery_operations.py:30-34) unified
into one declarative spec per table.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.reference_transforms import cast_bools

# S18: the reference's schema registry is a JSON file mapping
# table → [{"name": ..., "type": ...}] with BigQuery type names
# (config.py:27-29, consumed by bigquery_operations.py:9-19's
# SchemaField build). This is that file's types mapped onto Spark.
_BQ_TYPE_TO_SPARK: dict[str, T.DataType] = {
    "STRING": T.StringType(),
    "BYTES": T.BinaryType(),
    "INTEGER": T.LongType(),
    "INT64": T.LongType(),
    "FLOAT": T.DoubleType(),
    "FLOAT64": T.DoubleType(),
    "NUMERIC": T.DecimalType(38, 9),  # BQ NUMERIC: 38 digits, scale 9
    "BOOLEAN": T.BooleanType(),
    "BOOL": T.BooleanType(),
    "TIMESTAMP": T.TimestampType(),
    "DATETIME": T.TimestampType(),  # BQ DATETIME is timezone-less; Spark
    # session runs UTC (session.py), so the semantics coincide
    "DATE": T.DateType(),
}


def schema_from_registry(config: dict | str, table_name: str) -> T.StructType:
    """S18: the reference's ``get_schema_from_config``
    (bigquery_operations.py:9-19) as a JSON-registry → Spark
    ``StructType`` factory. ``config`` is the parsed registry dict or a
    path to the JSON file (the reference's
    ``MYSQL_to_BigQuery_tables.json``, config.py:27-29). Exactly like
    the reference, a table with no declared schema is an ERROR
    (:12-14) — schema-on-write is the contract, not best-effort. An
    unknown type name is also an error (the reference would defer that
    crash to the BigQuery API; failing at plan time is strictly
    earlier). The result feeds ``Sink.declared_schema`` → S10
    enforcement before every write."""
    if isinstance(config, str):
        with open(config, encoding="utf-8") as f:
            config = json.load(f)
    if table_name not in config:
        raise ValueError(f"No schema defined for table: {table_name}")
    fields = []
    for field_spec in config[table_name]:
        type_name = str(field_spec["type"]).upper()
        if type_name not in _BQ_TYPE_TO_SPARK:
            raise ValueError(
                f"table {table_name}, field {field_spec['name']}: "
                f"unsupported registry type {field_spec['type']!r} "
                f"(known: {sorted(_BQ_TYPE_TO_SPARK)})"
            )
        fields.append(T.StructField(field_spec["name"], _BQ_TYPE_TO_SPARK[type_name]))
    return T.StructType(fields)


@dataclass
class TableSpec:
    name: str
    rename: dict[str, str] = field(default_factory=dict)  # S5
    drop: list[str] = field(default_factory=list)  # S6
    bool_cols: list[str] = field(default_factory=list)  # S7
    incremental_column: str | None = None  # S3 filter key
    partition_field: str | None = None  # S13 sink partitioning

    def transform(self, df: DataFrame) -> DataFrame:
        """S5+S6+S7+S8 as one narrow (shuffle-free) projection."""
        if self.rename:
            df = df.withColumnsRenamed(self.rename)
        # S6: the reference *intends* to drop daily_log.fileName but the
        # rename-then-drop ordering makes it a no-op
        # (transformations.py:18 vs :20). We implement the intent:
        # drop by post-rename name, tolerant of absence.
        present = [c for c in self.drop if c in df.columns]
        if present:
            df = df.drop(*present)
        if self.bool_cols:
            df = cast_bools(df, self.bool_cols)
        return df  # S8: a spec with no entries is the identity transform

    def incremental_filter(self, df: DataFrame, day) -> DataFrame:
        """S3: one day's slice, written as a sargable range on the raw
        column (partition pruning / index friendly at any scale)."""
        if not self.incremental_column:
            return df
        c = F.col(self.incremental_column)
        day_lit = F.lit(str(day)).cast("date")
        return df.filter((c >= day_lit.cast("timestamp")) & (c < F.date_add(day_lit, 1).cast("timestamp")))


#: The reference's three allowlisted tables (mysql_operations.py:45)
#: plus the dead-code database_list branch (transformations.py:32-71),
#: implemented as declared capability (SURVEY.md §7 decision 5).
REFERENCE_SPECS: dict[str, TableSpec] = {
    "daily_log": TableSpec(
        name="daily_log",
        rename={  # transformations.py:10-19
            "ID": "ID",
            "backup_date": "BackupDate",
            "server": "Server",
            "database": "Database",
            "size": "Size",
            "state": "State",
            "last_update": "LastUpdate",
            "fileName": "FileName",
        },
        drop=["FileName"],  # the *intent* of transformations.py:20
        incremental_column="BackupDate",
        partition_field="BackupDate",
    ),
    "backup_log": TableSpec(
        name="backup_log",
        # transformations.py:23-30 is an identity rename — preserved as such
        rename={c: c for c in ["id", "backup_date", "server", "size", "filepath", "last_update"]},
        incremental_column="backup_date",
    ),
    "servers_temp": TableSpec(name="servers_temp"),  # S8 passthrough
    "database_list": TableSpec(
        name="database_list",
        bool_cols=[  # transformations.py:33-37
            "sun", "mon", "tue", "wed", "thu", "fri", "sat",
            "encrypted", "ssl", "backup", "load", "size", "active",
        ],
    ),
}
