"""Reference-semantics scalar transforms, Spark-first.

Each function reproduces a data operation of the reference pipeline
(citations into /root/reference) as a declarative column expression so
it stays inside whole-stage codegen — no pandas, no driver round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The reference's datetime wire format (reference mysql_operations.py:30-31).
#: NOTE: it has no sub-second part — formatting TRUNCATES fractional seconds,
#: a lossy semantic the reference chose; we reproduce it only at an explicit
#: sink boundary (SURVEY.md §7 decision 3) via this function.
REFERENCE_DATETIME_FMT = "yyyy-MM-dd HH:mm:ss"


def format_datetimes_as_strings(df: DataFrame) -> DataFrame:
    """S4: render every timestamp column as a formatted string
    (reference mysql_operations.py:30-31 does this to ALL datetime64
    columns unconditionally). Both Spark timestamp types count:
    ``TIMESTAMP_NTZ`` (what ``load_table`` gives ``events.ts``) is not
    a subclass of ``TimestampType``."""
    ts_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
    ]
    return df.withColumns({c: F.date_format(F.col(c), REFERENCE_DATETIME_FMT) for c in ts_cols})


def cast_bools(df: DataFrame, columns: list[str]) -> DataFrame:
    """S7: cast flag columns (tinyint 0/1) to boolean, skipping absent
    columns — mirrors the existence guard at reference
    transformations.py:33-37. NULL stays NULL, nonzero → true.

    Intentional divergence from the reference: pandas ``astype(bool)``
    maps NaN → True (transformations.py:33-37), an artifact of float
    NaN being truthy, not a semantic choice. Spark's SQL-standard cast
    keeps NULL → NULL, which is what a missing flag should mean; a
    migrating user who depended on NaN→True can add
    ``F.coalesce(col, lit(True))`` explicitly."""
    present = [c for c in columns if c in df.columns]
    return df.withColumns({c: F.col(c).cast("boolean") for c in present})


def apply_declared_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """S10: enforce a declared sink schema: project to exactly the
    declared columns, cast each to its declared type, and (matching the
    reference's strictness, bigquery_operations.py:11-12) raise if a
    declared column is missing from the input."""
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"declared schema columns missing from input: {missing}")
    return df.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])
