"""File-format sources: parquet / ORC / CSV / JSON / XML behind one spec.

The reference's only source is MySQL (reference
``mysql_operations.py:25-27``); a general engine also ingests files.
Design rules for 100 TB:

  * a declared schema is mandatory for text formats (CSV/JSON) —
    schema inference reads the data twice and silently drifts between
    runs; with an explicit StructType the read is one pass and the
    frame's types are stable (the same dual inferred-vs-declared
    tension the reference resolves with its JSON schema registry,
    reference ``config.py:27-29``),
  * malformed rows go to a quarantine column (PERMISSIVE +
    columnNameOfCorruptRecord) instead of failing the job or being
    dropped silently — at pipeline scale you audit bad rows, you don't
    crash on them,
  * binary columnar formats (parquet/ORC) carry their own schema and
    support predicate pushdown + column pruning; they're the scale
    path, text formats are the ingestion edge.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

_TEXT_FORMATS = {"csv", "json", "xml"}
_BINARY_FORMATS = {"parquet", "orc"}


@dataclass
class FileSourceSpec:
    path: str
    format: str  # parquet | orc | csv | json | xml
    schema: T.StructType | None = None  # required for csv/json
    options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        fmt = self.format.lower()
        if fmt not in _TEXT_FORMATS | _BINARY_FORMATS:
            raise ValueError(f"unsupported file format: {self.format}")
        self.format = fmt
        if fmt in _TEXT_FORMATS and self.schema is None:
            raise ValueError(
                f"{fmt} source requires an explicit schema "
                "(inference double-scans and drifts between runs)"
            )


def read_file_source(spark: SparkSession, spec: FileSourceSpec) -> DataFrame:
    """One-pass, schema-stable read of a file source."""
    reader = spark.read.format(spec.format)
    schema = spec.schema
    if spec.format in _TEXT_FORMATS:  # keep bad rows in CORRUPT_COL
        schema = T.StructType(
            [*schema.fields, T.StructField(CORRUPT_COL, T.StringType())]
        )
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", CORRUPT_COL
        )
    if schema is not None:
        reader = reader.schema(schema)
    if spec.format == "csv":
        reader = reader.option("header", spec.options.get("header", "true"))
    if spec.format == "xml":
        # Spark 4 built-in XML source (the old spark-xml package
        # upstreamed); rowTag is mandatory — without it the reader
        # treats the whole file as one row
        reader = reader.option("rowTag", spec.options.get("rowTag", "row"))
    for k, v in spec.options.items():
        reader = reader.option(k, v)
    return reader.load(spec.path)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows, corrupt_rows) — corrupt rows keep the full row
    (parsed-null columns + raw record) for audit. Callers route the
    second frame to a dead-letter sink; the first continues through
    the pipeline.

    The parsed frame is persisted first: Spark refuses any query
    against a raw text source whose referenced columns prune down to
    only the internal corrupt-record column
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the documented idiom is to
    materialize the parse once and split from that. The persist also
    means the file is parsed once, not once per output frame
    (MEMORY_AND_DISK, so it spills rather than OOMs at scale; callers
    unpersist after both sinks are written)."""
    if CORRUPT_COL not in df.columns:
        return df, df.sparkSession.createDataFrame([], f"{CORRUPT_COL} string")
    parsed = df.persist()
    good = parsed.filter(parsed[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
    bad = parsed.filter(parsed[CORRUPT_COL].isNotNull())
    return good, bad


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Multimodal ingest: read a directory tree of opaque files
    (images / audio / video / model shards) as one row per file via
    Spark's `binaryFile` source — columns (path, modificationTime,
    length, content:binary). The decode stage downstream is
    operators/multimodal.py's mapInPandas plumbing.

    Scale notes: listing parallelizes across the driver's listing
    threads and rows are split across tasks by file, so a 100 TB
    bucket of media fans out to the cluster without any manifest
    step; `pathGlobFilter` prunes at listing time (never reads
    non-matching bytes) and `max_bytes` guards executors against a
    single pathological file (filter on the `length` metadata column
    — evaluated BEFORE content is read, same listing-time pruning)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(df["length"] <= max_bytes)
    return df


def read_text_corpus(
    spark: SparkSession, path: str, whole_file: bool = False
) -> DataFrame:
    """Raw-text corpus ingest via the `text` source: one row per line
    (default) or one row per file (`whole_file` — document-per-file
    corpora). Returns a single `value: string` column plus the input
    file name for provenance (input_file_name is evaluated at scan
    time, before any shuffle loses file lineage)."""
    from pyspark.sql import functions as F

    reader = spark.read.format("text")
    if whole_file:
        reader = reader.option("wholetext", "true")
    return reader.load(path).withColumn("source_file", F.input_file_name())
