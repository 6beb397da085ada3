"""S10-S14: sink writers.

The reference's sink is a blocking BigQuery load job with declared
schema, WRITE_TRUNCATE/WRITE_APPEND disposition and optional DAY
time-partitioning (reference bigquery_operations.py:21-52). Here that
is one abstract ``Sink`` with two implementations:

* ``FileSink`` — the file implementation (parquet / orc / csv / json);
  distributed write, day-partitioned layout via ``partitionBy``
  (partition pruning for every downstream reader). ``ParquetSink`` is
  that sink with the format fixed to parquet.
* ``BigQuerySink`` — the production implementation via the public
  spark-bigquery-connector; fully configured but raises a clear error
  when the connector jar is absent (it is not in this container).
"""

from __future__ import annotations

import enum
import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.reference_transforms import apply_declared_schema


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach a row-count observation that rides the write pass.

    The S14 audit count must not cost a second execution of the plan:
    ``df.count()`` before ``write`` recomputes every transform upstream
    (2x compute for every table job) and can diverge from the rows
    actually written if the source changes between the two actions.
    ``df.observe`` accumulates the count inside the same job that
    performs the write — one pass, and the number is by construction
    the rows that went through the writer.
    """
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


class WriteMode(enum.Enum):
    # reference bigquery_operations.py:36 — WRITE_TRUNCATE / WRITE_APPEND
    TRUNCATE = "overwrite"
    APPEND = "append"


@dataclass
class Sink:
    """Common sink contract: schema-enforce, then write, then audit."""

    declared_schema: T.StructType | None = None
    partition_field: str | None = None  # DAY partitioning column (S13)

    def prepare(self, df: DataFrame) -> DataFrame:
        # S10: declared-schema enforcement before the write (the
        # reference errors on a missing declaration; passing None here
        # is the explicit opt-out).
        if self.declared_schema is not None:
            df = apply_declared_schema(df, self.declared_schema)
        return df

    def write(self, df: DataFrame, mode: WriteMode) -> int:
        raise NotImplementedError


@dataclass
class FileSink(Sink):
    """File sink for the built-in formats — the write side of
    sources/files.py::FileSourceSpec (parquet / orc / csv / json), so a
    pipeline can round-trip any format it can read: schema-enforce,
    single-pass observed audit count, optional DAY partitioning by a
    derived date column (`<field>_day`) that becomes the directory key
    so the original timestamp column survives intact — at 100 TB this
    is what gives readers partition pruning.

    Format notes: csv writes a header by default (matching the read
    side's default); json is newline-delimited (the reference ships BQ
    loads as NDJSON, bigquery_operations.py:28); timestamps survive in
    parquet and orc, while csv/json callers wanting the reference's
    string form apply S4 (format_datetimes_as_strings) upstream.
    """

    path: str = ""
    format: str = "orc"  # parquet | orc | csv | json

    def write(self, df: DataFrame, mode: WriteMode) -> int:
        """Distributed write; returns rows written (S14 audit)."""
        fmt = self.format.lower()
        if fmt not in {"parquet", "orc", "csv", "json"}:
            raise ValueError(
                f"FileSink format must be parquet/orc/csv/json, got {self.format}"
            )
        df, obs = _observed(self.prepare(df))  # S14 audit rides the write pass
        if self.partition_field:
            day_col = f"{self.partition_field}_day"
            df = df.withColumn(day_col, F.to_date(F.col(self.partition_field)))
            writer = df.write.mode(mode.value).partitionBy(day_col)
        else:
            writer = df.write.mode(mode.value)
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.format(fmt).save(self.path)
        return int(obs.get["rows"])


@dataclass
class ParquetSink(FileSink):
    """`FileSink` with the format fixed to parquet — the test/file
    implementation of the reference's sink."""

    format: str = field(default="parquet", init=False)


@dataclass
class BigQuerySink(Sink):
    """Production sink via the public spark-bigquery-connector.

    Equivalent option mapping to the reference's load-job config
    (bigquery_operations.py:26-44):
      WRITE_TRUNCATE/WRITE_APPEND → .mode('overwrite'/'append')
        (reference :36 — write_disposition from ``is_daily``)
      TimePartitioning(DAY, field) → partitionField/partitionType options
        (reference :30-34 — only ``daily_log`` is partitioned)
      declared schema             → enforced by prepare() before write
        (reference :27 — job_config.schema)
      NDJSON staging (reference :28) → writeMethod: 'direct' (Storage
        Write API) when no staging bucket is given, else 'indirect'
        via temporaryGcsBucket — the connector's two load paths.

    The option dict is exposed as :meth:`writer_options` so the exact
    connector handoff is unit-testable without the jar; :meth:`write`
    is the same dict applied to a real ``df.write.format('bigquery')``.
    """

    table: str = ""  # project.dataset.table
    temporary_gcs_bucket: str | None = None

    def writer_options(self) -> dict[str, str]:
        """The exact option map handed to the connector — the testable
        contract mirroring reference bigquery_operations.py:26-44."""
        opts: dict[str, str] = {"table": self.table}
        if self.temporary_gcs_bucket:
            opts["writeMethod"] = "indirect"
            opts["temporaryGcsBucket"] = self.temporary_gcs_bucket
        else:
            opts["writeMethod"] = "direct"
        if self.partition_field:
            opts["partitionField"] = self.partition_field
            opts["partitionType"] = "DAY"
        return opts

    def write(self, df: DataFrame, mode: WriteMode) -> int:
        df, obs = _observed(self.prepare(df))  # S14 audit rides the write pass
        writer = df.write.format("bigquery").mode(mode.value)
        for k, v in self.writer_options().items():
            writer = writer.option(k, v)
        try:
            self._save(writer, df)
        except Exception as exc:  # connector jar not present in this container
            raise RuntimeError(
                "BigQuerySink requires the spark-bigquery-connector jar "
                "(--packages com.google.cloud.spark:spark-bigquery-with-dependencies). "
                "Use ParquetSink for local runs."
            ) from exc
        return int(obs.get["rows"])

    def _save(self, writer, df: DataFrame) -> None:
        """Seam for contract tests: a recording fake overrides this to
        capture the configured writer instead of needing the jar. The
        observed ``df`` is passed alongside because the S14 audit
        observation only yields once SOME action executes the plan —
        the real path's load job here, a stand-in action in a fake."""
        writer.save()


@dataclass
class JdbcSink(Sink):
    """Warehouse sink over plain JDBC — the same Sink contract
    (schema-enforce → write → observed audit count) pointed at any
    JDBC-speaking warehouse instead of BigQuery. WriteMode maps to
    Spark's JDBC save modes exactly as the reference maps is_daily to
    write_disposition (bigquery_operations.py:36): TRUNCATE →
    'overwrite' (drop/recreate), APPEND → 'append'. Live-tested
    against embedded Derby (tests/test_sources_sinks.py) — the one
    sink in this environment that executes a real out-of-process
    write, completing the live JDBC round-trip the source side
    already has.

    ``staged=True`` (full refreshes only): load into
    ``<table>_stage`` first, then swap via DROP + RENAME on one JDBC
    connection. A plain JDBC overwrite drops the live table BEFORE
    the (possibly minutes-long) reload, so readers see an empty/
    missing table for the whole load and a failed load loses the old
    data; the staged swap shrinks the exposure window to two DDL
    statements and a mid-load failure leaves the previous table
    intact — the parquet sink's stage-then-swap discipline
    (compact_parquet_dir) applied to the warehouse. (BigQuery's
    WRITE_TRUNCATE is atomic server-side, which is why the reference
    never needed this; plain JDBC warehouses do.)

    Scale: df.write.jdbc opens one connection per partition and
    inserts in parallel — repartition to the warehouse's acceptable
    concurrent-writer count first; batch size rides the usual
    ``batchsize`` property."""

    url: str = ""
    table: str = ""
    properties: dict[str, str] | None = None
    staged: bool = False
    #: target namespace; None → the URL's dialect default (Derby APP,
    #: PostgreSQL public, MSSQL dbo)
    schema: str | None = None

    def __post_init__(self):
        # baseline for APPEND verification; None until write() runs
        self._pre_rows: int | None = None

    def _dialect(self):
        from ..sources.dialects import dialect_for_url

        return dialect_for_url(self.url)

    def _warehouse_count(self, spark: SparkSession) -> int:
        """Pushed-COUNT of the target table via the DSv2 catalog route
        — one row over the wire (`sources/jdbc.py::read_jdbc_catalog`
        compiles the aggregate into the database). Identifier casing
        and namespace come from the URL's dialect, not hardcoded Derby
        conventions."""
        from ..sources.jdbc import JdbcSourceSpec, read_jdbc_catalog

        d = self._dialect()
        spec = JdbcSourceSpec(
            url=self.url,
            table=d.stored_identifier(self.table),
            properties=self.properties or {},
        )
        # Dialects with no default namespace (MySQL: the database IS
        # the namespace, named in the URL) get an empty-string schema;
        # passing that through would build the malformed three-part
        # identifier `catalog..table`. An empty schema routes to the
        # connection's own database via a two-part identifier instead.
        return read_jdbc_catalog(
            spark,
            spec,
            catalog=f"audit_{self.table.lower()}",
            schema=self.schema or d.default_schema or None,
        ).count()

    def write(self, df: DataFrame, mode: WriteMode) -> int:
        self._dialect()  # an unmodelled URL fails here, before any connection
        df, obs = _observed(self.prepare(df))  # S14 audit rides the write pass
        props = self.properties or {}
        if mode is WriteMode.APPEND:
            # baseline for delta verification: an appended table keeps
            # prior days' rows, so verify_rowcount must compare the
            # DELTA, not the total. ONLY a missing table (first-ever
            # load) may baseline to 0 — a transient count failure on an
            # EXISTING table must abort the load, else a silent no-op
            # append verifies against a corrupted baseline of 0 and
            # passes (the same propagate-non-missing principle as
            # streaming/jobs.py::_read_store).
            try:
                self._pre_rows = self._warehouse_count(df.sparkSession)
            except Exception as exc:
                if not self._is_missing_table(exc):
                    raise
                self._pre_rows = 0
        else:
            self._pre_rows = 0
        if self.staged and mode is WriteMode.TRUNCATE:
            stage = f"{self.table}_stage"
            df.write.jdbc(self.url, stage, mode="overwrite", properties=props)
            self._swap_stage(df.sparkSession, stage)
        else:
            df.write.jdbc(self.url, self.table, mode=mode.value, properties=props)
        return int(obs.get["rows"])

    def verify_rowcount(self, spark: SparkSession, expected: int) -> int:
        """Target-side load verification: re-count the landed table IN
        THE WAREHOUSE via the DSv2 catalog route, whose aggregate
        pushdown compiles the COUNT into the database — one row
        crosses the wire, so the audit stays metadata-priced at any
        table size (the observe()-based count in write() measures what
        Spark SENT; this measures what the warehouse KEPT — the pair
        catches driver/connector truncation the send-side audit
        cannot). ``expected`` is THIS RUN's rows_written; on APPEND
        loads the check subtracts the pre-write baseline captured in
        write(), so daily increments verify their own delta instead of
        flagging prior days as a mismatch. Raises on mismatch."""
        got = self._warehouse_count(spark)
        delta = got - (self._pre_rows or 0)
        if delta != expected:
            raise RuntimeError(
                f"post-load audit mismatch on {self.table}: warehouse "
                f"gained {delta} rows ({got} total, baseline "
                f"{self._pre_rows or 0}), expected {expected}"
            )
        return got

    #: SQLStates meaning "table does not exist" — the ONLY failure the
    #: APPEND baseline count and the staged swap's DROP may ignore
    #: (first ever load): Derby 42Y55, MySQL/MSSQL 42S02, PostgreSQL 42P01.
    _MISSING_TABLE_SQLSTATES = ("42Y55", "42S02", "42P01")

    @classmethod
    def _is_missing_table(cls, exc: Exception) -> bool:
        """True iff ``exc`` means the audited table does not exist —
        either Spark's own resolution error (the DSv2 catalog route
        raises TABLE_OR_VIEW_NOT_FOUND before any SQL runs) or a
        database-side missing-table SQLState. Everything else (lock
        timeout, network, permissions) is NOT a first-load signal and
        must propagate."""
        msg = str(exc)
        if "TABLE_OR_VIEW_NOT_FOUND" in msg:
            return True
        state = getattr(
            getattr(exc, "java_exception", None), "getSQLState", lambda: None
        )()
        return state in cls._MISSING_TABLE_SQLSTATES or any(
            f"SQLSTATE: {s}" in msg for s in cls._MISSING_TABLE_SQLSTATES
        )

    @staticmethod
    def _ddl_identifier(name: str) -> str:
        """Validate a table identifier destined for interpolated DDL.
        The swap DDL strings are deliberately UNQUOTED — Spark's own
        ``df.write.jdbc`` issues its CREATE TABLE with the table name
        unquoted too, so quoting here would case-mismatch the very
        table the load just created on fold-to-upper engines (Derby).
        Validation therefore carries the injection defense: anything
        outside ``[A-Za-z0-9_.]`` (a CLI-influenced name like
        ``x; DROP TABLE y``) is rejected before it reaches the
        connection."""
        if not re.fullmatch(r"[A-Za-z0-9_.]+", name):
            raise ValueError(f"invalid table identifier for staged swap: {name!r}")
        return name

    def _swap_stage(self, spark: SparkSession, stage: str) -> None:
        """DROP old + RENAME stage→table on one driver-side JDBC
        connection (DDL is metadata-sized; the bulk load already ran
        distributed). ONLY a missing-table DROP failure (first ever
        load — recognized by SQLState) is ignored; a lock timeout or
        permission error propagates immediately instead of surfacing
        later as a confusing RENAME failure. Either way the previous
        table is still intact under its old name or the fresh data
        under ``_stage`` — nothing is lost."""
        table = self._ddl_identifier(self.table)
        stage = self._ddl_identifier(stage)
        jvm = spark._sc._jvm
        props = self.properties or {}
        # credentials travel as properties (never in the url — same
        # policy as the reader, sources/jdbc.py); embedded engines like
        # Derby simply have none set
        if "user" in props or "password" in props:
            conn = jvm.java.sql.DriverManager.getConnection(
                self.url, props.get("user", ""), props.get("password", "")
            )
        else:
            conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(f"DROP TABLE {table}")
            except Exception as exc:
                if not self._is_missing_table(exc):
                    raise
            # Derby/standard syntax: new name is unqualified
            stmt.execute(f"RENAME TABLE {stage} TO {table.rsplit('.', 1)[-1]}")
            stmt.close()
        finally:
            conn.close()


def bigquery_sink_for_reference_table(
    table_name: str,
    *,
    project_id: str,
    dataset_id: str,
    declared_schema: T.StructType | None = None,
    temporary_gcs_bucket: str | None = None,
) -> BigQuerySink:
    """Build the sink exactly as the reference's ``load_to_bigquery``
    configures its load job (bigquery_operations.py:21-44): table ref
    ``project.dataset.table`` (:24), DAY partitioning on BackupDate for
    ``daily_log`` only (:30-34, read from its ``REFERENCE_SPECS``
    entry), declared schema enforced (:27). The truncate-vs-append
    disposition (:36, from ``is_daily``) is the ``WriteMode`` passed
    to :meth:`BigQuerySink.write` — same split as the reference, where
    dispositions are per-run, not per-table."""
    from ..plans.table_spec import REFERENCE_SPECS

    spec = REFERENCE_SPECS.get(table_name)
    return BigQuerySink(
        declared_schema=declared_schema,
        partition_field=spec.partition_field if spec else None,
        table=f"{project_id}.{dataset_id}.{table_name}",
        temporary_gcs_bucket=temporary_gcs_bucket,
    )


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Small-file compaction — the table-maintenance job every
    streaming/incremental sink eventually needs (each micro-batch
    append leaves file fragments; 10⁶ tiny files turn every scan into
    a listing storm and every task into open/close overhead).

    Rewrites the directory to ceil(bytes / target_file_bytes) files
    via coalesce (narrow — no shuffle: compaction is IO-bound, a
    repartition would pay a full shuffle for nothing) and swaps the
    result in by rename-aside (`swap_dir`). (This is still not a
    transaction — a table format's metadata commit, Delta OPTIMIZE /
    Iceberg rewrite_data_files, is the true atomic version at cluster
    scale.) Returns (files_before, files_after).

    At cluster scale the same logic runs per partition directory —
    day partitions compact independently and in parallel, and a table
    format (Delta OPTIMIZE / Iceberg rewrite_data_files) replaces the
    directory swap with a transactional commit.
    """
    import math

    recover_swap(path)

    def _parquet_files(p: str) -> list[str]:
        return [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        ]

    before = _parquet_files(path)
    total_bytes = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compacting"
    df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
    swap_dir(tmp, path)
    return len(before), len(_parquet_files(path))


def recover_swap(path: str) -> None:
    """Undo a `swap_dir` that crashed between its two renames: when
    ``path`` is missing and ``<path>._old`` exists, ``._old`` holds the
    only copy, so it renames back to ``path``. Run before anything
    reads ``path``. Callers: swap_dir, compact_parquet_dir and
    streaming.jobs.run_foreach_batch_merge."""
    old = path.rstrip("/") + "._old"
    if not os.path.exists(path) and os.path.exists(old):
        os.replace(old, path)


def swap_dir(staged: str, path: str) -> None:
    """Move the directory ``staged`` into place at ``path`` by
    rename-aside: the live dir (if any) moves to ``<path>._old``,
    ``staged`` renames into place, then ``._old`` is deleted. Each
    rename is atomic on a POSIX filesystem, so the window with no data
    at ``path`` is one rename-to-rename gap, not a recursive delete,
    and a crash mid-swap strands a recoverable ``._old`` copy instead
    of losing the dataset.

    Restore rule for a prior crashed swap: a ``._old`` without
    ``path`` is the only copy and first renames back to ``path``
    (`recover_swap`); a ``._old`` beside ``path`` is the superseded
    copy of a swap that crashed after its second rename, and only then
    is it deleted."""
    recover_swap(path)
    old = path.rstrip("/") + "._old"
    if os.path.exists(old):  # beside path: superseded by a finished swap
        shutil.rmtree(old)
    live = os.path.exists(path)
    if live:
        os.replace(path, old)
    os.replace(staged, path)
    if live:
        shutil.rmtree(old)
