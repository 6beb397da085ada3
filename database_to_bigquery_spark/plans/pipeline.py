"""S15/S16: the orchestrator — the reference's run_etl loop
(etl_process.py:12-29) rebuilt on Spark.

Differences by design (SURVEY.md §7):
  * tables can run concurrently (Spark scheduler handles it; the
    reference is strictly serial),
  * extract-mode and write-mode are one per-table policy (incremental →
    append one day's slice; full → overwrite),
  * fail-fast by default, with opt-in per-table error isolation.

Transforms run BEFORE the incremental filter; Catalyst pushes the
date predicate back through the rename projection to the scan, so the
execution order is still filter-at-source (strictly better than the
reference, which always SELECT *s every column).
"""

from __future__ import annotations

import datetime as dt
import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..sinks.writers import Sink, WriteMode
from .table_spec import TableSpec

log = logging.getLogger("database_to_bigquery_spark.pipeline")


@dataclass
class PipelineResult:
    table: str
    rows_written: int
    skipped_empty: bool
    error: str | None = None


def run_table(
    spark: SparkSession,
    spec: TableSpec,
    source_df: DataFrame,
    sink: Sink,
    is_daily: bool = False,
    day: dt.date | None = None,
) -> PipelineResult:
    """One table end-to-end: transform → (incremental slice) → empty
    guard (S9) → schema-enforced write (S10-S13) → audit count (S14)."""
    df = spec.transform(source_df)
    # SURVEY.md §7 decision 2: extract-mode and write-mode are ONE
    # policy. Only a daily run of an incremental table appends its
    # slice; a non-incremental table in a daily run is a full refresh
    # (overwrite), not the reference's duplicate-accumulating append
    # (mysql_operations.py:21 vs bigquery_operations.py:36).
    mode = WriteMode.TRUNCATE
    if is_daily and spec.incremental_column:
        df = spec.incremental_filter(df, day or (dt.date.today() - dt.timedelta(days=1)))
        mode = WriteMode.APPEND
    if df.isEmpty():  # S9 — isEmpty() scans at most one partition, no full count
        log.info("table %s: empty extract, skipping load", spec.name)
        return PipelineResult(spec.name, 0, skipped_empty=True)
    rows = sink.write(df, mode)
    log.info("table %s: wrote %d rows (%s)", spec.name, rows, mode.name)
    return PipelineResult(spec.name, rows, skipped_empty=False)


def run_pipeline(
    spark: SparkSession,
    jobs: list[tuple[TableSpec, DataFrame, Sink]],
    is_daily: bool = False,
    day: dt.date | None = None,
    isolate_errors: bool = False,
) -> list[PipelineResult]:
    """The full per-table loop. fail-fast by default (reference
    etl_process.py:27-29); `isolate_errors=True` records the failure
    and continues with the remaining tables."""
    results: list[PipelineResult] = []
    for spec, df, sink in jobs:
        try:
            results.append(run_table(spark, spec, df, sink, is_daily=is_daily, day=day))
        except Exception as exc:
            log.exception("table %s failed", spec.name)
            if not isolate_errors:
                raise
            results.append(PipelineResult(spec.name, 0, skipped_empty=False, error=str(exc)))
    return results
