"""S16: the CLI — the reference's ``python etl_process.py [--daily]``
surface (reference ``etl_process.py:31-37``, ``run_etl.sh:7``) on the
Spark engine, so a reference user keeps the exact invocation shape:

    python -m database_to_bigquery_spark.etl --target /tmp/warehouse
    python -m database_to_bigquery_spark.etl --daily --day 2024-01-15 \\
        --source /root/testdata/sf0.01 --target /tmp/warehouse

Differences from the reference, all per SURVEY.md §7:
  * ``--day`` pins the incremental slice (the reference hardcodes
    "yesterday", which makes runs non-reproducible); default stays
    yesterday,
  * ``--isolate-errors`` opts into per-table failure isolation
    (reference is fail-fast only; fail-fast remains the default),
  * source is a parquet directory OR a live database:
    ``--source-jdbc jdbc:...`` (with ``--jdbc-driver``) runs the
    reference's actual extract shape through the partitioned JDBC
    reader, and ``--target-jdbc jdbc:...`` loads a JDBC warehouse via
    the staged-swap sink instead of files — the full live loop is
    exercised against embedded Derby in tests/test_pipeline.py.

Tables default to the fixture tables with natural incremental/
partition columns; the reference's own allowlist tables run through
the same ``run_pipeline`` seam in tests (tests/test_pipeline.py).
"""

from __future__ import annotations

import argparse
import datetime as dt
import logging
import os

from .data import load_table
from .plans.pipeline import PipelineResult, run_pipeline
from .plans.table_spec import TableSpec, schema_from_registry
from .sinks.writers import FileSink, JdbcSink, Sink
from .session import get_spark
from .sources.jdbc import JdbcSourceSpec, read_jdbc

#: Fixture-table specs: incremental column = the event-time column the
#: reference's daily predicate (mysql_operations.py:21-23) would key on.
FIXTURE_SPECS: dict[str, TableSpec] = {
    "events": TableSpec(name="events", incremental_column="ts", partition_field="ts"),
    "orders": TableSpec(
        name="orders", incremental_column="o_orderdate", partition_field="o_orderdate"
    ),
    "lineitem": TableSpec(name="lineitem", incremental_column="l_shipdate"),
    "customer": TableSpec(name="customer"),  # full refresh (S8 passthrough)
}


def configure_run_logging(log_dir: str | None, day: dt.date | None = None) -> str | None:
    """S19: dated per-run log file, the reference's
    ``LOG_FILE = f"/backup/logs/MYSQL_to_BQ_{CURRENT_DATE}.log"``
    (reference config.py:38-39) — same ``{prefix}_{YYYY-MM-DD}.log``
    shape so a migrating user's logrotate/cron greps keep working.
    Console logging stays on; returns the log path (None if disabled).
    """
    fmt = "%(asctime)s %(levelname)s %(message)s"
    handlers: list[logging.Handler] = [logging.StreamHandler()]
    log_path = None
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        date_str = (day or dt.date.today()).isoformat()
        log_path = os.path.join(log_dir, f"MYSQL_to_BQ_{date_str}.log")
        handlers.append(logging.FileHandler(log_path))
    logging.basicConfig(level=logging.INFO, format=fmt, handlers=handlers, force=True)
    return log_path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Spark ETL (reference etl_process.py twin)")
    ap.add_argument("--daily", action="store_true", help="incremental mode (S3)")
    ap.add_argument("--day", type=dt.date.fromisoformat, default=None,
                    help="day to extract in --daily mode (default: yesterday)")
    ap.add_argument("--source", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--target", default=None,
                    help="warehouse output directory (required unless --target-jdbc)")
    ap.add_argument("--tables", default="events,orders",
                    help="comma-separated subset of: " + ",".join(FIXTURE_SPECS))
    ap.add_argument("--isolate-errors", action="store_true",
                    help="continue past per-table failures (reference is fail-fast)")
    ap.add_argument("--log-dir", default=None,
                    help="write a dated run log file here (S19, reference config.py:38-39)")
    ap.add_argument("--sink-format", default="parquet",
                    choices=["parquet", "orc", "csv", "json"],
                    help="warehouse file format (csv/json callers usually also want "
                         "the reference's S4 datetime->string rendering)")
    ap.add_argument("--source-jdbc", default=None, metavar="URL",
                    help="extract from this JDBC url instead of --source parquet "
                         "(the reference's live-database shape, mysql_operations.py:15-27)")
    ap.add_argument("--target-jdbc", default=None, metavar="URL",
                    help="load a JDBC warehouse at this url instead of files "
                         "(staged-swap full refreshes; --target ignored)")
    ap.add_argument("--jdbc-driver", default=None,
                    help="JDBC driver class for --source-jdbc/--target-jdbc "
                         "(e.g. com.mysql.cj.jdbc.Driver, org.apache.derby.jdbc.EmbeddedDriver)")
    ap.add_argument("--verify-target", action="store_true",
                    help="after each JDBC load, recount the landed table in "
                         "the warehouse (DSv2 pushed COUNT — one row over the "
                         "wire) and fail the table on a sent-vs-kept mismatch")
    ap.add_argument("--schema-registry", default=None, metavar="JSON",
                    help="S18: per-table declared-schema JSON (the reference's "
                         "MYSQL_to_BigQuery_tables.json shape, config.py:27-29); "
                         "tables present in it are schema-enforced before every "
                         "write (S10), tables absent are written as-extracted")
    args = ap.parse_args(argv)
    if not args.target and not args.target_jdbc:
        ap.error("one of --target / --target-jdbc is required")

    configure_run_logging(args.log_dir, day=args.day)
    spark = get_spark("etl-cli")
    jobs = []
    results: list[PipelineResult] = []
    jdbc_props = {"driver": args.jdbc_driver} if args.jdbc_driver else {}
    registry = {}
    if args.schema_registry:
        import json

        with open(args.schema_registry, encoding="utf-8") as f:
            registry = json.load(f)
    for t in args.tables.split(","):
        spec = FIXTURE_SPECS[t.strip()]
        declared = (
            schema_from_registry(registry, spec.name) if spec.name in registry else None
        )
        sink: Sink
        if args.target_jdbc:
            sink = JdbcSink(
                declared_schema=declared,
                url=args.target_jdbc,
                table=f"{spec.name}_loaded",
                properties=jdbc_props,
                staged=True,  # full refreshes swap, never expose a half-load
            )
        else:
            sink = FileSink(
                declared_schema=declared,
                path=os.path.join(args.target, spec.name),
                format=args.sink_format,
                partition_field=spec.partition_field,
            )
        try:
            # schema resolution is eager — a missing/corrupt source
            # fails HERE, so isolation has to cover the load too, not
            # just the write loop
            if args.source_jdbc:
                df = read_jdbc(
                    spark,
                    JdbcSourceSpec(
                        url=args.source_jdbc, table=spec.name, properties=jdbc_props
                    ),
                )
            else:
                df = load_table(spark, args.source, spec.name)
        except Exception as exc:
            if not args.isolate_errors:
                raise
            logging.getLogger(__name__).exception("table %s: source failed", spec.name)
            results.append(PipelineResult(spec.name, 0, skipped_empty=False, error=str(exc)))
            continue
        jobs.append((spec, df, sink))

    results += run_pipeline(
        spark, jobs, is_daily=args.daily, day=args.day,
        isolate_errors=args.isolate_errors,
    )
    if args.verify_target and args.target_jdbc:
        # close the loop on S14: the observe() count measured what
        # Spark sent; this recounts what the warehouse kept, via the
        # DSv2 catalog whose COUNT pushes down (one row over JDBC)
        sinks_by_table = {spec.name: snk for spec, _, snk in jobs}
        for r in results:
            if r.error or r.skipped_empty or r.table not in sinks_by_table:
                continue
            try:
                sinks_by_table[r.table].verify_rowcount(spark, r.rows_written)
            except Exception as exc:
                if not args.isolate_errors:
                    raise
                logging.getLogger(__name__).exception(
                    "table %s: target verification failed", r.table
                )
                r.error = str(exc)
    for r in results:
        status = "ERROR: " + r.error if r.error else (
            "skipped (empty)" if r.skipped_empty else f"{r.rows_written} rows")
        print(f"{r.table}: {status}")
    # release the run's handlers: configure_run_logging pinned root
    # handlers to THIS run's stderr/file. When main() is called
    # in-process (tests, notebooks), anything logging after we return
    # — e.g. py4j's interpreter-shutdown message — would hit a closed
    # capture stream or a deleted log dir ("--- Logging error ---"
    # noise). Dropping the handlers falls back to logging.lastResort,
    # which resolves sys.stderr at emit time and is always safe.
    root = logging.getLogger()
    for h in root.handlers[:]:
        root.removeHandler(h)
        h.close()
    return 1 if any(r.error for r in results) else 0


if __name__ == "__main__":
    raise SystemExit(main())
