"""Reference-pipeline semantics (SURVEY.md §2a / §5 item 3): rename
maps, drop intent, bool casts, datetime truncation, daily window,
empty-skip, truncate-vs-append, partitioned layout, schema errors.

Family-B fixtures (FIXTURES.md §B) are built in-memory here — tiny,
deterministic, with the boundary rows the fixture notes call for.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_to_bigquery_spark.functions import (
    apply_declared_schema,
    cast_bools,
    format_datetimes_as_strings,
)
from database_to_bigquery_spark.plans import REFERENCE_SPECS, run_pipeline
from database_to_bigquery_spark.plans.pipeline import run_table
from database_to_bigquery_spark.sinks import ParquetSink


@pytest.fixture()
def daily_log_df(spark):
    # raw (pre-transform) daily_log shape per FIXTURES.md §B, including
    # a sub-second timestamp (tests S4 truncation) and rows on the
    # 'yesterday' boundary (tests the S3 window).
    rows = [
        (1, dt.datetime(2024, 1, 9, 10, 0, 0, 123456), "s1", "db1", 100, "ok",
         dt.datetime(2024, 1, 9, 10, 5, 0), "a.bak"),
        (2, dt.datetime(2024, 1, 10, 0, 0, 0), "s1", "db2", 200, "ok",
         dt.datetime(2024, 1, 10, 0, 1, 0), "b.bak"),
        (3, dt.datetime(2024, 1, 10, 23, 59, 59, 999999), "s2", "db3", 300, "fail",
         dt.datetime(2024, 1, 11, 0, 0, 1), "c.bak"),
        (4, dt.datetime(2024, 1, 11, 0, 0, 0), "s2", "db4", 400, "ok",
         dt.datetime(2024, 1, 11, 0, 1, 0), "d.bak"),
    ]
    schema = (
        "ID long, backup_date timestamp, server string, database string, "
        "size long, state string, last_update timestamp, fileName string"
    )
    return spark.createDataFrame(rows, schema)


def test_rename_map_and_drop_intent(daily_log_df):
    out = REFERENCE_SPECS["daily_log"].transform(daily_log_df)
    # rename applied (transformations.py:10-19) and the *intent* of the
    # fileName drop honored (SURVEY.md §7 decision 1: the reference's
    # drop is a silent no-op; ours actually drops)
    assert out.columns == ["ID", "BackupDate", "Server", "Database", "Size", "State", "LastUpdate"]


def test_identity_rename_backup_log(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "s", 10, "/p", dt.datetime(2024, 1, 1))],
        "id long, backup_date timestamp, server string, size long, filepath string, last_update timestamp",
    )
    out = REFERENCE_SPECS["backup_log"].transform(df)
    assert out.columns == df.columns  # transformations.py:23-30 is identity


def test_passthrough_table(spark):
    df = spark.createDataFrame([(1, "x", dt.datetime(2024, 1, 1))], "id long, name string, updated_at timestamp")
    out = REFERENCE_SPECS["servers_temp"].transform(df)
    assert out.schema == df.schema  # S8 no-op default (transformations.py:74)


def test_bool_cast_semantics(spark):
    # 0/1 and NULL semantics (transformations.py:33-37); absent columns skipped
    df = spark.createDataFrame([(1, 0), (2, 1), (3, None)], "id long, sun int")
    out = cast_bools(df, ["sun", "mon"])
    vals = {r["id"]: r["sun"] for r in out.collect()}
    assert vals == {1: False, 2: True, 3: None}
    assert dict(out.dtypes)["sun"] == "boolean"


def test_datetime_format_truncates_subseconds(daily_log_df):
    # an NTZ column too: load_table reads events.ts as TIMESTAMP_NTZ,
    # which is not a subclass of TimestampType
    df = daily_log_df.withColumn("seen_at", F.col("backup_date").cast("timestamp_ntz"))
    out = format_datetimes_as_strings(df)
    row = out.filter(F.col("ID") == 1).collect()[0]
    assert row["backup_date"] == "2024-01-09 10:00:00"  # .123456 dropped (mysql_operations.py:30-31)
    assert row["seen_at"] == "2024-01-09 10:00:00"
    assert dict(out.dtypes)["backup_date"] == "string"
    assert dict(out.dtypes)["last_update"] == "string"  # sweeps ALL timestamp cols
    assert dict(out.dtypes)["seen_at"] == "string"


def test_incremental_window_exact_day(daily_log_df):
    spec = REFERENCE_SPECS["daily_log"]
    out = spec.incremental_filter(spec.transform(daily_log_df), dt.date(2024, 1, 10))
    ids = sorted(r["ID"] for r in out.collect())
    assert ids == [2, 3]  # inclusive 00:00:00, exclusive next-day 00:00:00


def test_schema_enforcement_missing_column_errors(spark):
    df = spark.createDataFrame([(1,)], "a long")
    declared = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    with pytest.raises(ValueError, match="missing"):
        apply_declared_schema(df, declared)  # bigquery_operations.py:11-12 strictness


def test_schema_enforcement_casts_and_projects(spark):
    df = spark.createDataFrame([(1, "x", 2.5)], "a int, b string, extra double")
    declared = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    out = apply_declared_schema(df, declared)
    assert out.schema == declared  # extra column projected away, a widened


def test_truncate_then_append_roundtrip(spark, daily_log_df, tmp_path):
    spec = REFERENCE_SPECS["daily_log"]
    sink = ParquetSink(path=str(tmp_path / "daily_log"), partition_field="BackupDate")
    full = run_table(spark, spec, daily_log_df, sink, is_daily=False)
    assert full.rows_written == 4
    # daily append of the 2024-01-10 slice
    daily = run_table(spark, spec, daily_log_df, sink, is_daily=True, day=dt.date(2024, 1, 10))
    assert daily.rows_written == 2
    back = spark.read.parquet(str(tmp_path / "daily_log"))
    assert back.count() == 6  # 4 overwritten + 2 appended
    # S13: day-partitioned directory layout
    assert any("BackupDate_day=" in str(p) for p in (tmp_path / "daily_log").iterdir())


def test_empty_extract_skips_load(spark, daily_log_df, tmp_path):
    spec = REFERENCE_SPECS["daily_log"]
    sink = ParquetSink(path=str(tmp_path / "out"))
    res = run_table(spark, spec, daily_log_df.filter("ID > 999"), sink)
    assert res.skipped_empty and res.rows_written == 0
    assert not (tmp_path / "out").exists()  # etl_process.py:21 — no load at all


def test_pipeline_fail_fast_and_isolation(spark, daily_log_df, tmp_path):
    bad_sink = ParquetSink(
        path=str(tmp_path / "x"),
        declared_schema=T.StructType([T.StructField("nope", T.LongType())]),
    )
    ok_sink = ParquetSink(path=str(tmp_path / "ok"))
    jobs = [
        (REFERENCE_SPECS["daily_log"], daily_log_df, bad_sink),
        (REFERENCE_SPECS["servers_temp"], daily_log_df, ok_sink),
    ]
    with pytest.raises(ValueError):  # fail-fast default (etl_process.py:27-29)
        run_pipeline(spark, jobs)
    results = run_pipeline(spark, jobs, isolate_errors=True)
    assert results[0].error is not None
    assert results[1].rows_written == 4  # isolation lets table 2 proceed


def test_salted_join_equals_plain_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.data import load_table
    from database_to_bigquery_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    # manufacture real skew: collapse most types into one hot key
    skewed = ev.withColumn(
        "event_type",
        F.when(F.col("event_id") % 10 < 9, F.lit("hot")).otherwise(F.col("event_type")),
    )
    dim = skewed.groupBy("event_type").agg(F.count("*").alias("n"))
    got = salted_join(skewed, dim, "event_type").orderBy("event_id")
    want = skewed.join(dim, "event_type").orderBy("event_id")
    assert [tuple(r) for r in got.select(*want.columns).collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_partition_pruning_on_day_partitioned_sink(spark, sf_dir, tmp_path):
    """The S13 day-partitioned layout must actually prune: a day filter
    on the read side should scan one partition directory, not all."""
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.data import load_table

    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, sf_dir, "events")
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(out)
    one_day = spark.read.parquet(out).filter(F.col("day") == "2024-01-02")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    n_days = ev.select(F.to_date("ts").alias("d")).distinct().count()
    assert 0 < one_day.count() < ev.count() / max(n_days - 1, 1) * 2


def test_etl_cli_full_and_daily(spark, sf_dir, tmp_path, capsys):
    """S16: the CLI twin of the reference's etl_process.py — full run
    overwrites, daily run appends exactly one day's slice (S3+S12) and
    skips tables with an empty slice (S9)."""
    from database_to_bigquery_spark.etl import main

    target = str(tmp_path / "warehouse")
    assert main(["--source", sf_dir, "--target", target]) == 0
    full_count = spark.read.parquet(f"{target}/events").count()
    assert full_count == spark.read.parquet(f"{sf_dir}/events.parquet").count()

    assert main([
        "--daily", "--day", "2024-01-15", "--source", sf_dir, "--target", target,
    ]) == 0
    out = capsys.readouterr().out
    assert "orders: skipped (empty)" in out  # no orders dated 2024-01-15
    back = spark.read.parquet(f"{target}/events")
    from pyspark.sql import functions as F

    day_rows = back.filter(F.col("ts_day") == "2024-01-15").count()
    appended = back.count() - full_count
    assert appended > 0 and day_rows == 2 * appended  # slice present twice: full + daily append


def test_etl_cli_isolate_errors(spark, sf_dir, tmp_path, capsys):
    """S15's isolation flag on the CLI: a table whose source is missing
    fails alone when --isolate-errors is set (exit 1, error recorded,
    other tables written); without the flag the run is fail-fast like
    the reference (etl_process.py:27-29)."""
    import shutil

    import pytest as _pytest

    from database_to_bigquery_spark.etl import main

    partial_src = tmp_path / "partial"
    partial_src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", partial_src / "events.parquet")
    target = str(tmp_path / "warehouse")

    rc = main([
        "--source", str(partial_src), "--target", target,
        "--tables", "events,orders", "--isolate-errors",
    ])
    out = capsys.readouterr().out
    assert rc == 1
    assert "orders: ERROR" in out and "events:" in out
    assert spark.read.parquet(f"{target}/events").count() > 0

    with _pytest.raises(Exception):
        main([
            "--source", str(partial_src), "--target", target,
            "--tables", "orders,events",
        ])


def test_etl_cli_dated_log_file(spark, sf_dir, tmp_path):
    """S19: --log-dir writes the reference's dated log file shape
    (config.py:38-39: MYSQL_to_BQ_{YYYY-MM-DD}.log) with run records."""
    from database_to_bigquery_spark.etl import main

    log_dir = tmp_path / "logs"
    assert main([
        "--daily", "--day", "2024-01-15", "--source", sf_dir,
        "--target", str(tmp_path / "wh"), "--log-dir", str(log_dir),
    ]) == 0
    log_path = log_dir / "MYSQL_to_BQ_2024-01-15.log"
    assert log_path.exists()
    assert "INFO" in log_path.read_text()
    # detach the run handlers (dated FileHandler + StreamHandler bound to
    # pytest's captured stderr) so interpreter-shutdown logging from py4j
    # doesn't hit a deleted file / closed capture stream
    import logging

    root = logging.getLogger()
    for h in root.handlers[:]:
        root.removeHandler(h)
        h.close()
    root.setLevel(logging.WARNING)


def test_run_etl_sh_smoke(sf_dir, tmp_path):
    """run_etl.sh twin (reference run_etl.sh:4-7): forwards args to the
    CLI module in a subprocess. --help avoids a second JVM spin-up."""
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    script = repo / "run_etl.sh"
    assert script.exists()
    proc = subprocess.run(
        ["bash", str(script), "--help"],
        capture_output=True, text=True, cwd=repo,
        env={"PATH": f"{pathlib.Path(sys.executable).parent}:/usr/bin:/bin"},
    )
    assert proc.returncode == 0, proc.stderr
    assert "--daily" in proc.stdout and "--log-dir" in proc.stdout


def test_get_spark_honours_spark_submit_master(tmp_path):
    """Under spark-submit, get_spark keeps spark-submit's --master
    instead of replacing it with local[$SPARK_GRAFT_CPUS]."""
    import os
    import pathlib
    import subprocess
    import sys

    import pyspark

    repo = pathlib.Path(__file__).resolve().parents[1]
    script = tmp_path / "master.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, {str(repo)!r})
from database_to_bigquery_spark.session import get_spark
spark = get_spark("submit-master")
print("PARALLELISM", spark.sparkContext.defaultParallelism)
spark.stop()
"""
    )
    submit = pathlib.Path(pyspark.__file__).parent / "bin" / "spark-submit"
    env = dict(os.environ, SPARK_GRAFT_CPUS="3", PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [str(submit), "--master", "local[2]", str(script)],
        capture_output=True, text=True, cwd=tmp_path, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "PARALLELISM 2" in proc.stdout, proc.stdout


def test_cli_sink_format_orc(spark, sf_dir, tmp_path):
    # --sink-format routes through FileSink; the warehouse round-trips
    from database_to_bigquery_spark import etl

    rc = etl.main(
        [
            "--source", sf_dir,
            "--target", str(tmp_path / "wh"),
            "--tables", "customer",
            "--sink-format", "orc",
        ]
    )
    assert rc == 0
    back = spark.read.orc(str(tmp_path / "wh" / "customer"))
    want = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert back.count() == want.count()
    assert set(back.columns) == set(want.columns)


def test_etl_cli_live_jdbc_source_and_target(spark, sf_dir, tmp_path, capsys):
    """The reference's ACTUAL invocation shape end-to-end live: CLI →
    JDBC extract → transform/empty-guard → staged-swap JDBC warehouse
    load → audit counts, against embedded Derby on both ends. A
    migrating user swaps url/driver strings for MySQL/BigQuery and
    keeps this exact command line."""
    from database_to_bigquery_spark.etl import main

    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    url = f"jdbc:derby:{tmp_path}/live;create=true"
    # seed the "MySQL": the CLI's events fixture table
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    src.write.jdbc(url, "events", mode="overwrite", properties=props)

    rc = main([
        "--tables", "events",
        "--source-jdbc", url,
        "--target-jdbc", url,
        "--jdbc-driver", "org.apache.derby.jdbc.EmbeddedDriver",
        "--verify-target",  # warehouse-side pushed-COUNT recount
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert f"events: {src.count()} rows" in out  # S14 audit over the live write
    loaded = spark.read.jdbc(url, "events_loaded", properties=props)
    assert loaded.count() == src.count()
    # daily mode: the staged APPEND path adds exactly one day's slice
    rc = main([
        "--daily", "--day", "2024-01-15",
        "--tables", "events",
        "--source-jdbc", url,
        "--target-jdbc", url,
        "--jdbc-driver", "org.apache.derby.jdbc.EmbeddedDriver",
    ])
    assert rc == 0
    from pyspark.sql import functions as F

    day_rows = src.filter(F.to_date("ts") == "2024-01-15").count()
    assert (
        spark.read.jdbc(url, "events_loaded", properties=props).count()
        == src.count() + day_rows
    )
    assert day_rows > 0


class TestSchemaRegistry:
    """S18: the reference's MYSQL_to_BigQuery_tables.json registry
    (config.py:27-29 + bigquery_operations.py:9-19) as a JSON →
    StructType factory, wired through Sink.declared_schema → S10
    enforcement → a real write."""

    REGISTRY = {
        "daily_log": [
            {"name": "ID", "type": "INTEGER"},
            {"name": "BackupDate", "type": "TIMESTAMP"},
            {"name": "Server", "type": "STRING"},
            {"name": "Size", "type": "FLOAT"},
        ],
        "servers_temp": [
            {"name": "server", "type": "STRING"},
            {"name": "active", "type": "BOOLEAN"},
        ],
    }

    def test_registry_to_struct_type(self, tmp_path):
        import json

        from pyspark.sql import types as T

        from database_to_bigquery_spark.plans.table_spec import schema_from_registry

        # dict form and file form must agree (the reference loads a file)
        p = tmp_path / "MYSQL_to_BigQuery_tables.json"
        p.write_text(json.dumps(self.REGISTRY))
        for cfg in (self.REGISTRY, str(p)):
            s = schema_from_registry(cfg, "daily_log")
            assert [f.name for f in s.fields] == ["ID", "BackupDate", "Server", "Size"]
            assert [f.dataType for f in s.fields] == [
                T.LongType(), T.TimestampType(), T.StringType(), T.DoubleType()]

    def test_missing_table_is_error_like_reference(self):
        import pytest as _pytest

        from database_to_bigquery_spark.plans.table_spec import schema_from_registry

        # bigquery_operations.py:12-14 — verbatim error contract
        with _pytest.raises(ValueError, match="No schema defined for table"):
            schema_from_registry(self.REGISTRY, "not_configured")

    def test_unknown_type_fails_at_plan_time(self):
        import pytest as _pytest

        from database_to_bigquery_spark.plans.table_spec import schema_from_registry

        with _pytest.raises(ValueError, match="unsupported registry type"):
            schema_from_registry({"t": [{"name": "x", "type": "GEOGRAPHY"}]}, "t")

    def test_registry_schema_enforced_through_sink(self, spark, tmp_path):
        from database_to_bigquery_spark.plans.table_spec import schema_from_registry
        from database_to_bigquery_spark.sinks.writers import ParquetSink, WriteMode

        schema = schema_from_registry(self.REGISTRY, "servers_temp")
        sink = ParquetSink(declared_schema=schema, path=str(tmp_path / "out"))
        df = spark.createDataFrame(
            [("alpha", True, "extra"), ("beta", False, "extra")],
            "server string, active boolean, undeclared string",
        )
        assert sink.write(df, WriteMode.TRUNCATE) == 2
        back = spark.read.parquet(str(tmp_path / "out"))
        # declared columns only, declared types (S10 + S18 end-to-end)
        assert back.columns == ["server", "active"]
        # a source MISSING a declared column is an error (S10 strictness)
        import pytest as _pytest

        bad = spark.createDataFrame([("x",)], "server string")
        with _pytest.raises(Exception, match="active|missing"):
            sink.write(bad, WriteMode.TRUNCATE)


def test_etl_cli_schema_registry_enforced(spark, sf_dir, tmp_path):
    """S18 on the CLI: a registry JSON (reference
    MYSQL_to_BigQuery_tables.json shape) declares a column subset for
    events; the warehouse output carries exactly the declared columns
    in declared types, other tables pass through untouched."""
    import json

    from database_to_bigquery_spark.etl import main

    reg = tmp_path / "registry.json"
    reg.write_text(json.dumps({
        "events": [
            {"name": "event_id", "type": "INTEGER"},
            {"name": "user_id", "type": "INTEGER"},
            {"name": "ts", "type": "TIMESTAMP"},
            {"name": "value", "type": "FLOAT"},
        ]
    }))
    target = str(tmp_path / "wh")
    assert main([
        "--source", sf_dir, "--target", target,
        "--tables", "events,customer",
        "--schema-registry", str(reg),
    ]) == 0
    ev = spark.read.parquet(f"{target}/events")
    # declared columns + the sink's derived day-partition column only
    assert sorted(ev.columns) == ["event_id", "ts", "ts_day", "user_id", "value"]
    # customer (absent from registry) is written as-extracted
    cust = spark.read.parquet(f"{target}/customer")
    src_cols = spark.read.parquet(f"{sf_dir}/customer.parquet").columns
    assert sorted(cust.columns) == sorted(src_cols)
