"""S1/S2/S3 source surface + sink option mapping. No live MySQL/BQ
server exists in the container, so those engines are tested via their
option maps and SQL text — but the JDBC reader path itself IS executed
live against embedded Apache Derby (driver ships in pyspark's jars):
see TestLiveJdbcDerby for the real read + pushdown + partitioned-scan
round-trip."""

from __future__ import annotations

import datetime as dt

import pytest

from database_to_bigquery_spark.sources import files
from database_to_bigquery_spark.sources.catalog import (
    REFERENCE_ALLOWLIST,
    discover_tables,
)
from database_to_bigquery_spark.sources.jdbc import (
    JdbcSourceSpec,
    jdbc_reader_options,
    jdbc_spec_from_credentials,
    load_credentials,
    read_jdbc,
)


def test_discover_tables_allowlist(spark, sf_dir):
    out = discover_tables(spark, sf_dir, allowlist=["lineitem", "orders", "nope"])
    assert sorted(r["table_name"] for r in out.collect()) == ["lineitem", "orders"]


def test_discover_tables_all(spark, sf_dir):
    assert discover_tables(spark, sf_dir).count() == 10


def test_reference_allowlist_preserved():
    # mysql_operations.py:45 verbatim
    assert REFERENCE_ALLOWLIST == ["backup_log", "daily_log", "servers_temp"]


def test_jdbc_partitioned_read_options():
    spec = JdbcSourceSpec(
        url="jdbc:mysql://h:3306/db",
        table="backup_log",
        partition_column="id",
        lower_bound="0",
        upper_bound="1000000",
        num_partitions=16,
    )
    opts = jdbc_reader_options(spec)
    # the parallel-read contract: without these four, a JDBC scan is a
    # single connection (the reference's bottleneck, mysql_operations.py:27)
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "10000"


class TestCredentialConfig:
    """S17: reference config.py:8-26 + mysql_operations.py:10-12."""

    CRED_TEXT = "# db creds\nDB_USR = root\nDB_PWD = p@ss w/ spaces+symbols=ok\n\n"

    def _cred_file(self, tmp_path):
        p = tmp_path / "db_credentials.conf"
        p.write_text(self.CRED_TEXT)
        return str(p)

    def test_load_credentials_key_value(self, tmp_path):
        creds = load_credentials(self._cred_file(tmp_path))
        assert creds == {"DB_USR": "root", "DB_PWD": "p@ss w/ spaces+symbols=ok"}

    def test_missing_keys_default_empty(self, tmp_path):
        p = tmp_path / "empty.conf"
        p.write_text("OTHER=1\n")
        spec = jdbc_spec_from_credentials(str(p), "backup_log")
        props = spec.properties
        assert (props["user"], props["password"]) == ("", "")  # config.py:20-21

    def test_jdbc_spec_keeps_password_out_of_url(self, tmp_path):
        spec = jdbc_spec_from_credentials(
            self._cred_file(tmp_path), "backup_log",
            partition_column="id", lower_bound="0", upper_bound="100",
        )
        assert spec.url == "jdbc:mysql://localhost:3306/ti_db_inventory"
        opts = jdbc_reader_options(spec)
        assert opts["user"] == "root"
        assert opts["password"] == "p@ss w/ spaces+symbols=ok"
        assert "p%40ss" not in spec.url and "@ss" not in spec.url
        assert opts["partitionColumn"] == "id"


class TestFileSources:
    def test_csv_roundtrip_with_schema(self, spark, tmp_path):
        from pyspark.sql import types as T

        from database_to_bigquery_spark.sources import (
            FileSourceSpec,
            read_file_source,
            split_quarantine,
        )

        src = spark.createDataFrame(
            [(1, "alpha", 1.5), (2, "beta", -2.0)], "id long, name string, score double"
        )
        path = str(tmp_path / "roundtrip_csv")
        src.write.option("header", "true").csv(path)
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
        got = read_file_source(spark, FileSourceSpec(path=path, format="csv", schema=schema))
        good, bad = split_quarantine(got)
        assert bad.isEmpty()
        assert {tuple(r) for r in good.collect()} == {(1, "alpha", 1.5), (2, "beta", -2.0)}
        assert [f.dataType for f in good.schema.fields] == [
            T.LongType(), T.StringType(), T.DoubleType()]

    def test_json_corrupt_rows_quarantined(self, spark, tmp_path):
        from pyspark.sql import types as T

        from database_to_bigquery_spark.sources import (
            FileSourceSpec,
            read_file_source,
            split_quarantine,
        )

        path = tmp_path / "j"
        path.mkdir()
        (path / "part-0.json").write_text(
            '{"id": 1, "name": "ok"}\n'
            'this is not json\n'
            '{"id": 2, "name": "also ok"}\n'
        )
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
        )
        got = read_file_source(
            spark, FileSourceSpec(path=str(path), format="json", schema=schema)
        )
        good, bad = split_quarantine(got)
        assert {tuple(r) for r in good.collect()} == {(1, "ok"), (2, "also ok")}
        assert bad.count() == 1

    def test_text_format_requires_schema(self):
        import pytest as _pytest

        from database_to_bigquery_spark.sources import FileSourceSpec

        with _pytest.raises(ValueError, match="explicit schema"):
            FileSourceSpec(path="/x", format="csv")
        with _pytest.raises(ValueError, match="unsupported"):
            FileSourceSpec(path="/x", format="avro")


class TestBinaryAndTextSources:
    def test_binary_file_roundtrip(self, spark, tmp_path):
        blobs = {"a.bin": b"\x00\x01payload-a", "b.bin": b"b" * 64, "skip.txt": b"nope"}
        for name, data in blobs.items():
            (tmp_path / name).write_bytes(data)
        df = files.read_binary_files(spark, str(tmp_path), glob="*.bin")
        rows = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in df.collect()}
        assert rows == {k: v for k, v in blobs.items() if k.endswith(".bin")}
        assert set(df.columns) >= {"path", "length", "content"}

    def test_binary_file_max_bytes_prunes_large(self, spark, tmp_path):
        (tmp_path / "small.bin").write_bytes(b"x" * 10)
        (tmp_path / "large.bin").write_bytes(b"x" * 1000)
        df = files.read_binary_files(spark, str(tmp_path), glob="*.bin", max_bytes=100)
        assert [r["length"] for r in df.collect()] == [10]

    def test_text_corpus_lines_and_wholefile(self, spark, tmp_path):
        (tmp_path / "d1.txt").write_text("line1\nline2\n")
        (tmp_path / "d2.txt").write_text("solo\n")
        lines = files.read_text_corpus(spark, str(tmp_path))
        assert sorted(r["value"] for r in lines.collect()) == ["line1", "line2", "solo"]
        assert all(r["source_file"].startswith("file:") for r in lines.collect())
        docs = files.read_text_corpus(spark, str(tmp_path), whole_file=True)
        assert sorted(r["value"] for r in docs.collect()) == ["line1\nline2\n", "solo\n"]


class TestPythonDataSource:
    def test_synthlog_reads_all_shards(self, spark):
        from database_to_bigquery_spark.sources import python_datasource

        python_datasource.register(spark)
        df = (
            spark.read.format("synthlog")
            .option("shards", 3)
            .option("rows_per_shard", 50)
            .load()
        )
        assert df.count() == 150
        assert df.rdd.getNumPartitions() == 3
        # deterministic content, reproducible across reads
        row = df.filter("shard = 1 AND seq = 7").collect()[0]
        assert row["payload"] == python_datasource._payload(1, 7)
        assert row["event_ts_offset_s"] == 70

    def test_synthlog_streams_with_offset_tracking(self, spark, tmp_path):
        # the SimpleDataSourceStreamReader seam: the source advances a
        # checkpointed seq offset per micro-batch; the drained stream
        # must equal the deterministic prefix [0, max_rows) exactly
        # once — offset bookkeeping, not luck.
        from database_to_bigquery_spark.sources import python_datasource

        python_datasource.register(spark)
        stream = (
            spark.readStream.format("synthlog")
            .option("shards", 2)
            .option("batch_rows", 40)
            .option("max_rows", 100)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("synthlog_stream_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        # the source caps itself at max_rows; drain with the default
        # micro-batch trigger (availableNow snapshots only one simple-
        # reader batch), then stop
        import time

        deadline = time.time() + 60
        while (
            spark.table("synthlog_stream_test").count() < 200
            and time.time() < deadline
        ):
            time.sleep(0.5)
        q.stop()
        got = spark.table("synthlog_stream_test")
        assert got.count() == 2 * 100  # every (shard, seq) exactly once
        assert got.select("shard", "seq").distinct().count() == 200
        row = got.filter("shard = 1 AND seq = 77").collect()[0]
        assert row["payload"] == python_datasource._payload(1, 77)

    def test_synthlog_bad_options_fail_fast(self, spark):
        import pytest as _pytest
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        from database_to_bigquery_spark.sources import python_datasource

        python_datasource.register(spark)
        with _pytest.raises((PySparkException, Py4JJavaError, Exception)):
            spark.read.format("synthlog").option("shards", "-1").load().count()


class TestMaintenanceAndCdc:
    def test_compact_parquet_dir(self, spark, tmp_path):
        from database_to_bigquery_spark.sinks.writers import compact_parquet_dir

        path = str(tmp_path / "frag")
        # 40 fragment files, as a micro-batch append sink would leave
        spark.range(4000).repartition(40).write.parquet(path)
        before, after = compact_parquet_dir(spark, path, target_file_bytes=10**9)
        assert before == 40 and after == 1
        assert spark.read.parquet(path).count() == 4000

    # (streaming CDC merge is tested in tests/test_streaming.py, which
    # stages a clean multi-file events directory)


class TestZOrderLayout:
    def test_zorder_bit_interleave_known_values(self, spark):
        from database_to_bigquery_spark.sinks.layout import zorder_value
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(0b101, 0b011), (0, 0), (1, 0), (0, 1), (65535, 65535)], "a long, b long"
        )
        got = [r[0] for r in df.select(zorder_value(F.col("a"), F.col("b"))).collect()]
        # (101, 011) interleaves to b1 a1 b0 a0 ... = 0b011011+... compute:
        # a bits at even positions: 1,0,1 -> 0b010001 ; b bits at odd: 1,1,0 -> 0b001010
        assert got[0] == (0b10001 | 0b01010)
        assert got[1] == 0
        assert got[2] == 1  # a bit0 -> position 0
        assert got[3] == 2  # b bit0 -> position 1
        assert got[4] == (1 << 32) - 1  # full 16+16 bits interleaved

    def test_zorder_write_improves_two_column_skipping(self, spark, sf_dir, tmp_path):
        """Z-ordered files must cover far narrower (key1 × key2)
        rectangles than an unordered write — measured from actual
        parquet row-group statistics, which is exactly what a reader's
        pruning uses."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from database_to_bigquery_spark.sinks.layout import write_zordered

        li = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select(
                (F.col("l_orderkey") % 1024).alias("k1"),
                (F.col("l_partkey") % 1024).alias("k2"),
                "l_quantity",
            )
        )
        plain, zpath = str(tmp_path / "plain"), str(tmp_path / "zord")
        li.repartition(8).write.mode("overwrite").parquet(plain)
        write_zordered(li, zpath, "k1", "k2", n_files=8)

        def avg_rect_area(path):
            import os

            areas = []
            for dp, _, fs in os.walk(path):
                for f in fs:
                    if not f.endswith(".parquet"):
                        continue
                    md = pq.ParquetFile(os.path.join(dp, f)).metadata
                    for rg in range(md.num_row_groups):
                        row = md.row_group(rg)
                        stats = {
                            row.column(i).path_in_schema: row.column(i).statistics
                            for i in range(row.num_columns)
                        }
                        s1, s2 = stats["k1"], stats["k2"]
                        areas.append(
                            (s1.max - s1.min + 1) * (s2.max - s2.min + 1)
                        )
            return sum(areas) / len(areas)

        a_plain, a_z = avg_rect_area(plain), avg_rect_area(zpath)
        # hash-partitioned files span the whole space; z-ordered files
        # must be at least 3x tighter on the joint rectangle
        assert a_z * 3 < a_plain, (a_plain, a_z)


class TestSchemaEvolution:
    def test_merge_schema_across_file_generations(self, spark, tmp_path):
        """Schema evolution on an append-only parquet sink: files
        written before a column existed must read back as NULL for
        that column under mergeSchema (the additive-evolution contract
        every long-lived pipeline sink relies on)."""
        path = str(tmp_path / "evolving")
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string").write.mode(
            "append"
        ).parquet(path)
        spark.createDataFrame(
            [(3, "c", 9.5)], "id long, name string, score double"
        ).write.mode("append").parquet(path)

        merged = spark.read.option("mergeSchema", "true").parquet(path)
        assert set(merged.columns) == {"id", "name", "score"}
        rows = {r["id"]: r["score"] for r in merged.collect()}
        assert rows[1] is None and rows[2] is None and rows[3] == 9.5


class TestFileSink:
    def test_orc_csv_json_roundtrip(self, spark, sf_dir, tmp_path):
        # the write side of FileSourceSpec: every text/binary format the
        # reader supports must round-trip through FileSink with the
        # audit count riding the write pass
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from database_to_bigquery_spark.sinks.writers import FileSink, WriteMode
        from database_to_bigquery_spark.sources.files import (
            FileSourceSpec,
            read_file_source,
        )

        src = (
            spark.read.parquet(f"{sf_dir}/nation.parquet")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
        )
        want = [tuple(r) for r in src.collect()]
        schema = T.StructType(
            [
                T.StructField("n_nationkey", T.LongType()),
                T.StructField("n_name", T.StringType()),
                T.StructField("n_regionkey", T.LongType()),
            ]
        )
        for fmt in ["orc", "csv", "json"]:
            path = str(tmp_path / fmt)
            n = FileSink(path=path, format=fmt).write(src, WriteMode.TRUNCATE)
            assert n == len(want)
            back = read_file_source(
                spark,
                FileSourceSpec(path=path, format=fmt, schema=schema if fmt != "orc" else None),
            )
            got = [
                tuple(r)
                for r in back.select("n_nationkey", "n_name", "n_regionkey")
                .orderBy("n_nationkey")
                .collect()
            ]
            assert got == want, fmt

    def test_file_sink_rejects_unknown_format(self, spark, sf_dir):
        import pytest as _pytest

        from database_to_bigquery_spark.sinks.writers import FileSink, WriteMode

        df = spark.read.parquet(f"{sf_dir}/region.parquet")
        with _pytest.raises(ValueError, match="orc/csv/json"):
            FileSink(path="/tmp/x", format="avro").write(df, WriteMode.TRUNCATE)


class TestLiveJdbcDerby:
    """The reference's core is a LIVE database extract
    (reference mysql_operations.py:15-41); everything above tests the
    option/credential plumbing without a server. These tests execute a
    real `spark.read.jdbc` round-trip against embedded Apache Derby —
    the one JDBC engine whose driver ships inside pyspark's own jars —
    proving the `JdbcSourceSpec` path end-to-end: (a) rows match the
    parquet twin exactly, (b) the S3 incremental day-slice predicate is
    PUSHED into the source scan (sargable range → PushedFilters), and
    (c) partition bounds fan the scan out into parallel range queries.
    MySQL vs Derby changes only url/driver strings — the reader path
    under test is identical."""

    _PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    @pytest.fixture(scope="class")
    def derby_url(self, spark, sf_dir, tmp_path_factory):
        base = tmp_path_factory.mktemp("derby")
        url = f"jdbc:derby:{base}/db;create=true"
        spark.read.parquet(f"{sf_dir}/nation.parquet").write.jdbc(
            url, "nation", mode="overwrite", properties=self._PROPS
        )
        spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", "user_id", "event_type", "ts"
        ).write.jdbc(url, "events", mode="overwrite", properties=self._PROPS)
        return url

    def test_roundtrip_matches_parquet_twin(self, spark, sf_dir, derby_url):
        spec = JdbcSourceSpec(url=derby_url, table="nation", properties=self._PROPS)
        got = {tuple(r) for r in read_jdbc(spark, spec).collect()}
        want = {
            tuple(r) for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
        }
        assert got == want and len(want) == 25

    def test_incremental_day_slice_is_pushed_to_source(self, spark, sf_dir, derby_url):
        import re

        from pyspark.sql import functions as F

        from database_to_bigquery_spark.plans.table_spec import TableSpec

        day = dt.date(2024, 1, 5)
        spec = JdbcSourceSpec(url=derby_url, table="events", properties=self._PROPS)
        # the same call run_table makes on every source
        df = TableSpec(name="events", incremental_column="ts").incremental_filter(
            read_jdbc(spark, spec), day
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert pushed, plan
        # a sargable range on the raw column, not the reference's
        # DATE(col) = day (mysql_operations.py:23), which defeats indexes
        assert re.search(r"GreaterThanOrEqual\(ts,2024-01-05", pushed[0]), pushed
        assert re.search(r"LessThan\(ts,2024-01-06", pushed[0]), pushed
        # the pushed read returns exactly the parquet twin's day slice
        twin = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .where(F.to_date("ts") == F.lit(day))
            .count()
        )
        assert df.count() == twin > 0  # fixture plants events on this day

    def test_partitioned_parallel_read(self, spark, derby_url):
        spec = JdbcSourceSpec(
            url=derby_url,
            table="nation",
            partition_column="n_nationkey",
            lower_bound="0",
            upper_bound="25",
            num_partitions=4,
            properties=self._PROPS,
        )
        df = read_jdbc(spark, spec)
        assert df.rdd.getNumPartitions() == 4
        assert df.count() == 25


class TestBigQuerySinkContract:
    """The BigQuery handoff as code, not prose: the exact connector
    option dict for each of the three reference tables (reference
    bigquery_operations.py:21-44), and the write() flow exercised
    against a recording fake standing in for the absent connector jar.
    `is_daily` maps to WriteMode exactly as the reference maps it to
    write_disposition (APPEND when daily, TRUNCATE on full refresh)."""

    def test_option_dict_for_all_three_reference_tables(self):
        from database_to_bigquery_spark.sinks.writers import (
            bigquery_sink_for_reference_table,
        )

        opts = {
            t: bigquery_sink_for_reference_table(
                t, project_id="example-project", dataset_id="inventory"
            ).writer_options()
            for t in ("backup_log", "daily_log", "servers_temp")
        }
        # only daily_log is DAY-partitioned, on BackupDate (reference :30-34)
        assert opts["daily_log"] == {
            "table": "example-project.inventory.daily_log",
            "writeMethod": "direct",
            "partitionField": "BackupDate",
            "partitionType": "DAY",
        }
        for t in ("backup_log", "servers_temp"):
            assert opts[t] == {
                "table": f"example-project.inventory.{t}",
                "writeMethod": "direct",
            }

    def test_staging_bucket_switches_to_indirect_write(self):
        from database_to_bigquery_spark.sinks.writers import (
            bigquery_sink_for_reference_table,
        )

        sink = bigquery_sink_for_reference_table(
            "daily_log",
            project_id="example-project",
            dataset_id="inventory",
            temporary_gcs_bucket="staging-bucket",
        )
        o = sink.writer_options()
        assert o["writeMethod"] == "indirect"
        assert o["temporaryGcsBucket"] == "staging-bucket"

    def test_write_flow_against_recording_fake(self, spark, sf_dir):
        from database_to_bigquery_spark.sinks.writers import (
            BigQuerySink,
            WriteMode,
        )

        class RecordingSink(BigQuerySink):
            def __init__(self, **kw):
                super().__init__(**kw)
                self.saved = []

            def _save(self, writer, df):
                self.saved.append(writer)
                # stand-in for the connector's load job: execute the
                # plan so the S14 observation yields (obs.get blocks
                # until an action runs — by design, the audit count is
                # the rows the WRITE actually processed)
                df.count()

        sink = RecordingSink(
            table="example-project.inventory.daily_log",
            partition_field="ts",
        )
        df = spark.read.parquet(f"{sf_dir}/events.parquet").limit(100)
        # is_daily=True → APPEND, exactly the reference's disposition split
        rows = sink.write(df, WriteMode.APPEND)
        assert rows == 100  # S14 audit count rode the (fake) write pass
        assert len(sink.saved) == 1  # one load job per table, as reference

    def test_missing_jar_raises_actionable_error(self, spark, sf_dir):
        from database_to_bigquery_spark.sinks.writers import (
            BigQuerySink,
            WriteMode,
        )

        sink = BigQuerySink(table="p.d.t")
        df = spark.read.parquet(f"{sf_dir}/nation.parquet")
        with pytest.raises(RuntimeError, match="spark-bigquery-connector"):
            sink.write(df, WriteMode.TRUNCATE)


class TestLiveJdbcPipeline:
    """The reference's WHOLE loop — catalog discovery ∩ allowlist →
    extract → transform → warehouse write → audit count — executed
    against a real out-of-process-style database (embedded Derby).
    This is the S1+S2+S15+S12/S11+S14 composition live, not mocked:
    discovery hits the engine's system catalog, the sink issues real
    INSERTs, and the audit count is the observed write-pass count."""

    _PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    @pytest.fixture(scope="class")
    def pipeline_db(self, spark, sf_dir, tmp_path_factory):
        base = tmp_path_factory.mktemp("derby_pipe")
        url = f"jdbc:derby:{base}/db;create=true"
        for t in ("nation", "region"):
            spark.read.parquet(f"{sf_dir}/{t}.parquet").write.jdbc(
                url, t, mode="overwrite", properties=self._PROPS
            )
        return url

    def test_live_catalog_discovery_intersects_allowlist(self, spark, pipeline_db):
        from database_to_bigquery_spark.sources.catalog import discover_tables_jdbc

        got = discover_tables_jdbc(
            spark,
            pipeline_db,
            schema="ignored",
            allowlist=["nation", "region", "not_there"],
            properties=self._PROPS,
        )
        assert sorted(got) == ["nation", "region"]

    def test_jdbc_sink_truncate_and_append_modes(self, spark, sf_dir, pipeline_db):
        from database_to_bigquery_spark.sinks.writers import JdbcSink, WriteMode

        sink = JdbcSink(url=pipeline_db, table="nation_out", properties=self._PROPS)
        df = spark.read.parquet(f"{sf_dir}/nation.parquet")
        assert sink.write(df, WriteMode.TRUNCATE) == 25
        assert sink.write(df, WriteMode.APPEND) == 25
        back = spark.read.jdbc(pipeline_db, "nation_out", properties=self._PROPS)
        assert back.count() == 50  # truncate load + one appended batch
        assert sink.write(df, WriteMode.TRUNCATE) == 25
        assert (
            spark.read.jdbc(pipeline_db, "nation_out", properties=self._PROPS).count()
            == 25
        )  # truncate really truncates

    def test_full_live_loop_catalog_to_warehouse(self, spark, pipeline_db):
        from database_to_bigquery_spark.plans.pipeline import run_pipeline
        from database_to_bigquery_spark.plans.table_spec import TableSpec
        from database_to_bigquery_spark.sinks.writers import JdbcSink
        from database_to_bigquery_spark.sources.catalog import discover_tables_jdbc
        from database_to_bigquery_spark.sources.jdbc import (
            JdbcSourceSpec,
            read_jdbc,
        )

        tables = discover_tables_jdbc(
            spark,
            pipeline_db,
            schema="ignored",
            allowlist=["nation", "region"],
            properties=self._PROPS,
        )
        jobs = [
            (
                TableSpec(name=t),  # S8 identity transform
                read_jdbc(
                    spark, JdbcSourceSpec(url=pipeline_db, table=t, properties=self._PROPS)
                ),
                JdbcSink(url=pipeline_db, table=f"{t}_loaded", properties=self._PROPS),
            )
            for t in sorted(tables)
        ]
        results = run_pipeline(spark, jobs)
        assert [(r.table, r.rows_written, r.error) for r in results] == [
            ("nation", 25, None),
            ("region", 5, None),
        ]
        for t, n in (("nation", 25), ("region", 5)):
            out = spark.read.jdbc(pipeline_db, f"{t}_loaded", properties=self._PROPS)
            src = spark.read.jdbc(pipeline_db, t, properties=self._PROPS)
            assert {tuple(r) for r in out.collect()} == {tuple(r) for r in src.collect()}
            assert out.count() == n


class TestStagedJdbcSwap:
    """staged=True full refresh: load lands in <table>_stage, then
    DROP+RENAME swaps it live — the previous table survives a failed
    load, and the post-swap state has exactly the new data with no
    stage leftover. Live against embedded Derby."""

    _PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def test_staged_truncate_swaps_and_cleans_stage(self, spark, sf_dir, tmp_path):
        from database_to_bigquery_spark.sinks.writers import JdbcSink, WriteMode

        url = f"jdbc:derby:{tmp_path}/db;create=true"
        sink = JdbcSink(url=url, table="nat", properties=self._PROPS, staged=True)
        v1 = spark.read.parquet(f"{sf_dir}/nation.parquet")
        assert sink.write(v1, WriteMode.TRUNCATE) == 25  # first load: no DROP target
        assert spark.read.jdbc(url, "nat", properties=self._PROPS).count() == 25

        v2 = v1.limit(10)
        assert sink.write(v2, WriteMode.TRUNCATE) == 10  # swap replaces v1
        back = spark.read.jdbc(url, "nat", properties=self._PROPS)
        assert back.count() == 10
        # stage table is consumed by the rename, not left behind
        import pytest as _pytest

        with _pytest.raises(Exception):
            spark.read.jdbc(url, "nat_stage", properties=self._PROPS).count()

    def test_failed_staged_load_preserves_previous_table(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from database_to_bigquery_spark.sinks.writers import JdbcSink, WriteMode

        url = f"jdbc:derby:{tmp_path}/db2;create=true"
        sink = JdbcSink(url=url, table="nat", properties=self._PROPS, staged=True)
        v1 = spark.read.parquet(f"{sf_dir}/nation.parquet")
        sink.write(v1, WriteMode.TRUNCATE)

        # poison load: division blows up mid-write, AFTER the old table
        # is already live — the staged path must leave it untouched
        poison = v1.withColumn("boom", F.lit(1) / (F.col("n_nationkey") - F.col("n_nationkey")))
        import pytest as _pytest

        with _pytest.raises(Exception):
            sink.write(poison, WriteMode.TRUNCATE)
        assert spark.read.jdbc(url, "nat", properties=self._PROPS).count() == 25


class TestDialects:
    """The reference README claims MySQL/MSSQL/PostgreSQL sources
    (reference README.md:2) but implements only MySQL; the dialect
    registry completes the surface. String-assembly contract per
    engine — the Derby live tests above prove the seam these constants
    plug into (url + driver + catalog query are the ONLY
    engine-specific pieces)."""

    import pytest as _pytest

    _CASES = {
        "mysql": (
            "jdbc:mysql://dbhost:3306/inv",
            "com.mysql.cj.jdbc.Driver",
            "information_schema.tables",
        ),
        "postgresql": (
            "jdbc:postgresql://dbhost:5432/inv",
            "org.postgresql.Driver",
            "information_schema.tables",
        ),
        "mssql": (
            "jdbc:sqlserver://dbhost:1433;databaseName=inv",
            "com.microsoft.sqlserver.jdbc.SQLServerDriver",
            "sys.tables",
        ),
        "derby": (
            "jdbc:derby:inv;create=true",
            "org.apache.derby.jdbc.EmbeddedDriver",
            "SYS.SYSTABLES",
        ),
    }

    @_pytest.mark.parametrize("name", sorted(_CASES))
    def test_url_driver_catalog_assembly(self, name):
        from database_to_bigquery_spark.sources.dialects import get_dialect

        url, driver, catalog_marker = self._CASES[name]
        d = get_dialect(name)
        assert d.jdbc_url(host="dbhost", database="inv") == url
        assert d.driver == driver
        q = d.catalog_query.format(schema="someschema")
        assert catalog_marker in q
        assert "table_name" in q
        # every catalog query filters to BASE tables only
        assert ("BASE TABLE" in q) or ("tabletype = 'T'" in q) or ("sys.tables" in q)

    @_pytest.mark.parametrize("name", sorted(_CASES))
    def test_spec_from_credentials_per_dialect(self, tmp_path, name):
        from database_to_bigquery_spark.sources.jdbc import (
            jdbc_reader_options,
            jdbc_spec_from_credentials,
        )

        p = tmp_path / "db.conf"
        p.write_text("DB_USR=svc\nDB_PWD=se=cret\n")
        spec = jdbc_spec_from_credentials(
            str(p), "backup_log", host="dbhost", database="inv", dialect=name
        )
        url, driver, _ = self._CASES[name]
        assert spec.url == url
        opts = jdbc_reader_options(spec)
        assert opts["driver"] == driver
        assert (opts["user"], opts["password"]) == ("svc", "se=cret")
        assert "se=cret" not in spec.url  # creds never in the URL

    def test_port_override_and_unknown_dialect(self):
        import pytest

        from database_to_bigquery_spark.sources.dialects import get_dialect

        assert (
            get_dialect("postgresql").jdbc_url(host="h", database="d", port=6432)
            == "jdbc:postgresql://h:6432/d"
        )
        with pytest.raises(ValueError, match="unknown dialect"):
            get_dialect("oracle")

    def test_discovery_rejects_unmodelled_url(self):
        # no dialect, no catalog query: raise before any connection
        # opens (spark=None would fail on first use)
        import pytest

        from database_to_bigquery_spark.sources.catalog import discover_tables_jdbc

        with pytest.raises(ValueError, match="jdbc:oracle"):
            discover_tables_jdbc(None, "jdbc:oracle:thin:@h:1521/db", "s", ["t"])


class TestStagedSwapSafety:
    """Advisor regressions (r3): the staged-swap DDL path must reject
    injectable identifiers, ignore ONLY the first-load missing-table
    DROP, and let every other DROP failure propagate."""

    _PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def test_ddl_identifier_rejects_injection(self):
        import pytest

        from database_to_bigquery_spark.sinks.writers import JdbcSink

        assert JdbcSink._ddl_identifier("warehouse.daily_log") == "warehouse.daily_log"
        for bad in ("x; DROP TABLE y", 'a"b', "t name", "t--", ""):
            with pytest.raises(ValueError, match="invalid table identifier"):
                JdbcSink._ddl_identifier(bad)

    def test_swap_rejects_bad_table_before_connecting(self, spark):
        import pytest

        from database_to_bigquery_spark.sinks.writers import JdbcSink

        sink = JdbcSink(
            url="jdbc:derby:memory:never", table="t; DROP TABLE x", staged=True
        )
        with pytest.raises(ValueError, match="invalid table identifier"):
            sink._swap_stage(spark, "t_stage")

    def test_first_load_missing_table_drop_is_ignored(self, spark, sf_dir, tmp_path):
        from database_to_bigquery_spark.sinks.writers import JdbcSink, WriteMode

        url = f"jdbc:derby:{tmp_path}/swapdb;create=true"
        sink = JdbcSink(url=url, table="nat_first", properties=self._PROPS, staged=True)
        v1 = spark.read.parquet(f"{sf_dir}/nation.parquet")
        # DROP hits SQLState 42Y55 (no such table) — ignored, RENAME runs
        sink.write(v1, WriteMode.TRUNCATE)
        assert spark.read.jdbc(url, "nat_first", properties=self._PROPS).count() == 25

    def test_non_missing_drop_failure_propagates(self, spark, sf_dir, tmp_path):
        import pytest

        from database_to_bigquery_spark.sinks.writers import JdbcSink, WriteMode

        url = f"jdbc:derby:{tmp_path}/swapdb2;create=true"
        sink = JdbcSink(url=url, table="nat_dep", properties=self._PROPS, staged=True)
        v1 = spark.read.parquet(f"{sf_dir}/nation.parquet")
        sink.write(v1, WriteMode.TRUNCATE)

        # a view depending on the live table makes DROP fail with Derby
        # X0Y23 — NOT a missing-table state, so the swap must raise
        # instead of limping on to a confusing RENAME failure
        jvm = spark._sc._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        stmt = conn.createStatement()
        stmt.execute("CREATE VIEW nat_dep_v AS SELECT * FROM nat_dep")
        stmt.close()
        conn.close()

        v1.write.jdbc(url, "nat_dep_stage", mode="overwrite", properties=self._PROPS)
        with pytest.raises(Exception) as exc_info:
            sink._swap_stage(spark, "nat_dep_stage")
        assert "X0Y23" in str(exc_info.value)
        # the previous live table is untouched
        assert spark.read.jdbc(url, "nat_dep", properties=self._PROPS).count() == 25


class TestJdbcPushdown:
    """DSv2 aggregate pushdown against LIVE Derby via the
    JDBCTableCatalog route: the aggregate must execute in the source
    database, not in Spark — at warehouse scale an audit COUNT/MAX
    moves one row over JDBC instead of the table. (The V1
    ``format("jdbc")`` reader pushes only filters/projection; that
    asymmetry is why ``read_jdbc_catalog`` exists.)"""

    _PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    import pytest as _pytest

    @_pytest.fixture()
    def derby_events(self, spark, sf_dir, tmp_path):
        url = f"jdbc:derby:{tmp_path}/pushdb;create=true"
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        ev.write.jdbc(url, "events_t", mode="overwrite", properties=self._PROPS)
        return url, ev

    def _plan(self, spark, df):
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    def _spec(self, url, **kw):
        from database_to_bigquery_spark.sources.jdbc import JdbcSourceSpec

        # Derby uppercases unquoted identifiers — the catalog read
        # resolves the table by its stored (uppercase) name.
        return JdbcSourceSpec(url=url, table="EVENTS_T", properties=self._PROPS, **kw)

    def test_aggregate_is_pushed_to_source(self, spark, derby_events):
        from pyspark.sql import functions as F

        from database_to_bigquery_spark.sources.jdbc import read_jdbc_catalog

        url, ev = derby_events
        t = read_jdbc_catalog(spark, self._spec(url), catalog="dby_push")
        agg = t.agg(F.count("*").alias("n"), F.max("VALUE").alias("mx"))
        plan = self._plan(spark, agg)
        assert "PushedAggregates" in plan, plan
        want = ev.agg(
            F.count("*").alias("n"), F.max("value").alias("mx")
        ).collect()[0]
        got = agg.collect()[0]
        assert (got["n"], round(got["mx"], 6)) == (want["n"], round(want["mx"], 6))

    def test_group_by_aggregate_is_pushed(self, spark, derby_events):
        from pyspark.sql import functions as F

        from database_to_bigquery_spark.sources.jdbc import read_jdbc_catalog

        url, ev = derby_events
        t = read_jdbc_catalog(spark, self._spec(url), catalog="dby_push")
        agg = t.groupBy("USER_ID").agg(F.sum("VALUE").alias("s"))
        plan = self._plan(spark, agg)
        assert "PushedAggregates" in plan and "PushedGroupByExpressions" in plan, plan
        want = {
            (r["user_id"], round(r["s"], 6))
            for r in ev.groupBy("user_id").agg(F.sum("value").alias("s")).collect()
        }
        got = {(r["USER_ID"], round(r["s"], 6)) for r in agg.collect()}
        assert got == want
        # an expression grouping the dialect can't compile stays
        # Spark-side and still answers correctly (graceful degrade)
        agg_m = t.groupBy((F.col("USER_ID") % 10).alias("u")).agg(
            F.sum("VALUE").alias("s")
        )
        want_m = {
            (r["u"], round(r["s"], 6))
            for r in ev.groupBy((F.col("user_id") % 10).alias("u"))
            .agg(F.sum("value").alias("s"))
            .collect()
        }
        got_m = {(r["u"], round(r["s"], 6)) for r in agg_m.collect()}
        assert got_m == want_m

    def test_pushdown_flag_disables(self, spark, derby_events):
        from pyspark.sql import functions as F

        from database_to_bigquery_spark.sources.jdbc import read_jdbc_catalog

        url, _ = derby_events
        t = read_jdbc_catalog(
            spark,
            self._spec(url, push_down_aggregate=False, push_down_limit=False),
            catalog="dby_nopush",
        )
        agg = t.agg(F.count("*").alias("n"))
        plan = self._plan(spark, agg)
        assert "PushedAggregates" not in plan, plan
        assert agg.collect()[0]["n"] == t.count()
        # Derby's dialect has no LIMIT clause to compile into, so limit
        # stays Spark-side on either flag setting — values still right
        assert t.limit(7).count() == 7


def test_jdbc_sink_verify_rowcount_pushes_count(spark, sf_dir, tmp_path):
    """verify_rowcount must (a) agree with the send-side audit on a
    clean load, (b) execute its COUNT inside the warehouse (pushed
    aggregate, not a full scan into Spark), and (c) raise on a
    mismatch (simulated by deleting rows behind the sink's back)."""
    from database_to_bigquery_spark.sinks.writers import JdbcSink, WriteMode

    url = f"jdbc:derby:{tmp_path}/auditdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sink = JdbcSink(url=url, table="nat_audit", properties=props)
    sent = sink.write(nat, WriteMode.TRUNCATE)
    assert sink.verify_rowcount(spark, sent) == sent == 25

    # the count itself must be a pushed aggregate
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.sources.jdbc import JdbcSourceSpec, read_jdbc_catalog

    spec = JdbcSourceSpec(url=url, table="NAT_AUDIT", properties=props)
    agg = read_jdbc_catalog(spark, spec, catalog="audit_plan_probe").agg(
        F.count("*").alias("n")
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted"
    )
    assert "PushedAggregates: [COUNT(*)]" in plan, plan

    # warehouse loses rows → audit must raise
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().executeUpdate(
            'DELETE FROM nat_audit WHERE "n_nationkey" < 5'
        )
    finally:
        conn.close()
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="audit mismatch"):
        sink.verify_rowcount(spark, sent)


def test_jdbc_sink_verify_rowcount_append_checks_delta(spark, sf_dir, tmp_path):
    """On APPEND loads the warehouse total includes prior runs, so
    verify_rowcount must check THIS run's delta against the pre-write
    baseline — a second daily increment on a correct load used to be
    reported as a mismatch (ADVICE r4)."""
    import pytest as _pytest

    from database_to_bigquery_spark.sinks.writers import JdbcSink, WriteMode

    url = f"jdbc:derby:{tmp_path}/deltadb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sink = JdbcSink(url=url, table="nat_daily", properties=props)

    # day 1: first-ever load (missing table → baseline 0)
    day1 = nat.filter("n_nationkey < 10")
    sent1 = sink.write(day1, WriteMode.APPEND)
    assert sink.verify_rowcount(spark, sent1) == 10

    # day 2: append on top of day 1 — verification must pass and the
    # warehouse-total return reflects both days
    day2 = nat.filter("n_nationkey >= 10")
    sent2 = sink.write(day2, WriteMode.APPEND)
    assert sent2 == 15
    assert sink.verify_rowcount(spark, sent2) == 25

    # a short delta (rows lost between write and audit) still raises
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().executeUpdate(
            'DELETE FROM nat_daily WHERE "n_nationkey" >= 20'
        )
    finally:
        conn.close()
    with _pytest.raises(RuntimeError, match="audit mismatch"):
        sink.verify_rowcount(spark, sent2)


def test_dialect_identifier_and_url_resolution():
    """Dialect registry resolves from JDBC URLs and models per-engine
    unquoted-identifier folding + default namespace, so target
    verification is not hardwired to Derby conventions."""
    from database_to_bigquery_spark.sources.dialects import (
        DERBY,
        MSSQL,
        MYSQL,
        POSTGRESQL,
        dialect_for_url,
    )

    assert dialect_for_url("jdbc:derby:/tmp/db;create=true") is DERBY
    assert dialect_for_url("jdbc:mysql://h:3306/db") is MYSQL
    assert dialect_for_url("jdbc:postgresql://h:5432/db") is POSTGRESQL
    assert dialect_for_url("jdbc:sqlserver://h:1433;databaseName=db") is MSSQL
    with pytest.raises(ValueError, match="not-a-jdbc-url"):
        dialect_for_url("not-a-jdbc-url")
    with pytest.raises(ValueError, match="jdbc:oracle"):
        dialect_for_url("jdbc:oracle:thin:@h:1521/db")

    assert DERBY.stored_identifier("nat_daily") == "NAT_DAILY"
    assert POSTGRESQL.stored_identifier("Nat_Daily") == "nat_daily"
    assert MYSQL.stored_identifier("Nat_Daily") == "Nat_Daily"
    assert DERBY.default_schema == "APP"
    assert POSTGRESQL.default_schema == "public"
    assert MSSQL.default_schema == "dbo"


def test_jdbc_sink_rejects_unmodelled_url(spark):
    """A sink URL no dialect models fails before any connection opens,
    instead of auditing the table under another engine's rules (an
    APPEND would baseline at 0 and fail verification on a correct
    load)."""
    from database_to_bigquery_spark.sinks.writers import JdbcSink, WriteMode

    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="jdbc:oracle"):
        JdbcSink(url="jdbc:oracle:thin:@h:1521/db", table="t").write(df, WriteMode.APPEND)


def test_xml_roundtrip_and_quarantine(spark, tmp_path):
    """Spark 4's built-in XML source through the same FileSourceSpec
    seam as CSV/JSON: declared schema, rowTag, and malformed elements
    quarantined instead of crashing the read."""
    from pyspark.sql import types as T

    from database_to_bigquery_spark.sources import (
        FileSourceSpec,
        read_file_source,
        split_quarantine,
    )

    path = tmp_path / "x"
    path.mkdir()
    (path / "part-0.xml").write_text(
        "<rows>"
        "<row><id>1</id><name>ok</name></row>"
        "<row><id>not-a-number</id><name>bad</name></row>"
        "<row><id>2</id><name>also ok</name></row>"
        "</rows>"
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    got = read_file_source(
        spark, FileSourceSpec(path=str(path), format="xml", schema=schema)
    )
    good, bad = split_quarantine(got)
    assert {tuple(r) for r in good.collect()} == {(1, "ok"), (2, "also ok")}
    assert bad.count() == 1
