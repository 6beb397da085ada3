"""The benchmark's own tests: seeded generation, the metric-name
contract with BENCHMARK.json, span self-times, and that a planted wrong
result is counted as a failure.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import run
from eventlog import EventLog
from oracle import Oracle
from spans import Span, Tracer, covered
from workloads import CORPUS_QUERIES, TPCH_QUERIES, WORKLOADS, EtlWorkload, verify_query

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")
SMALL = {
    "etl": {"start": "2024-03-01", "days": 6, "daily_days": 2, "ref_rows": 300,
            "customers": 60, "events": 400, "users": 20},
    "tpch": {"customers": 60, "events": 400, "users": 20, "event_days": 5},
    "corpus": {"docs": 120, "vecs": 60},
    "stream": {"corpus_docs": 60, "batches": 2, "batch_docs": 10, "planted_frac": 0.3},
}


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


@pytest.mark.parametrize("family", sorted(SMALL))
def test_generator_is_seeded(tmp_path, family):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(family, 7, a, SMALL[family])
    gen.generate(family, 7, b, SMALL[family])
    gen.generate(family, 8, c, SMALL[family])
    files = _files(a)
    assert files and files == _files(b) == _files(c)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert mismatch


def test_reference_tables_carry_the_edge_cases(tmp_path):
    gen.generate("etl", 3, str(tmp_path), SMALL["etl"])
    live = str(tmp_path / "live")
    assert pq.read_metadata(f"{live}/servers_temp.parquet").num_rows == 0
    us = pq.read_table(f"{live}/daily_log.parquet").column("backup_date").cast(pa.int64()).to_pylist()
    day = 86_400_000_000
    assert any(v % day == 0 for v in us) and any(v % day == day - 1 for v in us)
    assert any(v % 1_000_000 for v in us)  # sub-second
    flags = pq.read_table(f"{live}/database_list.parquet").column("ssl").to_pylist()
    assert {0, 1, None} <= set(flags)
    ts = pq.read_schema(f"{live}/events.parquet").field("ts").type
    assert ts == pa.timestamp("ns")


def test_printed_metric_names_are_declared():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    declared_e2e = [m["name"] for m in bench["end_to_end"]]
    declared_layer = [m["name"] for m in bench["per_layer"]]
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)

    passes = [{"tag": "p1", "wall": 1.0, "cpu": 2.0, "traced": False, "write_amp": None,
               "items": [("p1:x", 1.0, True)], "item_cpu": [1.5]}]
    printed_e2e = run.end_to_end(0.5, passes, 900.0)
    ctx = run.Context(Tracer(enabled=True), "", "", {})
    log = EventLog({}, {}, {}, {}, {}, [])
    printed_layer = run.per_layer(ctx, passes, passes, log, {})
    assert list(printed_e2e) == declared_e2e
    assert sorted(printed_layer) == sorted(declared_layer)
    for name in declared_e2e + declared_layer:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    assert all(units[k] == u for k, u in {**run.UNITS, **run.per_layer_units()}.items())


def test_query_workloads_run_registered_headliners():
    from database_to_bigquery_spark.registry import all_specs

    specs = all_specs()
    for q in CORPUS_QUERIES + TPCH_QUERIES:
        assert specs[q].headline, q
    # the relational set stays off the corpus tables
    for q in TPCH_QUERIES:
        assert "documents" not in specs[q].oracle and "embeddings" not in specs[q].oracle, q


def test_self_times_account_for_the_root():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span(0, "operators.q", 0.0, 10.0, None, "p1:q"),
        Span(1, "registry.build", 1.0, 3.0, 0, "p1:q"),
        Span(2, "sources.load", 1.5, 2.0, 1, "p1:q"),
        Span(3, "operators.collect", 4.0, 9.0, 0, "p1:q"),
    ]
    selfs = tr.self_times()
    assert selfs == {0: 3.0, 1: 1.5, 2: 0.5, 3: 5.0}
    assert sum(selfs.values()) == 10.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4


def test_dropped_row_fails_the_query_check(tmp_path):
    gen.generate("corpus", 5, str(tmp_path), SMALL["corpus"])
    from database_to_bigquery_spark.registry import all_specs

    spec = all_specs()["text_stats"]
    oracle = Oracle(str(tmp_path))
    cols, rows = oracle.rows(spec.oracle)
    assert rows
    assert verify_query(spec, (cols, rows), oracle) is None
    assert verify_query(spec, (cols, rows[:-1]), oracle) is not None
    assert verify_query(spec, None, oracle) == "raised"
    oracle.close()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from database_to_bigquery_spark.session import get_spark

    local = str(tmp_path_factory.mktemp("spark-local"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    s = get_spark("perfbench-tests", extra_conf={
        "spark.local.dir": local, "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_day_appended_twice_fails_the_etl_check(spark, tmp_path):
    data, work = str(tmp_path / "data"), str(tmp_path / "work")
    manifest = gen.generate("etl", 11, data, SMALL["etl"])
    w = EtlWorkload("etl_daily", "etl", SMALL["etl"], "")
    ctx = run.Context(Tracer(enabled=False), data, work, manifest)
    ctx.spark = spark
    w.setup(ctx)
    w.run_pass(ctx, "p1")
    assert all(ok for _, _, ok in ctx.items)
    assert w.verify(ctx, "p1") == set()

    day = manifest["daily_days"][-1]
    w._load(ctx, "orders", "live", day)  # the same day again
    bad = w.verify(ctx, "p1")
    assert bad == {f"p1:full:orders"} | {f"p1:{d}:orders" for d in manifest["daily_days"]}
    failed_frac = len(bad) / len(ctx.items)
    assert failed_frac > 0
