"""The measurement tools: bench.py's baseline choice and the traced
session the tools read their counters from."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

import pytest

import bench

REPO = pathlib.Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("cpus, tag", [(4, "r02"), (16, None)])
def test_load_baseline_only_at_same_core_count(tmp_path, cpus, tag):
    """The newest record at this core count is the baseline, even when
    a newer one exists at another; with none at this count there is no
    baseline."""
    records = {
        "BENCH_r01.json": {"cpus": 4, "parsed": {"queries": {"q": 1.0}}},
        "BENCH_r02.json": {"cpus": 4, "parsed": {"queries": {"q": 2.0}}},
        "BENCH_r03.json": {"cpus": 32, "parsed": {"queries": {"q": 3.0}}},
        "BENCH_r03_c8.json": {"cpus": 8, "parsed": {"queries": {"q": 4.0}}},
    }
    for name, rec in records.items():
        (tmp_path / name).write_text(json.dumps(rec))
    got = bench.load_baseline(str(tmp_path), cpus)
    if tag is None:
        assert got is None
    else:
        assert got == (tag, {"queries": {"q": 2.0}})


def test_traced_session_attributes_every_job(sf_dir, tmp_path):
    """Each query's record carries its own jobs and counters, Python
    boundary rows only where a pandas node runs, and every job launched
    inside a query's span is attributed to that query."""
    names = ["q1_pricing_summary", "mm_phash_neardup"]
    script = f"""
import json, sys
sys.path.insert(0, {str(REPO)!r})
from tools.stage_profile import TracedSession
session = TracedSession("attribution-test")
for name in {names!r}:
    session.run(name, name, {sf_dir!r})
spans = {{s.item: (s.start, s.end) for s in session.tracer.spans}}
records, log = session.records()
inside = [(j.layer, j.item, item) for j in log.jobs.values()
          for item, (a, b) in spans.items() if a - 0.002 <= j.start <= b + 0.002]
print(json.dumps({{"records": records, "inside": inside}}))
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    records = out["records"]
    for name in names:
        assert records[name]["jobs"] > 0
        assert records[name]["executor_cpu_s"] > 0
    assert records["q1_pricing_summary"]["python_rows"] == 0
    assert records["mm_phash_neardup"]["python_rows"] > 0
    assert out["inside"]
    for layer, job_item, span_item in out["inside"]:
        assert (layer, job_item) == ("operators", span_item)
