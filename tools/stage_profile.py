"""Counters of registered queries from one traced run.

`TracedSession` starts the engine's session with the Spark event log
on, runs each query in a `perfbench/spans.py` item span and reads the
log with `perfbench/eventlog.py`, the repo's one event-log parser. A
query's record is its wall time, the engine counters of its jobs and
its driver gap (wall time with no Spark job running). Alone, the tool
profiles one query: a warm-up run (none with `--cold`), one traced
run, then the record and the traced run's jobs.

Usage: python tools/stage_profile.py <query> [sf_dir] [--cold]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# perfbench's modules import each other by bare name
sys.path.append(os.path.join(REPO, "perfbench"))

import eventlog  # noqa: E402
from bench import force  # noqa: E402
from database_to_bigquery_spark.registry import all_specs  # noqa: E402
from database_to_bigquery_spark.session import get_spark  # noqa: E402
from spans import Tracer  # noqa: E402

RECORD = (
    "jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "python_rows", "files_read_bytes",
)


class TracedSession:
    """A session whose event log attributes each query's jobs to it.
    Its log conf is perfbench `measure()`'s: uncompressed, rolling left
    at Spark's default (the `events_*` files `eventlog.parse` reads)."""

    def __init__(self, app: str):
        self.log_dir = tempfile.mkdtemp(prefix=f"{app}-events-")
        self.spark = get_spark(app, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.sql.ui.explainMode": "simple",
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.specs = all_specs()
        self.tracer = Tracer(enabled=True)
        self.tracer.bind(self.spark)

    def run(self, item: str, name: str, sf_dir: str) -> float:
        """Force query ``name`` at ``sf_dir`` inside the item span
        ``item``, then drop its persists so runs share no state.
        Returns the span's wall seconds."""
        try:
            with self.tracer.item_span(item, f"operators.{name}"):
                force(self.specs[name].fn(self.spark, sf_dir))
        finally:
            self.spark.catalog.clearCache()
        span = self.tracer.spans[-1]
        return span.end - span.start

    def records(self) -> tuple[dict[str, dict], eventlog.EventLog]:
        """Stop the session (which flushes its log), parse the log and
        return one record per item span, with the parsed log."""
        self.spark.stop()
        try:
            log = eventlog.parse(self.log_dir, lambda t: None)
        finally:
            shutil.rmtree(self.log_dir, ignore_errors=True)
        out = {}
        for s in self.tracer.spans:
            c = log.total(None, {s.item})
            out[s.item] = {
                "wall_s": s.end - s.start,
                **{k: c[k] for k in RECORD},
                "driver_gap_s": log.driver_gap_s([(s.start, s.end)]),
            }
        return out, log


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--cold"]
    if not args:
        print("usage: python tools/stage_profile.py <query> [sf_dir] [--cold]")
        return 2
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    session = TracedSession(f"profile-{name}")
    if "--cold" not in sys.argv:
        force(session.spark.read.parquet(os.path.join(sf_dir, "region.parquet")))
        force(session.specs[name].fn(session.spark, sf_dir))
        session.spark.catalog.clearCache()
    session.run(name, name, sf_dir)
    span = session.tracer.spans[0]
    records, log = session.records()
    print(json.dumps({"query": name, **records[name]}))
    prev = span.start
    for job in sorted((j for j in log.jobs.values() if j.item == name), key=lambda j: j.start):
        end = job.end if job.end is not None else job.start
        print(f"job {job.id:4d}  start +{job.start - span.start:7.3f}s  "
              f"end +{end - span.start:7.3f}s  gap {max(0.0, job.start - prev):6.3f}s  "
              f"stages {len(job.stages)}")
        prev = max(prev, end)
    return 0


if __name__ == "__main__":
    sys.exit(main())
