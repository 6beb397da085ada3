"""Per-stage profile of one registered query (guide §1: measure first).

Runs the named query at the given SF dir with the Spark event log
enabled, forces it with the noop sink (one warmup + one timed pass),
then parses the event log into a per-stage table: wall, summed task
time, shuffle read/write bytes, spill, input bytes, task count — the
local[32] equivalent of reading the stage page in the UI. Jobs are
separated so driver-sequential actions (persists, checkpoints,
convergence rounds) are visible as job boundaries.

Usage: python tools/stage_profile.py <query> [sf_dir] [--cold]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force  # noqa: E402
from database_to_bigquery_spark.registry import all_specs  # noqa: E402
from database_to_bigquery_spark.session import get_spark  # noqa: E402

LOG_DIR = "/tmp/spark-events-profile"


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: python tools/stage_profile.py <query> [sf_dir] [--cold]")
        return 2
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cold = "--cold" in sys.argv
    shutil.rmtree(LOG_DIR, ignore_errors=True)
    os.makedirs(LOG_DIR, exist_ok=True)
    spark = get_spark(
        f"profile-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": LOG_DIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spec = all_specs()[name]
    if not cold:
        force(spark.read.parquet(os.path.join(sf_dir, "region.parquet")))
        force(spec.fn(spark, sf_dir))  # warmup
    spark.sparkContext.setJobDescription(f"timed:{name}")
    t0 = time.time()
    force(spec.fn(spark, sf_dir))
    wall = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    sc_app = spark.sparkContext.applicationId
    spark.stop()

    path = os.path.join(LOG_DIR, sc_app)
    if not os.path.exists(path):
        cands = [os.path.join(LOG_DIR, f) for f in os.listdir(LOG_DIR)]
        if not cands:
            print(f"no event log found under {LOG_DIR}")
            return 1
        path = max(cands, key=os.path.getmtime)
    if os.path.isdir(path):  # event log v2: rolling dir of event files
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        files = [path]

    jobs = {}  # jobId -> dict
    stages = {}  # stageId -> dict
    stage_job = {}
    timed_jobs = set()
    def lines():
        for f in files:
            if f.endswith(".zstd"):
                import zstandard

                with open(f, "rb") as raw:
                    reader = zstandard.ZstdDecompressor().stream_reader(raw)
                    import io

                    for ln in io.TextIOWrapper(reader, encoding="utf-8"):
                        yield ln
            else:
                with open(f) as fh:
                    yield from fh

    if True:
        for line in lines():
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )
                jobs[jid] = {
                    "t0": ev["Submission Time"],
                    "desc": desc,
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
                if desc == f"timed:{name}":
                    timed_jobs.add(jid)
                for s in ev["Stage Infos"]:
                    stage_job[s["Stage ID"]] = jid
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                st = stages.setdefault(sid, {})
                st.update(
                    name=si["Stage Name"],
                    sub=si.get("Submission Time"),
                    done=si.get("Completion Time"),
                    tasks=si["Number of Tasks"],
                )
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                agg = stages.setdefault(sid, {}).setdefault(
                    "m",
                    {
                        "run": 0, "cpu": 0, "srb": 0, "swb": 0,
                        "inb": 0, "spill": 0, "fetchwait": 0, "n": 0,
                        "pyser": 0,
                    },
                )
                agg["run"] += m.get("Executor Run Time", 0)
                agg["cpu"] += m.get("Executor CPU Time", 0) // 1_000_000
                sr = m.get("Shuffle Read Metrics") or {}
                agg["srb"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                agg["fetchwait"] += sr.get("Fetch Wait Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                agg["swb"] += sw.get("Shuffle Bytes Written", 0)
                inp = m.get("Input Metrics") or {}
                agg["inb"] += inp.get("Bytes Read", 0)
                agg["spill"] += m.get("Memory Bytes Spilled", 0)
                agg["n"] += 1

    print(f"query={name} wall={wall:.2f}s  (timed pass only below)")
    tj = sorted(timed_jobs)
    total_job_wall = 0.0
    for jid in tj:
        j = jobs[jid]
        jw = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
        total_job_wall += jw
        print(f"\njob {jid}  wall={jw:6.2f}s")
        for sid in sorted(set(j["stages"])):
            st = stages.get(sid)
            if not st or ("m" not in st and st.get("sub") is None):
                continue  # skipped stage
            m = st.get("m", {})
            sw = (
                (st["done"] - st["sub"]) / 1000.0
                if st.get("sub") and st.get("done")
                else 0.0
            )
            nm = st.get("name", "?").split("\n")[0][:70]
            print(
                f"  stage {sid:4d} wall={sw:6.2f}s task_run={m.get('run',0)/1000:7.2f}s "
                f"cpu={m.get('cpu',0)/1000:7.2f}s tasks={m.get('n',0):4d} "
                f"in={m.get('inb',0)/1e6:8.1f}MB sr={m.get('srb',0)/1e6:8.1f}MB "
                f"sw={m.get('swb',0)/1e6:8.1f}MB spill={m.get('spill',0)/1e6:6.0f}MB "
                f"fw={m.get('fetchwait',0)/1000:5.2f}s  {nm}"
            )
    print(f"\njobs={len(tj)} sum_job_wall={total_job_wall:.2f}s wall={wall:.2f}s "
          f"(gap = driver/planning time between jobs)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
