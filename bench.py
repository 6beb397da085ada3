"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The line also carries a "production" block: the same totals restricted
to the production profile (registry.production_specs() — every
scale_twin-annotated exact form excluded), so the headline number can
never silently lean on the intentionally scale-unsafe oracle twins.
``--production`` times ONLY that profile (the 100 TB-shaped subset).

Measurement hygiene (the VM shows ±40% run-to-run variance):
- each query is forced with a noop-format write (full distributed
  execution, no driver collect — the honest cost)
- one warmup pass absorbs JVM/codegen startup and Python-worker forks
- the timed section runs $SPARK_GRAFT_BENCH_RUNS (default 3) full
  round-robin passes over the query set — round-robin, not
  back-to-back per query, so slow VM phases spread across all queries
  instead of landing on one — and reports the per-query MEDIAN; the
  cache is cleared after each timed run (outside the timed window), so
  no rerun reads the relations an earlier run persisted
- if a prior round's BENCH file was recorded at this session's core
  count, a per-query ratio vs the newest such baseline is attached
  under "delta_vs_baseline"; otherwise "baseline_skipped" says why
  (extra keys; the driver contract keys are unchanged)
- a pinned CPU-bound workload is timed before AND after the pass and
  reported under "calibration" with a recorded idle-machine reference,
  so any consumer can normalize this pass's walls by machine speed
  (divide by calibration.ratio) before comparing across rounds —
  see BASELINE.md "Bench calibration" for the rule
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from database_to_bigquery_spark.registry import all_specs
from database_to_bigquery_spark.session import get_spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Reference wall seconds for _calibration() on an idle host, PER CORE:
# the workload gives every core one 100M-row partition, so the same
# constant holds at any core count (measured 2026-08-16 on 32 vCPU /
# 128 GiB as the median of 5 warm reps: [0.769, 0.727, 0.841, 0.775,
# 0.770]; a 4-core host read 0.75-0.95 s in five medians of 3). The
# VM this bench runs on shows ±40% phases with no local cause
# (BASELINE.md), which has twice produced garbage cross-round
# ratios (r4: uniform 1.3x; r7: 1.162x that an idle rerun showed was
# 0.90x) — the pinned workload below measures the MACHINE, so any
# consumer can divide the query walls by `calibration.ratio` before
# comparing across rounds (VERDICT r7 task 3; rule in BASELINE.md).
_CAL_REFERENCE_SEC = 0.77


def _calibration(spark) -> float:
    """One pinned CPU-bound measurement: xxhash64 over 100M longs per
    core, one partition per core — pure JVM whole-stage codegen, no
    I/O, no Python workers, independent of the query set and the SF
    dir. The %-mod keeps the ANSI sum inside long range. Returns wall
    seconds; callers take a median of a few reps."""
    cores = spark.sparkContext.defaultParallelism
    df = (
        spark.range(0, cores * 100_000_000, 1, cores)
        .select(F.sum(F.xxhash64("id") % 100000).alias("h"))
    )
    t0 = time.time()
    force(df)
    return time.time() - t0


def _calibrate(spark, reps: int = 3) -> float:
    return round(statistics.median(_calibration(spark) for _ in range(reps)), 3)


def load_baseline(root: str, cpus: int) -> tuple[str, dict] | None:
    """Newest committed BENCH_r{N}[_c{C}].json under ``root`` whose
    record was taken at ``cpus`` cores, as (tag, bench line); walls at
    another core count do not compare."""
    cands = []
    for p in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_(r(\d+)(?:_c\d+)?)\.json$", p)
        if not m:
            continue
        try:
            with open(p) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if data.get("cpus") != cpus:
            continue
        # the driver's BENCH_r{N}.json wraps this script's JSON line under
        # "parsed" (alongside run metadata); unwrap if so
        if "queries" not in data and isinstance(data.get("parsed"), dict):
            data = data["parsed"]
        cands.append((int(m.group(2)), m.group(1), data))
    if not cands:
        return None
    _, tag, data = max(cands, key=lambda c: c[:2])
    return tag, data


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    production_only = "--production" in sys.argv[1:]
    spark = get_spark("bench")
    specs = {n: s for n, s in all_specs().items() if s.headline}
    twins = sorted(n for n, s in specs.items() if s.scale_twin)
    if production_only:
        specs = {n: s for n, s in specs.items() if not s.scale_twin}

    # warmup: tiny query to absorb JVM/codegen startup, plus one no-op
    # pandas UDF to spawn the Python worker pool (first Arrow crossing
    # pays worker fork + numpy import; that's session setup, not query
    # cost — workers are reused afterwards)
    force(spark.read.parquet(os.path.join(sf_dir, "region.parquet")))

    def _warm(pdf):
        import numpy as np  # noqa — pre-import in every pooled worker

        return pdf

    force(
        spark.range(64)
        .withColumn("g", F.col("id") % 32)
        .groupBy("g")
        .applyInPandas(_warm, "id long, g long")
    )

    # warmup 2: one smallest-SF run of the heaviest plan shape (shingle
    # mining → blocked applyInPandas matmul → broadcast join-back).
    # This compiles the codegen stages and pushes real Arrow batches
    # through every pooled worker once, so the timed section below
    # measures steady-state query cost rather than first-plan
    # compilation — the regime a long-lived cluster actually runs in.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        from database_to_bigquery_spark.operators.dedup import dedup_ngram_jaccard

        force(dedup_ngram_jaccard(spark, warm_dir))

    # calibrate the machine before AND after the timed section: a slow
    # VM phase that starts or ends mid-pass shows up as a before/after
    # split instead of being averaged away
    cal_before = _calibrate(spark)

    samples: dict[str, list[float]] = {name: [] for name in specs}
    for _ in range(n_runs):
        for name in sorted(specs):
            t0 = time.time()
            force(specs[name].fn(spark, sf_dir))
            samples[name].append(time.time() - t0)
            spark.catalog.clearCache()

    cal_after = _calibrate(spark)

    timings = {
        name: round(statistics.median(ts), 3) for name, ts in sorted(samples.items())
    }

    out = {
        "metric": (
            "production_queries_total_wall"
            if production_only
            else "headline_queries_total_wall"
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": n_runs,
        # the production-profile view of THIS run's timings: exact
        # scale twins excluded (identical to --production output when
        # production_only, a strict subset otherwise)
        "production": {
            "value": round(
                sum(t for n, t in timings.items() if n not in twins), 3
            ),
            "n_queries": sum(1 for n in timings if n not in twins),
            "excluded_twins": twins,
        },
        # machine-speed normalizer (see _CAL_REFERENCE_SEC). ratio > 1
        # = this pass ran on a slower-than-reference machine phase;
        # divide the walls by `ratio` before any cross-round compare.
        "calibration": {
            "before_sec": cal_before,
            "after_sec": cal_after,
            "reference_sec": _CAL_REFERENCE_SEC,
            "ratio": round(
                ((cal_before + cal_after) / 2) / _CAL_REFERENCE_SEC, 3
            ),
            "vm_slow_phase": ((cal_before + cal_after) / 2)
            > 1.2 * _CAL_REFERENCE_SEC,
        },
    }
    cpus = spark.sparkContext.defaultParallelism
    baseline = load_baseline(os.path.dirname(os.path.abspath(__file__)), cpus)
    if baseline is None:
        out["baseline_skipped"] = f"no BENCH_r*.json record has cpus == {cpus}"
    else:
        tag, base = baseline
        base_q = base.get("queries", {})
        common = {n for n in timings if isinstance(base_q.get(n), (int, float))}
        if common:
            total_ratio = round(
                sum(timings[n] for n in common)
                / max(1e-9, sum(base_q[n] for n in common)),
                3,
            )
            out["delta_vs_baseline"] = {
                "baseline": tag,
                "total_ratio": total_ratio,
                "per_query_ratio": {
                    n: round(timings[n] / max(1e-9, base_q[n]), 2)
                    for n in sorted(common)
                },
            }
            # machine-speed-normalized cross-round ratio: each side's
            # walls divided by its own calibration ratio first, so a
            # VM slow phase in either pass cancels out
            base_cal = base.get("calibration", {}).get("ratio")
            this_cal = out["calibration"]["ratio"]
            if isinstance(base_cal, (int, float)) and base_cal > 0 and this_cal > 0:
                out["delta_vs_baseline"]["total_ratio_calibrated"] = round(
                    total_ratio * base_cal / this_cal, 3
                )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
