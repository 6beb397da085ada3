"""Run EVERY registered query once at a given scale factor (default
sf0.1) with a noop-format write in one traced session
(`tools/stage_profile.py`) and write TIMINGS.md sorted slowest-first,
with each query's wall time and engine counters from that run.

bench.py measures the headline set with warmup + medians; this census
is the long tail's smoke alarm — a non-headline query that quietly
takes 30 s at sf0.1 is a scale bug the headline bench never sees.

Usage: python tools/time_census.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force  # noqa: E402
from tools.stage_profile import TracedSession  # noqa: E402

# Queries allowed to exceed the 10 s census flag, each with a measured
# justification (re-validate when touching them). Past entry
# (sim_knn_join_lsh, first-exec-JIT-dominated at ~26 s) was FIXED
# instead — per-bucket numpy top-k scoring took its sf0.1 run to ~4 s
# and its probe exponent from 1.37 to sublinear.
JUSTIFIED: dict[str, str] = {
    "dedup_incremental_clusters": (
        "includes the one-time standing-state backfill (corpus miner + "
        "CC) the query must build to demo the incremental step; the "
        "incremental step itself is the O(new-edges) label-graph remap "
        "(twin exponent 0.51 with the backfill included; the isolated "
        "per-batch step measures e 0.148 — "
        "tools/incremental_steady_probe.py @ 43b8cbc)"
    ),
    "dedup_cluster_keep_best": (
        "first-exec-JIT dominated: alphabetically FIRST of the cluster family, so it pays the banded miner's first execution (codegen + Python worker start); the r10 bucket-grouped miner cut the family's warm cost (bench miner median 2.8 s, this row's calm median 4.5 s = miner + contracted CC + one quality window over clustered docs only)"
    ),
    "dedup_clusters_lsh": (
        "runs after dedup_cluster_keep_best has absorbed the miner's first-exec JIT; bench.py r10 3-run median 4.2 s (was 6.7 pre-restructure) — the bucket-grouped miner + CC empty-label-graph shortcut; twin behavior re-measured r10 (OPTIMIZATION_r10.md: x50 CPU ~0.6x, x250 parity at 0.53x shuffle bytes)"
    ),
    "text_bigram_kn_score": (
        "Θ(tokens) is inherent for an LM scorer and the r7 "
        "tools/kn_probe.py @ 43b8cbc decomposition shows the TOKEN "
        "stream dominates the 50k→250k twin step (token build 3.7 s "
        "+ scoring join 4.0 s vs 3.0 s total dictionary work; bigram types grow 3.2× while tokens "
        "grow 5.0× — Heaps saturation), so a KN min-count floor on "
        "c12 would buy nothing: no dictionary term to bound"
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "TIMINGS.md"
    )
    session = TracedSession("time-census")
    spark, specs = session.spark, session.specs

    # Warmup, matching bench.py's documented hygiene: a JVM/codegen
    # pass AND an Arrow/Python-worker pass. Without the second, the
    # first applyInPandas query in the (alphabetical) census pays
    # Python-worker forks + numpy/pandas imports — several seconds of
    # one-off process startup misattributed to whichever query runs
    # first, which is what the slow-flag threshold exists to catch in
    # REAL plans, not in fork latency.
    force(specs["q1_pricing_summary"].fn(spark, sf_dir))

    def _warm(pdf):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        return pdf

    force(
        spark.range(0, 1024, 1, 32)
        .selectExpr("id", "id % 7 AS g")
        .groupBy("g")
        .applyInPandas(_warm, "id long, g long")
    )

    errors: dict[str, str] = {}
    for name in sorted(specs):
        try:
            session.run(name, name, sf_dir)
        except Exception as exc:  # noqa: BLE001
            errors[name] = type(exc).__name__
    records, _ = session.records()
    rows = sorted(records.items(), key=lambda kv: -kv[1]["wall_s"])

    total = sum(r["wall_s"] for _, r in rows)
    with open(out_md, "w") as f:
        f.write(
            "# TIMINGS — wall time and engine counters per query "
            "(generated by tools/time_census.py)\n\n"
            f"Input: `{sf_dir}`; {len(rows)} queries, total {total:.1f} s. "
            "Long tail: one run each, noop write, shared warm session. "
            "`sec` is wall time (±40% VM noise — the flag threshold is a "
            "smoke alarm, not a benchmark). The other columns are read "
            "from the same run's Spark event log, by query: executor CPU "
            "seconds, Spark jobs, driver gap (wall with no job running), "
            "shuffle MB written and rows crossing the Python boundary "
            "(tools/stage_profile.py).\n\n"
            "| query | sec | cpu s | jobs | gap s | shuffle MB | py rows | note |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for name, r in rows:
            note = errors.get(name) or JUSTIFIED.get(
                name, "slow — justify or fix" if r["wall_s"] > 10 else ""
            )
            f.write(
                f"| {name} | {r['wall_s']:.2f} | {r['executor_cpu_s']:.2f} "
                f"| {r['jobs']:.0f} | {r['driver_gap_s']:.2f} "
                f"| {r['shuffle_write_bytes'] / 1e6:.2f} | {r['python_rows']:.0f} "
                f"| {note} |\n"
            )
    print(f"wrote {out_md}: {len(rows)} queries, total {total:.1f}s")
    if errors:
        print("ERRORS:", errors)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
