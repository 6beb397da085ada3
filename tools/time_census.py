"""Time EVERY registered query once at a given scale factor (default
sf0.1) with a noop-format write (full distributed execution, no driver
collect) and write TIMINGS.md sorted slowest-first.

bench.py measures the headline set with warmup + medians; this census
is the long tail's smoke alarm — a non-headline query that quietly
takes 30 s at sf0.1 is a scale bug the headline bench never sees.

Usage: python tools/time_census.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force  # noqa: E402
from database_to_bigquery_spark.registry import all_specs  # noqa: E402
from database_to_bigquery_spark.session import get_spark  # noqa: E402

# Queries allowed to exceed the 10 s census flag, each with a measured
# justification (re-validate when touching them). Past entry
# (sim_knn_join_lsh, first-exec-JIT-dominated at ~26 s) was FIXED
# instead — per-bucket numpy top-k scoring took its sf0.1 run to ~4 s
# and its probe exponent from 1.37 to sublinear.
# Slowest-N single-shot rows re-measured under the calm gate.
_CALIBRATE_TOP = 12

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
    spark = get_spark("time-census")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()

    # Warmup, matching bench.py's documented hygiene: a JVM/codegen
    # pass AND an Arrow/Python-worker pass. Without the second, the
    # first applyInPandas query in the (alphabetical) census pays 32
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

    rows = []
    for name, spec in sorted(specs.items()):
        t0 = time.monotonic()
        err = ""
        try:
            force(spec.fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            err = f"{type(exc).__name__}"
        rows.append((time.monotonic() - t0, name, err))
        spark.catalog.clearCache()  # drop persists so queries don't share state

    rows.sort(reverse=True)

    # Calm-gated re-measurement of the slowest rows (judge r8 task 6):
    # the single-shot pass above carries ±40% VM noise plus first-exec
    # JIT attribution, exactly where the census's flag threshold needs
    # numbers it can trust. The top rows are re-timed with the shared
    # bracket-and-retry helper (median of 3 inside a ≤1.25× calm
    # calibration window on both sides, residual ratio divided away).
    from tools.calm import timed_calm

    calibrated: dict[str, tuple[float, bool]] = {}
    for t, name, err in rows[:_CALIBRATE_TOP]:
        if err:
            continue
        wall, flagged = timed_calm(
            spark, lambda s=specs[name]: force(s.fn(spark, sf_dir))
        )
        calibrated[name] = (wall, flagged)
        print(f"  calibrated {name}: single-shot {t:.2f}s -> {wall:.2f}s")
    rows = [
        (calibrated.get(name, (t,))[0], name, err) for t, name, err in rows
    ]
    rows.sort(reverse=True)

    total = sum(t for t, _, _ in rows)
    with open(out_md, "w") as f:
        f.write(
            "# TIMINGS — wall time per query "
            f"(generated by tools/time_census.py)\n\n"
            f"Input: `{sf_dir}`; {len(rows)} queries, total {total:.1f} s. "
            "Long tail: one run each, noop write, shared warm session "
            "(±40% VM noise — the flag threshold is a smoke alarm, not a "
            f"benchmark). The {len(calibrated)} slowest rows are "
            "CALM-GATED (marked ✓cal): median of 3 runs accepted only "
            "inside a ≤1.25× pinned-CPU calibration bracket on both "
            "sides, residual ratio divided away (tools/calm.py — the "
            "SCALE.md §15 protocol; * = no calm window found).\n\n"
            "| query | sec | cal | note |\n|---|---|---|---|\n"
        )
        for t, name, err in rows:
            note = err or JUSTIFIED.get(
                name, "slow — justify or fix" if t > 10 else ""
            )
            cal = ""
            if name in calibrated:
                cal = "✓cal" + ("*" if calibrated[name][1] else "")
            f.write(f"| {name} | {t:.2f} | {cal} | {note} |\n")
    print(f"wrote {out_md}: {len(rows)} queries, total {total:.1f}s")
    errs = [r for r in rows if r[2]]
    if errs:
        print("ERRORS:", errs)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
