"""Shared retry-until-calm measurement helper (SCALE.md §15): the VM
shows speed phases deep enough (pinned-workload ratios up to 3.3×)
that neither raw walls nor linear normalization by a pure-CPU probe is
trustworthy on its own. A measurement is accepted only when the bench
calibration workload brackets it at ≤ 1.25× the idle reference on
BOTH sides (advisor r8: gating on the mean let a calm-before/stormy-
after mix pass); the residual ≤ 25% ratio is divided away and the
median of `reps` runs absorbs bracket-missed spikes. Used by
scale_probe.py's points and time_census.py's calibrated top rows
(and by tools/banding_probe.py @ 43b8cbc).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _CAL_REFERENCE_SEC, _calibration  # noqa: E402


def timed_calm(spark, thunk, reps: int = 3, attempts: int = 5):
    """Run ``thunk`` `reps` times inside a calm calibration bracket.
    Returns (normalized_wall_sec, flagged) — flagged=True when no calm
    window was found in `attempts` tries (calmest attempt kept)."""
    best = None
    for attempt in range(attempts):
        cal_b = _calibration(spark)
        if cal_b / _CAL_REFERENCE_SEC > 1.25 and attempt < attempts - 1:
            time.sleep(25)
            continue
        walls = []
        for _ in range(reps):
            t0 = time.time()
            thunk()
            walls.append(time.time() - t0)
            spark.catalog.clearCache()
        cal_a = _calibration(spark)
        ratio = max((cal_b + cal_a) / 2 / _CAL_REFERENCE_SEC, 0.1)
        worst = max(cal_b, cal_a) / _CAL_REFERENCE_SEC
        cand = (statistics.median(walls) / ratio, worst)
        if best is None or cand[1] < best[1]:
            best = cand
        if worst <= 1.25:
            break
    return best[0], best[1] > 1.25
