"""Empirical scaling probe: run selected queries at every available
scale factor and report how their engine cost grows with their input.

The 100 TB argument in SCALE.md is structural (plan shapes); this tool
adds the measurable half: if a query's cost grows superlinearly in
rows between sf0.001 → sf0.01 → sf0.1 and the twins, something in the
plan does not scale — the growth exponent makes it visible long before
a cluster run would. Each point is one traced run
(`tools/stage_profile.TracedSession`), and the exponent is fit over
executor CPU seconds, a counter, not over wall time, which on a shared
VM follows the CPU other guests steal. Writes SCALING.md; a run over
named queries merges their rows into the existing table.

Usage: python tools/scale_probe.py [query ...]   (default: every probe)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.stage_profile import REPO, TracedSession  # noqa: E402

# The fixture ladder, then the 10x/50x synthetic twins of the fixture
# tables (tools/gen_scale_twin.py; full schema since round 7), so
# exponents are fit over >= 2 decades of input growth (500 -> 250k
# docs; 600k -> 30M lineitem rows), then the x250 tier (1.25M docs /
# 500k vecs, documents/embeddings only) for the dedup/ANN production
# headliners. A twin tier missing locally is skipped.
TIERS = {
    "sf0.001": "/root/testdata/sf0.001",
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
    "x10": os.path.join(REPO, ".scale_twin", "x10"),
    "x50": os.path.join(REPO, ".scale_twin", "x50"),
    "x250": os.path.join(REPO, ".scale_twin", "x250"),
}

# query -> (the table whose row count drives its input size, its top
# tier). Chosen: the scale-critical representatives of each family,
# every census entry of >= 2.5 s, and each exact quadratic form next
# to its banded/approximate twin (dedup_triangle_count beside its LSH
# twin), so the twin's growth is measured, not asserted. The exact
# forms stop at sf0.1: at the twins they would only measure the fenced
# quadratic.
PROBES = {
    "q1_pricing_summary": ("lineitem", "x50"),
    "q5_region_revenue": ("lineitem", "x50"),
    "q18_large_volume_customers": ("lineitem", "x50"),
    "dedup_minhash_lsh": ("documents", "x250"),
    "text_bpe_merges": ("documents", "sf0.1"),
    "sim_kmeans_2iter": ("embeddings", "sf0.1"),
    "q_countmin_sketch": ("events", "sf0.1"),
    "stream_tumbling_hourly": ("events", "x50"),
    "ts_sessionize": ("events", "x50"),
    "dedup_clusters": ("documents", "sf0.1"),
    "dedup_semdedup": ("embeddings", "x50"),
    "sim_topk_lsh": ("embeddings", "x50"),
    "graph_cc_pointer_jumping": ("documents", "sf0.1"),
    "llm_corpus_prepare": ("documents", "sf0.1"),
    "llm_corpus_prepare_lsh": ("documents", "x250"),
    "q_histogram_equi_depth": ("orders", "sf0.1"),
    "dedup_triangle_count": ("documents", "sf0.1"),
    "dedup_triangle_count_lsh": ("documents", "x50"),
    "mm_phash_neardup": ("documents", "x50"),
    "q_basket_affinity_lift": ("lineitem", "x50"),
    "dedup_incremental_minhash": ("documents", "x50"),
    "mm_webdataset_write": ("documents", "sf0.1"),
    "sim_knn_join_exact": ("embeddings", "sf0.1"),
    "sim_knn_join_lsh": ("embeddings", "sf0.1"),
    "sim_knn_join_ivf": ("embeddings", "x50"),
    "q_histogram_equi_depth_approx": ("orders", "sf0.1"),
    "sim_ivf_incremental_add": ("embeddings", "x50"),
    "text_span_dedup_c4": ("documents", "sf0.1"),
    "text_bpe_tokenize": ("documents", "sf0.1"),
    "text_repeated_ngrams": ("documents", "x50"),
    "dedup_clusters_lsh": ("documents", "x250"),
    "dedup_incremental_clusters": ("documents", "x50"),
    "text_repetition_filter": ("documents", "x50"),
    "text_corpus_overlap": ("documents", "x50"),
    "sim_topk_ivfpq": ("embeddings", "x50"),
    "llm_chunk_manifest": ("documents", "x50"),
    "dedup_simhash": ("documents", "x50"),
    "text_bigram_kn_score": ("documents", "x50"),
    "q_global_ranks_scalable": ("orders", "x50"),
    "q_funnel_conversion": ("events", "x50"),
    "stream_knn_probe_ivf": ("embeddings", "x50"),
    "q_cooccurrence_pairs": ("lineitem", "x50"),
    "graph_label_propagation_2iter": ("lineitem", "x50"),
    "sim_power_iteration": ("embeddings", "x50"),
    "sim_knn_join_ivf_whitened": ("embeddings", "x250"),
    "dedup_cluster_keep_best": ("documents", "x250"),
    "sim_knn_join_ivf2": ("embeddings", "x250"),
    "sim_knn_join_ivf_auto": ("embeddings", "x250"),
}


HEADER = [
    "# SCALING — measured engine-cost growth vs data growth",
    "",
    "Generated by `tools/scale_probe.py`: one run per point, forced with",
    "the noop sink (full execution), traced through the Spark event log",
    "(`tools/stage_profile.py`). A cell reads `driver-table rows /",
    "executor CPU s / shuffle MB written`. `exponent` fits",
    "CPU ≈ c·rows^e over the largest row step. Executor CPU is a",
    "counter of the work the plan does; it does not follow the CPU that",
    "other guests of the VM steal, which wall time does. e ≤ ~1 is the",
    "scalable regime (constant overheads push e below 1 at these tiny",
    "sizes); e ≫ 1 flags a plan whose cost outgrows its input — the thing",
    "that kills a 100 TB run. The exact-twin queries marked with a",
    "scale-twin in PLANS.md are expected to show e > 1; their",
    "banded/approximate twins are the production path.",
    "",
    "The production probes also run on the 10x/50x synthetic twins of the",
    "fixture tables (`python tools/gen_scale_twin.py --tier x10` and",
    "`--tier x50`: same schema, same duplicate structure), so their",
    "exponents span >= 2 decades (500 → 250 000 docs; 6k → 30M lineitem",
    "rows). A tier whose twin directory is missing reads —. The x250 tier",
    "(1.25M docs / 500k vecs) is parked (ROADMAP); its last measured",
    "walls are in `SCALING.md @ 6fcab43`.",
    "",
    "| query | driver table | " + " | ".join(TIERS) + " | exponent |",
    "|---|---|" + "---|" * (len(TIERS) + 1),
]


def main() -> None:
    names = sys.argv[1:] or list(PROBES)
    session = TracedSession("scale-probe")
    spark = session.spark
    tiers = list(TIERS)

    # warm the JVM/codegen/python workers once
    session.run("warmup", "q1_pricing_summary", TIERS["sf0.001"])

    rows_at: dict[tuple[str, str], int] = {}
    runs: dict[str, list[tuple[str, str]]] = {}  # query -> [(tier, item)]
    for name in names:
        if name not in PROBES:
            print(f"skip unknown probe {name}")
            continue
        table, top = PROBES[name]
        for tier in tiers[: tiers.index(top) + 1]:
            if not os.path.isdir(TIERS[tier]):
                continue
            if (tier, table) not in rows_at:
                rows_at[tier, table] = spark.read.parquet(
                    os.path.join(TIERS[tier], f"{table}.parquet")).count()
            item = f"{name}@{tier}"
            wall = session.run(item, name, TIERS[tier])
            runs.setdefault(name, []).append((tier, item))
            print(f"  {item}: {wall:.2f}s wall", flush=True)
    records, _ = session.records()

    new_rows: dict[str, str] = {}
    for name, points in runs.items():
        table = PROBES[name][0]
        cells = dict.fromkeys(tiers, "—")
        fit = []
        for tier, item in points:
            r, n = records[item], rows_at[tier, table]
            cells[tier] = (f"{n:,} / {r['executor_cpu_s']:.2f} / "
                           f"{r['shuffle_write_bytes'] / 1e6:.2f}")
            fit.append((n, r["executor_cpu_s"]))
        (n1, c1), (n2, c2) = fit[-2], fit[-1]
        exponent = math.log(c2 / c1) / math.log(n2 / n1) if n2 > n1 and c1 > 0 else float("nan")
        new_rows[name] = (f"| {name} | {table} | " + " | ".join(cells.values())
                          + f" | {exponent:.2f} |")
        print(new_rows[name])

    path = os.path.join(REPO, "SCALING.md")
    merged: dict[str, str] = {}
    if sys.argv[1:] and os.path.exists(path):
        for line in open(path):
            cols = line.rstrip("\n").split("|")
            if len(cols) == len(tiers) + 5 and cols[1].strip() in PROBES:
                merged[cols[1].strip()] = line.rstrip("\n")
    merged.update(new_rows)
    with open(path, "w") as f:
        f.write("\n".join(HEADER + [merged[n] for n in PROBES if n in merged]) + "\n")
    print(f"wrote {path}")



if __name__ == "__main__":
    main()
