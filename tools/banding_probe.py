"""Measure the (bands, rows) LSH sharpness frontier for the MinHash
miner (judge r8 task 1): for each banding scheme, at a given twin
tier, report

  - band-collision mass (bucket-join output rows BEFORE the est
    filter — the term that made the (16, 4) default transitional-
    superlinear at x250: e 1.15, ~7.7B est-fold ops),
  - miner wall (calibration-gated like scale_probe: a point is kept
    only when the pinned CPU workload brackets it at <= 1.25x idle on
    BOTH sides, retrying through slow VM phases),
  - ground-truth recall of true-J >= 0.6 pairs via the generator's
    true_pairs.parquet sidecar (closed over exact-dup cliques).

One band collides at J^rows, so `rows` is the background-suppression
exponent (twin background J ~ 0.09 mean / 0.152 p99 — adversarial;
real web < 0.01) and `bands` buys back recall at the threshold:
P(caught) = 1 - (1 - J^rows)^bands. The signature costs bands*rows
min-hashes; collision mass falls GEOMETRICALLY in rows.

r10: ``--cap N`` prices the hot-bucket-cap rung the same way (the
other SCALE.md §16 lever: the cap bounds kept pairs per doc at
bands·cap/2 asymptotically, so sharpening it attacks the transition-
regime collision mass directly); configs accept a per-config cap
suffix, e.g. ``16x5@128``. The tier argument accepts any directory
with documents.parquet + true_pairs.parquet — including the
web-realistic background twins (web_x10/web_x50/web_x250).

Usage: python tools/banding_probe.py [tier] [--configs 16x4 20x5
       24x5 16x5@128] [--cap 256] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools.calm import timed_calm  # noqa: E402
from database_to_bigquery_spark.operators.dedup import (  # noqa: E402
    _as_gids,
    minhash_signatures,
    minhash_verified_pairs,
    shingles_of,
    signature_bands,
    spread_partitions,
)
from database_to_bigquery_spark.operators.pairs import (  # noqa: E402
    LSH_BUCKET_CAP,
    drop_hot_buckets,
)
from database_to_bigquery_spark.session import get_spark  # noqa: E402
from tools.miner_recall_probe import close_over_exact  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tier", nargs="?", default="x50")
    ap.add_argument(
        "--configs", nargs="+", default=["16x4", "20x5", "24x5", "16x6", "12x6"]
    )
    ap.add_argument("--cap", type=int, default=None, help="hot-bucket cap override")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    def parse_config(c: str) -> tuple[int, int, int]:
        scheme, _, cap_s = c.partition("@")
        b, r = map(int, scheme.split("x"))
        return b, r, int(cap_s) if cap_s else (args.cap or LSH_BUCKET_CAP)

    configs = [parse_config(c) for c in args.configs]

    d = (
        args.tier
        if os.path.isdir(args.tier)
        else os.path.join(REPO, ".scale_twin", args.tier)
    )
    spark = get_spark("banding-probe")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    n_docs = docs.count()

    # ---- ground truth (config-independent): true-J >= 0.6 sidecar
    # pairs, exact-closure applied, J computed over the involved docs
    raw_events = [
        (r["a"], r["b"], r["kind"])
        for r in spark.read.parquet(os.path.join(d, "true_pairs.parquet")).collect()
    ]
    pairs = spark.createDataFrame(
        close_over_exact(raw_events), "a long, b long, kind string"
    )
    involved = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionByName(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh_t = shingles_of(
        docs.join(involved, "doc_id", "left_semi").select("doc_id", "text")
    ).persist()
    sizes = sh_t.groupBy("doc_id").count().withColumnRenamed("count", "n")
    inter = (
        pairs.join(sh_t.select(F.col("doc_id").alias("a"), "g"), "a")
        .join(sh_t.select(F.col("doc_id").alias("b"), F.col("g").alias("g")), ["b", "g"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn("j", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("j") >= 0.6)
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            "j",
        )
        .localCheckpoint(eager=True)
    )
    n_truth = truth.count()
    # truth-J histogram: where the mass sits decides how sharp the
    # banding can go before the recall floor binds
    j_hist = {
        f"{r['lo']:.2f}": r["c"]
        for r in truth.groupBy(
            (F.floor(F.col("j") * 20) / 20).alias("lo")
        ).agg(F.count("*").alias("c")).orderBy("lo").collect()
    }
    sh_t.unpersist()
    spark.catalog.clearCache()

    out = {
        "probe": "banding_sharpness",
        "tier": args.tier,
        "docs": n_docs,
        "truth_pairs": n_truth,
        "truth_j_histogram": j_hist,
        "configs": [],
    }
    print(json.dumps({k: v for k, v in out.items() if k != "configs"}))

    # match the real callers' precondition (char_shingles): documents
    # spread by doc_id BEFORE the 60× shingle expansion, so the miner's
    # part-sorted cache layout lets the verification SMJs elide the
    # corpus-side exchange+sort — without this the probe re-measures
    # the pre-r8 triple-shuffle shape (first attempt: 183 s vs the
    # ladder's 22 s at x50)
    sh_raw = shingles_of(
        spread_partitions(docs.select("doc_id", "text"), "doc_id")
    )
    for bands, rows, cap in configs:
        k = bands * rows
        # collision mass: bucket self-join output count before the est
        # filter (built from scratch so each config is self-contained)
        sh = _as_gids(sh_raw).persist()
        sig = minhash_signatures(sh, k).persist()
        br = drop_hot_buckets(
            signature_bands(sig, bands=bands, rows=rows), cap=cap
        )
        collisions = (
            br.alias("x")
            .hint("merge")
            .join(
                br.alias("y"),
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_hash") == F.col("y.band_hash"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .count()
        )
        sh.unpersist()
        sig.unpersist()
        spark.catalog.clearCache()

        wall, flagged = timed_calm(
            spark,
            lambda b=bands, r=rows, c=cap: force(
                minhash_verified_pairs(sh_raw, bands=b, rows=r, cap=c)
            ),
            reps=args.reps,
        )

        found = minhash_verified_pairs(
            sh_raw, bands=bands, rows=rows, cap=cap
        ).select("doc_a", "doc_b")
        n_hit = truth.join(found, ["doc_a", "doc_b"], "left_semi").count()
        spark.catalog.clearCache()
        row = {
            "bands": bands,
            "rows": rows,
            "k": k,
            "cap": cap,
            "collisions": collisions,
            "wall_sec": round(wall, 2),
            "wall_flagged": flagged,
            "recall": round(n_hit / max(n_truth, 1), 6),
            "found_of_truth": n_hit,
        }
        out["configs"].append(row)
        print(json.dumps(row), flush=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
