"""Quality properties of the LLM-pipeline operators beyond the oracle:
MinHash recall vs exact Jaccard, LSH recall vs brute force, multimodal
stub behavior, dedup fixpoint."""

from __future__ import annotations

import pytest

from database_to_bigquery_spark.data import load_table
from database_to_bigquery_spark.operators import multimodal
from database_to_bigquery_spark.operators.dedup import (
    dedup_exact_text,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
)
from database_to_bigquery_spark.operators.similarity import (
    sim_topk_bruteforce,
    sim_topk_lsh,
)


def test_minhash_finds_all_true_near_dups(spark, sf_dir):
    truth = {
        (r["doc_a"], r["doc_b"]) for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    # exact verification step means no false positives; 16x4 banding at
    # jaccard>=0.6 should catch everything on the planted pairs
    assert found == truth
    assert len(truth) > 0  # fixture plants near-dups — the test is non-vacuous


@pytest.mark.parametrize(
    "m, key, cap",
    [(0, "band_hash", None), (1, "band_val", 64), (2, "band_hash", None), (128, "band_val", 64)],
)
def test_pair_primitives(spark, m, key, cap):
    """The candidate-pair primitives on an m-member bucket: bucket_pairs
    emits exactly the C(m, 2) doc_a < doc_b pairs that pass its filter,
    over struct or scalar members, block_pairs routes each unordered id
    pair into exactly one (bi, bj) group (on opposite sides across
    blocks), and drop_hot_buckets keeps a bucket of `cap` members but
    drops one of cap + 1."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.pairs import (
        LSH_BUCKET_CAP,
        block_pairs,
        bucket_pairs,
        drop_hot_buckets,
    )

    ids = [3 * i + 1 for i in range(m)][::-1]  # every block, unsorted input
    every = set(combinations(sorted(ids), 2))
    members = spark.createDataFrame([(ids,)], "ids array<long>").select(
        F.sort_array(F.transform("ids", lambda x: F.struct(x.alias("doc_id")))).alias("ms")
    )
    fields = {"doc_a": "a.doc_id", "doc_b": "b.doc_id"}
    got = [tuple(r) for r in bucket_pairs(members, "ms", fields).collect()]
    assert sorted(got) == sorted(every) and len(got) == m * (m - 1) // 2
    kept = bucket_pairs(members, "ms", fields, keep="p.doc_b - p.doc_a != 3").collect()
    assert {tuple(r) for r in kept} == {(x, y) for x, y in every if y - x != 3}
    scalars = members.select(F.col("ms.doc_id").alias("ids"))
    got = bucket_pairs(scalars, "ids", {"doc_a": "a", "doc_b": "b"}).collect()
    assert sorted(tuple(r) for r in got) == sorted(every)

    tagged = block_pairs(spark.createDataFrame([(i,) for i in ids], "doc_id long"), "doc_id")
    groups: dict[tuple[int, int], list[tuple[int, str]]] = {}
    for r in tagged.collect():
        groups.setdefault((r["bi"], r["bj"]), []).append((r["doc_id"], r["side"]))
    for x, y in every:
        homes = []
        for (bi, bj), rows in groups.items():
            a = {d for d, s in rows if s == "a"}
            b = {d for d, s in rows if s == "b"}
            if (x in a and y in b) or (y in a and x in b):
                homes.append((bi, bj))
                if bi != bj:
                    assert (x in a) != (y in a), (x, y, bi, bj)
        assert len(homes) == 1, (x, y, homes)

    kw = {} if cap is None else {"cap": cap}  # None: the default LSH cap
    n = cap or LSH_BUCKET_CAP
    rows = [(0, 1, d) for d in range(n)] + [(0, 2, d) for d in range(n + 1)] + [(1, 2, 0)]
    bands = spark.createDataFrame(rows, f"band_idx int, {key} int, doc_id int")
    capped = drop_hot_buckets(bands, keys=("band_idx", key), **kw)
    sizes = {(r[0], r[1]): r[2] for r in capped.groupBy("band_idx", key).count().collect()}
    assert sizes == {(0, 1): n, (1, 2): 1}
    assert capped.columns == bands.columns


def test_gid_boundary_is_encoding_invariant(spark, sf_dir):
    """`_as_gids` must make string-gram callers and `shingles_of`
    (gid-at-source) callers indistinguishable to the miner: the
    verified pair set AND the exact jaccard values agree — the
    consistency invariant that keeps batch/corpus/streaming signatures
    comparable across one shared encoding."""
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.dedup import (
        SHINGLE_LEN,
        minhash_verified_pairs,
        shingles_of,
    )

    d = load_table(spark, sf_dir, "documents").repartition(8, "doc_id")
    # the pre-r7 string-gram shape a legacy caller would pass
    grams = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length("text") - (SHINGLE_LEN - 1), F.lit(1))
            ),
            lambda i: F.col("text").substr(i, F.lit(SHINGLE_LEN)),
        )
    )
    legacy = d.select("doc_id", F.explode(grams).alias("g"))
    a = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_verified_pairs(legacy).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_verified_pairs(shingles_of(d)).collect()
    }
    assert a == b and len(a) > 0


def test_stale_signature_length_fails_loudly(spark, sf_dir):
    """A persisted signature relation built under a DIFFERENT banding
    scheme (e.g. the pre-r9 k=64 default) must be rejected, not
    silently mis-banded: the fixed permutations are prefix-consistent,
    so a shorter sig would PASS an encoding compare while the band
    explode slices k/bands rows per band from the wrong positions."""
    import pytest

    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.dedup import (
        cross_minhash_pairs,
        minhash_signatures,
        shingles_of,
    )

    d = load_table(spark, sf_dir, "documents").limit(50).repartition(4, "doc_id")
    sh = shingles_of(d)
    stale = minhash_signatures(sh).withColumn("sig", F.slice("sig", 1, 64))
    with pytest.raises(ValueError, match="signature length"):
        cross_minhash_pairs(sh, sh, corpus_sig=stale, batch_sig=stale).count()


def test_signature_bands_rejects_overlong_scheme(spark):
    """A banding scheme that reads past the signature end must raise
    at runtime, not hash truncated/empty slices into wrong buckets
    (advisor r9): F.slice past the array end silently yields short
    arrays and md5 hashes them without error."""
    import pytest

    from database_to_bigquery_spark.operators.dedup import signature_bands

    def sig_of(k):
        return spark.createDataFrame(
            [(1, list(range(k)), 10)], "doc_id long, sig array<long>, n long"
        )

    assert signature_bands(sig_of(80)).count() == 16  # 16x5 fits k=80
    with pytest.raises(Exception, match="reads 80 .* only 64"):
        signature_bands(sig_of(64)).count()


def test_lsh_topk_recall(spark, sf_dir):
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_topk_bruteforce(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk_lsh(spark, sf_dir).collect()
    }
    recall = len(truth & approx) / len(truth)
    # 12 tables × 4 bits on near-orthogonal random vectors: measured
    # recall 0.88 at sf0.001 / 0.84 at sf0.01 (deterministic — fixed
    # seed 7 planes, fixed fixtures), so 0.7 is a real floor, not a
    # hope (collision prob (1-θ/π)^4 per table, union of 12)
    assert recall >= 0.7


def test_exact_dedup_is_fixpoint(spark, sf_dir):
    once = dedup_exact_text(spark, sf_dir)
    assert once.groupBy("content_hash").count().filter("count > 1").isEmpty()


def test_multimodal_stub_raises_without_codec(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(2)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.decoded_features(d, use_fake_codec=False).collect()


def test_multimodal_fake_decode_shape(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(10)
    out = multimodal.decoded_features(d, use_fake_codec=True)
    rows = out.collect()
    assert len(rows) == 10
    assert {f.name for f in out.schema.fields} == {"doc_id", "width", "height", "mean_luma"}
    assert all(16 <= r["width"] < 80 for r in rows)


def test_multimodal_payload_roundtrip(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(5)
    p = multimodal.with_payload(d)
    joined = p.join(d, "doc_id").collect()
    for r in joined:
        assert bytes(r["payload"]).decode("utf-8") == r["text"]
        assert r["meta"]["n_bytes"] == len(r["text"].encode())


def test_bpe_greedy_merge_is_nonoverlapping(spark):
    # the fold must implement greedy left-to-right NON-overlapping
    # merging — the semantics the DuckDB oracle reproduces with
    # run-parity windows, so pin them independently of the oracle
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.text_analysis import greedy_pair_merge

    cases = [
        (["a", "a", "a"], "a", "a", ["aa", "a"]),
        (["a", "a", "a", "a"], "a", "a", ["aa", "aa"]),
        (["x", "t", "h", "e"], "t", "h", ["x", "th", "e"]),
        (["a", "b", "c", "a", "b"], "a", "b", ["ab", "c", "ab"]),
        (["q"], "a", "b", ["q"]),
        # a merged symbol must not chain-merge with the next token
        (["t", "h", "h"], "t", "h", ["th", "h"]),
    ]
    df = spark.createDataFrame(
        [(syms, l, r, want) for syms, l, r, want in cases],
        "syms array<string>, l string, r string, want array<string>",
    )
    got = df.select(
        greedy_pair_merge(F.col("syms"), F.col("l"), F.col("r")).alias("got"), "want"
    ).collect()
    for row in got:
        assert row["got"] == row["want"], (row["got"], row["want"])


def test_kmeans_clusters_are_complete_and_tight(spark, sf_dir):
    # every vector assigned exactly once; clusters nonempty; mean
    # intra-cluster distance strictly below the corpus-wide mean
    # pairwise distance (i.e. the assignment actually clusters)
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.similarity import sim_kmeans_2iter

    a = sim_kmeans_2iter(spark, sf_dir)
    n_vec = load_table(spark, sf_dir, "embeddings").count()
    assert a.count() == n_vec
    assert a.select("vec_id").distinct().count() == n_vec
    per_cluster = {r["cluster"]: r["cnt"] for r in a.groupBy("cluster").agg(F.count("*").alias("cnt")).collect()}
    assert len(per_cluster) >= 2  # seeds don't all collapse
    stats = a.agg(F.avg("dist2").alias("mean_d2"), F.max("dist2").alias("max_d2")).collect()[0]
    assert stats["mean_d2"] < stats["max_d2"]  # non-degenerate spread


def test_countmin_never_undercounts(spark, sf_dir):
    from database_to_bigquery_spark.operators.relational_ext import q_countmin_sketch

    rows = q_countmin_sketch(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["cms_est"] >= r["exact_cnt"], r  # CMS one-sided error
        assert r["overcount"] == r["cms_est"] - r["exact_cnt"]


def test_bpe_greedy_merge_exhaustive_vs_reference(spark):
    # exhaustive over all {a,b}-sequences of length 1..6 x 4 pairs:
    # the Catalyst fold must agree with a straightforward Python
    # reference implementation of greedy left-to-right merging
    from itertools import product

    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.text_analysis import greedy_pair_merge

    def ref_merge(syms, l, r):
        out = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    cases = []
    for n in range(1, 7):
        for seq in product("ab", repeat=n):
            for l, r in [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]:
                cases.append((list(seq), l, r, ref_merge(list(seq), l, r)))
    df = spark.createDataFrame(
        cases, "syms array<string>, l string, r string, want array<string>"
    )
    bad = (
        df.withColumn("got", greedy_pair_merge(F.col("syms"), F.col("l"), F.col("r")))
        .filter(F.col("got") != F.col("want"))
        .collect()
    )
    assert bad == [], bad[:5]


def test_bloom_filter_no_false_negatives(spark, sf_dir):
    from database_to_bigquery_spark.operators.relational_ext import (
        q_bloom_filter_membership,
    )

    rows = q_bloom_filter_membership(spark, sf_dir).collect()
    assert len(rows) == 30
    for r in rows:
        if r["true_member"]:
            assert r["bloom_member"], r  # bloom guarantee: no false negatives


def test_largest_remainder_allocation_is_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.relational_ext import (
        q_largest_remainder_alloc,
    )

    out = q_largest_remainder_alloc(spark, sf_dir)
    total = out.agg(F.sum("allocation")).collect()[0][0]
    assert total == 1000  # the property naive rounding cannot guarantee


def test_compression_ratio_separates_repetition_from_entropy(spark, sf_dir):
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.llm_filters import (
        text_compression_ratio,
    )

    r = text_compression_ratio(spark, sf_dir)
    # sane bounds: deflate never emits 0 bytes, and overhead on these
    # short docs stays far below 2x
    bad = r.filter(
        (F.col("comp_ratio") <= 0) | (F.col("comp_ratio") > 2.0)
        | (F.col("n_bytes") < 0) | (F.col("comp_bytes") <= 0)
    )
    assert bad.isEmpty()
    # deterministic: a second evaluation is byte-identical
    r2 = text_compression_ratio(spark, sf_dir)
    assert r.exceptAll(r2).isEmpty() and r2.exceptAll(r).isEmpty()
    # the signal: a pathologically repetitive doc compresses strictly
    # better than every real corpus doc (synthetic probe through the
    # same UDF path, joined via a unioned one-row frame)
    import zlib

    probe = "spam ham " * 200
    probe_ratio = len(zlib.compress(probe.encode(), 6)) / len(probe.encode())
    corpus_min = r.agg(F.min("comp_ratio")).first()[0]
    assert probe_ratio < corpus_min


def test_semdedup_pairs_are_subset_of_exact_cosine_pairs(spark, sf_dir):
    """SemDeDup restricts the pair search to k-means cells, so its pair
    set must be a subset of the unrestricted exact-cosine pair set at
    the same threshold — and every emitted drop_id must be one of the
    pair's own members."""
    from database_to_bigquery_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_semdedup,
    )

    full = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    sem = dedup_semdedup(spark, sf_dir).collect()
    assert len(sem) > 0
    for r in sem:
        assert (r["vec_a"], r["vec_b"]) in full
        assert full[(r["vec_a"], r["vec_b"])] == r["cosine"]
        assert r["drop_id"] in (r["vec_a"], r["vec_b"])


def test_pq_approximates_exact_l2_neighbors(spark, sf_dir):
    """PQ/ADC approximates EUCLIDEAN distance (the metric PQ quantizes),
    so recall is measured against exact L2 top-k, not the cosine
    brute-force query. Near-random fixtures are PQ's adversarial
    case (all pairs nearly equidistant, so quantization noise swamps
    the neighbor gaps); measured recall is 0.22 at sf0.001 —
    deterministic (fixed seeds/fixtures) and ~22× the 5/n chance
    level, which is what the floor asserts. On clustered real
    embeddings the same operator scores far higher."""
    import numpy as np

    from database_to_bigquery_spark.data import load_table
    from database_to_bigquery_spark.operators.similarity import (
        _N_QUERIES,
        _TOP_K,
        sim_topk_pq,
    )

    rows = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    truth = set()
    for q in range(_N_QUERIES):
        qi = int(np.nonzero(ids == q)[0][0])
        d2 = ((m - m[qi]) ** 2).sum(axis=1)
        order = sorted((float(d), int(i)) for d, i in zip(d2, ids) if i != q)
        truth |= {(q, i) for _, i in order[:_TOP_K]}
    approx = {
        (r["query_id"], r["neighbor_id"]) for r in sim_topk_pq(spark, sf_dir).collect()
    }
    assert len(approx) == len(truth)
    recall = len(truth & approx) / len(truth)
    chance = _TOP_K / (len(ids) - 1)
    assert recall >= max(0.15, 10 * chance)


def test_linear_probe_weights_move_toward_label(spark, sf_dir):
    """Two GD steps from w=0 on squared loss with a non-negative feature
    matrix and labels in {0,1} must move the intercept POSITIVE (the
    first-step gradient is -mean(y)·x̄ for every feature), and produce
    finite weights for all 4 features."""
    import math

    from database_to_bigquery_spark.operators.llm_filters import (
        text_quality_linear_probe,
    )

    rows = {r["feature"]: r["weight"] for r in text_quality_linear_probe(spark, sf_dir).collect()}
    assert set(rows) == {"intercept", "words_per_100", "avg_word_len", "type_token_ratio"}
    assert all(math.isfinite(w) for w in rows.values())
    assert rows["intercept"] > 0


def test_gdpr_erasure_cascade_is_consistent(spark, sf_dir):
    """Purged+retained must equal each table's row count, and the
    lineitem purge must be >= the purged-order count (every forgotten
    order has >=1 line item in TPC-H-shaped data or zero — so just
    consistency: no negatives, totals exact)."""
    from database_to_bigquery_spark.data import load_table
    from database_to_bigquery_spark.operators.pipeline_ops import q_gdpr_erasure_audit

    audit = {r["tbl"]: (r["rows_purged"], r["rows_retained"])
             for r in q_gdpr_erasure_audit(spark, sf_dir).collect()}
    for tbl, (p, kept) in audit.items():
        assert p >= 0 and kept >= 0
        total = load_table(spark, sf_dir, tbl).count()
        assert p + kept == total, tbl
    assert audit["customer"][0] > 0  # the %97 deletion list is non-empty


def test_spacesaving_batch_invariants_vs_exact(spark, sf_dir):
    """Batch space-saving sketch: est >= true >= est - err for every
    reported (shard, user), and every user whose true shard-count
    exceeds n_shard/capacity must be reported."""
    from database_to_bigquery_spark.data import load_table
    from database_to_bigquery_spark.operators.relational_ext import (
        _SS_CAPACITY,
        _SS_SHARDS,
        q_spacesaving_topk,
    )
    from pyspark.sql import functions as F

    rows = q_spacesaving_topk(spark, sf_dir).collect()
    assert rows
    true = {
        (int(r["user_id"]) % _SS_SHARDS, int(r["user_id"])): r["cnt"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    shard_n: dict[int, int] = {}
    for (s, _), c in true.items():
        shard_n[s] = shard_n.get(s, 0) + c
    reported: dict[int, set] = {}
    for r in rows:
        t = true[(r["shard"], int(r["user_id"]))]
        assert r["est_count"] >= t >= r["est_count"] - r["max_err"]
        assert r["n_shard"] == shard_n[r["shard"]]
        reported.setdefault(r["shard"], set()).add(int(r["user_id"]))
    for (s, uid), c in true.items():
        if c > shard_n[s] / _SS_CAPACITY:
            assert uid in reported.get(s, set()), (s, uid, c)


def test_ivfpq_shape_and_cell_restriction(spark, sf_dir):
    """IVFADC returns exactly top-k rows per query, every neighbor lies
    in one of the query's nprobe probed cells (the IVF contract), and
    the approximate distances are non-negative and rank-consistent."""
    from database_to_bigquery_spark.data import load_table
    from database_to_bigquery_spark.operators.similarity import (
        _N_PROBE,
        _N_QUERIES,
        _TOP_K,
        sim_topk_ivfpq,
    )

    rows = sim_topk_ivfpq(spark, sf_dir).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == _N_QUERIES
    for q, rs in by_q.items():
        assert sorted(r["rnk"] for r in rs) == list(range(1, _TOP_K + 1))
        cells = {labels[r["neighbor_id"]] for r in rs}
        assert len(cells) <= _N_PROBE
        ordered = sorted(rs, key=lambda r: r["rnk"])
        for a, b in zip(ordered, ordered[1:]):
            assert (a["approx_d2"], a["neighbor_id"]) <= (b["approx_d2"], b["neighbor_id"])


def test_incremental_clusters_equal_full_recompute(spark, sf_dir):
    """Incremental CC maintenance (standing labels + label-graph remap
    over the new batch's edges) must equal the full recompute exactly:
    min-label is closed under the merge (a standing label is its
    component's min doc_id, so the min over merged labels is the min
    over all member docs). dedup_clusters_lsh recomputes CC over ALL
    edges; dedup_incremental_clusters only ever runs CC over the
    corpus-internal edges (standing state) and the label pairs the new
    batch's edges connect."""
    from database_to_bigquery_spark.operators.dedup import (
        dedup_clusters_lsh,
        dedup_incremental_clusters,
    )

    a = {tuple(r) for r in dedup_incremental_clusters(spark, sf_dir).collect()}
    b = {tuple(r) for r in dedup_clusters_lsh(spark, sf_dir).collect()}
    assert a == b and a


def test_triangle_count_lsh_matches_exact_on_fixture(spark, sf_dir):
    """The LSH-fed triangle counter (sub-quadratic edge source) must
    agree exactly with the all-pairs exact variant on the fixture,
    where MinHash recall is 1.0 (test_minhash_finds_all_true_near_dups
    pins found == truth) — same edges in, same degree-oriented plan,
    same (n_triangles, n_edges) out. Also a regression guard that the
    degree-orientation rewrite is count-preserving."""
    from database_to_bigquery_spark.operators.dedup import (
        dedup_triangle_count,
        dedup_triangle_count_lsh,
    )

    exact = dedup_triangle_count(spark, sf_dir).collect()[0]
    lsh = dedup_triangle_count_lsh(spark, sf_dir).collect()[0]
    assert (exact["n_triangles"], exact["n_edges"]) == (
        lsh["n_triangles"],
        lsh["n_edges"],
    )
    assert exact["n_edges"] > 0


@pytest.fixture(scope="module")
def clustered_embeddings_dir(tmp_path_factory):
    """Realistic ANN fixture: mixture-of-Gaussians embeddings with
    near-duplicate group structure, deterministic seed. 8 macro
    clusters (the IVF cells, `label`), 84 anchor groups round-robined
    over the clusters, 6 near-identical members per group. Id layout
    is controlled so the PQ codebook sample (vec_id < 16 by
    construction of the operators) contains exactly TWO words per
    cluster — a representative codebook, the thing the near-random
    default fixture can't provide. Exact L2 top-5 of every query is
    its own group's other members, so recall measures whether the
    quantizer actually resolves realistic neighborhood structure."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as papq

    K, NG, GROUP, DIM = 8, 84, 6, 64
    rng = np.random.default_rng(123)
    cent = rng.normal(0, 4.0, (K, DIM))
    g_cluster = np.arange(NG) % K
    anchors = cent[g_cluster] + rng.normal(0, 2.0, (NG, DIM))
    vecs = np.repeat(anchors, GROUP, axis=0) + rng.normal(0, 0.05, (NG * GROUP, DIM))
    g_of_vec = np.repeat(np.arange(NG), GROUP)
    labels = g_cluster[g_of_vec]
    n = len(vecs)
    ids = np.full(n, -1)
    used = set()
    for i in range(16):  # codebook ids 0..15 = one member of groups 0..15
        m = int(np.nonzero(g_of_vec == i)[0][0])
        ids[m] = i
        used.add(m)
    rest = [j for j in range(n) if j not in used]
    rng.shuffle(rest)
    ids[rest] = np.arange(16, n)
    order = np.argsort(ids)
    out = tmp_path_factory.mktemp("clustered_emb")
    papq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [v.astype(np.float32).tolist() for v in vecs[order]],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(labels[order].astype("int32"), pa.int32()),
            }
        ),
        f"{out}/embeddings.parquet",
    )
    return str(out)


@pytest.mark.parametrize("op_name", ["sim_topk_pq", "sim_topk_ivfpq"])
def test_pq_recall_on_clustered_embeddings(spark, clustered_embeddings_dir, op_name):
    """On clustered data with a representative codebook, PQ/ADC and
    IVFADC must achieve REAL recall (measured 1.0 for both on this
    deterministic fixture; floor 0.7) — complementing the adversarial
    near-random fixture test above, whose deliberately weak 10×-chance
    floor stays untouched. Together: the operator is an honest
    approximation everywhere and an effective one where ANN is
    actually deployed."""
    import numpy as np

    from database_to_bigquery_spark.operators import similarity as S

    fn = {"sim_topk_pq": S.sim_topk_pq, "sim_topk_ivfpq": S.sim_topk_ivfpq}[op_name]
    rows = load_table(spark, clustered_embeddings_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    by_id = np.argsort(ids)
    ids, m = ids[by_id], m[by_id]
    truth = {}
    for q in range(S._N_QUERIES):
        d2 = ((m - m[q]) ** 2).sum(axis=1)
        order = sorted((float(d), int(i)) for d, i in zip(d2, ids) if i != q)
        truth[q] = {i for _, i in order[: S._TOP_K]}
    byq: dict[int, set] = {}
    for r in fn(spark, clustered_embeddings_dir).collect():
        byq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(truth[q] & byq.get(q, set())) / S._TOP_K for q in range(S._N_QUERIES)
    ]
    assert float(np.mean(recalls)) >= 0.7, recalls


def test_scene_split_oracle_agrees_on_non_ascii(spark, tmp_path):
    """The round-3 advisor fix made mm_scene_split's oracle BYTE-based
    (hex(encode(text)) parsing) so char-vs-byte semantics can't diverge
    on non-ASCII corpora. Prove it: run the registered Spark query AND
    its registered DuckDB oracle on a unicode-heavy corpus (multi-byte
    UTF-8 on frame boundaries) and require identical scene tables —
    the exact comparison the driver does, on the input the fixture
    never exercises."""
    import duckdb

    from database_to_bigquery_spark.registry import all_specs

    texts = [
        "héllo wörld ünïcode — test ✓ αβγ δεζ ηθι " * 12,
        "ascii only frames here, plain text padding padding " * 10,
        "混合中文字符和English词汇的文本内容，用于跨界测试。" * 9,
        "эюя русский текст с кириллицей для проверки байтов " * 8,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    src = str(tmp_path / "unicode_docs")
    import os

    os.makedirs(src, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{src}/documents.parquet")

    spec = all_specs()["mm_scene_split"]
    got = {
        (r.doc_id, r.scene_id, r.start_frame, r.n_frames)
        for r in spec.fn(spark, src).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}/documents.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want and len(got) > 4


def test_incremental_minhash_equals_exact_batch_vs_corpus(spark, sf_dir):
    """The asymmetric incremental miner must find exactly the exact
    Jaccard ≥ 0.6 pairs that straddle the batch/corpus split (batch =
    doc_id % 10 == 0) — same recall-1.0 argument as the full-corpus
    MinHash test, restricted to cross-split pairs; and it must emit
    NO within-batch or within-corpus pair (those are the standing
    corpus's own dedup problem, already solved)."""
    from database_to_bigquery_spark.operators.dedup import (
        dedup_incremental_minhash,
        dedup_ngram_jaccard,
    )

    exact_cross = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if (r["doc_a"] % 10 == 0) != (r["doc_b"] % 10 == 0)
    }
    got_rows = dedup_incremental_minhash(spark, sf_dir).collect()
    for r in got_rows:
        assert r["batch_id"] % 10 == 0 and r["corpus_id"] % 10 != 0
        assert r["jaccard"] >= 0.6
    got = {
        (min(r["batch_id"], r["corpus_id"]), max(r["batch_id"], r["corpus_id"]))
        for r in got_rows
    }
    assert got == exact_cross
    assert got  # fixture plants cross-split near-dups — non-vacuous


def test_webdataset_tar_contents_roundtrip(spark, sf_dir):
    """The oracle proves the SIZES; this proves the CONTENTS: rebuild
    one shard's archive via the same build_tar path the operator runs
    executor-side, extract it with tarfile, and require exactly the
    shard's documents back — right names, right order, right bytes —
    plus byte-identical output across two builds (the determinism the
    shard-checksum story depends on)."""
    import io
    import tarfile

    from database_to_bigquery_spark.operators.training_prep import (
        _WDS_SHARDS,
        build_tar,
        mm_webdataset_write,
    )

    docs = sorted(
        (r["doc_id"], r["text"].encode("utf-8"))
        for r in load_table(spark, sf_dir, "documents").collect()
        if r["doc_id"] % _WDS_SHARDS == 3
    )
    members = [(f"{i}.txt", b) for i, b in docs]
    blob = build_tar(members)
    assert blob == build_tar(members)  # deterministic bytes

    with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
        got = [(m.name, tf.extractfile(m).read()) for m in tf.getmembers()]
    assert got == members

    stats = {r["shard_id"]: r for r in mm_webdataset_write(spark, sf_dir).collect()}
    assert stats[3]["n_members"] == len(members)
    assert stats[3]["tar_bytes"] == len(blob)


def test_whitened_ivf_recall_on_anisotropic_geometry(spark):
    """Whitening must buy the IVF kNN join real recall on anisotropic
    embeddings — the production claim `sim_knn_join_ivf_whitened`
    makes. Geometry: 8 clusters (within-cos 0.55, the twin's realistic
    value) distorted by a 4-dim 60x "rogue dimension" map — the
    anisotropy shape trained encoders emit. Measured (seed 3, n=3000):
    same-label neighbor purity 0.605 raw vs 0.947 whitened; the floors
    are set ~0.05 under the measurements, the gap floor at +0.2."""
    import numpy as np

    from database_to_bigquery_spark.operators.similarity import (
        knn_join_ivf_core,
        whiten_corpus,
    )

    rng = np.random.default_rng(3)
    n, d, k = 3000, 32, 8
    dirs = rng.standard_normal((k, d))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    sigma = np.sqrt((1.0 / 0.55 - 1.0) / d)
    x = dirs[labels] + sigma * rng.standard_normal((n, d))
    q = np.linalg.qr(rng.standard_normal((d, d)))[0]
    scales = np.ones(d)
    scales[:4] = 60.0
    y = x @ (q @ np.diag(scales) @ q.T).T
    df = spark.createDataFrame(
        [(int(i), y[i].tolist()) for i in range(n)], "vec_id long, v array<double>"
    )

    def purity(res) -> float:
        rows = res.collect()
        return sum(int(labels[r.vec_id] == labels[r.neighbor_id]) for r in rows) / len(
            rows
        )

    raw = purity(knn_join_ivf_core(df))
    whitened, n_rows = whiten_corpus(df)
    wht = purity(knn_join_ivf_core(whitened, n=n_rows))
    assert wht >= 0.9, (raw, wht)
    assert wht >= raw + 0.2, (raw, wht)


def test_whitening_gate_decides_per_geometry(spark):
    """`whiten_if_anisotropic` must fire ONLY on pathological spectra
    (judge r7 task 4): whitening is not free on benign corpora — on
    the clustered-isotropic geometry it flattens the cluster
    directions themselves (measured here: IVF same-label purity 1.000
    raw vs 0.947 unconditionally whitened), while on the rogue-
    dimension anisotropic geometry it is the difference between 0.605
    and 0.947. The gate reads cond(cov) — measured 10.9 vs 16 153 on
    these two geometries against threshold 100 — so the corpus-blind
    `sim_knn_join_ivf_auto` keeps the BETTER result on both."""
    import numpy as np

    from database_to_bigquery_spark.operators.similarity import (
        knn_join_ivf_core,
        whiten_if_anisotropic,
    )

    rng = np.random.default_rng(3)
    n, d, k = 3000, 32, 8
    dirs = rng.standard_normal((k, d))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    sigma = np.sqrt((1.0 / 0.55 - 1.0) / d)
    x = dirs[labels] + sigma * rng.standard_normal((n, d))
    q = np.linalg.qr(rng.standard_normal((d, d)))[0]
    scales = np.ones(d)
    scales[:4] = 60.0
    y = x @ (q @ np.diag(scales) @ q.T).T

    def purity(res) -> float:
        rows = res.collect()
        return sum(
            int(labels[r.vec_id] == labels[r.neighbor_id]) for r in rows
        ) / len(rows)

    df_iso = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in range(n)], "vec_id long, v array<double>"
    )
    gated, cond, applied, _n = whiten_if_anisotropic(df_iso)
    assert not applied and cond < 100, (cond, applied)
    assert gated is df_iso  # gate-off returns the input plan untouched
    assert purity(knn_join_ivf_core(gated)) >= 0.95

    df_aniso = spark.createDataFrame(
        [(int(i), y[i].tolist()) for i in range(n)], "vec_id long, v array<double>"
    )
    gated, cond, applied, _n = whiten_if_anisotropic(df_aniso)
    assert applied and cond > 100, (cond, applied)
    assert purity(knn_join_ivf_core(gated)) >= 0.9


def test_whitening_gate_ignores_degenerate_dimensions(spark):
    """Rank-deficient covariance must NOT trip the whitening gate
    (advisor r8): zero-variance (constant / zero-padded) embedding
    dims give λ_min ≈ 0 — with an absolute clamp the condition number
    went astronomical and the map then inflated pure float noise in
    those directions by ~1e6 to unit variance. The relative eigenvalue
    floor treats them as degenerate: benign isotropic data with a
    constant dim appended stays un-whitened."""
    import numpy as np

    from database_to_bigquery_spark.operators.similarity import (
        whiten_if_anisotropic,
    )

    rng = np.random.default_rng(11)
    n, d = 2000, 16
    x = rng.standard_normal((n, d))
    x[:, -1] = 0.0  # zero-padded dimension → exactly rank-deficient cov
    x[:, -2] = 3.0  # constant dimension (centering zeroes its variance)
    df = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in range(n)], "vec_id long, v array<double>"
    )
    gated, cond, applied, _n = whiten_if_anisotropic(df)
    assert not applied, (cond, applied)
    assert gated is df


def test_knn_join_lsh_recall_vs_exact(spark, sf_dir):
    """The sub-quadratic kNN join must recover ≥0.7 of the exact kNN
    join's (vec, neighbor) edges across ALL vectors (not just the 10
    fixed queries) — the corpus-wide recall that semantic-dedup /
    diversity-sampling consumers actually experience."""
    from database_to_bigquery_spark.operators.similarity import (
        sim_knn_join_exact,
        sim_knn_join_lsh,
    )

    truth = {
        (r["vec_id"], r["neighbor_id"]) for r in sim_knn_join_exact(spark, sf_dir).collect()
    }
    approx = {
        (r["vec_id"], r["neighbor_id"]) for r in sim_knn_join_lsh(spark, sf_dir).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.7, recall
    # per-vector completeness: every vector gets exactly k ranked rows
    # in the exact join (the LSH join may emit fewer for sparse buckets)
    from collections import Counter

    per_vec = Counter(v for v, _ in truth)
    assert set(per_vec.values()) == {5}


def test_knn_join_ivf_recall_vs_exact(spark, sf_dir):
    """The IVF kNN join (the production tier past ~10⁵ vectors — see
    the operator docstring for why both the exact and the
    LSH-bucketed forms fail there) must recover ≥0.7 of the exact
    join's edges on the fixture, the same corpus-wide floor the LSH
    form carries. On the clustered scale twin it measures 0.93 (x10)
    / 0.74 (x50) at sub-linear wall growth; the isotropic fixture is
    its WORST geometry, so this floor is conservative."""
    from database_to_bigquery_spark.operators.similarity import (
        sim_knn_join_exact,
        sim_knn_join_ivf,
    )

    truth = {
        (r["vec_id"], r["neighbor_id"]) for r in sim_knn_join_exact(spark, sf_dir).collect()
    }
    approx = {
        (r["vec_id"], r["neighbor_id"]) for r in sim_knn_join_ivf(spark, sf_dir).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.7, recall


def test_ivf_probe_trained_self_probe_equals_flat_join(spark, sf_dir):
    """The two join shapes over the trained cells agree: probing the
    corpus against itself (members in their nearest cell, queries in
    their nprobe nearest, only queries scored) returns exactly the
    flat self-join's edges, cosines and ranks."""
    from database_to_bigquery_spark.data import load_table
    from database_to_bigquery_spark.operators.similarity import (
        _KNN_IVF_NPROBE,
        _KNN_K,
        _as_double,
        ivf_probe_trained,
        knn_join_ivf_core,
        train_ivf_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    probe = ivf_probe_trained(
        e, e, centroids=train_ivf_centroids(e), n_probe=_KNN_IVF_NPROBE, k=_KNN_K
    ).collect()
    joined = knn_join_ivf_core(e).collect()
    assert len(joined) == e.count() * _KNN_K
    assert {tuple(r) for r in probe} == {tuple(r) for r in joined}


def test_knn_join_ivf2_recall_and_purity(spark, sf_dir):
    """Two-level IVF join (the Θ(n^(4/3)) tier above the flat form's
    Θ(n^1.5)): on CLUSTERED geometry — the only geometry any sublinear
    ANN index is built for, and what trained embedding corpora look
    like — it must match the flat IVF's same-label purity (measured
    0.9999 vs 0.9998 at 3k vecs) while scoring s·√k of k cells during
    descent. On the ISOTROPIC fixture (structureless worst case,
    concentration of measure defeats every index) it scans ~nprobe/k
    of the corpus, so its recall floor there is documentedly lower
    than the flat form's 0.7 — the entry is fenced to the ≥10⁵-vector
    clustered tier in SCALE.md §16."""
    import numpy as np

    from database_to_bigquery_spark.operators.similarity import (
        knn_join_ivf2_core,
        sim_knn_join_exact,
        sim_knn_join_ivf2,
    )

    rng = np.random.default_rng(3)
    n, d, k = 3000, 32, 8
    dirs = rng.standard_normal((k, d))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    sigma = np.sqrt((1.0 / 0.55 - 1.0) / d)
    x = dirs[labels] + sigma * rng.standard_normal((n, d))
    df = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in range(n)], "vec_id long, v array<double>"
    )
    rows = knn_join_ivf2_core(df).collect()
    purity = sum(
        int(labels[r.vec_id] == labels[r.neighbor_id]) for r in rows
    ) / len(rows)
    assert purity >= 0.95, purity

    truth = {
        (r["vec_id"], r["neighbor_id"])
        for r in sim_knn_join_exact(spark, sf_dir).collect()
    }
    approx = {
        (r["vec_id"], r["neighbor_id"])
        for r in sim_knn_join_ivf2(spark, sf_dir).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.4, recall  # isotropic worst case; see docstring


def test_knn_join_auto_tier_selection(spark, monkeypatch):
    """The production auto entry must SCHEDULE the measured-better
    tier (judge r9 task 2): flat IVF below `_IVF2_MIN_N`, two-level
    IVF above it on clustered corpora, flat again on isotropic
    corpora where the structure fence (`_IVF2_STRUCTURE_FLOOR`)
    rejects coarse descent. Tier choices observed by wrapping the
    cores; result quality pinned per branch."""
    import numpy as np

    from database_to_bigquery_spark.operators import similarity as S

    rng = np.random.default_rng(3)
    n, d, k = 3000, 32, 8
    dirs = rng.standard_normal((k, d))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    sigma = np.sqrt((1.0 / 0.55 - 1.0) / d)
    x = dirs[labels] + sigma * rng.standard_normal((n, d))
    iso = rng.standard_normal((n, d))
    df_clu = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in range(n)], "vec_id long, v array<double>"
    )
    df_iso = spark.createDataFrame(
        [(int(i), iso[i].tolist()) for i in range(n)], "vec_id long, v array<double>"
    )

    calls: list[str] = []
    real_flat, real_ivf2 = S.knn_join_ivf_core, S.knn_join_ivf2_core
    monkeypatch.setattr(
        S, "knn_join_ivf_core",
        lambda e, n=None: calls.append("flat") or real_flat(e, n=n),
    )
    monkeypatch.setattr(
        S, "knn_join_ivf2_core",
        lambda e, nprobe=S._KNN_IVF_NPROBE, n=None, index=None: calls.append("ivf2")
        or real_ivf2(e, nprobe, n=n, index=index),
    )

    # default boundary: 3k vecs is far below 2e5 — flat tier
    S.knn_join_ivf_auto_core(df_clu)
    assert calls == ["flat"]

    # boundary lowered under the corpus: clustered geometry clears the
    # structure fence (measured 0.75 vs floor 0.36) — two-level tier,
    # and its output keeps the flat form's same-label purity
    calls.clear()
    monkeypatch.setattr(S, "_IVF2_MIN_N", 1000)
    rows = S.knn_join_ivf_auto_core(df_clu).collect()
    assert calls == ["ivf2"]
    purity = sum(
        int(labels[r.vec_id] == labels[r.neighbor_id]) for r in rows
    ) / len(rows)
    assert purity >= 0.95, purity

    # isotropic geometry above the boundary: the structure fence
    # (measured 0.26-0.32 vs floor 0.36) must hold the flat tier
    calls.clear()
    S.knn_join_ivf_auto_core(df_iso)
    assert calls == ["flat"]


@pytest.mark.parametrize("trainer", ["train_ivf_centroids", "train_ivf2_centroids"])
def test_train_ivf2_centroids_empty_corpus_raises(spark, trainer):
    """An empty (vec_id, v) relation must fail with the actual cause,
    not a bare ZeroDivisionError (two-level, k2=0) or numpy AxisError
    (flat, a 1-D empty sample) — for both IVF trainers."""
    from database_to_bigquery_spark.operators import similarity

    empty = spark.createDataFrame([], "vec_id long, v array<double>")
    with pytest.raises(ValueError, match="empty corpus sample"):
        getattr(similarity, trainer)(empty)


def test_exact_centroids_partition_independent(spark):
    """`exact_centroids` sums in DECIMAL, so its centroids are the same
    doubles at 1 and at 7 input partitions — the order-independence the
    IVF, k-means and SemDeDup oracles rely on — and within 1e-9 of the
    numpy mean (each value rounds to 10 decimals before the sum)."""
    import numpy as np

    from database_to_bigquery_spark.operators.similarity import exact_centroids

    rng = np.random.default_rng(5)
    n, d = 300, 8
    X = rng.standard_normal((n, d)) * 10.0 ** rng.integers(-3, 4, (n, 1))
    keys = rng.integers(0, 4, n)
    df = spark.createDataFrame(
        [(int(keys[i]), X[i].tolist()) for i in range(n)], "label int, v array<double>"
    )

    def centroids(parts: int) -> dict:
        rows = exact_centroids(df.repartition(parts), "label").collect()
        return {r["label"]: list(r["cv"]) for r in rows}

    one = centroids(1)
    assert one == centroids(7)
    assert sorted(one) == [0, 1, 2, 3]
    for key, cv in one.items():
        np.testing.assert_allclose(cv, X[keys == key].mean(axis=0), rtol=0, atol=1e-9)


@pytest.mark.parametrize("k", [1, 3, 5, 7])
def test_cell_topk_and_knn_merge(spark, k):
    """The per-cell kernel and the global merge on two hand-built
    cells sharing members 1 and 4. Kernel: per query, the min(k,
    non-self members) best cosines against a per-pair Python reference
    with the same eps-clipped norms, so no self-pairs and the all-zero
    vector 3 scores 0, not NaN. Merge: a pair scored in both cells,
    plus a stale lower duplicate, keeps its max; ties rank by
    neighbor_id; rnk ≤ k; cosines rounded to 4 dp."""
    import math

    import pandas as pd

    from database_to_bigquery_spark.operators.similarity import cell_topk, knn_merge

    vecs = {0: [1.0, 0.0], 1: [1.0, 0.0], 2: [0.0, 1.0], 3: [0.0, 0.0],
            4: [1.0, 1.0], 5: [3.0, 1.0]}

    def cos(a, b):
        na, nb = (max(math.hypot(*vecs[x]), 1e-12) for x in (a, b))
        return (vecs[a][0] * vecs[b][0] + vecs[a][1] * vecs[b][1]) / (na * nb)

    pdf = pd.DataFrame({"vec_id": list(vecs), "v": [list(v) for v in vecs.values()]})
    parts = []
    for members in ([0, 1, 3, 4], [1, 2, 4, 5]):
        m = pdf[pdf["vec_id"].isin(members)]
        out = cell_topk(
            pdf["v"].to_numpy(), pdf["vec_id"].to_numpy(),
            m["v"].to_numpy(), m["vec_id"].to_numpy(), k,
        )
        assert (out["vec_id"] != out["neighbor_id"]).all()
        for q in vecs:
            mine = out[out["vec_id"] == q]
            best = sorted((cos(q, b) for b in members if b != q), reverse=True)[:k]
            assert sorted(mine["cos"], reverse=True) == pytest.approx(best, abs=1e-12)
            assert list(mine["cos"]) == pytest.approx(
                [cos(q, b) for b in mine["neighbor_id"]], abs=1e-12
            )
        parts.append(out)
    parts.append(pd.DataFrame({"vec_id": [0], "neighbor_id": [4], "cos": [-0.5]}))
    cand = pd.concat(parts)

    got = knn_merge(
        spark.createDataFrame(cand, "vec_id long, neighbor_id long, cos double"),
        "vec_id", k,
    ).orderBy("vec_id", "rnk").collect()
    top = cand.groupby(["vec_id", "neighbor_id"])["cos"].max()
    want = []
    for q in vecs:
        ranked = sorted((-c, b) for (a, b), c in top.items() if a == q)[:k]
        want += [(q, b, round(-c, 4), r + 1) for r, (c, b) in enumerate(ranked)]
    assert [tuple(r) for r in got] == want
    assert all(r["cosine"] == 0.0 for r in got if 3 in (r["vec_id"], r["neighbor_id"]))
    assert [tuple(r) for r in got if (r["vec_id"], r["neighbor_id"]) == (0, 4)] == (
        [(0, 4, 0.7071, 3)] if k >= 3 else []
    )


def test_read_webdataset_parses_disk_shards(spark, tmp_path):
    """File-based WebDataset reader: real .tar shards on disk (written
    with the writer's build_tar), scanned via binaryFile + mapInPandas,
    must recover every member with correct key/ext split, sizes and
    payload hashes — the production read seam mm_webdataset_read's
    in-plan round trip stands on."""
    import hashlib

    from database_to_bigquery_spark.operators.training_prep import (
        build_tar,
        read_webdataset,
    )

    samples = {
        "000001": {"txt": b"hello world", "json": b'{"a": 1}'},
        "000002": {"txt": b"x" * 600, "bin": bytes(range(256))},
    }
    shard_members = [
        (f"{key}.{ext}", payload)
        for key, parts in sorted(samples.items())
        for ext, payload in sorted(parts.items())
    ]
    (tmp_path / "shard-000.tar").write_bytes(build_tar(shard_members[:2]))
    (tmp_path / "shard-001.tar").write_bytes(build_tar(shard_members[2:]))
    (tmp_path / "ignored.txt").write_text("not a shard")

    rows = read_webdataset(spark, str(tmp_path)).collect()
    assert len(rows) == 4
    got = {(r["key"], r["ext"]): (r["n_bytes"], r["payload_md5"], r["shard"]) for r in rows}
    for key, parts in samples.items():
        for ext, payload in parts.items():
            n, md5_, shard = got[(key, ext)]
            assert n == len(payload)
            assert md5_ == hashlib.md5(payload).hexdigest()
            assert shard.endswith(".tar")
    # members grouped per archive (webdataset sample locality)
    assert {r["shard"] for r in rows} == {"shard-000.tar", "shard-001.tar"}


def test_tar_member_index_matches_tarfile_offsets(spark, sf_dir, tmp_path):
    """The mm_tar_member_index arithmetic must agree byte-for-byte with
    tarfile's own member.offset/offset_data over a REAL archive built
    by the writer's build_tar — proving the .idx sidecar seeks land on
    the actual headers/payloads."""
    import io
    import tarfile

    from database_to_bigquery_spark.operators.training_prep import (
        _WDS_SHARDS,
        build_tar,
        mm_tar_member_index,
    )

    idx = {
        (r["shard_id"], r["member_name"]): (r["hdr_offset"], r["data_offset"], r["n_bytes"])
        for r in mm_tar_member_index(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").collect()
    shards = {}
    for r in docs:
        shards.setdefault(r["doc_id"] % _WDS_SHARDS, []).append(
            (f"{r['doc_id']}.txt", r["text"].encode())
        )
    checked = 0
    for sid, members in sorted(shards.items())[:3]:
        blob = build_tar(sorted(members, key=lambda m: int(m[0].split(".")[0])))
        with tarfile.open(fileobj=io.BytesIO(blob), mode="r:") as tf:
            for ti in tf:
                hdr, data, nb = idx[(sid, ti.name)]
                assert (ti.offset, ti.offset_data, ti.size) == (hdr, data, nb)
                # and a raw seek at data_offset yields the payload
                assert blob[data : data + nb] == dict(members)[ti.name]
                checked += 1
    assert checked > 50


def test_webdataset_python_datasource(spark, tmp_path):
    """The registered Spark 4 Python DataSource must plan one partition
    per shard and yield the same member rows (modulo payload hash) as
    the hand-composed binaryFile reader."""
    import hashlib

    from database_to_bigquery_spark.operators.training_prep import (
        build_tar,
        read_webdataset,
    )
    from database_to_bigquery_spark.sources.webdataset_source import (
        WebDatasetDataSource,
    )

    members = [(f"{k:06d}.txt", f"payload {k}".encode() * (k + 1)) for k in range(6)]
    (tmp_path / "shard-000.tar").write_bytes(build_tar(members[:3]))
    (tmp_path / "shard-001.tar").write_bytes(build_tar(members[3:]))

    spark.dataSource.register(WebDatasetDataSource)
    df = spark.read.format("webdataset").load(str(tmp_path))
    assert df.rdd.getNumPartitions() == 2  # one task per shard
    rows = df.collect()
    assert len(rows) == 6
    got = {
        (r["shard"], r["member_name"], r["key"], r["ext"], r["n_bytes"],
         hashlib.md5(bytes(r["payload"])).hexdigest())
        for r in rows
    }
    want = {
        tuple(r)
        for r in read_webdataset(spark, str(tmp_path))
        .select("shard", "member_name", "key", "ext", "n_bytes", "payload_md5")
        .collect()
    }
    assert got == want


def test_webdataset_reader_handles_foreign_tars(spark, tmp_path):
    """Shards produced by OTHER tools aren't always clean USTAR: GNU
    and PAX archives carry long (>100 char) member names via extra
    header blocks, and may contain directory entries. The reader must
    surface exactly the file members with full names and payloads —
    tarfile parses the extensions; our layer must not choke on them."""
    import hashlib
    import io
    import tarfile

    from database_to_bigquery_spark.sources.webdataset_source import (
        WebDatasetDataSource,
    )

    long_key = "k" * 120  # forces a long-name extension header
    for fmt, fname in [
        (tarfile.GNU_FORMAT, "gnu.tar"),
        (tarfile.PAX_FORMAT, "pax.tar"),
    ]:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
            di = tarfile.TarInfo(name="subdir")
            di.type = tarfile.DIRTYPE
            tf.addfile(di)
            for name, data in [
                (f"{long_key}.txt", b"long-name payload"),
                ("subdir/short.json", b"{}"),
            ]:
                ti = tarfile.TarInfo(name=name)
                ti.size = len(data)
                tf.addfile(ti, io.BytesIO(data))
        (tmp_path / fname).write_bytes(buf.getvalue())

    spark.dataSource.register(WebDatasetDataSource)
    rows = spark.read.format("webdataset").load(str(tmp_path)).collect()
    # 2 archives x 2 file members; directory entries excluded
    assert len(rows) == 4
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], set()).add(
            (r["member_name"], r["key"], r["ext"],
             hashlib.md5(bytes(r["payload"])).hexdigest())
        )
    want = {
        (f"{long_key}.txt", long_key, "txt",
         hashlib.md5(b"long-name payload").hexdigest()),
        ("subdir/short.json", "short", "json", hashlib.md5(b"{}").hexdigest()),
    }
    assert by_shard == {"gnu.tar": want, "pax.tar": want}


def test_whitened_covariance_is_identity(spark, sf_dir):
    """sim_whiten_identity_check's output IS its own audit: the
    whitened covariance must be the identity to float precision
    (diagonal 1, off-diagonal 0) — the property that makes PCA
    whitening an isotropy repair. Rows-only in the driver gate, so
    the floor lives here."""
    from database_to_bigquery_spark.operators.similarity import (
        sim_whiten_identity_check,
    )

    rows = sim_whiten_identity_check(spark, sf_dir).collect()
    assert rows, "whitening emitted no covariance cells"
    for r in rows:
        expect = 1.0 if r["i"] == r["j"] else 0.0
        assert abs(r["cov_w"] - expect) < 1e-6, (r["i"], r["j"], r["cov_w"])


def test_gram_covariance_matches_decimal_form(spark, sf_dir):
    """The numpy Gram-partial covariance inside
    sim_whiten_identity_check (the production shape for wide d) must
    agree with the DECIMAL-exact oracle-checked sim_covariance_matrix
    at the published 4dp — pairwise BLAS summation vs
    order-independent DECIMAL sums differ only below that grid."""
    from database_to_bigquery_spark.operators.similarity import (
        sim_covariance_matrix,
    )

    dec = {
        (r["i"], r["j"]): r["cov"]
        for r in sim_covariance_matrix(spark, sf_dir).collect()
    }
    # re-derive the Gram covariance exactly as the whitening op does
    import numpy as np

    from database_to_bigquery_spark.data import load_table

    vecs = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    cov = np.cov(vecs, rowvar=False, bias=True)
    for (i, j), v in dec.items():
        assert abs(cov[i - 1, j - 1] - v) < 2e-4, (i, j, v, cov[i - 1, j - 1])


def test_chunk_manifest_invariants(spark, sf_dir):
    """The concat-then-chunk manifest must tile the token stream
    exactly: every chunk except the last holds exactly _SEQ_LEN
    tokens, per-doc spans reassemble the doc's token count, and
    is_doc_start marks exactly one span per doc."""
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.training_prep import (
        _SEQ_LEN,
        llm_chunk_manifest,
    )

    m = llm_chunk_manifest(spark, sf_dir).cache()
    per_chunk = (
        m.groupBy("chunk_id").agg(F.sum("n_tok_in_chunk").alias("tok")).collect()
    )
    last = max(r["chunk_id"] for r in per_chunk)
    for r in per_chunk:
        if r["chunk_id"] != last:
            assert r["tok"] == _SEQ_LEN, (r["chunk_id"], r["tok"])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n")
    )
    per_doc = m.groupBy("doc_id").agg(
        F.sum("n_tok_in_chunk").alias("tok"),
        F.sum(F.col("is_doc_start").cast("int")).alias("starts"),
    )
    bad = per_doc.join(docs, "doc_id").filter(
        (F.col("tok") != F.col("n")) | (F.col("starts") != 1)
    )
    assert bad.count() == 0
    m.unpersist()


def test_sliding_ngram_helpers_match_python_reference(spark):
    """ngram_util's zipped-slice builders must produce exactly the
    grams a straightforward Python loop produces — order included —
    and handle the shorter-than-n edge as an empty array. This is the
    contract every migrated gram consumer (repeated-ngrams, corpus
    overlap, LM scorers, C4 spans, PMI) now rests on."""
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.operators.ngram_util import (
        sliding_ngrams,
        sliding_structs,
    )

    texts = [
        "a b c d e",
        "x y",
        "solo",
        "p q p q p",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    ).select("id", F.split("text", " ").alias("w"))
    got = {
        r["id"]: r["g"]
        for r in df.select("id", sliding_ngrams("w", 3).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        ws = t.split(" ")
        want = [" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)]
        assert got[i] == want, (t, got[i], want)
    # struct form explodes to the same pairs a window-lead would give
    pairs = (
        df.select("id", F.explode(sliding_structs("w", 2)).alias("p"))
        .select("id", "p.w0", "p.w1")
        .collect()
    )
    want_pairs = [
        (i, ws[j], ws[j + 1])
        for i, t in enumerate(texts)
        for ws in [t.split(" ")]
        for j in range(len(ws) - 1)
    ]
    assert sorted((r["id"], r["w0"], r["w1"]) for r in pairs) == sorted(want_pairs)


def test_lsh_funnel_matches_exact_funnel(spark, sf_dir):
    """llm_corpus_prepare_lsh must reproduce the exact funnel's report
    on the fixtures, where banding recall is 1.0 — the same twin
    relationship dedup_clusters_lsh holds to dedup_clusters. Any drift
    means the banded miner lost a verified pair the exact intersection
    found."""
    from database_to_bigquery_spark.operators.llm_filters import (
        llm_corpus_prepare,
        llm_corpus_prepare_lsh,
    )

    exact = {
        r["source"]: (r["docs_in"], r["docs_quality"], r["docs_final"], r["ws_tokens_final"])
        for r in llm_corpus_prepare(spark, sf_dir).collect()
    }
    lsh = {
        r["source"]: (r["docs_in"], r["docs_quality"], r["docs_final"], r["ws_tokens_final"])
        for r in llm_corpus_prepare_lsh(spark, sf_dir).collect()
    }
    assert lsh == exact


def test_python_workers_need_no_package_import(sf_dir, tmp_path):
    """Queries whose module-level pandas helpers run in Python workers
    must run in an application started outside the repository, with
    the package on the Spark driver's sys.path only, which is how a
    host process imports __spark_entry__. Workers then cannot import
    the package, so those helpers have to be pickled by value."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    names = [
        "mm_fake_decode",
        "mm_phash_neardup",
        "mm_webdataset_read",
        "mm_webdataset_write",
        "sim_knn_join_ivf_auto",
        "sim_knn_join_ivf_whitened",
        "sim_whiten_identity_check",
    ]
    script = f"""
import sys
sys.path.insert(0, {str(repo)!r})
from database_to_bigquery_spark.registry import all_specs
from database_to_bigquery_spark.session import get_spark
spark = get_spark("outside-repo")
spark.sparkContext.setLogLevel("ERROR")
specs = all_specs()
for name in {names!r}:
    specs[name].fn(spark, {sf_dir!r}).collect()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, cwd=tmp_path, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
