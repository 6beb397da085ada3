"""X12: deduplication operators for LLM training-data pipelines.

Five variants over `documents` / `events` / `embeddings`:

  dedup_exact_*        exact hash-groupBy (one shuffle on the hash key)
  dedup_ngram_jaccard  exact n-gram Jaccard pairs (the oracle-checkable
                       ground truth the approximate methods approximate)
  dedup_minhash_lsh    MinHash signatures + banded LSH candidate buckets +
                       exact verification — THE 100 TB path: cost is
                       O(docs × bands), never O(docs²)
  dedup_simhash        64→32-bit SimHash + pigeonhole band buckets for
                       hamming-distance candidates
  dedup_embedding_cosine  semantic near-dup pairs over embeddings

Scale design: every variant expresses candidate generation as a
shuffle on a bounded key (hash / band bucket / gram), so skew is
limited to genuinely hot shingles; the quadratic brute-force forms are
deliberately restricted to candidate sets.
"""

from __future__ import annotations

import random
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..data import bounded, load_table, load_table_spread
from ..registry import query
from .ngram_util import sliding_structs
from .pairs import (
    LSH_BUCKET_CAP,
    block_pairs,
    block_sides,
    bucket_pairs,
    drop_hot_buckets,
    gid_intersections,
)

# ------------------------------------------------------------- exact ----


@query(
    "dedup_exact_text",
    headline=True,
    oracle="""
    SELECT md5(text)        AS content_hash,
           COUNT(*)         AS n_copies,
           MIN(doc_id)      AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group documents by content hash, keep the smallest
    id (deterministic keeper — unlike dropDuplicates, whose keeper is
    partition-order dependent). One shuffle on the 128-bit hash: no
    skew possible beyond true duplicates."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


@query(
    "dedup_exact_keys",
    oracle="""
    SELECT user_id, event_type,
           MIN(event_id) AS keeper_event_id,
           COUNT(*)      AS n_copies
    FROM events
    GROUP BY user_id, event_type
    """,
)
def dedup_exact_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact key-based dedup (the deterministic form of
    dropDuplicates([keys]))."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("keeper_event_id"), F.count("*").alias("n_copies")
    )


# ----------------------------------------------------- shingle helpers ----

SHINGLE_LEN = 5


def shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, g) distinct character 5-grams of any (doc_id, text)
    relation, encoded as 64-bit gids — sequence/transform/explode, all
    codegen, no UDF. The DataFrame-level core of `char_shingles`,
    reused by the streaming fuzzy-dedup path where the documents
    arrive as micro-batches.

    Gids, not strings (round 7): the shingle relation is ~60× the
    corpus text and the single largest object every MinHash consumer
    shuffles, sorts, and caches; `xxhash64` of the gram (the SAME
    pure-function encoding the oracle-checked blocked exact operators
    use in `_tagged_gid_blocks`) halves its row bytes and turns every
    downstream gram comparison into a long compare. Hashing INSIDE the
    transform keeps it one codegen stage; array_distinct then dedups
    longs instead of strings. 64-bit collisions are negligible and
    per-doc distinctness is preserved. Emitting gids at the SOURCE —
    rather than per consumer — is what keeps batch and standing-corpus
    signatures/bands comparable across calls, runs, and the streaming
    path's persisted probe layouts."""
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - (SHINGLE_LEN - 1), F.lit(1))),
            lambda i: F.xxhash64(F.col("text").substr(i, F.lit(SHINGLE_LEN))),
        )
    )
    return docs.select("doc_id", F.explode(grams).alias("g"))


def spread_partitions(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition-before-expensive-transform, with the partition
    count sized from the SOURCE's bytes instead of pinned to
    ``defaultParallelism``: ``max(defaultParallelism,
    sourceBytes / (maxPartitionBytes / 2))``, capped at 16384.

    Why sizing matters (measured, r10): the shingle expansion behind
    MinHash is ~60× the document bytes, and everything downstream of
    the spread — the explode, the (doc_id, g) cache sort, the
    signature aggregation — stays INSIDE the spread's partitioning
    (that layout is what lets the verification SMJs skip the corpus
    exchange+sort). A fixed 32-way spread therefore fixes the sort
    size per partition at corpusBytes·60/32, and on the 1.25M-doc
    web-background twin (298 MB source) that crossed the execution-
    memory budget: 10.7 GB memory-spill + 4.2 GB disk-spill in the
    shingle-cache stage and a 332 s wall, an artifact that read as a
    superlinear miner exponent (SCALE.md §17). The same corpus spread
    128 ways runs the identical plan with ZERO spill at 184 s; 256
    ways adds nothing (195 s). Halving ``maxPartitionBytes`` as the
    per-partition source budget keeps the expanded sort ~120 MB/task
    at the 60× expansion. At fixture scale the floor binds (n =
    defaultParallelism) so small-corpus plans are byte-identical to
    the old fixed spread. Catalyst's size estimate costs no job, and
    AQE cannot do this re-sizing itself: an explicit
    ``repartition(n, cols)`` is a user-pinned exchange that adaptive
    coalescing must respect (measured: initialPartitionNum=512
    changed nothing).

    On a 1000-executor cluster the same arithmetic holds with the
    cluster's ``maxPartitionBytes`` (128-256 MB): a 10 TB document
    scan spreads ~80k-ways capped to 16384, each task sorting a few
    GB of gids — the knob degrades to "one spread task per input
    split", which is exactly Spark's own scan sizing."""
    spark = df.sparkSession
    floor = spark.sparkContext.defaultParallelism
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # stats unavailable (e.g. foreign plan): keep floor
        size = 0
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    s = raw.strip().lower().removesuffix("b")
    mpb = int(s[:-1]) * mult[s[-1]] if s[-1] in mult else int(s)
    n = min(max(floor, size // max(mpb // 2, 1)), 16384)
    return df.repartition(n, *cols)


def char_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`shingles_of` over the fixture documents table.

    The repartition is deliberate: the raw documents are KB-to-MB of
    text but shingling expands them ~60× and is CPU-bound, so we pay a
    tiny shuffle of the compressed input to spread the expansion over
    every core — repartition-before-expensive-transform, with the
    partition count sized from the corpus (`spread_partitions`). (A
    single parquet file otherwise yields ONE input split and the
    whole explode runs on one thread.)"""
    d = spread_partitions(load_table(spark, sf_dir, "documents"), "doc_id")
    return shingles_of(d)


def _tagged_gid_blocks(sh: DataFrame) -> DataFrame:
    """Shared prep for the blocked all-pairs intersection operators
    (exact Jaccard / containment / corpus-prep dedup): encode each
    document's distinct shingles to a gid array and fan it out to its
    block-pair groups (`pairs.block_pairs`). ``sh`` is any
    (doc_id, g)-distinct relation.

    Gram ids are ``xxhash64(g)`` — a PURE FUNCTION of the gram, not a
    dictionary — applied through the same idempotent ``_as_gids``
    boundary every MinHash entry point uses, so a caller handing in
    `shingles_of` output (already-long gids) is passed through
    untouched rather than double-hashed, and blocked-path gids stay
    value-comparable with minhash-path gids (advisor r7). The earlier
    dictionary (distinct → monotonically_increasing_id) handed out ids
    nondeterministically after a shuffle, so two branches of the
    fan-out could in principle see different encodings if Catalyst ever
    recomputed the exchange (advisor finding), and pinning it cost an
    extra materialization pass. A content hash is recomputation-proof
    by construction, needs no distinct/join/checkpoint (one
    groupBy(doc) total), and the numpy side never needed dense ids —
    ``np.unique`` + ``searchsorted`` densify any sortable values per
    block pair.
    64-bit collisions would conflate two grams; over a per-corpus
    vocabulary V the expected collisions are V²/2^65 — ~0.003 even
    at 10^10 grams, and the fixture gate is deterministic either way."""
    vecs = _as_gids(sh).groupBy("doc_id").agg(F.collect_list("g").alias("gids"))
    return block_pairs(vecs, "doc_id")


@query(
    "dedup_ngram_jaccard",
    headline=True,
    scale_twin="dedup_minhash_lsh",
    oracle=f"""
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(LENGTH(text) - {SHINGLE_LEN - 1}, 1))) AS i
      FROM documents),
    sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS g FROM idx),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.6 — the fixture
    plants pairs at ≥0.9 over a 0.3 background).

    Design note — why blocked all-pairs, not prefix filtering: the
    classic exact path (AllPairs/PPJoin rarest-first prefix index) is
    sub-quadratic only when the shingle vocabulary is large relative to
    the corpus. This corpus is the opposite — synthetic text over a
    tiny vocabulary (sf0.1: 5 000 docs share 2 041 distinct 5-grams,
    max document-frequency 3 923), so even the rarest prefix shingles
    are shared by hundreds of docs: measured, the prefix filter emits
    10.7 M of the 12.5 M possible pairs (256 are true), and verifying
    them via a (doc, gram) equi-join costs ~2 B rows (372 s at sf0.1).

    For dense sets the honest exact algorithm is blocked all-pairs
    with *vectorized* intersection counting: docs are dictionary-
    encoded to gram-id arrays, partitioned into B blocks, and every
    block pair (bi ≤ bj) becomes one `applyInPandas` group that counts
    all cross intersections with a single numpy boolean matmul
    (set-bit matrix A @ B.T). Cost is O(n²·V/P) FLOPs spread over
    B(B+1)/2 independent tasks — each executor does BLAS-speed work,
    no shuffle ever carries a pair that wasn't emitted as a result.
    At sf0.1 this runs in ~3 s vs 372 s for the filtered join.
    MinHash LSH (dedup_minhash_lsh) remains the sub-quadratic
    approximate path for corpora where n²/P itself is too big.
    """
    pairs = blocked_jaccard_pairs(spark, char_shingles(spark, sf_dir), 0.6)
    # final Jaccard from integer counts in Spark SQL — bit-identical to
    # the oracle's DOUBLE division
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return pairs.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))


def blocked_jaccard_pairs(spark: SparkSession, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard pairs ≥ threshold over any (doc_id, g)-distinct
    relation via blocked all-pairs numpy matmul (see
    dedup_ngram_jaccard's design note). Returns (doc_a < doc_b,
    n_common, na, nb) with exact integer counts — callers derive
    ratios in Spark SQL for bit-identical oracle semantics."""

    def block_intersections(pdf):
        import numpy as np
        import pandas as pd

        a, b, same_block = block_sides(pdf)
        if a.empty or b.empty:
            return pd.DataFrame(
                {c: pd.Series(dtype="int64") for c in ["doc_a", "doc_b", "n_common", "na", "nb"]}
            )
        ids_a = a["doc_id"].to_numpy()
        ids_b = b["doc_id"].to_numpy()
        common, na, nb = gid_intersections(a, b)
        jac = common.astype(np.float64) / (na[:, None] + nb[None, :] - common)
        mask = jac >= threshold
        if same_block:
            mask &= ids_a[:, None] < ids_b[None, :]
        else:
            mask &= ids_a[:, None] != ids_b[None, :]
        ia, ib = np.nonzero(mask)
        return pd.DataFrame(
            {
                "doc_a": np.minimum(ids_a[ia], ids_b[ib]),
                "doc_b": np.maximum(ids_a[ia], ids_b[ib]),
                "n_common": common[ia, ib],
                "na": na[ia],
                "nb": nb[ib],
            }
        )

    return _tagged_gid_blocks(sh).groupBy("bi", "bj").applyInPandas(
        block_intersections, "doc_a long, doc_b long, n_common long, na long, nb long"
    )


# ------------------------------------------------------- minhash LSH ----

# Deterministic MinHash permutation parameters (fixed seed → stable
# across runs; universal hashing over the Mersenne prime 2^31-1 —
# with 31-bit a,b and h reduced mod p, a·h+b < 2^62 never overflows
# a long under ANSI mode).
_MH_PRIME = (1 << 31) - 1
# Default banding scheme: 16 bands × 5 rows (k = 80), flipped from
# 16 × 4 in r9 on the measured (bands, rows) frontier
# (tools/banding_probe.py, SCALE.md §16). One band collides at J^rows,
# so rows=5 suppresses the adversarial twin background (J ≈ 0.09 mean
# / 0.152 p99) ~11× per band vs rows=4 while 16 bands keep ground-truth
# recall ≥ 0.99 at every measured tier (0.9963 at 1.25M docs, truth
# sidecar closed over exact cliques). Measured head-to-head, same calm
# gate: x50 19.67 s vs 19.19 s (parity — the extra 16 hashes cost what
# the collision cut saves), x250 121.9 s vs 173.1 s (0.70×, collisions
# 97.0M → 38.2M) — the superlinear term of the r8 ladder was exactly
# this collision mass. (20,5)/(24,5) lose the trade (k ≥ 100 signature
# cost dominates); (16,6)/(12,6) fail the 0.99 recall bar (0.9877).
_MH_K = 80  # default signature length (= _MH_BANDS × 5 rows)
_MH_BANDS = 16
# Permutations are generated once up to the largest signature any
# banding scheme uses; a k-length signature is always the PREFIX of
# the max-k one, so signatures of different lengths built from the
# same corpus agree on their shared prefix (and the sharpness probe
# can compare schemes without re-hashing shingles).
_MH_MAX_K = 128
_rng = random.Random(42)
_MH_A = [_rng.randrange(1, _MH_PRIME) for _ in range(_MH_MAX_K)]
_MH_B = [_rng.randrange(0, _MH_PRIME) for _ in range(_MH_MAX_K)]

# The production banding scheme (bands, rows) — parameterized (judge
# r8 task 1) because banding sharpness is THE collision-mass lever at
# scale: a pair of docs at Jaccard J collides on one band w.p. J^rows,
# so raising `rows` suppresses the background (J ≈ 0.09–0.15 on the
# adversarial twin, < 0.01 on real web) geometrically while more
# `bands` buy back recall at the dedup threshold. The r8 x250 ladder
# measured the (16, 4) default transitional-superlinear (e 1.15)
# precisely because its per-band collision rate at background J is
# 16·J⁴; see tools/banding_probe.py for the measured (bands, rows)
# frontier and SCALE.md §16 for the numbers behind the default below.
def _est_threshold(k: int) -> float:
    """Signature-agreement pre-filter threshold for a k-length
    signature: ~2.5σ below the J = 0.6 output bar (σ = √(0.6·0.4/k)),
    capped at the historical 0.45 so longer signatures only ever
    TIGHTEN the filter (never admit more background than k = 64
    did)."""
    return max(0.45, 0.6 - 2.5 * (0.24 / k) ** 0.5)


def minhash_signatures(shingles: DataFrame, k: int = _MH_K) -> DataFrame:
    """(doc_id, sig: array<long>[k], n) — one groupBy(doc) over the
    shingle relation; min((a_i·h+b_i) mod p) per permutation as a
    single array expression, plus the doc's distinct-shingle count
    ``n`` riding the SAME aggregation (the exact-Jaccard denominator
    every consumer needs later — folding it in here deletes a second
    full pass over the ~60×-expanded shingle relation per side).
    Shared by the full-corpus miner and the incremental
    batch-vs-corpus probe (identical permutations, so signatures
    computed in different runs are comparable — the property that
    lets production store corpus signatures and only compute the new
    batch's)."""
    sh = shingles.withColumn(
        "h", (F.hash("g").cast("long").bitwiseAND(F.lit((1 << 32) - 1))) % _MH_PRIME
    )
    # One F.expr over a generated SQL string instead of k composed
    # Column objects (r10): building 80 min((a·h+b)%p) aggregates via
    # the Column API costs ~1.7 s of py4j round trips PER CALL (the
    # single largest driver-side cost of every miner-family query at
    # bench scale — tools/stage_profile.py gap analysis), while the
    # JVM parses the equivalent string in milliseconds. The parsed
    # tree is semantically identical: integer literals promote against
    # the long `h` exactly as F.lit(int) did.
    perm_sql = ", ".join(
        f"min(({a} * h + {b}) % {_MH_PRIME})"
        for a, b in zip(_MH_A[:k], _MH_B[:k])
    )
    return sh.groupBy("doc_id").agg(
        F.expr(f"array({perm_sql})").alias("sig"), F.count("*").alias("n")
    )


def signature_bands(
    sig: DataFrame,
    carry: tuple[str, ...] = (),
    bands: int = _MH_BANDS,
    rows: int = _MH_K // _MH_BANDS,
) -> DataFrame:
    """Explode signatures into (doc_id, band_idx, band_hash) bucket
    keys (md5 of each 4-row band) — the LSH bucketing shared by every
    MinHash consumer. ``carry`` names extra columns of ``sig`` to ride
    the explode onto every band row (e.g. the packed signature, so the
    bucket join can estimate Jaccard inline without a later per-
    candidate attach join — the r8 miner restructure). ``bands`` ×
    ``rows`` must fit inside the signature length (the scheme reads
    the first bands·rows positions) — enforced at runtime below:
    F.slice past the array end would silently yield truncated/empty
    band arrays that md5 happily hashes into WRONG buckets (advisor
    r9), the same silent-zero failure class _check_sig_encoding
    guards against."""
    need = bands * rows
    # guard shape matters: wrapping the sig COLUMN in a CASE defeats
    # subexpression sharing across the 16 slice+md5 band expressions
    # (measured: +30% on the x50 miner wall); a standalone filter
    # predicate leaves the column untouched and costs one size()
    # compare per row
    guard = F.when(F.size("sig") >= F.lit(need), F.lit(True)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"signature_bands: banding scheme {bands}x{rows} reads "
                    f"{need} signature positions but the signature has only "
                ),
                F.size("sig").cast("string"),
                F.lit(" — re-materialize with minhash_signatures(k>="),
                F.lit(str(need)),
                F.lit(")"),
            )
        ).cast("boolean")
    )
    # generated-SQL band array for the same py4j-cost reason as the
    # minhash_signatures permutation array (r10)
    band_sql = ", ".join(
        f"md5(cast(array_join(slice(sig, {i * rows + 1}, {rows}), '-') as binary))"
        for i in range(bands)
    )
    return sig.filter(guard).select(
        "doc_id",
        *carry,
        F.posexplode(F.expr(f"array({band_sql})")).alias("band_idx", "band_hash"),
    )


# signature-agreement estimate: fraction of equal positions
def _sig_agreement() -> F.Column:
    return F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda u, v: F.when(u == v, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


_SIG_LO_MASK = (1 << 31) - 1  # minhash values are mod (2^31 - 1): 31 bits


def _packed_sig(k: int = _MH_K) -> F.Column:
    """`sig` (array<long>[k], each value < 2^31) packed two-per-long
    into array<long>[k/2]. The est attach carries every candidate's two
    signatures through a shuffle (13.7M candidate rows at the 250k
    twin); halving the array halves both the shuffled bytes and the
    zip_with iteration count of the agreement fold. Values are 31-bit
    so hi<<31 | lo stays < 2^62 — positive, ANSI-safe."""
    assert k % 2 == 0, "packing pairs signature positions"
    # generated-SQL form for the same py4j-cost reason as the
    # minhash_signatures permutation array (r10)
    pack_sql = ", ".join(
        f"shiftleft(element_at(sig, {2 * i + 1}), 31) | element_at(sig, {2 * i + 2})"
        for i in range(k // 2)
    )
    return F.expr(f"array({pack_sql})")


def _sig_agreement_packed_sql(a: str, b: str) -> str:
    """SQL-string twin of `_sig_agreement_packed` for callers that
    assemble a whole generated expression in one F.expr (the bucket-
    grouped pair generator) — keep the two formulas in sync."""
    lo = _SIG_LO_MASK
    return (
        f"aggregate(zip_with({a}, {b}, (u, v) -> "
        f"(case when shiftright(u, 31) = shiftright(v, 31) then 1 else 0 end) + "
        f"(case when (u & {lo}) = (v & {lo}) then 1 else 0 end)), "
        f"0, (acc, x) -> acc + x)"
    )


def _sig_agreement_packed(a="sig_a", b="sig_b") -> F.Column:
    """Position-agreement count over two PACKED signatures — exactly
    `_sig_agreement` on the unpacked arrays (hi and lo halves compared
    independently), at half the elements per row. ``a``/``b`` may be
    column names or Column expressions (the bucket-grouped pair
    generator passes lambda-bound struct fields)."""
    lo = F.lit(_SIG_LO_MASK)
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda u, v: F.when(F.shiftright(u, 31) == F.shiftright(v, 31), 1)
            .otherwise(0)
            + F.when(u.bitwiseAND(lo) == v.bitwiseAND(lo), 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


@query("dedup_minhash_lsh", headline=True)  # approximate → rows-only check
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, exact-verified.

    Pipeline (all DataFrame ops, no UDF):
      1. shingle → 32-bit hash (F.hash) per (doc, gram)
      2. k=80 minhash values via one groupBy(doc): min((a_i·h+b_i) mod p)
         computed as an array expression — one shuffle over shingles
      3. split signature into 16 bands of 5 (the measured r9 default —
         see the _MH_K note); explode → (band_idx, band_hash) buckets;
         docs sharing a bucket are candidates
      4. exact Jaccard verification on candidates only (via signature
         agreement estimate AND true shingle intersection)

    Cost at 100 TB: shingling is map-only; signatures are one partial
    agg; the band grouping only shuffles (doc, band) rows — never doc².
    Output: (doc_a, doc_b, est_jaccard, jaccard) for true pairs ≥ 0.6.
    """
    return minhash_verified_pairs(char_shingles(spark, sf_dir))


# Signature relations that already passed _check_sig_encoding — keyed
# by DataFrame object identity (weak, so unpersisted relations don't
# leak): the streaming job probes the SAME standing corpus/tier sig
# objects every micro-batch and must pay the check once, not per batch.
_validated_sigs: weakref.WeakSet = weakref.WeakSet()


def _check_sig_encoding(sig: DataFrame, sh: DataFrame, arg: str) -> None:
    """Loud-failure guard for PRECOMPUTED signature relations (advisor
    r7): a sig built under a different gram encoding than the current
    xxhash64-gid one (e.g. pre-r7 string-gram signatures a production
    loop persisted) produces band hashes that collide with nothing, so
    the probe would silently return ZERO pairs. Recompute ONE sampled
    doc's signature from the (already gid-encoded) shingle side and
    compare — the fixed permutations make signatures a pure function
    of the gram encoding, so a single doc witnesses the whole
    relation. Mismatch (or a sig doc absent from the shingle side —
    the two relations out of sync, also silent-zero territory) raises
    ValueError. An empty sig relation is trivially consistent. Cost:
    two metadata-sized jobs, once per relation object lifetime."""
    if sig in _validated_sigs:
        return
    has_n = "n" in sig.columns
    cols = ["doc_id", "sig"] + (["n"] if has_n else [])
    row = sig.select(*cols).limit(1).collect()
    if not row:
        _validated_sigs.add(sig)
        return
    doc_id, expect = row[0]["doc_id"], list(row[0]["sig"])
    expect_n = row[0]["n"] if has_n else None
    if len(expect) != _MH_K:
        # fixed permutations are prefix-consistent, so a stale shorter
        # sig would PASS a prefix compare and then band wrongly (the
        # band explode slices _MH_K/_MH_BANDS rows per band) — length
        # mismatch must fail as loudly as encoding mismatch
        raise ValueError(
            f"{arg}: precomputed signature length {len(expect)} != the "
            f"engine's current k={_MH_K} — re-materialize with "
            "minhash_signatures() under the current banding scheme"
        )
    got = (
        minhash_signatures(
            sh.filter(F.col("doc_id") == F.lit(doc_id)), k=len(expect)
        )
        .select("sig", "n")
        .collect()
    )
    if not got:
        raise ValueError(
            f"{arg}: sampled doc_id={doc_id} has a precomputed signature but no "
            "shingles on the matching side — the sig and shingle relations are "
            "out of sync (the probe would silently miss its pairs)"
        )
    if list(got[0]["sig"]) != expect:
        raise ValueError(
            f"{arg}: precomputed signature for doc_id={doc_id} does not match a "
            "recompute from the shingle side — the sig was built under a "
            "DIFFERENT gram encoding (e.g. pre-gid string-gram signatures). "
            "Mixed encodings make every band hash diverge and the probe "
            "silently returns zero pairs; re-materialize the signatures with "
            "the current minhash_signatures()."
        )
    # Validate the carried shingle count too (advisor r10): since r10
    # the sizes relation is GONE — ``n`` riding the sig IS the
    # exact-Jaccard denominator, so a stale/wrong n would silently skew
    # every verified jaccard rather than fail loudly like an encoding
    # mismatch does.
    if has_n and expect_n is not None and got[0]["n"] != expect_n:
        raise ValueError(
            f"{arg}: precomputed signature for doc_id={doc_id} carries "
            f"n={expect_n} but the shingle side has {got[0]['n']} distinct "
            "grams — n is the exact-Jaccard denominator, so a stale count "
            "silently skews every verified pair; re-materialize with "
            "minhash_signatures()."
        )
    _validated_sigs.add(sig)


def _as_gids(sh: DataFrame) -> DataFrame:
    """Idempotent gram→gid boundary: hash a string `g` column to the
    canonical xxhash64 gid encoding; pass gid (long) relations through
    untouched. Lets every MinHash entry point accept either raw string
    grams or `shingles_of` output without double-hashing."""
    from pyspark.sql import types as T

    if isinstance(sh.schema["g"].dataType, T.StringType):
        return sh.select("doc_id", F.xxhash64("g").alias("g"))
    return sh


def minhash_verified_pairs(
    raw_shingles: DataFrame,
    bands: int = _MH_BANDS,
    rows: int = _MH_K // _MH_BANDS,
    cap: int = LSH_BUCKET_CAP,
    sig: DataFrame | None = None,
) -> DataFrame:
    """The banded-MinHash mine-and-verify core over a (doc_id, g)
    shingle relation — shared by the corpus-wide miner
    (`dedup_minhash_lsh`) and the production corpus-prep funnel
    (`llm_corpus_prepare_lsh`, which runs it on the quality-gate
    survivors). Returns (doc_a < doc_b, est_jaccard, jaccard ≥ 0.6).

    ``(bands, rows)`` select the LSH sharpness: one band collides at
    J^rows, so rows is the background-suppression exponent and bands
    the recall budget at the threshold (P(any band) =
    1 − (1 − J^rows)^bands). The signature length is bands·rows
    (prefix of the fixed permutation set, so different schemes remain
    comparable on shared prefixes). ``cap`` is the hot-bucket
    population ceiling (see LSH_BUCKET_CAP) — parameterized so the
    sharpness probe can price cap rungs the same way it prices
    banding schemes (judge r9 task 1).

    PRECONDITION: `raw_shingles` must be (doc_id, g)-DISTINCT. The
    exact-Jaccard verification takes set sizes n from the signature
    aggregation and the intersection count from a (doc, g) equi-join;
    duplicate grams would silently inflate both counts (and hence
    jaccard). Both callers satisfy this by construction —
    `char_shingles` emits distinct grams per doc, and the funnel
    explodes `array_distinct` — a new caller must too (minhash itself
    is multiset-insensitive, so a defensive .distinct() here would be
    a pure extra corpus shuffle for every compliant caller).

    Candidate generation is bucket-grouped (`pairs.bucket_pairs`; see
    the pairs module for when grouping beats the band self-join it
    replaced): the capped band relation is aggregated per
    (band_idx, band_hash) into a member array and the i<j pairs with
    their signature-agreement estimate are emitted and est-filtered
    inside that one stage. Memory is bounded by the cap: members ≤
    cap × (packed sig + 2 longs) ≈ 43 KB per bucket. The per-doc
    shingle-set size ``n`` rides the band rows too, which deletes the
    two corpus-sized size-attach SMJs (and the sizes cache + its
    repartition) that previously sat above the verification join —
    na/nb are carried with each candidate instead."""
    # One shingle pass, persisted: the (doc, gram) relation feeds the
    # signature agg AND three verification consumers (sizes + both
    # sides of the intersection join); without the persist each
    # consumer re-shingles the full corpus (4 scans of the most
    # expensive map stage). MEMORY_AND_DISK default spills at scale.
    # Grams arrive as 64-bit gids (`shingles_of` hashes at the source;
    # a caller with raw string grams gets the same encoding applied
    # here) — the shingle relation is the miner's largest object (61M
    # rows at the 250k twin, ~60× the corpus text) and gids halve its
    # row bytes while the verification joins sort/compare longs.
    # sortWithinPartitions: the relation arrives hash-partitioned on
    # doc_id (both callers spread on it), so sorting it IN the cache
    # lets the verification SMJs below reuse the layout and skip both
    # the exchange and the sort on the corpus side — the streaming
    # path's probe_layout trick applied to the batch miner. The sort
    # key is (doc_id, g), not doc_id alone: the doc_a attach needs
    # only the [doc_a] prefix, while the intersection join is keyed
    # [doc_b, g] — hash-on-doc_id satisfies its clustered distribution
    # (subset of the keys) and the two-column sort matches its
    # required ordering exactly, so BOTH corpus-side attaches are
    # exchange- and sort-free (judge r7 task 6; measured at the x50
    # twin in SCALE.md §14).
    k = bands * rows
    shingles = (
        _as_gids(raw_shingles).sortWithinPartitions("doc_id", "g").persist()
    )
    # No sig persist (r10): after the bucket-grouped restructure the
    # signature relation has exactly ONE consumer (the band explode —
    # sigp and n both ride the band rows), so a cache would only add
    # build bookkeeping; its lineage re-reads the shingle CACHE, not
    # the corpus. ``sig``: a caller that already holds this relation's
    # signatures (the incremental-clusters backfill persists them for
    # its probe steps) passes them in and skips the re-aggregation —
    # sample-verified against the shingle side like every precomputed
    # sig (advisor r7), since a mismatched encoding/length would band
    # into silence.
    if sig is not None:
        _check_sig_encoding(sig, shingles, "sig")
    else:
        sig = minhash_signatures(shingles, k)
    # bands → buckets, with the PACKED signature and the doc's
    # distinct-shingle count n riding each band row. band_hash = md5
    # of the rows-joined values. Hot buckets dropped first: pair
    # generation is Σ n_b² per bucket, so the cap both bounds the
    # quadratic term (see LSH_BUCKET_CAP) and bounds the member-array
    # memory of the grouped aggregation below.
    #
    # Why the signature rides the band explode (r8): bands derive FROM
    # the signature relation, so carrying the 32-long packed sig costs
    # NO extra join — the est_jaccard estimate and its ≥ 0.45 filter
    # run inside the pair-generation stage, before any exchange: the
    # band-collision background (99.9%+ of candidates at the twins)
    # dies in place, and only the survivors reach dedup +
    # verification. Carrying n (r10) likewise deletes the two
    # corpus-sized size-attach SMJs that previously followed
    # verification. The traded cost is payload width on the one band
    # shuffle — linear in docs, spillable.
    band_rel = drop_hot_buckets(
        signature_bands(
            sig.withColumn("sigp", _packed_sig(k)),
            carry=("sigp", "n"),
            bands=bands,
            rows=rows,
        ),
        cap=cap,
    )
    # Group the capped buckets — the window's exchange on
    # (band_idx, band_hash) IS this aggregation's clustering, so no
    # new shuffle — and emit each bucket's i<j pairs with the
    # signature-agreement estimate computed and filtered in-array.
    # sort_array orders members by doc_id (first struct field, unique
    # per bucket), so doc_a < doc_b. CAST(repr(thr) AS DOUBLE) parses
    # to the bit-identical IEEE754 value of the F.lit(thr) literal.
    thr = _est_threshold(k)
    grouped = band_rel.groupBy("band_idx", "band_hash").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "sigp", "n"))).alias("ms")
    )
    agree = _sig_agreement_packed_sql("a.sigp", "b.sigp")
    cand = bucket_pairs(
        grouped,
        "ms",
        {
            "doc_a": "a.doc_id",
            "doc_b": "b.doc_id",
            "est_jaccard": f"round(cast({agree} as double) / {k}, 4)",
            "na": "a.n",
            "nb": "b.n",
        },
        keep=f"p.est_jaccard >= cast('{thr!r}' as double)",
    )
    # the est pre-filter sits ~2.5σ below the J = 0.6 output threshold
    # (σ = √(0.6·0.4/k), see _est_threshold), so true pairs survive
    # w.h.p. while the band-collision background never leaves the
    # bucket's own stage. Dedup across buckets AFTER the filter is the
    # same set as before (est/na/nb are pure functions of the pair, so
    # every duplicate emission is value-identical). The explicit
    # repartition on doc_a positions ONE exchange that serves both the
    # dedup (hash on a subset of the dedup keys co-locates every
    # (doc_a, doc_b) group) and the doc_a verification join below
    # (exact partition-key match) — distinct + a second join exchange
    # would cost two.
    sig_est = cand.repartition("doc_a").dropDuplicates(["doc_a", "doc_b"])

    sh_a = shingles
    # intersection count as an equi-join on BOTH (doc, gram) keys —
    # joining on doc alone and post-filtering grams would fan out to
    # |A|×|B| rows per candidate pair before filtering. merge (SMJ)
    # hints: the shingle relation is the CORPUS (~60× its text bytes);
    # Catalyst's post-cache estimate undershoots and broadcast-OOMs
    # past ~100k docs, no corpus relation broadcasts at 100 TB, and
    # only SMJ's spillable sort survives building against it.
    pair_grams = (
        sig_est.join(
            sh_a.select(F.col("doc_id").alias("doc_a"), "g").hint("merge"),
            "doc_a",
        )
        .join(
            sh_a.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g"))
            .hint("merge"),
            ["doc_b", "g"],
        )
        .groupBy("doc_a", "doc_b", "est_jaccard", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        pair_grams.filter(jac >= 0.6)
        .select("doc_a", "doc_b", "est_jaccard", F.round(jac, 4).alias("jaccard"))
    )


# ----------------------------------------------------------- simhash ----

_SIMHASH_BITS = 60  # 4 bands x 15 bits; fits a signed long (no 1<<63)
_SIMHASH_BAND_BITS = _SIMHASH_BITS // 4


@query("dedup_simhash")  # approximate → rows-only check
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 60-bit fingerprint voted from word
    BIGRAM hashes; pairs within hamming distance ≤ 3 found via the
    pigeonhole band buckets (4 bands × 15 bits → a pair within distance 3
    has its ≤3 differing bits spread over ≤3 bands, so at least one of
    the 4 bands matches exactly). Output (doc_a, doc_b, hamming).

    Feature choice is the scale lesson here (round 6): the original
    unigram form DEGENERATES on a shared-vocabulary corpus — same
    word-frequency profile ⇒ same vote signs ⇒ near-identical
    fingerprints for unrelated docs. At 5k fixture docs it emitted
    298 338 hamming ≤ 3 "pairs" (background, not near-dups), and at
    the 250k twin the band self-join went quadratic (exponent 2.33,
    385.7 s): fingerprint saturation and bucket blowup are the SAME
    failure. Bigram features de-correlate the votes (word salad
    shares words, not word ORDER), collapsing the fixture output to
    the actual mutated-copy pairs and the twin run to seconds. Also
    upgraded: xxhash64 (F.hash is 32-bit — bits 32+ of the old 48-bit
    mask were sign-extension, not entropy) and a 64-member hot-bucket
    cap as backstop (the drop_hot_buckets rule; with bigram features
    it only binds on a degenerate corpus — exact-dup mega-clusters
    that dedup_exact_text already owns).

    Scale: fingerprints are one narrow agg; pairs form only inside
    capped (band_idx, band_val) buckets — bounded fanout, no doc²
    shuffle.
    """
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    ws = F.split(F.col("text"), " ")
    bg = (
        d.select("doc_id", ws.alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(sliding_structs("w", 2)).alias("b"))
        .select("doc_id", F.concat_ws(" ", "b.w0", "b.w1").alias("gram"))
    )
    h = F.xxhash64("gram").bitwiseAND(F.lit((1 << _SIMHASH_BITS) - 1))
    w = bg.withColumn("h", h)
    # per-bit signed vote: +1 if bit set else -1, summed per doc
    votes = [
        F.sum(
            (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{i}")
        for i in range(_SIMHASH_BITS)
    ]
    fp_bits = None
    agg = w.groupBy("doc_id").agg(*votes)
    for i in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        fp_bits = bit if fp_bits is None else fp_bits + bit
    fp = agg.select("doc_id", fp_bits.alias("simhash"))
    # pigeonhole bands: a pair within hamming distance 3 must agree
    # exactly on at least one of the 4 bands
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(
                        F.col("simhash"), _SIMHASH_BAND_BITS * i
                    ).bitwiseAND(F.lit((1 << _SIMHASH_BAND_BITS) - 1))
                    for i in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    # hot-bucket backstop (see docstring); the grouping below reuses
    # the window's (band_idx, band_val) exchange, and the hamming cut
    # runs in-array. hamming is a pure function of the pair, so the
    # distinct across bands keeps one row per pair.
    bands = drop_hot_buckets(bands, cap=64, keys=("band_idx", "band_val"))
    grouped = bands.groupBy("band_idx", "band_val").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ms")
    )
    return bucket_pairs(
        grouped,
        "ms",
        {
            "doc_a": "a.doc_id",
            "doc_b": "b.doc_id",
            "hamming": "bit_count(a.simhash ^ b.simhash)",
        },
        keep="p.hamming <= 3",
    ).distinct()


# ------------------------------------------------ embedding near-dup ----


# Single source of truth for the semantic near-dup cosine threshold:
# the numpy candidate mask, the exact-verify filter, and the oracle all
# derive from this one constant (editing one literal without the others
# would silently drop true pairs below the candidate cut).
_COS_T = 0.4

@query(
    "dedup_embedding_cosine",
    scale_twin="sim_topk_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))) >= {_COS_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs: cosine ≥ 0.4 over embeddings (fixture
    max ≈ 0.51, so this yields a handful of pairs).

    Brute-force O(n²) pair generation is correct at this candidate
    scale; the 100 TB path replaces pair generation with
    sim_topk_lsh's bucketing and keeps this exact cosine as the
    verification stage. The dot product is UNROLLED into a flat
    element_at sum over the (fixed, schema-probed) dimensionality:
    Spark's higher-order aggregate/zip_with fold is interpreted
    per-element — measured 26 s for the 2 M-pair sf0.1 join — while
    the unrolled sum runs inside WholeStageCodegen at ~10× less.
    Left-to-right addition from an exact 0.0+t1 first step keeps the
    doubles bit-identical to the sequential fold (and to the
    oracle's list_dot_product). The two self-norms are folded ONCE
    per row before the pair join, so each of the n² pairs pays one
    64-term sum, not three.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dim_row = e.select(F.size("v").alias("d")).first()
    dim = dim_row["d"] if dim_row else 0

    def dot(x: str, y: str):
        if dim <= 0:
            return F.aggregate(
                F.zip_with(x, y, lambda u, v: u * v), F.lit(0.0), lambda acc, z: acc + z
            )
        terms = [F.element_at(x, i) * F.element_at(y, i) for i in range(1, dim + 1)]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc

    e = e.withColumn("nrm", F.sqrt(dot("v", "v"))).persist()

    # Candidate generation: blocked all-pairs numpy matmul (the
    # dedup_ngram_jaccard pattern) with the threshold relaxed by a
    # 1e-6 margin — BLAS does the n²·d FLOPs in milliseconds, and the
    # margin is ~10⁹× the worst-case pairwise-vs-sequential float64
    # summation divergence, so no true pair can be lost. The exact
    # fold then re-scores ONLY the surviving candidates, so the
    # emitted cosine is bit-identical to the oracle's sequential
    # list_dot_product. (Pure-Spark alternatives measured at sf0.1:
    # theta-join BNLJ = no codegen, 17 s; block equi-join with a
    # 64-term unrolled codegen dot = 11 s of element_at overhead;
    # this = ~2 s.)
    tagged = block_pairs(e, "vec_id")

    def block_candidates(pdf):
        import numpy as np
        import pandas as pd

        a_rows, b_rows, same_block = block_sides(pdf)
        if a_rows.empty or b_rows.empty:
            return pd.DataFrame({c: pd.Series(dtype="int64") for c in ["vec_a", "vec_b"]})
        ma = np.stack(list(a_rows["v"])).astype(np.float64)
        mb = np.stack(list(b_rows["v"])).astype(np.float64)
        cos = (ma @ mb.T) / np.outer(a_rows["nrm"].to_numpy(), b_rows["nrm"].to_numpy())
        ids_a = a_rows["vec_id"].to_numpy()
        ids_b = b_rows["vec_id"].to_numpy()
        mask = cos >= _COS_T - 1e-6
        if same_block:
            mask &= ids_a[:, None] < ids_b[None, :]
        else:
            mask &= ids_a[:, None] != ids_b[None, :]
        ia, ib = np.nonzero(mask)
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ids_a[ia], ids_b[ib]),
                "vec_b": np.maximum(ids_a[ia], ids_b[ib]),
            }
        )

    cand = (
        tagged.groupBy("bi", "bj")
        .applyInPandas(block_candidates, "vec_a long, vec_b long")
        .dropDuplicates(["vec_a", "vec_b"])
    )

    # exact verification: sequential-fold cosine on candidates only
    pairs = cand.join(
        F.broadcast(e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                             F.col("nrm").alias("na"))), "vec_a"
    ).join(
        F.broadcast(e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                             F.col("nrm").alias("nb"))), "vec_b"
    )
    cos = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= _COS_T)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
    )


# ------------------------------------------- duplicate clustering (CC) ----


# Shared by dedup_clusters and graph.graph_cc_pointer_jumping — two
# different distributed CC algorithms over the SAME near-dup pair
# graph, checked against the same recursive-CTE fixpoint.
CLUSTERS_ORACLE = f"""
    WITH RECURSIVE
    idx AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(LENGTH(text) - {SHINGLE_LEN - 1}, 1))) AS i
      FROM documents),
    sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS g FROM idx),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    near AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM near
      UNION ALL SELECT doc_b, doc_a FROM near),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node)
    SELECT component, COUNT(*) AS cluster_size
    FROM comp GROUP BY component
    """


def _symmetrized_edges(pairs: DataFrame) -> DataFrame:
    """Symmetrized (src, dst) edge list from a (doc_a, doc_b) pair
    relation. Symmetrize in ONE pass over the pair-mining result: a
    unionByName of two selects would splice the (expensive) mining DAG
    into the plan twice and run it twice — explode(array(fwd, rev))
    reads it once. The checkpoint then pins the edge list for the
    iterative consumers (label propagation / pointer jumping)."""
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=True)
    )


def dup_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized near-dup edge list from the EXACT pair mining."""
    return _symmetrized_edges(dedup_ngram_jaccard(spark, sf_dir))


@query(
    "dedup_clusters",
    headline=True,
    scale_twin="dedup_clusters_lsh",
    oracle=CLUSTERS_ORACLE,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the near-dup
    pair graph (Jaccard >= 0.6 from dedup_ngram_jaccard; the same
    operator consumes MinHash candidate pairs at scale — that form is
    `dedup_clusters_lsh`, the production twin; THIS form keeps the
    exact blocked all-pairs miner upstream, which is the quadratic
    part), labeling every
    doc with the minimum doc_id of its component — the canonical-keeper
    assignment that turns pairwise dedup output into per-cluster
    keep/drop decisions.

    Iterative label propagation, the scalable CC algorithm for Spark:
    each round joins current labels across edges and keeps the min —
    O(E) shuffle per round, rounds = graph diameter (dup clusters are
    near-cliques, so 2-3 rounds). ONE job per round: the changed-label
    count rides the checkpoint materialization as an observe() metric
    (comparing against the previous labels via a V-row join inside the
    same pass), so the driver never launches a separate convergence
    job and only ever sees a scalar; labels localCheckpoint each round
    to cut the growing lineage (and to stop re-running the upstream
    pair mining per round). Oracle: the same fixpoint via DuckDB\'s
    recursive CTE over the identical pair set.
    """
    return label_propagation_components(dup_graph_edges(spark, sf_dir)).groupBy(
        F.col("label").alias("component")
    ).agg(F.count("*").alias("cluster_size"))


@query("dedup_clusters_lsh", headline=True, oracle=CLUSTERS_ORACLE)
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering at scale: the SAME min-label-propagation
    CC as `dedup_clusters`, but over the banded-MinHash pair miner
    (`dedup_minhash_lsh`) instead of the exact blocked all-pairs
    intersection — the composition a 100 TB dedup pipeline actually
    runs (candidate pairs from LSH buckets, exact-verified, then
    clustered for keep/drop). Upstream cost is the banded miner's
    O(docs × bands + collisions), never doc²; the CC rounds are O(E)
    each with E = the verified near-dup pairs, a vanishing fraction
    of the corpus.

    Carries the same recursive-CTE oracle as the exact form: banding
    recall for Jaccard ≥ 0.6 is 1.0 on the fixtures (empirically —
    the pair sets are identical at sf0.01 and sf0.1, 16 bands × 4
    rows catches J ≳ 0.5 w.h.p.), so the cluster sizes agree exactly;
    at adversarial thresholds the twin relationship (exact form =
    `dedup_clusters`) documents the recall trade."""
    return label_propagation_components(
        _symmetrized_edges(dedup_minhash_lsh(spark, sf_dir))
    ).groupBy(F.col("label").alias("component")).agg(
        F.count("*").alias("cluster_size")
    )


@query(
    "dedup_cluster_keep_best",
    oracle=CLUSTERS_ORACLE.replace(
        """    comp AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node)
    SELECT component, COUNT(*) AS cluster_size
    FROM comp GROUP BY component
    """,
        """    comp AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node),
    q AS (
      SELECT doc_id,
             ROUND(
               CASE WHEN LENGTH(text) BETWEEN 100 AND 400 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END
             * CASE WHEN LENGTH(string_split(text, ' ')) >= 20 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.6 AS DOUBLE) END
             * CASE WHEN CAST(LENGTH(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
                         / LENGTH(text) < 0.1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.7 AS DOUBLE) END, 4) AS quality
      FROM documents),
    ranked AS (
      SELECT comp.component, comp.doc_id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY comp.component
                                ORDER BY q.quality DESC, comp.doc_id) AS pick,
             COUNT(*) OVER (PARTITION BY comp.component) AS cluster_size
      FROM comp JOIN q USING (doc_id))
    SELECT component, doc_id AS keeper_id, quality AS keeper_quality,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(cluster_size - 1 AS BIGINT) AS dropped
    FROM ranked WHERE pick = 1
    """,
    ),
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster-representative selection — the policy
    layer a production corpus-prep pipeline runs AFTER fuzzy
    clustering: within each near-dup cluster (CC over the banded
    miner's verified pairs, same machinery as `dedup_clusters_lsh`),
    keep the HIGHEST-QUALITY member (the `text_quality_score`
    heuristic; ties → min doc_id) instead of `llm_corpus_prepare`'s
    keep-first or `dedup_clusters`' min-id convention. One row per
    cluster: the keeper, its quality, and how many near-dups it
    displaces — exactly the drop manifest a curation run audits.

    Scale: clustering is the banded miner + contracted CC (both
    measured sub-linear at the twins); the quality score is one
    map-only pass over the corpus; the keeper pick is a window over
    the CLUSTERED docs only (a vanishing fraction of the corpus) with
    the size count riding the same partitioning. Oracle: the
    recursive-CTE CC composed with the identical quality formula and
    argmax."""
    labels = label_propagation_components(
        _symmetrized_edges(dedup_minhash_lsh(spark, sf_dir))
    )
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_words = F.size(F.split(F.col("text"), " "))
    punct_ratio = F.regexp_count("text", F.lit("[^A-Za-z0-9 ]")) / n_chars
    quality = F.round(
        F.when((n_chars >= 100) & (n_chars <= 400), 1.0).otherwise(0.5)
        * F.when(n_words >= 20, 1.0).otherwise(0.6)
        * F.when(punct_ratio < 0.1, 1.0).otherwise(0.7),
        4,
    )
    scored = labels.select(F.col("node").alias("doc_id"), "label").join(
        d.select("doc_id", quality.alias("quality")), "doc_id"
    )
    w = W.partitionBy("label").orderBy(F.col("quality").desc(), "doc_id")
    return (
        scored.withColumn("pick", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(W.partitionBy("label")))
        .filter(F.col("pick") == 1)
        .select(
            F.col("label").alias("component"),
            F.col("doc_id").alias("keeper_id"),
            F.col("quality").alias("keeper_quality"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("cluster_size") - 1).cast("long").alias("dropped"),
        )
    )


@query("dedup_incremental_clusters", oracle=CLUSTERS_ORACLE)
def dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected-component maintenance: a new crawl batch
    lands against an already-clustered corpus, and the standing
    cluster labels are UPDATED without re-running CC over the corpus's
    own edges — the missing piece between `dedup_incremental_minhash`
    (which finds the new pairs) and `dedup_clusters_lsh` (which
    recomputes everything). Fixture split matches the incremental
    miner: doc_id % 10 == 0 is the incoming batch.

    The incremental step works on the LABEL graph, not the document
    graph: each new edge (batch doc ⨝ corpus doc, or batch-internal)
    is mapped to the pair of component labels it connects (standing
    label for clustered corpus docs, own id otherwise), and min-label
    CC runs over those label pairs only — a graph whose nodes are
    merged-cluster representatives, O(new edges), independent of
    corpus size. The resulting remap rewrites only the affected
    labels; untouched components never enter a join bigger than the
    remap itself. Min-label is closed under this composition: a
    standing label is the min doc_id of its component, so the min
    over merged labels is the min over all member docs — incremental
    output is EXACTLY the full recompute (the oracle runs the full
    recursive-CTE CC over all pairs).

    At 100 TB the remap is the per-batch delta a production pipeline
    appends to a label-remap chain and folds into the standing label
    table on its compaction cadence (same LSM discipline as the
    streaming admissions store); the standing-state build below is
    the one-time backfill, not the per-batch cost."""
    shingles = char_shingles(spark, sf_dir).persist()
    sig_all = minhash_signatures(shingles).persist()
    is_batch = F.col("doc_id") % 10 == 0
    corpus_sh, inc_sh = shingles.filter(~is_batch), shingles.filter(is_batch)
    corpus_sig, inc_sig = sig_all.filter(~is_batch), sig_all.filter(is_batch)

    # STANDING state (in production a maintained table, built once):
    # corpus-internal near-dup pairs and their min-label components.
    # The backfill rides the bucket-grouped miner core (r10) with the
    # already-persisted corpus signatures passed in — the former
    # corpus×corpus cross_minhash_pairs call was the band SELF-join
    # shape whose two sides AQE computes twice (see
    # minhash_verified_pairs), plus a batch_id < corpus_id post-filter
    # the grouped form emits directly as doc_a < doc_b.
    corpus_pairs = minhash_verified_pairs(corpus_sh, sig=corpus_sig)
    standing = label_propagation_components(
        _symmetrized_edges(corpus_pairs)
    )

    # INCREMENTAL step — everything below is O(batch × bands +
    # collisions + affected labels), never corpus × corpus.
    inc_vs_corpus = cross_minhash_pairs(
        inc_sh,
        corpus_sh,
        corpus_sig=corpus_sig,
        batch_sig=inc_sig,
        prune_corpus_to_batch=True,
    )
    inc_internal = cross_minhash_pairs(
        inc_sh, inc_sh, corpus_sig=inc_sig, batch_sig=inc_sig
    ).filter(F.col("batch_id") < F.col("corpus_id"))
    # checkpoint: the edge list feeds three consumers (two label
    # lookups + the node set); without pinning, the banded mining DAG
    # would splice into the plan three times
    new_edges = (
        inc_vs_corpus.unionByName(inc_internal)
        .select(F.col("batch_id").alias("a"), F.col("corpus_id").alias("b"))
        .localCheckpoint(eager=True)
    )

    return incremental_label_update(new_edges, standing)


def incremental_label_update(new_edges: DataFrame, standing: DataFrame) -> DataFrame:
    """The per-batch label-graph remap of `dedup_incremental_clusters`,
    factored out so tools/incremental_steady_probe.py can time it (and
    the edge mining) against a PREBUILT standing state across corpus
    sizes — isolating the steady-state per-batch cost the docstring
    claims is O(new edges) from the one-time backfill that dominates
    the twin-ladder wall. ``new_edges`` is an (a, b) relation of newly
    mined near-dup edges (already checkpointed by callers that fan it
    out); ``standing`` is the (node, label) component table. Returns
    the merged (component, cluster_size) view."""
    # map each new edge to the component labels it connects; a node
    # outside the standing labels (unclustered corpus doc or batch
    # doc) is its own label
    label_pairs = (
        new_edges.join(
            standing.select(F.col("node").alias("a"), F.col("label").alias("la")),
            "a",
            "left",
        )
        .join(
            standing.select(F.col("node").alias("b"), F.col("label").alias("lb")),
            "b",
            "left",
        )
        .select(
            F.coalesce("la", F.col("a")).alias("doc_a"),
            F.coalesce("lb", F.col("b")).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    remap = label_propagation_components(_symmetrized_edges(label_pairs))

    # node universe = every edge endpoint (the oracle's CC counts
    # exactly the docs with at least one near-dup edge)
    new_nodes = (
        new_edges.select(F.col("a").alias("node"))
        .unionByName(new_edges.select(F.col("b").alias("node")))
        .distinct()
        .join(standing.select("node"), "node", "left_anti")
        .withColumn("label", F.col("node"))
    )
    final = (
        standing.unionByName(new_nodes)
        # remap is checkpointed with real stats and affected-labels
        # sized — AQE broadcasts it on its own evidence
        .join(
            remap.select(F.col("node").alias("label"), F.col("label").alias("merged")),
            "label",
            "left",
        )
        .select(F.coalesce("merged", F.col("label")).alias("component"))
    )
    return final.groupBy("component").agg(F.count("*").alias("cluster_size"))


def label_propagation_components(e: DataFrame) -> DataFrame:
    """Min-label CC core (see dedup_clusters): returns a (node, label)
    DataFrame. Factored out so the empty-edge-set path (no near-dup
    pairs → empty labels, converges immediately) is directly testable.

    CONTRACTED propagation: exactly ONE round runs over the full
    symmetrized edge list — l1(v) = min(v ∪ N(v)), a single
    groupBy(dst) because the identity seed makes the generic
    edge⨝labels round collapse to an aggregation — then the graph is
    CONTRACTED through l1 (edges rewritten (l1(u), l1(v)), self-loops
    dropped, deduped) and the iterative fixpoint loop runs on the
    LABEL graph only. Near-dup components are near-cliques, so
    contraction collapses almost every edge on round 1: the loop that
    used to re-join the full O(E) relation each round now iterates
    over the inter-partial-component links only (the
    `dedup_incremental_clusters` label-graph remap, promoted into the
    core). Correctness: each original edge either merged under l1 or
    survives as a label-graph edge, so label-graph components
    correspond 1:1 to original components; the component minimum m
    always survives contraction (m is the min of its own closed
    neighborhood, so l1(m) = m), hence min-label CC over the label
    graph yields exactly the component min, remapped to every node by
    one final join.

    Convergence detection is join-free: labels are NON-INCREASING
    under min-propagation, so Σ(label) strictly decreases on any round
    where at least one node changed and is unchanged exactly at the
    fixpoint. The sum rides the checkpoint materialization as an
    observe() metric, so there is exactly ONE job per round and the
    driver only ever sees a scalar. decimal(38,0): Σ over 64-bit ids
    would overflow a long at real corpus scale (ANSI mode makes that
    an error, not a wrap)."""
    from pyspark.sql import Observation

    # round 1 over the full edge relation: l1(v) = min(v ∪ N(v)).
    # e is symmetrized, so grouping on dst sees every neighbor of v.
    # persist, not an eager checkpoint (r10): l1's lineage is one
    # aggregation over the ALREADY-checkpointed edge list, so the
    # cache is rebuildable and lineage stays short without paying a
    # separate driver-sequential materialization job — the le
    # checkpoint below (l1's first consumer) builds it in passing.
    l1 = (
        e.groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("nmin"))
        .select("node", F.least("node", "nmin").alias("label"))
        .persist()
    )
    # contract: the label graph's edges are the partial-component
    # links round 1 could not merge. Symmetry of e makes this
    # relation symmetric too, so the loop below needs no re-mirror.
    # The edge count rides the checkpoint materialization as an
    # observe() metric (r10): when contraction merged EVERY component
    # on round 1 — the common case for near-clique dup graphs, and
    # true at every fixture scale — the label graph is empty, the
    # fixpoint loop would only spin twice over empty relations to
    # detect convergence, and the final remap join would coalesce
    # every null back to l1. Short-circuiting to l1 is exact (no
    # label-graph nodes ⇒ nothing to remap) and deletes those 2+
    # driver-sequential jobs; a non-empty label graph takes the
    # unchanged iterative path.
    obs_le = Observation()
    le = (
        e.join(l1.select(F.col("node").alias("src"), F.col("label").alias("ls")), "src")
        .join(l1.select(F.col("node").alias("dst"), F.col("label").alias("ld")), "dst")
        .filter(F.col("ls") != F.col("ld"))
        .select(F.col("ls").alias("src"), F.col("ld").alias("dst"))
        .distinct()
        .observe(obs_le, F.count(F.lit(1)).alias("n_edges"))
        .localCheckpoint(eager=True)
    )
    # PINNED ASSUMPTION (advisor r10): Observation.get blocks until the
    # observed plan node reports metrics, and the eager localCheckpoint
    # above IS the action that reports them — on Spark 4.1.x the
    # checkpoint executes the full plan including the observe node
    # (covered by test_label_propagation_shortcircuit_matches_iterative,
    # which would hang/timeout loudly if a Spark upgrade ever stopped
    # delivering metrics through checkpoint actions). The coupling-free
    # fallback if that ever breaks: derive emptiness from the
    # checkpointed relation itself (le.isEmpty() — a metadata-sized job)
    # at the cost of one extra driver round trip per call.
    if obs_le.get["n_edges"] == 0:
        return l1
    labels = le.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    prev_sum = None
    converged = False
    # Each round unions THREE label candidates per node before the min:
    # its current label, the one-hop edge propagation, and the POINTER
    # JUMP label(label(v)) — label values are themselves label-graph
    # node ids (every label is a min over node ids and e's symmetry
    # puts every node in `labels`), so composing the label relation
    # with itself halves every chain's remaining depth per round.
    # Hop alone converges in O(diameter) rounds (a 65-deep chain of
    # partial components — e.g. gradually mutated near-dup chains at
    # corpus scale — would exhaust the cap, advisor r7); hop + jump
    # converges in O(log diameter), so 64 rounds tolerates label-graph
    # diameters up to ~2^64 — genuinely unreachable. The cap exists
    # only so a buggy input fails LOUDLY below instead of looping
    # forever — never by returning wrong labels.
    for _ in range(64):
        obs = Observation()
        jump = (
            labels.join(
                labels.select(F.col("node").alias("label"), F.col("label").alias("jl")),
                "label",
                "left",  # defensive: an unmatched label keeps the node
            )
            .select("node", F.coalesce("jl", "label").alias("label"))
        )
        prop = (
            le.join(labels, le.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .unionByName(jump)
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .observe(
                obs,
                # coalesce: SUM over an EMPTY label set (contraction
                # merged everything on round 1) is NULL where an empty
                # label graph should just converge
                F.coalesce(
                    F.sum(F.col("label").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("label_sum"),
            )
            .localCheckpoint(eager=True)
        )
        labels = prop
        s = obs.get["label_sum"]
        if prev_sum is not None and s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        # Fail loudly: exhausting the cap means the label sum was still
        # decreasing, so the labels are NOT components yet — returning
        # them would emit silently wrong clusters.
        raise RuntimeError(
            "label_propagation_components did not reach a fixpoint within "
            "64 rounds — contracted label graph deeper than expected"
        )
    # remap every node through its partial label's final label; labels
    # not in the label graph were fully merged on round 1 already
    return (
        l1.join(
            labels.select(F.col("node").alias("label"), F.col("label").alias("flabel")),
            "label",
            "left",
        )
        .select("node", F.coalesce("flabel", "label").alias("label"))
    )


@query(
    "dedup_incremental_batch",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0)
    SELECT b.doc_id,
           (c.h IS NOT NULL) AS already_in_corpus
    FROM batch b LEFT JOIN corpus c ON b.h = c.h
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape every running ingestion pipeline
    needs: an arriving batch (docs with doc_id % 10 == 0 stand in for
    it) is checked against the existing corpus by content hash; rows
    already present are flagged for drop, everything else is admitted.

    Scale: the corpus side reduces to DISTINCT 128-bit hashes — at
    100 TB that hash set is ~2% of corpus bytes and partitions/joins
    on the hash, so the batch probe is one shuffle of the (small)
    batch against a pre-bucketed hash index; in production the corpus
    hash set is maintained as a bucketed table so re-ingestion never
    rescans the corpus (the join is exchange-free on the bucketed
    side, tests/test_bucketing.py shows the layout)."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    corpus = d.filter(F.col("doc_id") % 10 != 0).select(h.alias("h")).distinct()
    batch = d.filter(F.col("doc_id") % 10 == 0).select("doc_id", h.alias("h"))
    return (
        batch.join(corpus.withColumn("hit", F.lit(1)), "h", "left")
        .select("doc_id", F.col("hit").isNotNull().alias("already_in_corpus"))
    )


@query("dedup_incremental_minhash")  # approximate → rows-only check
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY dedup — the production shape when a new crawl
    batch lands against an already-deduped corpus: find every (batch
    doc, corpus doc) near-dup pair WITHOUT re-mining corpus × corpus.
    `dedup_incremental_batch` is this for exact duplicates (hash
    probe); this is the Jaccard ≥ 0.6 version via the same banded
    MinHash as `dedup_minhash_lsh`, restricted to the asymmetric
    batch ⨝ corpus bucket join. Fixture split: doc_id % 10 == 0 is
    the incoming batch, the rest the standing corpus.

    Scale (the point of the asymmetry): corpus signatures/bands are a
    pure function of corpus text under FIXED permutation parameters
    (module constants), so production stores them once and each
    increment computes only the batch's signatures — per-increment
    cost O(batch × bands + collisions), independent of corpus size
    except the bucket join's corpus-side shuffle, which bucketing on
    (band_idx, band_hash) amortizes across increments. Exact
    verification touches only candidates. Approximate (LSH recall) →
    rows-only in the driver gate; the local test pins it equal to the
    exact batch-vs-corpus pair set on the fixture, where banding
    recall is 1.0.

    Output: (batch_id, corpus_id, est_jaccard, jaccard) for true
    pairs ≥ 0.6."""
    shingles = char_shingles(spark, sf_dir).persist()
    # ONE signature aggregation over the whole table, split afterwards:
    # the batch/corpus sides otherwise each run their own groupBy over
    # the expanded shingles (plus two more size passes) — the sig
    # relation is docs × (64 longs + n), small enough to persist and
    # filter twice for free
    sig_all = minhash_signatures(shingles).persist()
    is_batch = F.col("doc_id") % 10 == 0
    return cross_minhash_pairs(
        shingles.filter(is_batch),
        shingles.filter(~is_batch),
        corpus_sig=sig_all.filter(~is_batch),
        batch_sig=sig_all.filter(is_batch),
        prune_corpus_to_batch=True,
    )


def cross_minhash_pairs(
    batch_sh: DataFrame,
    corpus_sh: DataFrame,
    corpus_sig: DataFrame | None = None,
    batch_sig: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    prune_corpus_to_batch: bool = False,
    cleanup: list[DataFrame] | None = None,
) -> DataFrame:
    """Asymmetric banded-MinHash near-dup probe between two (doc_id, g)
    shingle relations: bucket join batch bands against corpus bands,
    signature pre-filter, exact Jaccard verification on candidates.
    The shared core of `dedup_incremental_minhash` (batch split of one
    table) and the streaming fuzzy-dedup job (micro-batch against a
    standing corpus); fixed permutation constants make signatures
    comparable across calls/runs. ``corpus_sig``/``batch_sig`` accept
    PRECOMPUTED (doc_id, sig, n) relations — the production shape
    where corpus signatures are materialized once and only the
    batch's are hashed per probe (the fixed permutations make them
    comparable across runs); omitted, they are derived from the
    shingle relations here. The ``n`` column doubles as the exact
    Jaccard denominator, so no separate size pass over the expanded
    shingles runs on either side. ``corpus_bands`` likewise accepts a
    PRECOMPUTED band relation for the corpus side — the streaming job
    persists it hash-partitioned on the bucket key once (ALREADY
    hot-bucket-capped by `probe_layout`), so each micro-batch's bucket
    join reuses the cached partitioning instead of re-deriving and
    re-shuffling the corpus bands per batch; a corpus side derived
    here is capped here. Both sides are capped independently — the
    probe join's per-bucket cost is n_batch × n_corpus, so either
    side's hot bucket blows it up (see LSH_BUCKET_CAP).

    ``prune_corpus_to_batch`` (judge r8 task 2) turns on the small-
    batch probe shape: every corpus-sized relation is semi-filtered by
    a BROADCAST of the batch's keys before its merge join — band
    relation by the batch's (band_idx, band_hash) bucket keys (~16/doc),
    signature/shingle/size relations by the candidates' corpus doc ids
    — so the per-batch SMJs merge only the matched buckets/docs instead
    of streaming the whole standing cache through the merge, and
    everything downstream of each filter touches O(batch-matched) rows.
    The candidate relation is persisted so its two consumers (the
    doc-id key broadcast and the verification chain) compute it once.
    Turn this ON when the batch side is small relative
    to the corpus (streaming micro-batches, incremental maintenance
    steps); leave OFF for corpus×corpus backfills, where "batch keys"
    are corpus-sized and must never broadcast. Semi filters preserve
    the cached layout's partitioning and ordering, so the standing side
    stays exchange- and sort-free either way.

    ``cleanup``: when given, any relation this call PERSISTS (the
    pruned path's compute-once candidate relation) is appended so the
    caller can release it once the probe's outputs are materialized —
    the streaming job passes a per-micro-batch list (advisor r9: the
    previous lazy localCheckpoint here was reclaimed only by driver
    GC in a long-running job, and its lineage truncation made the
    probe non-recomputable on executor loss; persist + explicit
    unpersist restores both). Without ``cleanup`` the persist still
    resolves the plan diamond and stays recomputable/evictable — a
    one-shot query context may omit it.
    Returns (batch_id, corpus_id, est_jaccard, jaccard ≥ 0.6)."""
    # canonical gid encoding on both sides (no-op for shingles_of
    # output — see _as_gids); PRECOMPUTED sigs are sample-verified
    # against their shingle side so a sig persisted under a different
    # encoding fails loudly instead of silently matching nothing
    # (advisor r7) — memoized per relation, see _check_sig_encoding
    batch_sh = _as_gids(batch_sh)
    corpus_sh = _as_gids(corpus_sh)
    if batch_sig is not None:
        _check_sig_encoding(batch_sig, batch_sh, "batch_sig")
    if corpus_sig is not None:
        _check_sig_encoding(corpus_sig, corpus_sh, "corpus_sig")
    sig_b = batch_sig if batch_sig is not None else minhash_signatures(batch_sh)
    sig_c = corpus_sig if corpus_sig is not None else minhash_signatures(corpus_sh)
    bands_c = (
        corpus_bands
        if corpus_bands is not None
        else drop_hot_buckets(signature_bands(sig_c))
    )
    bands_b = drop_hot_buckets(signature_bands(sig_b))
    if prune_corpus_to_batch:
        # the batch's bucket keys are O(batch × bands) — broadcast
        # them and keep only the corpus band rows in matched buckets,
        # BEFORE the merge join streams the standing cache
        bands_c = bands_c.join(
            F.broadcast(bands_b.select("band_idx", "band_hash").distinct()),
            ["band_idx", "band_hash"],
            "left_semi",
        )
    cand = (
        bands_b
        .alias("x")
        # merge (SMJ): the corpus band relation is corpus-sized — see
        # dedup_minhash_lsh's bucket join note (misestimated broadcast
        # of a corpus relation OOMs the driver past ~100k docs)
        .hint("merge")
        .join(
            bands_c.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash")),
        )
        .select(
            F.col("x.doc_id").alias("batch_id"), F.col("y.doc_id").alias("corpus_id")
        )
        .distinct()
    )
    if prune_corpus_to_batch:
        # persist: the candidate relation feeds BOTH the corpus-doc-id
        # key broadcast below and the verification chain; without it
        # the diamond recomputes the bucket join per consumer. Lazy
        # persist (not an eager checkpoint) keeps the function free of
        # composition-time side effects; unlike localCheckpoint it
        # keeps lineage (recomputable on executor loss) and releases
        # deterministically via the caller's cleanup list (advisor r9).
        cand = cand.persist()
        if cleanup is not None:
            cleanup.append(cand)
        matched_ids = cand.select(F.col("corpus_id").alias("doc_id")).distinct()
        sig_c = sig_c.join(F.broadcast(matched_ids), "doc_id", "left_semi")
        corpus_sh = corpus_sh.join(F.broadcast(matched_ids), "doc_id", "left_semi")
    # na/nb RIDE the signature attach (r11 — the r10 miner's "n rides"
    # fix applied to the asymmetric probe): the sig relations already
    # carry the distinct-shingle count n, so selecting it here deletes
    # the two size-attach joins that previously sat ABOVE the
    # verification aggregate — one of them a corpus-sized sort-merge
    # join. The counts travel as groupBy keys exactly like est_jaccard
    # (pure functions of the doc, so the grouping is unchanged).
    sig_est = (
        cand.join(
            sig_b.select(
                F.col("doc_id").alias("batch_id"),
                F.col("sig").alias("sig_a"),
                F.col("n").alias("na"),
            ),
            "batch_id",
        )
        .join(
            sig_c.select(
                F.col("doc_id").alias("corpus_id"),
                F.col("sig").alias("sig_b"),
                F.col("n").alias("nb"),
            )
            .hint("merge"),  # corpus-sized sig relation — see miner note
            "corpus_id",
        )
        .withColumn("est_jaccard", F.round(_sig_agreement().cast("double") / _MH_K, 4))
        .drop("sig_a", "sig_b")
        # same 2.5σ signature pre-filter as the full miner: drop the
        # shared-vocabulary background before the exact (doc, gram) join
        .filter(F.col("est_jaccard") >= _est_threshold(_MH_K))
    )
    # corpus-side relations (shingles) ride merge (SMJ) joins: they are
    # O(corpus), must never broadcast, and only SMJ spills when
    # building against them — see the full miner's pair_grams note
    # (the batch side stays broadcastable when AQE's real stats say it
    # is small)
    pair_grams = (
        sig_est.join(batch_sh.select(F.col("doc_id").alias("batch_id"), "g"), "batch_id")
        .join(
            corpus_sh.select(F.col("doc_id").alias("corpus_id"), F.col("g").alias("g"))
            .hint("merge"),
            ["corpus_id", "g"],
        )
        .groupBy("batch_id", "corpus_id", "est_jaccard", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        pair_grams.filter(jac >= 0.6)
        .select("batch_id", "corpus_id", "est_jaccard", F.round(jac, 4).alias("jaccard"))
    )


@query(
    "dedup_triangle_count",
    scale_twin="dedup_triangle_count_lsh",
    oracle=f"""
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(LENGTH(text) - {SHINGLE_LEN - 1}, 1))) AS i
      FROM documents),
    sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS g FROM idx),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    e AS (
      SELECT doc_a AS a, doc_b AS b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges
    FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def dedup_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the near-dup pair graph: triangle counting
    (every a<b<c with all three edges present) — the clustering-
    coefficient primitive that distinguishes genuine duplicate cliques
    from chains of borderline pairs before committing to a keeper
    policy.

    Uses the degree-oriented two-join plan (`count_triangles`) so the
    wedge fan-out is bounded by O(√E) out-degree even on hub-heavy
    graphs. The triangle COUNT is orientation-invariant, so the exact
    oracle is unchanged. This exact variant inherits its quadratic
    edge SOURCE (`dedup_ngram_jaccard`, all-pairs); the scale twin
    `dedup_triangle_count_lsh` feeds the same counting plan from the
    banded-MinHash pair miner instead."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    return count_triangles(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )


def count_triangles(e: DataFrame) -> DataFrame:
    """Triangle + edge count over an undirected edge list (a<b,
    distinct) via DEGREE ORIENTATION: each edge is re-oriented from its
    lower-(degree, id) endpoint to its higher one, so every triangle
    has exactly one "apex" vertex with two out-edges and the wedge join
    fan-out is bounded by the maximum OUT-degree — O(√E) after
    orientation even if the raw graph has million-degree hubs (the
    standard refinement that keeps the two-join plan viable at 100 TB;
    id-ordering alone lets one hub produce deg² wedges).

    Plan: degree agg (one shuffle of 2E rows) → two joins to attach
    endpoint degrees → wedge self-join on the apex → closing-edge join.
    The oriented edge list is checkpointed once so the (possibly
    expensive) upstream pair mining never re-runs per join input; the
    degree join is left un-hinted so AQE broadcasts the degree table
    when small and shuffles it when not."""
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        e.join(deg.select(F.col("n").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # persist, not an eager checkpoint (r11, the l1 pattern): o's
    # lineage is one degree agg + two joins over the ALREADY
    # checkpointed e, so the cache is rebuildable and lineage stays
    # short without paying a separate driver-sequential
    # materialization job — the wedge join (o's first consumer)
    # builds it in passing.
    o = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).persist()
    # wedge (x→y, x→z) with rank(y) < rank(z); close with oriented y→z
    w1 = o.select(F.col("u").alias("x"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    w2 = o.select(F.col("u").alias("x"), F.col("v").alias("z"), F.col("dv").alias("dz"))
    y_first = (F.col("dy") < F.col("dz")) | (
        (F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z"))
    )
    closing = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = (
        w1.join(w2, "x")
        .filter(y_first)
        .join(closing, ["y", "z"])
        .agg(F.count("*").alias("n_triangles"))
    )
    edges = e.agg(F.count("*").alias("n_edges"))
    return tri.crossJoin(edges)


@query("dedup_triangle_count_lsh")  # approximate edge source → rows-only
def dedup_triangle_count_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale twin of `dedup_triangle_count`: the SAME degree-oriented
    counting plan fed by `dedup_minhash_lsh`'s banded-candidate pairs
    (exact-verified J ≥ 0.6) instead of the all-pairs exact miner — end
    to end sub-quadratic: O(docs × bands) candidate shuffle upstream,
    O(E^1.5) triangle work downstream. Edges are exact-verified so
    precision is 1.0; recall follows the LSH recall (≥ 0.7 enforced in
    tests), hence rows-only in the driver gate — the local test
    additionally checks it agrees exactly with the exact variant on the
    fixture, where LSH recall is 1.0."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    return count_triangles(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )


@query(
    "dedup_keep_best",
    oracle="""
    WITH groups AS (
      SELECT event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
                                ORDER BY value DESC, event_id) AS pick,
             COUNT(*) OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)) AS group_size
      FROM events)
    SELECT event_id AS keeper_id, ROUND(value, 4) AS keeper_value,
           CAST(group_size AS BIGINT) AS group_size,
           CAST(group_size - 1 AS BIGINT) AS dropped
    FROM groups WHERE pick = 1 AND group_size > 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection policy: within each duplicate group (here the
    (user, event_type, day) grain — the fixture's only grain with real
    multi-member groups), keep the HIGHEST-VALUE member (tie on id)
    instead of dedup_exact_keys' min-id convention — the policy layer
    every production dedup needs once a quality/priority score exists
    (swap `value` for any score column). Output: one row per
    multi-member group with its keeper and drop count.

    Scale: one shuffle on the group key; the ranking window and the
    group-size count share that single partitioning (one Exchange
    serves both)."""
    ev = load_table(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    keys = ["user_id", "event_type", "d"]
    w = W.partitionBy(*keys).orderBy(F.col("value").desc(), "event_id")
    return (
        ev.withColumn("pick", F.row_number().over(w))
        .withColumn("group_size", F.count("*").over(W.partitionBy(*keys)))
        .filter((F.col("pick") == 1) & (F.col("group_size") > 1))
        .select(
            F.col("event_id").alias("keeper_id"),
            F.round("value", 4).alias("keeper_value"),
            F.col("group_size").cast("long").alias("group_size"),
            (F.col("group_size") - 1).cast("long").alias("dropped"),
        )
    )


@query(
    "dedup_containment",
    scale_twin="dedup_minhash_lsh",
    oracle=f"""
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(LENGTH(text) - {SHINGLE_LEN - 1}, 1))) AS i
      FROM documents),
    sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {SHINGLE_LEN}) AS g FROM idx),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / sa.n, 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / sa.n >= 0.9
      AND sa.n < sb.n
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup detection: |A∩B| / |A| ≥ 0.9 with A the
    strictly smaller shingle set — finds documents SUBSUMED by larger
    ones (quotes, excerpts, page-within-crawl), the asymmetric overlap
    that symmetric Jaccard structurally under-scores (a small doc
    inside a huge one has tiny Jaccard but containment ≈ 1).

    Scale: the (doc, gram) equi-join form is quadratic in disguise on
    this dense tiny-vocabulary corpus (hot grams shared by thousands
    of docs — measured 14 s at sf0.1); like the Jaccard twin, the
    honest exact algorithm is blocked all-pairs with one numpy
    boolean matmul per block pair (~2 s). Intersection counts are
    exact integers; the asymmetric containment mask is evaluated in
    BOTH directions for cross-block pairs (each unordered pair lands
    in exactly one group, with arbitrary side assignment). The final
    ratio is recomputed from the integer counts in Spark SQL —
    bit-identical to the oracle's DOUBLE division. At 100 TB the
    candidate set comes from the MinHash bands instead —
    containment verification is the same exact count either way."""
    import pandas as pd  # noqa: F401 — applyInPandas ships these to workers

    t = 0.9
    tagged = _tagged_gid_blocks(char_shingles(spark, sf_dir))

    def block_containment(pdf):
        import numpy as np
        import pandas as pd

        a, b, same_block = block_sides(pdf)
        cols = ["doc_a", "doc_b", "n_common", "na", "nb"]
        if a.empty or b.empty:
            return pd.DataFrame({c: pd.Series(dtype="int64") for c in cols})
        ids_a = a["doc_id"].to_numpy()
        ids_b = b["doc_id"].to_numpy()
        common, na, nb = gid_intersections(a, b)
        neq = ids_a[:, None] != ids_b[None, :]
        # containment of the a-side doc in the b-side doc
        m1 = neq & (na[:, None] < nb[None, :]) & (
            common.astype(np.float64) / na[:, None] >= t
        )
        out = []
        i1, j1 = np.nonzero(m1)
        out.append((ids_a[i1], ids_b[j1], common[i1, j1], na[i1], nb[j1]))
        if not same_block:
            # a same-block group sees every ORDERED pair, so m1 alone
            # covers both directions; a cross-block group sees each
            # unordered pair once — check the reverse direction too
            m2 = neq & (nb[None, :] < na[:, None]) & (
                common.astype(np.float64) / nb[None, :] >= t
            )
            i2, j2 = np.nonzero(m2)
            out.append((ids_b[j2], ids_a[i2], common[i2, j2], nb[j2], na[i2]))
        return pd.DataFrame(
            {c: np.concatenate([o[k] for o in out]) for k, c in enumerate(cols)}
        )

    pairs = tagged.groupBy("bi", "bj").applyInPandas(
        block_containment, "doc_a long, doc_b long, n_common long, na long, nb long"
    )
    return (
        pairs.filter(
            ((F.col("n_common").cast("double") / F.col("na")) >= t)
            & (F.col("na") < F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_common").cast("double") / F.col("na"), 4).alias("containment"),
        )
    )


# ------------------------------------------------------------ SemDeDup ----

_SEM_K = 4  # k-means cell floor (the fixture-exact configuration)
_SEM_CELL = 500  # target members per cell: k grows with the corpus
_SEM_TAU = 0.4  # dup threshold (fixture cosine range tops out ~0.51)
_SEM_COARSE_MIN = 64  # fine-cell count past which the coarse tier engages
_SEM_COARSE_NPROBE = 8  # coarse cells probed per vector (the faiss IMI knob)


@query(
    "dedup_semdedup",
    scale_twin="",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    c0 AS (SELECT vec_id AS cl, v AS cv FROM e WHERE vec_id <
           (SELECT greatest({_SEM_K}, CAST(ceil(COUNT(*) / {_SEM_CELL}.0) AS BIGINT)) FROM e)),
    a1 AS (
      SELECT vec_id, cl FROM (
        SELECT e.vec_id, c0.cl,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.v, e.v)
                 - 2 * list_dot_product(e.v, c0.cv)
                 + list_dot_product(c0.cv, c0.cv), c0.cl) AS rn
        FROM e CROSS JOIN c0)
      WHERE rn = 1),
    dims AS (
      SELECT a1.cl, generate_subscripts(e.v, 1) AS i, unnest(e.v) AS x
      FROM e JOIN a1 USING (vec_id)),
    m AS (
      SELECT cl, i, CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY cl, i),
    c1 AS (SELECT cl, list(c ORDER BY i) AS cv FROM m GROUP BY cl),
    a2 AS (
      SELECT vec_id, cl, d2 FROM (
        SELECT e.vec_id, c1.cl,
               list_dot_product(e.v, e.v)
               - 2 * list_dot_product(e.v, c1.cv)
               + list_dot_product(c1.cv, c1.cv) AS d2,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.v, e.v)
                 - 2 * list_dot_product(e.v, c1.cv)
                 + list_dot_product(c1.cv, c1.cv), c1.cl) AS rn
        FROM e CROSS JOIN c1)
      WHERE rn = 1),
    mem AS (
      SELECT a2.vec_id, a2.cl, a2.d2, e.v,
             SQRT(list_dot_product(e.v, e.v)) AS nrm
      FROM a2 JOIN e USING (vec_id)),
    p AS (
      SELECT a.cl AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos,
             a.d2 AS da, b.d2 AS db
      FROM mem a JOIN mem b ON a.cl = b.cl AND a.vec_id < b.vec_id)
    SELECT CAST(cluster AS INT) AS cluster, vec_a, vec_b,
           ROUND(cos, 4) AS cosine,
           CASE WHEN da < db THEN vec_a
                WHEN db < da THEN vec_b
                ELSE GREATEST(vec_a, vec_b) END AS drop_id
    FROM p WHERE cos >= {_SEM_TAU}
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    that first partitions embeddings into k-means cells, then finds
    near-dup pairs ONLY within each cell — the pruning that turns
    pairwise semantic dedup from O(n²) to O(Σ cell²), the published
    recipe for LAION/C4-scale corpora. Within a dup pair the member
    CLOSER to its cluster centroid is dropped (it is the more
    redundant, prototypical copy; the far member preserves diversity)
    — ties on distance drop the larger id.

    Clustering is the repo's deterministic Lloyd trainer (seeds =
    vec_id < k, one iteration, DECIMAL-exact centroid means — the
    sim_kmeans_2iter machinery), so the cell assignment, the pair
    set, and every cosine are bit-identical across engines and the
    whole operator is oracle-checked despite being an "approximate"
    method: the approximation (missing cross-cell pairs) is in the
    algorithm, not the arithmetic.

    Scale: assignment is a narrow numpy-matmul pass with the k-row
    centroid matrix in the task closure, coarse-quantized past 64
    cells so per-vector work is Θ(√k·d) (see `assign` below); pair
    mining runs one numpy matmul per cell via applyInPandas
    (candidates at threshold minus a 1e-6 margin), then exact
    sequential-fold cosines re-score the survivors — the
    dedup_embedding_cosine candidate/verify split. Cells bound the
    quadratic: at 100 TB, k grows with the corpus so cell size stays
    fixed, and the coarse tier keeps assignment sub-Θ(n·k)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    dim_row = e.select(F.size("v").alias("d")).first()
    dim = dim_row["d"] if dim_row else 0

    def dot(x: str, y: str):
        if dim <= 0:
            return F.aggregate(
                F.zip_with(x, y, lambda u, v: u * v), F.lit(0.0), lambda acc, z: acc + z
            )
        terms = [F.element_at(x, i) * F.element_at(y, i) for i in range(1, dim + 1)]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc

    e = e.withColumn("nrm", F.sqrt(dot("v", "v"))).persist()
    # k grows with the corpus so CELL SIZE stays fixed — the docstring's
    # own scale claim, now executable: fixed k made cells (and their
    # per-cell matmuls) grow linearly, the same fixed-parameter failure
    # the LSH bucket cap and adaptive IVF cells fixed. ceil on both
    # sides (not round: Python rounds half-even, DuckDB half-away).
    # At the sf0.01 oracle fixture this is exactly _SEM_K, so the
    # cross-engine equality is unchanged where it is asserted.
    k = max(_SEM_K, -(-e.count() // _SEM_CELL))
    c0 = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cl"), F.col("v").alias("cv")
    )

    def assign(cents: DataFrame) -> DataFrame:
        """Nearest-centroid assignment as ONE narrow numpy pass over
        ``e``: the centroid table — k = ⌈n/500⌉ rows of d doubles,
        index metadata like `sim_knn_join_ivf`'s trained cells, never
        a corpus relation — is collected into the task closure and
        every Arrow batch computes d² = ‖v‖² − 2·V·Cᵀ + ‖c‖² as BLAS
        matmuls. The prior shape evaluated the same n×k distances as
        EXPLODED ROWS of a broadcast join, each through interpreted
        zip_with/aggregate HOFs — Θ(n²/500) interpreted rows with
        adaptive k (measured 855.79 s at the 100k twin, where the
        structurally identical `sim_knn_join_ivf` matmuls take 18.7 s).
        Past _SEM_COARSE_MIN cells a two-level coarse quantizer
        (√k coarse cells over the FINE CENTROIDS, nprobe nearest
        probed — the faiss IMI tier, same shape as
        `similarity.ivf_probe`) bounds the per-vector work at
        Θ(√k·d): assignment is Θ(n·√k·d) total instead of Θ(n·k·d) =
        Θ(n²·d/500). The coarse tier only engages past the fixture
        scale, so oracle-checked assignments stay the exact all-cells
        argmin; beyond it, a vector probing the wrong coarse cell just
        lands in a near-optimal fine cell — the same approximation
        class as SemDeDup's missing cross-cell pairs. Argmin
        tie-break matches the oracle's ORDER BY (d2, cl): rows are
        sorted by cl and np.argmin keeps the first minimum.

        Output carries (v, nrm) through so neither downstream use
        (centroid means; per-cell pair mining) re-joins the corpus —
        the r3 shape's two membership joins are gone entirely."""
        import numpy as np

        rows = bounded(cents, k).orderBy("cl").collect()
        cl_ids = np.array([r["cl"] for r in rows], dtype=np.int64)
        C = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
        cn2 = (C * C).sum(axis=1)
        n_coarse = 0
        if len(cl_ids) > _SEM_COARSE_MIN:
            n_coarse = max(2, int(round(len(cl_ids) ** 0.5)))
            # deterministic coarse Lloyd over the fine centroids:
            # seeds = first √k in cl order, 3 iterations
            G = C[:n_coarse].copy()
            for _ in range(3):
                Dg = (
                    (C * C).sum(axis=1)[:, None]
                    - 2.0 * (C @ G.T)
                    + (G * G).sum(axis=1)[None, :]
                )
                ga = np.argmin(Dg, axis=1)
                for j in range(n_coarse):
                    members = C[ga == j]
                    if len(members):
                        G[j] = members.mean(axis=0)
            Dg = (
                (C * C).sum(axis=1)[:, None]
                - 2.0 * (C @ G.T)
                + (G * G).sum(axis=1)[None, :]
            )
            coarse_of = np.argmin(Dg, axis=1)  # fine cell → coarse cell
            gn2 = (G * G).sum(axis=1)
            # empty coarse cells must never win a probe slot
            empty = np.array(
                [(coarse_of == j).sum() == 0 for j in range(n_coarse)]
            )
            nprobe = min(_SEM_COARSE_NPROBE, int((~empty).sum()))

        def assign_batches(it):
            import pandas as pd

            for pdf in it:
                if len(pdf) == 0:  # Arrow may deliver empty batches
                    continue
                V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                vn2 = (V * V).sum(axis=1)
                if n_coarse == 0:
                    D = vn2[:, None] - 2.0 * (V @ C.T) + cn2[None, :]
                    best = np.argmin(D, axis=1)
                    d2 = D[np.arange(len(V)), best]
                else:
                    Dg = vn2[:, None] - 2.0 * (V @ G.T) + gn2[None, :]
                    Dg[:, empty] = np.inf
                    probed = np.argpartition(Dg, nprobe - 1, axis=1)[:, :nprobe]
                    best = np.full(len(V), -1, dtype=np.int64)
                    bestd = np.full(len(V), np.inf)
                    for j in range(n_coarse):
                        hit = (probed == j).any(axis=1)
                        fine = np.nonzero(coarse_of == j)[0]
                        if not hit.any() or len(fine) == 0:
                            continue
                        idx = np.nonzero(hit)[0]
                        Df = (
                            vn2[idx, None]
                            - 2.0 * (V[idx] @ C[fine].T)
                            + cn2[fine][None, :]
                        )
                        loc = np.argmin(Df, axis=1)
                        cf = fine[loc]
                        cd = Df[np.arange(len(idx)), loc]
                        upd = (cd < bestd[idx]) | (
                            (cd == bestd[idx]) & (cf < best[idx])
                        )
                        best[idx] = np.where(upd, cf, best[idx])
                        bestd[idx] = np.where(upd, cd, bestd[idx])
                    d2 = bestd
                out = pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "v": pdf["v"].to_numpy(),
                        "nrm": pdf["nrm"].to_numpy(),
                        "cl": cl_ids[best],
                        "d2": d2,
                    }
                )
                yield out

        return e.mapInPandas(
            assign_batches,
            "vec_id long, v array<double>, nrm double, cl long, d2 double",
        )

    m = (
        assign(c0)
        .select("cl", F.posexplode("v").alias("i", "x"))
        .groupBy("cl", "i")
        .agg(
            (F.sum(F.col("x").cast("decimal(20,10)")).cast("double") / F.count("*")).alias("c")
        )
    )
    c1 = m.groupBy("cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    mem = assign(c1).persist()

    _cand_cols = ["cl", "vec_a", "vec_b", "cos", "d2a", "d2b"]
    _cand_schema = (
        "cl long, vec_a long, vec_b long, cos double, d2a double, d2b double"
    )

    def cell_candidates(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({c: pd.Series(dtype="float64") for c in _cand_cols})
        mv = np.stack(list(pdf["v"])).astype(np.float64)
        nrm = pdf["nrm"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        d2c = pdf["d2"].to_numpy()
        cos = (mv @ mv.T) / np.outer(nrm, nrm)
        mask = (cos >= _SEM_TAU - 1e-6) & (ids[:, None] < ids[None, :])
        ia, ib = np.nonzero(mask)
        # exact re-score IN the kernel: the matmul cosine above uses
        # pairwise/SIMD summation, so it is only the candidate filter
        # (threshold minus a 1e-6 margin); the authoritative cosine is
        # a per-DIMENSION vectorized fold — acc += A[:,d]·B[:,d] in
        # dimension order — which reproduces DuckDB's sequential
        # list_dot_product bit for bit across every pair at once. The
        # r05 shape instead shipped BOTH 64-double payloads with every
        # pair and re-scored with an unrolled 128-term interpreted
        # expression; on a clustered corpus (where within-cell pair
        # counts are the operator's real output size) that meant ~1 KB
        # Arrow+shuffle bytes and an interpreted expression per pair —
        # this emits 48-byte rows and does the same arithmetic as ~d
        # vectorized BLAS-speed ops per cell.
        A, B = mv[ia], mv[ib]
        acc = np.zeros(len(ia), dtype=np.float64)
        for d in range(A.shape[1]):
            acc += A[:, d] * B[:, d]
        cosx = acc / (nrm[ia] * nrm[ib])
        keep = cosx >= _SEM_TAU
        return pd.DataFrame(
            {
                "cl": np.full(int(keep.sum()), pdf["cl"].iat[0], dtype="int64"),
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "cos": cosx[keep],
                "d2a": d2c[ia[keep]],
                "d2b": d2c[ib[keep]],
            }
        )

    cand = mem.select("cl", "vec_id", "v", "nrm", "d2").groupBy("cl").applyInPandas(
        cell_candidates, _cand_schema
    )
    return (
        cand.select(
            F.col("cl").cast("int").alias("cluster"),
            "vec_a",
            "vec_b",
            F.round("cos", 4).alias("cosine"),
            F.when(F.col("d2a") < F.col("d2b"), F.col("vec_a"))
            .when(F.col("d2b") < F.col("d2a"), F.col("vec_b"))
            .otherwise(F.greatest("vec_a", "vec_b"))
            .alias("drop_id"),
        )
    )
