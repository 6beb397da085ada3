"""Candidate-pair generation: the one place that knows how the
pair-producing operators turn buckets and blocks into pairs.

Three primitives:

  bucket_pairs      i<j emission over a sorted per-bucket member array,
                    the caller's pair fields and filter evaluated
                    in-array (minhash / simhash / phash buckets, item
                    Jaccard users, basket-lift orders)
  block_pairs       the (bi, bj, side) fan-out that routes every
                    unordered id pair into exactly one block-pair group
                    for a blocked all-pairs `applyInPandas` (exact
                    Jaccard / containment, embedding cosine, exact kNN);
                    `block_sides` splits such a group back into its
                    a/b sides and same-block flag on the pandas side,
                    `gid_intersections` counts its shingle overlaps
  drop_hot_buckets  the bucket-population cap that bounds every
                    bucket's member array (and its C(m, 2) pairs)

Each caller keeps its own cross-bucket reduction (distinct,
dropDuplicates or count): which one is cheapest depends on the query.

When a grouped emission beats a self-join (SCALE.md §18, measured on
the x50/x250 twins by shuffle bytes): grouping wins only when the
aggregation subsumes a distinct the join paid anyway (item Jaccard's
and basket lift's collect_set replace the (user, item) / (order, part)
distinct), or when a selective filter runs in-array before any shuffle
(the minhash est gate, the simhash / phash hamming cut). When the pair
multiset itself is the output, the bytes are identical by construction
and the interpreted higher-order transform costs ~4× the codegen'd
join's CPU, so such a query stays a co-partitioned self-join
(q_cooccurrence_pairs). The grouped form also computes the subtree
below the buckets once: AQE compiles a self-join's two sides as
separate concurrent stages, so exchange reuse never fires and the
whole signature / hash subtree ran twice.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# Block count of the blocked all-pairs operators: B(B+1)/2 = 36
# block-pair tasks (enough to keep every core busy, since same-block
# groups are ~half-size) while each row ships to only B+1 = 9 groups,
# so replication, the dominant Arrow-transfer cost, stays modest.
# Larger B shrinks per-task matmuls (already far from the FLOP bound)
# while inflating transfer linearly.
BLOCKS = 8

# LSH band buckets larger than this are dropped before pair emission.
# Emission costs Σ n_b² per bucket: at 250k twin docs the top minhash
# buckets reach ~8k members and 99.98% of the 181M candidate pairs
# they generate verify FALSE. A band hash shared by thousands of
# documents is boilerplate, the posting-list stopword of LSH, and
# dropping it is nearly lossless because a true near-dup pair has 16
# independent band collisions to survive on: verified-pair recall is
# 1.0000 at sf0.1 and 0.9996 at the 50k-doc twin. The sf0.01 oracle
# fixtures' hottest bucket is 72, so the cap never binds where
# exactness is asserted. 128 rather than 256 (SCALE.md §17): x50
# collision mass 4.66M → 3.04M at recall 0.99629 → 0.99621, x250
# 38.2M → 22.9M at 0.99626 → 0.99604, calm wall 121.9 → 97.6 s.
LSH_BUCKET_CAP = 128

# A standalone ``b`` in a `bucket_pairs` field expression: not part of
# a longer name, a struct field (``x.b``) or a string literal.
_B_REF = re.compile(r"(?<![\w.'])b(?![\w'])")


def bucket_pairs(
    grouped: DataFrame,
    members: str,
    fields: dict[str, str],
    keep: str | None = None,
) -> DataFrame:
    """Every i<j pair of each row's ``members`` array, one output row
    per pair, columns = ``fields``.

    ``members`` must be sorted (sort_array over a unique first field)
    so the emitted orientation is deterministic: ``a`` precedes ``b``.
    ``fields`` maps each output column to a SQL expression over the
    two members ``a`` and ``b`` (struct fields or scalars). ``keep``
    is an optional SQL predicate over ``p``, the pair struct, applied
    inside the array expression so rejected pairs never leave the
    bucket's stage. The whole emission is one generated SQL
    expression: building it from Column objects costs py4j round
    trips per call, while the JVM parses the string in milliseconds.

    The inner iteration slices an index array and reads ``b`` as
    ``element_at(members, j)``; every standalone ``b`` in ``fields``
    is rewritten to that. Slicing the member array itself copies every
    member struct once per pair it joins, and minhash members carry
    the 32-long packed signature: at the 1.25M-doc twin, where buckets
    run near the cap, that form cost 2.3× the band self-join's task
    CPU and index slices brought it back to parity
    (OPTIMIZATION_r10.md, "Scale-twin validation"). At sparse buckets
    (the x50 twin, 1k-doc perfbench ``llm_corpus``) the two forms read
    within run-to-run noise."""
    b = f"element_at({members}, j)"
    struct = ", ".join(
        f"'{name}', {_B_REF.sub(b, expr)}" for name, expr in fields.items()
    )
    pairs = (
        f"transform(slice(sequence(1, size({members})), i + 2, size({members}) - i - 1), "
        f"j -> named_struct({struct}))"
    )
    if keep is not None:
        pairs = f"filter({pairs}, p -> {keep})"
    emit = F.expr(f"flatten(transform({members}, (a, i) -> {pairs}))")
    return grouped.select(F.explode(emit).alias("p")).select("p.*")


def block_pairs(df: DataFrame, id_col: str) -> DataFrame:
    """Replicate each row of ``df`` to every block-pair group it
    belongs to: rows hash into ``BLOCKS`` blocks by ``id_col``, and a
    row of block k joins groups (k, j≥k) as side "a" and (i≤k, k) as
    side "b". Each unordered pair of rows therefore meets in exactly
    one (bi, bj) group, on opposite sides when bi ≠ bj and twice (once
    per orientation) in the same-block group. Columns:
    (bi, bj, *df.columns, side).

    One explode of a generated array, with zero joins and one pass.
    The earlier shape (two broadcast joins against a createDataFrame
    block-pair relation, unioned) re-ran the whole subtree below it per
    union branch and built each broadcast from a Python-parallelized
    local relation; measured 16.4 → 8 s task time at sf0.1."""
    cols = df.columns
    blk = (F.col(id_col) % BLOCKS).cast("int")
    reps = F.concat(
        F.transform(
            F.sequence(blk, F.lit(BLOCKS - 1)),
            lambda j: F.struct(blk.alias("bi"), j.alias("bj"), F.lit("a").alias("side")),
        ),
        F.transform(
            F.sequence(F.lit(0), blk),
            lambda i: F.struct(i.alias("bi"), blk.alias("bj"), F.lit("b").alias("side")),
        ),
    )
    return df.select(*cols, F.explode(reps).alias("r")).select(
        "r.bi", "r.bj", *cols, "r.side"
    )


def block_sides(pdf):
    """Split one `block_pairs` group (a pandas frame) into its a-side
    rows, b-side rows, and whether it is a same-block group (where
    every pair appears in both orientations)."""
    a = pdf[pdf["side"] == "a"]
    b = pdf[pdf["side"] == "b"]
    return a, b, pdf["bi"].iat[0] == pdf["bj"].iat[0]


def gid_intersections(a, b):
    """Exact intersection counts between the a-side and b-side
    ``gids`` arrays of one `block_pairs` group: one numpy boolean
    matmul over the group's densified vocabulary. Returns
    (common[len(a), len(b)], na, nb) as int64; counts ≤ |vocab| ≪ 2^24,
    so the float32 matmul is exact."""
    import numpy as np

    vocab = np.unique(np.concatenate(list(a["gids"]) + list(b["gids"])))

    def densify(col):
        m = np.zeros((len(col), len(vocab)), dtype=np.float32)
        for r, gids in enumerate(col):
            m[r, np.searchsorted(vocab, gids)] = 1.0
        return m

    ma, mb = densify(list(a["gids"])), densify(list(b["gids"]))
    return (
        (ma @ mb.T).astype(np.int64),
        ma.sum(axis=1).astype(np.int64),
        mb.sum(axis=1).astype(np.int64),
    )


def drop_hot_buckets(
    bands: DataFrame,
    cap: int = LSH_BUCKET_CAP,
    keys: tuple[str, ...] = ("band_idx", "band_hash"),
) -> DataFrame:
    """Remove buckets (rows sharing ``keys``) with more than ``cap``
    members. The population rides a window COUNT partitioned by the
    bucket key, the exact key the downstream grouping or bucket join
    shuffles on, so this adds zero exchanges (and on the streaming
    path's part-sorted cached band relations it needs neither
    exchange nor sort)."""
    return (
        bands.withColumn("_bucket_n", F.count("*").over(W.partitionBy(*keys)))
        .filter(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )
