"""Graph operators beyond the near-dup clustering family.

The dedup module already covers connected components (iterative label
propagation with pointer jumping, ``dedup.label_propagation_components``,
which ``graph_cc_pointer_jumping`` here also runs) and triangle
counting; this adds the other canonical iterative graph computation —
PageRank — expressed as pure DataFrame algebra with a FIXED, unrolled
iteration count so the whole computation stays one declarative plan
that a DuckDB oracle can mirror as chained CTEs. (The open-ended converge-until-ε variant is the same
loop body driven from Python, as in dedup's label propagation; fixing
k makes it oracle-checkable.)

  graph_pagerank_2iter  2 damped PageRank iterations over the
                        supplier↔part co-supply graph

Scale: each iteration is one join (ranks ⨝ edges on src) plus one
aggregate on dst — the standard distributed PageRank step. Edges are
hash-partitioned on src; ranks stay partitioned on the node key across
iterations, so iteration N+1 reuses iteration N's partitioning. No
driver-side state: N (node count) enters the plan as a broadcast
single-row aggregate, never a collect().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import load_table
from ..registry import query
from .pairs import bucket_pairs

_DAMP = 0.85
_QTY = 48  # edge threshold: supplier shipped a part with quantity >= 48


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (undirected) supplier↔part edge list from high-volume
    lineitems. String node ids prefixed 's'/'p' keep the two key spaces
    disjoint. distinct() makes multiplicity 1 per direction."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= _QTY)
    fwd = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    return fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


_EDGES_SQL = f"""
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                      'p' || CAST(l_partkey AS VARCHAR) AS dst
      FROM lineitem WHERE l_quantity >= {_QTY}
      UNION
      SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR),
                      's' || CAST(l_suppkey AS VARCHAR)
      FROM lineitem WHERE l_quantity >= {_QTY}
"""


@query(
    "graph_pagerank_2iter",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT deg.src AS node, 1.0 / n.n AS pr FROM deg CROSS JOIN n),
    r1 AS (
      SELECT e.dst AS node,
             (1 - {_DAMP}) / MIN(n.n) + {_DAMP} * SUM(r0.pr / deg.outdeg) AS pr
      FROM edges e
      JOIN r0 ON e.src = r0.node
      JOIN deg ON e.src = deg.src
      CROSS JOIN n
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             (1 - {_DAMP}) / MIN(n.n) + {_DAMP} * SUM(r1.pr / deg.outdeg) AS pr
      FROM edges e
      JOIN r1 ON e.src = r1.node
      JOIN deg ON e.src = deg.src
      CROSS JOIN n
      GROUP BY e.dst
    )
    SELECT node, ROUND(pr, 7) AS pr FROM r2
    """,
)
def graph_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two damped (0.85) PageRank iterations over the undirected
    supplier↔part graph, initialized uniform 1/N.

    Because edges are symmetric, every node has outdeg ≥ 1 and indeg
    ≥ 1 — no dangling-mass correction needed, and every node appears
    in each iteration's output (row count = N is part of the check).
    ROUND(,7) absorbs float summation-order ulps on both engines."""
    # edges/deg are iteration-invariant: persist once instead of
    # re-deriving the distinct-edge shuffle in every iteration's plan
    # (at real scale this is a checkpoint; k iterations would otherwise
    # recompute the edge subtree k+1 times and grow the lineage).
    # r11 measured-and-REVERTED: pre-attaching outdeg to a persisted
    # `wedges` relation (deleting the per-iteration deg join) was
    # twin-measured at the 30M-lineitem tier (graph_pagerank_2iter
    # old-vs-new, tools/grouped_pairs_probe.py @ 43b8cbc): identical
    # shuffle bytes
    # (285 MB — deg is a V-row relation that BROADCASTS in both
    # shapes, so the "deleted" join never paid an exchange) and
    # slightly worse CPU/wall (248 → 291 s task CPU) from the extra
    # cache build and the wider cached rows. The per-iteration
    # broadcast join is the right shape until V itself outgrows
    # broadcast range.
    edges = _edges(spark, sf_dir).persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).persist()
    n = deg.agg(F.count("*").alias("n"))  # 1-row DF, broadcast — no collect
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(2):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select("dst", (F.col("pr") / F.col("outdeg")).alias("w"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("w").alias("mass"))
            .crossJoin(F.broadcast(n))
            .select(
                F.col("dst").alias("node"),
                (F.lit(1 - _DAMP) / F.col("n") + F.lit(_DAMP) * F.col("mass")).alias(
                    "pr"
                ),
            )
        )
    return ranks.select("node", F.round("pr", 7).alias("pr"))


@query(
    "graph_label_propagation_2iter",
    oracle=f"""
    WITH li AS (SELECT * FROM lineitem WHERE l_quantity >= {_QTY}),
    e0 AS (
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                      'p' || CAST(l_partkey AS VARCHAR) AS dst
      FROM li),
    edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    v1 AS (
      SELECT e.src AS node, l.label, COUNT(*) AS c
      FROM edges e JOIN l0 l ON l.node = e.dst
      GROUP BY 1, 2),
    l1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
        FROM v1) WHERE rn = 1),
    v2 AS (
      SELECT e.src AS node, l.label, COUNT(*) AS c
      FROM edges e JOIN l1 l ON l.node = e.dst
      GROUP BY 1, 2),
    l2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
        FROM v2) WHERE rn = 1)
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY label
    """,
)
def graph_label_propagation_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA), two
    rounds, deterministic: every node adopts its neighbors'
    most-frequent label (ties → lexicographically smallest), starting
    from singleton labels. Distinct from connected components
    (dedup_clusters' min-label fixpoint finds CONNECTIVITY; LPA's
    plurality vote finds DENSITY — two components bridged by one edge
    stay separate communities here).

    Scale: each round is one edges⨝labels join (hash-partitioned on
    the node key, reused across rounds) + a two-level groupBy (label
    counts, then argmax window over |node, label| pairs). r11
    measured-and-REVERTED: replacing the argmax window with a
    min(struct(-c, label)) partial aggregation (the sim_kmeans_2iter
    pattern) was twin-measured at the 30M-lineitem tier and LOST —
    shuffle bytes went UP (348 → 367 MB: the vote rows are already
    (node, label)-unique out of the count aggregate, so the second
    "partial" agg had nothing to reduce map-side and the struct
    payload outweighed the saved sort) with CPU/wall parity-to-worse.
    The kmeans case won because k candidate rows per vector collapsed
    to 1 BEFORE the exchange; here the collapse ratio is ~1. Fixed
    unrolled rounds keep it one declarative plan for the oracle; the
    production converge-until-stable loop is the same body driven like
    dedup_clusters' iteration."""
    # _edges() is already symmetrized + distinct — the previous
    # re-union doubled the second distinct's input to produce the
    # same set (removed r11)
    edges = _edges(spark, sf_dir).persist()
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    from pyspark.sql import Window

    for _ in range(2):  # fixed unroll — mirrors the oracle's two CTE rounds
        votes = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), "label")
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").cast("long").alias("n_members")
    )


@query(
    "graph_item_jaccard",
    headline=True,
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS item_a, b.event_type AS item_b,
             COUNT(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT item_a, item_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(sa.n AS BIGINT)   AS n_a,
           CAST(sb.n AS BIGINT)   AS n_b,
           ROUND(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.event_type = inter.item_a
    JOIN sizes sb ON sb.event_type = inter.item_b
    """,
)
def graph_item_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item audience similarity: Jaccard overlap of the distinct
    user sets of every event-type pair — the co-engagement similarity
    behind "users who did A also did B" and bipartite-graph projection.

    Scale: the classic trap is intersecting user SETS pairwise (set
    materialization per item → skew + memory). Instead each user's
    distinct items are collected once (one shuffle on user_id) and
    the pairs emitted per user — per-user cost is C(items-per-user, 2),
    bounded by the per-user item fanout, never |users|² — and the
    per-item sizes broadcast back. Heavy-fanout
    users (the skew risk) get capped upstream in a real deployment;
    the plan itself is the standard co-occurrence projection
    (q_cooccurrence_pairs is the basket-bounded twin on orders)."""
    # One groupBy(user) with in-array pair emission (`pairs.bucket_pairs`):
    # the sorted collect_set subsumes the (user, item) distinct a
    # self-join pays, so one exchange on user_id serves the pairs, and
    # the sizes aggregate rides the same cached relation.
    # NULL pin (advisor r10): the old distinct + self-join dropped NULL
    # user_id rows (equi-join keys) and NULL event_type (the a < b
    # comparison); groupBy would keep a NULL-user group, silently
    # diverging on real data. The explicit filter restores the join
    # semantics AND pushes IsNotNull back down to the scan, which the
    # join condition used to imply.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    per_user = (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("items"))
        .persist()
    )
    inter = (
        bucket_pairs(per_user, "items", {"item_a": "a", "item_b": "b"})
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sizes = (
        per_user.select(F.explode("items").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    sa = sizes.select(F.col("event_type").alias("item_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("item_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


# ------------------------------------------- pointer-jumping CC ----


def _cc_oracle() -> str:
    from .dedup import CLUSTERS_ORACLE

    return CLUSTERS_ORACLE


@query(
    "graph_cc_pointer_jumping",
    oracle=_cc_oracle(),
    # the ALGORITHM is the O(log d) production CC; this query feeds it
    # from the exact all-pairs miner so the oracle can check it — the
    # banded-miner composition is the form that runs at 100 TB
    scale_twin="dedup_clusters_lsh",
)
def graph_cc_pointer_jumping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping (path halving): each round takes the minimum over the
    neighborhood AND over every label's label — the classic PRAM/BSP
    shortcut that collapses label chains geometrically, so convergence
    takes O(log diameter) rounds instead of O(diameter). On a 100 TB
    graph with long chains (web graphs, citation graphs — unlike the
    near-clique dup clusters) this is the difference between ~6 and
    ~500 rounds, each round being a full shuffle.

    This is the shared CC core, `dedup.label_propagation_components`
    (hop + pointer jump on the contracted label graph, one job per
    round), run over the same exact near-dup edge list as
    `dedup_clusters` and checked against the same recursive-CTE
    oracle."""
    from .dedup import component_sizes, dup_graph_edges, label_propagation_components

    return component_sizes(label_propagation_components(dup_graph_edges(spark, sf_dir)))
