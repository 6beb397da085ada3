"""Skew handling: salted joins (and the AQE story).

A shuffled equi-join places every row of a key on one reducer; a hot
key turns that reducer into the job's critical path. Two remedies this
engine relies on:

* **AQE skew-join** (`spark.sql.adaptive.skewJoin.enabled`, on in
  session.py): Spark splits oversized partitions at runtime —
  zero-code, the default answer.
* **Explicit salting** (this module): when AQE can't help (aggregating
  state per key, or joins where one side can be cheaply replicated),
  append a salt in [0, S) to the big side's key and replicate the
  small side S×; the hot key's rows spread over S reducers. Join
  output is identical — salting is a physical rewrite, which is why
  the query below can be oracle-checked against the unsalted SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import global_prefix, load_table
from ..registry import query

DEFAULT_SALT = 8


def salted_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Inner equi-join `big ⋈ small` on `key` with the big side salted
    and the small side replicated DEFAULT_SALT×. Result is
    row-identical to the plain join; the hot keys of `big` are spread
    across DEFAULT_SALT reducers. The salt is a hash of all big-side
    columns (any per-row expression works — it only needs to spread
    rows, not be stable)."""
    big_s = big.withColumn("__salt", F.pmod(F.hash(*big.columns), DEFAULT_SALT).cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(DEFAULT_SALT)]))
    )
    return big_s.join(small_s, [key, "__salt"]).drop("__salt")


@query(
    "q_salted_hot_key_join",
    oracle="""
    WITH per_type AS (
      SELECT event_type, COUNT(*) AS type_total
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           COUNT(*)                         AS n_events,
           CAST(MIN(type_total) AS BIGINT)  AS type_total
    FROM events e JOIN per_type USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a genuinely low-cardinality (hence maximally
    skewed) key: events ⋈ per-type totals on event_type — 5 distinct
    keys, so an unsalted shuffle join uses at most 5 reducers
    regardless of cluster size. Salting spreads each key over
    DEFAULT_SALT reducers; the oracle checks the rewrite changes
    nothing semantically.

    (At this fixture size Spark would broadcast the small side anyway;
    the salted path is exercised explicitly because at 100 TB the
    "small" side of a hot-key join is often itself too big to
    broadcast.)
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    per_type = ev.groupBy("event_type").agg(F.count("*").alias("type_total"))
    joined = salted_join(ev, per_type, "event_type")
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("type_total").alias("type_total"),
    )


@query(
    "q_salted_two_phase_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT)       AS n,
           ROUND(SUM(l_quantity), 2)      AS sum_qty,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_salted_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation: the rewrite for aggregating on a
    key with pathological skew (here l_returnflag — 3 values over the
    whole fact table). Phase 1 groups on (key, salt) with a random-ish
    but deterministic 16-way salt so the hot key spreads over 16
    reducers; phase 2 re-aggregates the 16 partials per key. All
    aggregates used are algebraic (count→sum, sum→sum, max→max) so the
    two-phase result is EXACTLY the direct groupBy — which is what the
    oracle computes.

    (Spark's partial aggregation already handles most of this
    map-side; the explicit salt matters when per-key state is too big
    for one reducer — giant count-distinct sets, collect_lists — or
    under AQE-less engines. The operator documents and tests the
    rewrite; the plan costs one extra tiny shuffle of 3×16 rows.)"""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("_salt", (F.col("l_orderkey") % 16).cast("int"))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum("l_quantity").alias("pq"),
        F.max("l_extendedprice").alias("pm"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").cast("long").alias("n"),
        F.round(F.sum("pq"), 2).alias("sum_qty"),
        F.round(F.max("pm"), 2).alias("max_price"),
    )


@query(
    "q_global_ranks_scalable",
    oracle="""
    SELECT o_orderkey,
           CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
             AS decile,
           ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey), 6)
             AS pct_rank,
           ROUND(CUME_DIST() OVER (ORDER BY o_totalprice, o_orderkey), 6)
             AS cume
    FROM orders
    """,
)
def q_global_ranks_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global ranks WITHOUT a single-partition window — the
    scale rewrite of q_ntile_stats (whose stock `Window.orderBy()`
    funnels the whole table through one task).

    The global rank r comes from `data.global_prefix` (range-sorted
    two-pass running count; its only SinglePartition stage sees one
    row per range partition). With a unique sort key, rank ==
    row_number, so percent_rank = (r-1)/(n-1), cume_dist = r/n, and
    NTILE's uneven-bucket rule is pure arithmetic on r and n."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_prefix(o, ["o_totalprice", "o_orderkey"])
    r = F.col("cum")  # global 1-based rank
    n = F.col("total")
    k = F.lit(10)
    big = F.ceil(n / k)  # size of the first (n % k) buckets
    small = F.floor(n / k)
    cut = (n % k) * big  # ranks <= cut fall in the big buckets
    decile = F.when(r <= cut, F.floor((r - 1) / big) + 1).otherwise(
        (n % k) + F.floor((r - cut - 1) / small) + 1
    )
    return ranked.select(
        "o_orderkey",
        decile.cast("long").alias("decile"),
        F.round((r - F.lit(1)) / (n - F.lit(1)), 6).alias("pct_rank"),
        F.round(r / n, 6).alias("cume"),
    )
