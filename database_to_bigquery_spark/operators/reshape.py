"""Reshaping / sampling / distribution operators.

The reference's only "reshape" is the per-table column rename map
(reference ``transformations.py:10-71``); everything here is extension
surface (SURVEY.md §2b X1/X5/X9) that a training-data pipeline needs:

  q_pivot               wide pivot (groupBy().pivot() with explicit
                        value list — never let Spark scan for values
                        at 100 TB)
  q_unpivot             melt wide → long (df.unpivot; map-only, no
                        shuffle)
  q_histogram           fixed-width bucket histogram (arithmetic
                        bucketing — one shuffle on the bucket id)
  q_median_quantiles    exact interpolated median / quartiles per group
  q_hash_sample         deterministic hash sampling (md5-prefix
                        predicate — reproducible across engines/runs,
                        unlike TABLESAMPLE; pushes down to the scan)
  q_stratified_sample   deterministic per-stratum top-N sample
                        (md5-ordered row_number — balanced output even
                        from skewed strata)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data import global_prefix, load_table
from ..registry import query

# ------------------------------------------------------------- pivot ----


@query(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot lineitem quantity to one column per linestatus.

    Scale: the pivot value list is explicit — with it, pivot is a
    single hash aggregate (no extra job to discover distinct values,
    which at 100 TB would be a full shuffle before planning even
    starts). Output cardinality = |groups| × |values|, known upfront.
    """
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select(
        "l_returnflag", F.col("F").alias("qty_f"), F.col("O").alias("qty_o")
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) three lineitem measures into long form — the
    inverse of q_pivot. Map-only (each row expands to 3 in place): no
    shuffle, fully pipelined into whatever consumes the long form."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )


# --------------------------------------------------------- histogram ----


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           COUNT(*)                                      AS n_orders,
           ROUND(SUM(o_totalprice), 2)                   AS bucket_total
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (25k buckets).

    Arithmetic bucketing keeps this a plain hash aggregate — partial
    (map-side) combine reduces each partition to |buckets| rows before
    the shuffle, so network cost is O(buckets × partitions) regardless
    of input size."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("bucket_total"),
        )
    )


@query(
    "q_median_quantiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(l_quantity), 4)             AS med_qty,
           ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25,
           ROUND(quantile_cont(l_quantity, 0.75), 4) AS q75,
           COUNT(*)                                  AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_median_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median and quartiles per group (F.median /
    F.percentile — the exact forms; q_percentiles covers the
    approximate GK-sketch path that replaces these at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("q25"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("q75"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------- sampling ----


@query(
    "q_hash_sample",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% sample: keep rows whose key md5 starts with
    0 or 1 (2 of 16 hex values).

    Why not TABLESAMPLE / df.sample: those are seeded per-partition —
    the selected rows change with partitioning and engine, so results
    aren't reproducible across runs or comparable across systems.
    Hash-of-key sampling is a pure row-local predicate: stable under
    repartitioning, consistent across engines (same md5), and — being
    a filter — it pipelines into the scan with no extra pass. The same
    predicate on a join key samples *coherently* across tables (all
    rows of a sampled entity survive in every table)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin("0", "1")
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "q_stratified_sample",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY md5(CAST(c_custkey AS VARCHAR))
             ) AS rn
      FROM customer
    )
    WHERE rn <= 50
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly min(50, |stratum|) rows
    per market segment, chosen by md5 order of the key — a reproducible
    'random' order with no seed state.

    Scale: one shuffle on the stratum key; rank + filter short-circuits
    per group. For heavily skewed strata the md5-order top-N can also
    run as a per-partition partial top-N before the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string"))
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
    )


@query(
    "q_dataset_mixture",
    oracle="""
    SELECT doc_id, source, lang
    FROM documents
    WHERE (source = 'src0' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             IN ('0','1','2','3','4','5','6','7'))
       OR (source = 'src1' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
             IN ('0','1','2','3'))
       OR (source NOT IN ('src0', 'src1')
             AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1'))
    """,
)
def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: down-sample each corpus source at
    its own rate (src0 50%, src1 25%, everything else 12.5%) with the
    deterministic md5 predicate from q_hash_sample.

    This is how a 100 TB pre-training mix is actually cut: a row-local
    predicate (no shuffle, no per-source pass — one scan evaluates
    every rate) whose sample is stable across reruns and engines, so
    the mixture is reproducible and auditable. Changing weights is a
    predicate edit, not a data rewrite."""
    d = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = (
        ((F.col("source") == "src0") & nib.isin(*"01234567"))
        | ((F.col("source") == "src1") & nib.isin(*"0123"))
        | (~F.col("source").isin("src0", "src1") & nib.isin("0", "1"))
    )
    return d.filter(keep).select("doc_id", "source", "lang")


@query(
    "q_minmax_scale",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           ROUND((c_acctbal - MIN(c_acctbal) OVER (PARTITION BY c_mktsegment))
                 / NULLIF(MAX(c_acctbal) OVER (PARTITION BY c_mktsegment)
                          - MIN(c_acctbal) OVER (PARTITION BY c_mktsegment), 0),
                 6) AS acctbal_scaled
    FROM customer
    """,
)
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling (x-min)/(max-min) — the
    normalization pass of a feature pipeline, NULL when a group is
    constant (zero range) rather than a division error.

    Scale: one shuffle on the group key; both extrema come from the
    same whole-partition window, so Catalyst computes them in a single
    Window operator. For global (ungrouped) scaling at 100 TB, compute
    min/max as a 1-row aggregate and broadcast-join it back instead of
    a whole-table window."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    rng = F.max("c_acctbal").over(w) - F.min("c_acctbal").over(w)
    scaled = F.try_divide(F.col("c_acctbal") - F.min("c_acctbal").over(w), rng)
    return c.select(
        "c_custkey", "c_mktsegment", F.round(scaled, 6).alias("acctbal_scaled")
    )


@query(
    "q_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             LN((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 25, 8)) AS BIGINT)
                 + 1) / 4294967296.0) / n_chars AS k
      FROM documents)
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight, ROUND(k, 6) AS sample_key,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY k DESC, doc_id) AS rnk
          FROM keyed)
    WHERE rnk <= 5
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis-Spirakis A-ES), top-5
    docs per source with inclusion probability proportional to weight
    (n_chars stands in for a quality score): key = ln(u)/w with
    u = md5-uniform in (0,1), keep the largest keys. Deterministic —
    the 'randomness' is the md5 of the key, so the sample is
    reproducible across runs AND engines (oracle-checked), the property
    a training-data pipeline needs for auditable subset selection.

    Scale: one shuffle on the stratum; the per-group top-k is
    rank-and-filter (TakeOrdered semantics). The A-ES key makes
    weighted sampling MERGEABLE: partial top-k per partition, then
    top-k of partials — the same two-phase shape as any algebraic
    aggregate, which is why this beats sequential reservoir algorithms
    on a cluster."""
    d = load_table(spark, sf_dir, "documents")
    # +1 shifts the 32-bit uniform into (0, 1]: u = 0 would make
    # ln(u) engine-divergent (NULL in Spark, -inf/error elsewhere)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 25, 8), 16, 10).cast(
            "double"
        )
        + 1
    ) / F.lit(4294967296.0)
    k = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("source").orderBy(F.col("k").desc(), "doc_id")
    return (
        d.select("source", "doc_id", "n_chars", k.alias("k"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            F.round("k", 6).alias("sample_key"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@query(
    "q_decile_lift",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS resp,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS r,
             COUNT(*) OVER () AS n
      FROM orders),
    cells AS (
      SELECT CAST((r - 1) * 10 // n AS INT) + 1 AS decile,
             CAST(COUNT(*) AS BIGINT)  AS n_d,
             CAST(SUM(resp) AS BIGINT) AS resp_d
      FROM ranked GROUP BY 1),
    cum AS (
      SELECT decile, n_d, resp_d,
             SUM(n_d)    OVER (ORDER BY decile) AS cum_n,
             SUM(resp_d) OVER (ORDER BY decile) AS cum_resp,
             SUM(n_d)    OVER () AS tot_n,
             SUM(resp_d) OVER () AS tot_resp
      FROM cells)
    SELECT decile, n_d, resp_d,
           ROUND(CAST(resp_d AS DOUBLE) / n_d, 6) AS resp_rate,
           ROUND((CAST(cum_resp AS DOUBLE) / cum_n)
                 / (CAST(tot_resp AS DOUBLE) / tot_n), 6) AS cum_lift
    FROM cum
    """,
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table: rank rows by a model score
    (o_totalprice as the stand-in propensity), cut into 10 rank
    deciles, and report per-decile response rate plus cumulative lift
    over the base rate — the standard campaign-targeting /
    classifier-eval report.

    Scale: the global rank is `data.global_prefix` over (score DESC,
    key) — a range-sorted two-pass running count with no whole-table
    SinglePartition window. Deciles are rank arithmetic
    ((r-1)·10 div n), NOT NTILE, so the bucket rule is identical in
    both engines; the cumulative window runs on the 10-row decile
    table. All inputs to every double are exact integers."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("resp"),
        "o_totalprice",
    )
    ranked = global_prefix(
        o, [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    ).select("resp", F.col("cum").alias("r"), F.col("total").alias("n"))
    cells = (
        ranked.withColumn(
            "decile", (((F.col("r") - 1) * 10) / F.col("n")).cast("int") + 1
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_d"),
            F.sum("resp").cast("long").alias("resp_d"),
        )
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    wt = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = cells.select(
        "decile",
        "n_d",
        "resp_d",
        F.sum("n_d").over(wc).alias("cum_n"),
        F.sum("resp_d").over(wc).alias("cum_resp"),
        F.sum("n_d").over(wt).alias("tot_n"),
        F.sum("resp_d").over(wt).alias("tot_resp"),
    )
    return cum.select(
        "decile",
        "n_d",
        "resp_d",
        F.round(F.col("resp_d").cast("double") / F.col("n_d"), 6).alias("resp_rate"),
        F.round(
            (F.col("cum_resp").cast("double") / F.col("cum_n"))
            / (F.col("tot_resp").cast("double") / F.col("tot_n")),
            6,
        ).alias("cum_lift"),
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v, l_quantity AS wt
      FROM lineitem),
    ordered AS (
      SELECT flag, v, wt,
             SUM(wt) OVER (PARTITION BY flag ORDER BY v, wt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(wt) OVER (PARTITION BY flag) AS tot
      FROM w),
    hit AS (
      SELECT flag, v, cum, tot,
             ROW_NUMBER() OVER (PARTITION BY flag ORDER BY v, wt) AS rn
      FROM ordered WHERE cum >= tot / 2)
    SELECT flag AS l_returnflag,
           ROUND(v, 2)   AS weighted_median_price,
           ROUND(tot, 2) AS total_weight
    FROM hit WHERE rn = 1
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group: the price at which half the
    total QUANTITY (not half the rows) lies at or below — the
    inventory-weighted midpoint that an unweighted percentile() gets
    wrong whenever weights correlate with values.

    Formulation: one window pass per group computes the running weight
    in (value, weight) order; the first row whose cumulative weight
    crosses half the total is the weighted median (lower weighted
    median — no interpolation, so no float averaging). The running sum
    accumulates in the same deterministic ORDER BY on both engines, so
    even double weights compare identically at the crossing point.

    Scale: one shuffle on the group key serves both windows and the
    crossing filter (same-key windows reuse the exchange); nothing is
    ordered globally. For extreme groups swap the second pass for the
    two-phase rank pattern (q_global_ranks_scalable)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").alias("wt"),
    )
    wo = Window.partitionBy("flag").orderBy("v", "wt")
    ordered = li.select(
        "flag",
        "v",
        "wt",
        F.sum("wt").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("wt").over(Window.partitionBy("flag")).alias("tot"),
    )
    hit = ordered.filter(F.col("cum") >= F.col("tot") / 2).withColumn(
        "rn", F.row_number().over(wo)
    )
    return hit.filter(F.col("rn") == 1).select(
        F.col("flag").alias("l_returnflag"),
        F.round("v", 2).alias("weighted_median_price"),
        F.round("tot", 2).alias("total_weight"),
    )


def equi_depth_buckets(o: DataFrame, percentile) -> DataFrame:
    """The equi-depth histogram of orders' o_totalprice in 10 buckets:
    the nine decile thresholds from one array-valued aggregate
    `percentile(column, quantiles)`, that one row broadcast back, a
    map-only CASE assigning each order to the first threshold it does
    not exceed, then a partial-aggregated rollup (bucket, n_orders,
    lo, hi). Callers:
    q_histogram_equi_depth (exact `F.percentile`),
    q_histogram_equi_depth_approx (`F.approx_percentile`)."""
    # ONE array-valued aggregate (r10): nine scalar F.percentile calls
    # each buffered ALL n values in their own aggregation buffer (9×
    # the memory and sort work of the single heaviest aggregate in
    # SCALING.md), and nine approx_percentile calls kept nine GK
    # sketches; the array form computes every threshold from one
    # shared buffer with identical per-element results.
    th = o.agg(
        percentile("o_totalprice", F.array(*[F.lit(q / 10) for q in range(1, 10)])).alias("ts")
    ).select(*[F.element_at("ts", q).alias(f"t{q}") for q in range(1, 10)])
    bucket = F.lit(9)
    for q in range(9, 0, -1):
        bucket = F.when(F.col("o_totalprice") <= F.col(f"t{q}"), q - 1).otherwise(bucket)
    return (
        o.join(F.broadcast(th))
        .groupBy(bucket.cast("int").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "q_histogram_equi_depth",
    scale_twin="q_histogram_equi_depth_approx",
    oracle="""
    WITH th AS (
      SELECT quantile_cont(o_totalprice, 0.1) AS t1, quantile_cont(o_totalprice, 0.2) AS t2,
             quantile_cont(o_totalprice, 0.3) AS t3, quantile_cont(o_totalprice, 0.4) AS t4,
             quantile_cont(o_totalprice, 0.5) AS t5, quantile_cont(o_totalprice, 0.6) AS t6,
             quantile_cont(o_totalprice, 0.7) AS t7, quantile_cont(o_totalprice, 0.8) AS t8,
             quantile_cont(o_totalprice, 0.9) AS t9
      FROM orders)
    SELECT CAST(CASE WHEN o_totalprice <= t1 THEN 0 WHEN o_totalprice <= t2 THEN 1
                WHEN o_totalprice <= t3 THEN 2 WHEN o_totalprice <= t4 THEN 3
                WHEN o_totalprice <= t5 THEN 4 WHEN o_totalprice <= t6 THEN 5
                WHEN o_totalprice <= t7 THEN 6 WHEN o_totalprice <= t8 THEN 7
                WHEN o_totalprice <= t9 THEN 8 ELSE 9 END AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT)     AS n_orders,
           ROUND(MIN(o_totalprice), 2)  AS lo,
           ROUND(MAX(o_totalprice), 2)  AS hi
    FROM orders CROSS JOIN th
    GROUP BY 1
    """,
)
def q_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram: 10 buckets holding ~10% of
    rows each, with the realized bucket boundaries — the histogram
    shape optimizers keep as column statistics (fixed-width
    q_histogram wastes buckets on sparse tails; equi-depth spends them
    where the data is).

    Scale: ONE exact-percentile aggregate row (nine thresholds)
    broadcast back, then bucket assignment is a map-only CASE and the
    final rollup partial-aggregates — no rank pass over the data, no
    sort. The exact F.percentile buffers every value in one aggregation
    buffer (the highest measured scaling exponent in SCALING.md), so
    THIS form is the oracle-checkable exact twin; production schedules
    q_histogram_equi_depth_approx (identical plan, GK-sketch
    thresholds, bounded memory) via production_specs()."""
    return equi_depth_buckets(load_table(spark, sf_dir, "orders"), F.percentile)


@query("q_histogram_equi_depth_approx")  # approximate thresholds → rows-only check
def q_histogram_equi_depth_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of q_histogram_equi_depth: identical plan, as
    both run the shared builder `equi_depth_buckets` — one
    threshold-aggregate row broadcast back over a map-only CASE
    bucket assignment — but the nine thresholds come from
    ``approx_percentile`` (Greenwald-Khanna sketch, accuracy 1e-4):
    the aggregation buffer is bounded at O(1/ε · log(εn)) REGARDLESS
    of table size, where exact ``percentile`` buffers all n values.
    Thresholds are engine-specific (sketch-dependent), hence no DuckDB
    value oracle; the equi-depth property itself is asserted in
    tests/test_properties.py (every bucket within a few % of n/10 at
    the sketch accuracy)."""
    return equi_depth_buckets(
        load_table(spark, sf_dir, "orders"),
        lambda c, qs: F.approx_percentile(c, qs, F.lit(10000)),
    )
