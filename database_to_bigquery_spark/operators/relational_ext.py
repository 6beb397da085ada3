"""Relational surface extensions (SURVEY.md §2b X8/X11): lateral
array expansion with ordinality, value-picking window functions with
explicit frames, and three-valued-logic scalar semantics. All stock
DataFrame API — narrow or single-shuffle plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data import load_table
from ..registry import query
from .pairs import bucket_pairs


@query(
    "q_posexplode_words",
    oracle="""
    WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS lst FROM part
               WHERE p_partkey < 300)
    SELECT p_partkey, CAST(u.i AS BIGINT) - 1 AS pos, lst[u.i] AS word
    FROM w CROSS JOIN LATERAL (SELECT unnest(range(1, len(lst) + 1)) AS i) u
    """,
)
def q_posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral expansion with ordinality: split part names into words
    and emit (row, position, word) via posexplode — Spark's LATERAL
    VIEW. Map-only: explode is a narrow transformation, the generator
    runs inside the scan stage, no shuffle at any scale."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    return p.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"),
    ).select("p_partkey", F.col("pos").cast("long").alias("pos"), "word")


@query(
    "q_window_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w_grow  AS first_price,
           last_value(o_totalprice)  OVER w_full  AS last_price,
           nth_value(o_totalprice, 2) OVER w_full AS second_price
    FROM orders
    WHERE o_custkey < 500
    WINDOW w_grow AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-picking window functions (first_value / last_value /
    nth_value) under two explicit ROWS frames — the growing frame and
    the whole-partition frame (last_value under the default frame is
    the classic SQL trap; the frame here is explicit on both engines).
    One shuffle on o_custkey serves all three functions (same window
    spec → single Window physical node)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    ordering = [F.col("o_orderdate"), F.col("o_orderkey")]
    w_grow = (
        Window.partitionBy("o_custkey")
        .orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w_grow).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
    )


@query(
    "q_null_semantics",
    oracle="""
    SELECT c.c_custkey,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT)        AS n_orders,
           CAST(NULLIF(COALESCE(o.n_orders, 0), 0) AS BIGINT) AS n_orders_or_null,
           ROUND(COALESCE(o.max_price, 0.0), 2)           AS max_price,
           (o.max_price IS NOT DISTINCT FROM o.min_price) AS null_safe_eq,
           ROUND(LEAST(c.c_acctbal, COALESCE(o.max_price, c.c_acctbal)), 2)    AS least_val,
           ROUND(GREATEST(c.c_acctbal, COALESCE(o.min_price, c.c_acctbal)), 2) AS greatest_val
    FROM customer c
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders,
                      MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price
               FROM orders GROUP BY 1) o ON c.c_custkey = o.o_custkey
    WHERE c.c_custkey < 800
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic scalar surface: COALESCE, NULLIF, null-safe
    equality (Spark `<=>` ≡ SQL IS NOT DISTINCT FROM), and LEAST /
    GREATEST across a nullable outer-join boundary (customers with no
    orders produce the NULL side). Aggregate-then-join keeps the
    shuffle on the pre-reduced orders side; the customer probe is
    co-partitioned on the join key."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 800)
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_totalprice").alias("min_price"),
        )
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    n_orders = F.coalesce("n_orders", F.lit(0))
    return j.select(
        "c_custkey",
        n_orders.cast("long").alias("n_orders"),
        F.nullif(n_orders, F.lit(0)).cast("long").alias("n_orders_or_null"),
        F.round(F.coalesce("max_price", F.lit(0.0)), 2).alias("max_price"),
        F.col("max_price").eqNullSafe(F.col("min_price")).alias("null_safe_eq"),
        F.round(
            F.least("c_acctbal", F.coalesce("max_price", "c_acctbal")), 2
        ).alias("least_val"),
        F.round(
            F.greatest("c_acctbal", F.coalesce("min_price", "c_acctbal")), 2
        ).alias("greatest_val"),
    )


@query(
    "q_merge_upsert",
    headline=True,
    oracle="""
    WITH updates AS (
      SELECT o_custkey AS custkey, ROUND(SUM(o_totalprice), 2) AS spend
      FROM orders GROUP BY 1),
    base AS (SELECT c_custkey AS custkey, c_name AS name,
                    ROUND(c_acctbal, 2) AS balance
             FROM customer)
    SELECT COALESCE(b.custkey, u.custkey) AS custkey,
           COALESCE(b.name, 'NEW-' || CAST(u.custkey AS VARCHAR)) AS name,
           CASE WHEN u.custkey IS NOT NULL THEN u.spend ELSE b.balance END AS balance,
           CASE WHEN b.custkey IS NULL THEN 'insert'
                WHEN u.custkey IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM base b FULL OUTER JOIN updates u ON b.custkey = u.custkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: apply a change set
    (per-customer order spend) to a base dimension — WHEN MATCHED
    UPDATE, WHEN NOT MATCHED INSERT, untouched rows kept — expressed as
    one full-outer join + row-level CASE. This is the engine's upsert
    primitive; the reference can only truncate-reload or blind-append
    (reference ``bigquery_operations.py:36``), so daily re-loads
    accumulate duplicates (SURVEY.md §7.2) — merge is the fix.

    Scale: one shuffle on the merge key for each side (orders side is
    pre-aggregated first, so the join carries one row per key); at
    warehouse scale the same plan is what Delta/Iceberg MERGE lowers
    to, minus their file-level pruning."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("balance"),
    )
    u = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("u_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    j = c.join(u, c.custkey == u.u_custkey, "full_outer")
    return j.select(
        F.coalesce("custkey", "u_custkey").alias("custkey"),
        F.coalesce("name", F.concat(F.lit("NEW-"), F.col("u_custkey").cast("string"))).alias("name"),
        F.when(F.col("u_custkey").isNotNull(), F.col("spend"))
        .otherwise(F.col("balance"))
        .alias("balance"),
        F.when(F.col("custkey").isNull(), "insert")
        .when(F.col("u_custkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


@query("q_hll_sketch_union")  # sketch estimates are engine-specific → rows-only
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality sketches — the scale path for COUNT
    DISTINCT: build one Apache DataSketches HLL per nation of customer
    keys (hll_sketch_agg), then merge sketches up to region level
    (hll_union_agg) and estimate. At 100 TB the sketch (≲1.5 KB) is
    what crosses the shuffle, never the key set, and pre-aggregated
    sketches can be stored per partition/day and re-merged for any
    rollup without rescanning.

    Estimates are engine-specific (no DuckDB twin) → rows-only check;
    the exact q_hash_agg_functions / q_approx_count_distinct cover the
    same semantics with oracle-checkable outputs."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        c.groupBy("c_nationkey")
        .agg(F.hll_sketch_agg("c_custkey").alias("sketch"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        per_nation.groupBy("n_regionkey")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_customers"))
        .select(F.col("n_regionkey").alias("regionkey"), "approx_customers")
    )


@query(
    "q_variant_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           json_valid(props)                          AS is_valid
    FROM events
    WHERE event_id < 2000
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured data via the VARIANT type (Spark 4): parse the
    JSON props column once into a binary Variant and extract typed
    fields with variant_get — the modern replacement for repeated
    get_json_object string re-parsing (one parse, then O(1) typed
    reads; at 100 TB the parse happens once per row inside the scan
    stage instead of once per extracted field)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_val"),
        F.is_variant_null(F.try_parse_json("props")).isNotNull().alias("is_valid"),
    )


@query(
    "q_fuzzy_levenshtein",
    oracle="""
    WITH p AS (SELECT p_partkey, p_brand, p_name FROM part WHERE p_partkey < 400)
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def q_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string matching: edit-distance ≤ 4 pairs of part
    names, restricted to same-brand blocks so the quadratic
    levenshtein only runs within blocks — the entity-resolution shape
    (block on a cheap exact key, verify with the expensive metric).
    The equi-join on brand is an ordinary shuffle join; nothing ever
    compares across blocks, so cost is Σ|block|², not n²."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 400)
        .select("p_partkey", "p_brand", "p_name")
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "brand")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(dist <= 4)
        .select("key_a", "key_b", dist.cast("int").alias("edit_dist"))
    )


@query(
    "q_boolean_aggregates",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE value > 100) AS BIGINT) AS n_big,
           BOOL_AND(value >= 0)  AS all_nonneg,
           BOOL_OR(value > 990)  AS any_huge
    FROM events GROUP BY event_type
    """,
)
def q_boolean_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate surface: count_if, every/bool_and,
    some/bool_or — one map-side-combined shuffle, the FILTER-clause
    family in its Spark spelling."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).alias("n_big"),
        F.every(F.col("value") >= 0).alias("all_nonneg"),
        F.some(F.col("value") > 990).alias("any_huge"),
    )


@query(
    "q_string_agg_ordered",
    oracle="""
    SELECT n_regionkey AS regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
    FROM nation GROUP BY n_regionkey
    """,
)
def q_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered string aggregation (LISTAGG/STRING_AGG):
    collect, sort row-locally, then join — the only stable spelling of
    string aggregation over distributed rows (an unordered listagg is
    partition-order-dependent and can never hash-match anything)."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv")
    )


@query(
    "q_offset_pagination",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15 OFFSET 30
    """,
)
def q_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination over a total order (page 3 of the
    price-ranked orders). The ORDER BY carries a unique tiebreak so
    every page is deterministic; Spark executes this as a TakeOrdered
    of OFFSET+LIMIT rows — no global sort materializes.

    (Pagination-by-offset is an anti-pattern for deep pages at scale —
    offset N still computes N rows; keyset pagination via WHERE
    (price, key) < last_seen is the 100 TB answer — but the surface
    itself must exist and be correct.)"""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price")
        )
        .offset(30)
        .limit(15)
    )


@query(
    "q_bitmap_distinct_rollup",
    oracle="""
    WITH per_nation AS (
      SELECT c_nationkey, COUNT(DISTINCT c_custkey) AS nation_customers
      FROM customer GROUP BY 1),
    j AS (SELECT n_regionkey, n_nationkey FROM nation)
    SELECT j.n_regionkey AS regionkey,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS region_customers
    FROM customer c JOIN j ON c.c_nationkey = j.n_nationkey
    GROUP BY 1
    """,
)
def q_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bitmap aggregates (Spark
    3.5+): per (nation, bucket) bitmaps of customer keys
    (bitmap_construct_agg), OR-merged up to region (bitmap_or_agg),
    counted with bitmap_count — the exact counterpart of the HLL
    rollup (q_hll_sketch_union): re-aggregatable to any level without
    rescanning, but with no approximation error.

    Scale: each bitmap covers a 32768-key bucket, so the shuffle
    carries (group, bucket) → 4 KB bitmaps instead of raw key sets;
    COUNT(DISTINCT) over 10⁹ keys becomes a sum of popcounts. The
    oracle computes the same number the exact classical way."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_bucket = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", F.bitmap_bucket_number("c_custkey").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("c_custkey")).alias("bm"))
    )
    return (
        per_bucket.groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("region_customers"))
    )


@query(
    "q_try_arithmetic",
    oracle="""
    SELECT o_orderkey,
           FLOOR(o_totalprice / NULLIF(o_custkey % 5, 0) * 100 + 0.5) / 100 AS price_per_prio,
           CAST(CASE WHEN o_custkey <= 9223372036854775807 / 2
                     THEN o_custkey * 2 END AS BIGINT)               AS doubled_key,
           TRY_CAST(o_orderpriority AS DOUBLE)                        AS prio_as_num
    FROM orders WHERE o_orderkey < 3000
    """,
)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: try_divide (NULL on ÷0 instead
    of ANSI error), try_multiply (NULL on overflow), try_cast (NULL on
    malformed input — o_orderpriority is '1-URGENT'-style text, so
    every cast fails soft). Under ANSI mode these are the expressions
    a pipeline uses where bad rows must quarantine rather than kill
    the job (same policy as the CSV corrupt-record channel,
    sources/files.py)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    return o.select(
        "o_orderkey",
        # floor(x*100+0.5)/100 instead of round(): Spark rounds via
        # BigDecimal HALF_UP, DuckDB via double math — they disagree on
        # exact .005 boundaries; the floor form is bit-identical on both
        (F.floor(F.try_divide("o_totalprice", F.col("o_custkey") % 5) * 100 + 0.5) / 100).alias(
            "price_per_prio"
        ),
        F.try_multiply(F.col("o_custkey"), F.lit(2)).cast("long").alias("doubled_key"),
        F.try_to_number("o_orderpriority", F.lit("999D99")).cast("double").alias("prio_as_num"),
    )


@query(
    "q_union_by_name_drift",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM (
      SELECT event_id, user_id, event_type, value
      FROM events WHERE event_type = 'purchase'
      UNION ALL BY NAME
      SELECT event_id, user_id, event_type
      FROM events WHERE event_type = 'signup'
    )
    """,
)
def q_union_by_name_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: a newer extract carries `value`, an older
    one doesn't — unionByName(allowMissingColumns=True) aligns by NAME
    and NULL-fills the gap (positional union would silently misalign or
    fail). This is the additive-schema-evolution read path, the query
    twin of the mergeSchema sink test in test_sources_sinks.py.

    Scale: pure streaming concat of the two scans — no shuffle; each
    branch keeps its own pushed filter."""
    ev = load_table(spark, sf_dir, "events")
    new_extract = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "event_type", "value"
    )
    old_extract = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "event_type"
    )
    return new_extract.unionByName(old_extract, allowMissingColumns=True)


# ------------------------------------------------- count-min sketch ----

_CMS_DEPTH = 4  # independent hash rows
_CMS_WIDTH = 64  # buckets per row


def cms_bucket(i: int, key_col):
    """CMS bucket for hash row i: bits 97-128 of md5(f"{i}:{key}") mod
    width — engine-independent (the oracle's substr(md5, 25, 8)), so
    batch, streaming, and DuckDB all build the identical sketch."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(str(i)), F.lit(":"), key_col)), 25, 8),
            16,
            10,
        ).cast("long")
        % _CMS_WIDTH
    )


@query(
    "q_countmin_sketch",
    headline=True,
    oracle=f"""
    WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    hashed AS (
      SELECT k, i,
             CAST(concat('0x', substr(md5(concat(CAST(i AS VARCHAR), ':', k)), 25, 8))
                  AS BIGINT) % {_CMS_WIDTH} AS bucket
      FROM keys CROSS JOIN (SELECT unnest(range({_CMS_DEPTH})) AS i)),
    cells AS (
      SELECT i, bucket, COUNT(*) AS cell FROM hashed GROUP BY i, bucket),
    exact AS (
      SELECT k, COUNT(*) AS exact_cnt FROM keys GROUP BY k),
    top AS (
      SELECT k, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, k LIMIT 10),
    est AS (
      SELECT t.k, t.exact_cnt, MIN(c.cell) AS cms_est
      FROM top t
      CROSS JOIN (SELECT unnest(range({_CMS_DEPTH})) AS i) d
      JOIN cells c
        ON c.i = d.i
       AND c.bucket = CAST(concat('0x', substr(md5(concat(CAST(d.i AS VARCHAR), ':', t.k)), 25, 8))
                           AS BIGINT) % {_CMS_WIDTH}
      GROUP BY t.k, t.exact_cnt)
    SELECT k AS user_key, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS overcount
    FROM est
    """,
)
def q_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: count-min sketch — mergeable frequency estimation. Builds a
    4×64 CMS over event user_ids in ONE pass (each event lands in one
    bucket per hash row via posexplode), then reports, for the top-10
    exact heavy hitters, exact count vs CMS estimate and the
    guaranteed-nonnegative overcount (CMS never undercounts).

    The bucket hash is md5-derived (bits 97-128 of md5(f"{{row}}:{{key}}"))
    so the sketch is deterministic and engine-independent — the DuckDB
    oracle rebuilds the identical sketch, making an *approximate*
    structure exactly checkable.

    Scale: the sketch is {_CMS_DEPTH}×{_CMS_WIDTH} longs regardless of input size —
    the groupBy(row, bucket) partial-aggregates map-side, so the
    shuffle carries at most cells×partitions rows; per-partition
    sketches merge by cell-wise addition, which IS that groupBy. Width
    scales as e/ε for error ε·N: at 100 TB you'd raise width into the
    2^20 range and keep this exact plan shape. The top-10 probe side is
    a broadcast of 10 rows against the 256-cell sketch."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )

    bucket = cms_bucket

    cells = (
        ev.select(
            F.posexplode(F.array(*[bucket(i, F.col("k")) for i in range(_CMS_DEPTH)])).alias(
                "i", "bucket"
            )
        )
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("cell"))
    )
    top = (
        ev.groupBy("k")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "k")
        .limit(10)
    )
    probes = top.select(
        "k",
        "exact_cnt",
        F.posexplode(F.array(*[bucket(i, F.col("k")) for i in range(_CMS_DEPTH)])).alias(
            "i", "bucket"
        ),
    )
    return (
        F.broadcast(probes)
        .join(cells, ["i", "bucket"])
        .groupBy("k", "exact_cnt")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            F.col("k").alias("user_key"),
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
        )
    )


# ---------------------------------------------------- bloom filter ----

_BF_BITS = 1024  # filter size m
_BF_K = 3  # hash functions
_BF_SEG = 32  # bits per bitmap segment (32 keeps 1<<bit inside BIGINT)


@query(
    "q_bloom_filter_membership",
    oracle=f"""
    WITH corpus AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
      FROM events WHERE event_type = 'purchase'),
    positions AS (
      SELECT k, j,
             CAST(concat('0x', substr(md5(concat('bf', CAST(j AS VARCHAR), ':', k)), 25, 8))
                  AS BIGINT) % {_BF_BITS} AS pos
      FROM corpus CROSS JOIN (SELECT unnest(range({_BF_K})) AS j)),
    bitmap AS (
      SELECT pos // {_BF_SEG} AS seg,
             bit_or(1::BIGINT << CAST(pos % {_BF_SEG} AS INT)) AS bits
      FROM positions GROUP BY 1),
    probes AS (SELECT CAST(unnest(range(30)) AS BIGINT) AS user_id),
    probe_pos AS (
      SELECT user_id, j,
             CAST(concat('0x', substr(md5(concat('bf', CAST(j AS VARCHAR), ':',
                                                 CAST(user_id AS VARCHAR))), 25, 8))
                  AS BIGINT) % {_BF_BITS} AS pos
      FROM probes CROSS JOIN (SELECT unnest(range({_BF_K})) AS j)),
    hits AS (
      SELECT p.user_id,
             MIN(CASE WHEN (COALESCE(b.bits, 0) >> CAST(p.pos % {_BF_SEG} AS INT)) & 1 = 1
                      THEN 1 ELSE 0 END) AS all_set
      FROM probe_pos p LEFT JOIN bitmap b ON b.seg = p.pos // {_BF_SEG}
      GROUP BY p.user_id),
    truth AS (
      SELECT pr.user_id, (c.k IS NOT NULL) AS true_member
      FROM probes pr LEFT JOIN corpus c ON c.k = CAST(pr.user_id AS VARCHAR))
    SELECT h.user_id, h.all_set = 1 AS bloom_member, t.true_member
    FROM hits h JOIN truth t ON t.user_id = h.user_id
    """,
)
def q_bloom_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: explicit Bloom filter as data — the mergeable membership
    sketch completing the family (HLL = distinct, CMS = frequency,
    bitmap = exact distinct, bloom = membership). A {_BF_BITS}-bit / 
    {_BF_K}-hash filter over purchase user_ids is built as a 
    {_BF_BITS // _BF_SEG}-row (segment, bits) bitmap via bit_or 
    aggregation, then 30 probe keys are tested against it alongside 
    exact truth, exposing false positives while guaranteeing zero 
    false negatives (tested).

    md5-derived bit positions make the filter engine-independent, so
    the DuckDB oracle builds the identical bitmap — same exactness
    story as q_countmin_sketch.

    Scale: the filter is m/{_BF_SEG} longs regardless of input; build
    is one map-side-combined groupBy(segment) (per-partition partial
    bitmaps OR-merge — which is why Spark's own runtime bloom pushdown
    works the same way); probes broadcast against the tiny bitmap.
    This is the portable, materializable cousin of the planner's
    bloom_filter_agg runtime filter (plan-asserted elsewhere in
    test_plan_quality.py) — use it when the filter must persist across
    jobs (e.g. incremental dedup probes shipped to another pipeline)."""
    ev = load_table(spark, sf_dir, "events")
    corpus = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").cast("string").alias("k"))
        .distinct()
    )

    def pos(j: int, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bf{j}"), F.lit(":"), key_col)), 25, 8
                ),
                16,
                10,
            ).cast("long")
            % _BF_BITS
        )

    positions = corpus.select(
        F.explode(F.array(*[pos(j, F.col("k")) for j in range(_BF_K)])).alias("pos")
    )
    bitmap = positions.groupBy((F.col("pos") / _BF_SEG).cast("long").alias("seg")).agg(
        # shiftleft() the function requires a literal shift amount;
        # the SQL form accepts a column
        F.bit_or(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BF_SEG} AS INT))")
        ).alias("bits")
    )
    probes = spark.range(30).select(F.col("id").alias("user_id"))
    probe_pos = probes.select(
        "user_id",
        F.explode(
            F.array(*[pos(j, F.col("user_id").cast("string")) for j in range(_BF_K)])
        ).alias("pos"),
    )
    hits = (
        probe_pos.join(
            F.broadcast(bitmap), (F.col("pos") / _BF_SEG).cast("long") == F.col("seg"), "left"
        )
        .withColumn(
            "hit",
            (
                F.expr(
                    f"shiftright(COALESCE(bits, CAST(0 AS BIGINT)),"
                    f" CAST(pos % {_BF_SEG} AS INT)) & 1"
                )
                == 1
            ).cast("int"),
        )
        .groupBy("user_id")
        .agg((F.min("hit") == 1).alias("bloom_member"))
    )
    truth = probes.join(
        corpus.withColumn("user_id", F.col("k").cast("long")).select(
            "user_id", F.lit(True).alias("present")
        ),
        "user_id",
        "left",
    ).select("user_id", F.coalesce("present", F.lit(False)).alias("true_member"))
    return hits.join(truth, "user_id").select("user_id", "bloom_member", "true_member")


# --------------------------------------- Spark 4.1 sketch functions ----


@query(
    "q_approx_topk",
    oracle="""
    SELECT item, CAST(cnt AS BIGINT) AS est_count, CAST(rnk AS INT) AS rnk
    FROM (SELECT event_type AS item, COUNT(*) AS cnt,
                 ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) AS rnk
          FROM events GROUP BY 1)
    WHERE rnk <= 3
    """,
)
def q_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: approximate heavy hitters via Spark 4.1's native
    approx_top_k (Misra-Gries-family summary): top-3 event types with
    estimated counts in ONE aggregation — no full groupBy + sort of the
    key universe. On a key space smaller than the summary size the
    estimates are exact, which is what makes this oracle-checkable;
    q_countmin_sketch covers the from-scratch construction with
    per-key error bounds.

    Scale: the summary is fixed-size and mergeable, so partials
    combine map-side like any algebraic aggregate; contrast with the
    exact oracle plan (full groupBy + global sort), which shuffles
    every distinct key."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
        .select(F.posexplode("tk").alias("pos", "t"))
        .select(
            F.col("t.item").alias("item"),
            F.col("t.count").cast("long").alias("est_count"),
            (F.col("pos") + 1).cast("int").alias("rnk"),
        )
    )


@query(
    "q_theta_sketch_setops",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT
      CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS clickers,
      CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS purchasers,
      CAST((SELECT COUNT(*) FROM (SELECT * FROM c UNION SELECT * FROM p)) AS BIGINT) AS union_cnt,
      CAST((SELECT COUNT(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM p)) AS BIGINT) AS both_cnt,
      CAST((SELECT COUNT(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM p)) AS BIGINT) AS click_only_cnt
    """,
)
def q_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: theta sketches (Spark 4.1 / Apache DataSketches) — the
    distinct-counting sketch that, unlike HLL, supports INTERSECTION
    and DIFFERENCE: distinct clickers ∩/∖/∪ purchasers estimated from
    two sketches built in a single scan (conditional theta_sketch_agg
    per segment; aggregates skip the NULLs the CASE produces). Below
    the sketch's nominal-entries threshold the estimates are exact —
    oracle-checked against the set-algebra truth.

    Scale: this is the audience-overlap query every event platform
    runs; exact requires co-shuffling both distinct sets, the sketch
    form ships two fixed-size summaries to the driver of ANY segment
    pair — and sketches persist, so N segments need N sketch builds,
    not N² pairwise joins."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END)"
        ).alias("skc"),
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'purchase' THEN user_id END)"
        ).alias("skp"),
    )
    return sk.select(
        F.expr("theta_sketch_estimate(skc)").cast("long").alias("clickers"),
        F.expr("theta_sketch_estimate(skp)").cast("long").alias("purchasers"),
        F.expr("theta_sketch_estimate(theta_union(skc, skp))").cast("long").alias("union_cnt"),
        F.expr("theta_sketch_estimate(theta_intersection(skc, skp))")
        .cast("long")
        .alias("both_cnt"),
        F.expr("theta_sketch_estimate(theta_difference(skc, skp))")
        .cast("long")
        .alias("click_only_cnt"),
    )


@query(
    "q_skyline_pareto",
    oracle="""
    WITH best AS (
      SELECT ROUND(p_retailprice, 2) AS price, MAX(p_size) AS size
      FROM part GROUP BY 1),
    ranked AS (
      SELECT price, size,
             MAX(size) OVER (ORDER BY price
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_best
      FROM best)
    SELECT price, CAST(size AS BIGINT) AS size
    FROM ranked
    WHERE prev_best IS NULL OR size > prev_best
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) operator: the parts not dominated on
    (minimize price, maximize size) — no other part is both cheaper and
    at-least-as-large with one strict. The classic research operator,
    here in its scalable 2D form: reduce to the best size per price
    point (one groupBy), then one price-ordered pass keeping points
    that beat the running max of everything cheaper.

    Scale: the naive skyline is an O(n²) dominance self-join; this
    formulation is one partial-aggregated shuffle on price + one
    range-partitioned global sort (Spark samples boundaries, so the
    'global' window parallelizes across partitions) over the much
    smaller distinct-price relation. Higher dimensions decompose to
    block-nested-loop over this 2D pass per block."""
    p = load_table(spark, sf_dir, "part")
    best = p.groupBy(F.round("p_retailprice", 2).alias("price")).agg(
        F.max("p_size").alias("size")
    )
    w = (
        Window.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_best = F.max("size").over(w)
    return (
        best.withColumn("prev_best", prev_best)
        .filter(F.col("prev_best").isNull() | (F.col("size") > F.col("prev_best")))
        .select("price", F.col("size").cast("long").alias("size"))
    )


@query(
    "q_cooccurrence_pairs",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2)
    SELECT part_a, part_b, CAST(n_orders AS BIGINT) AS n_orders, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_orders DESC, part_a, part_b) AS rnk
          FROM pairs)
    WHERE rnk <= 10
    """,
)
def q_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top item pairs appearing in the
    same order — the support-counting core of association mining (and
    the bipartite-graph projection: items linked through shared
    baskets).

    Scale: the self-join keys on l_orderkey, so fanout is bounded by
    basket size² (TPC-H baskets ≤ 7 lineitems → ≤ 21 pairs/order) —
    one co-partitioned join, one partial-aggregated groupBy on the
    pair. Real retail data has pathological baskets; cap them first
    (slice the per-order item array) and this plan's bound holds. The
    global top-10 window runs on the already-aggregated pair relation.

    Shape history (r10→r11): r10 replaced the self-join with a
    groupBy(order) + in-array pair emission; the r11 twin measurement
    (tools/grouped_pairs_probe.py, x50/x250 + whale-basket variants)
    REFUTED that trade for this query and it was reverted: the pair
    multiset IS the output here — no distinct is subsumed (unlike
    q_basket_affinity_lift) and no selective filter runs inside the
    array (unlike the MinHash miner's est gate) — so the grouped
    shape shuffled the SAME bytes (1058 → 1081 MB at x50) while
    paying ~4× task CPU (interpreted HOF transform/filter/flatten
    per pair vs whole-stage-codegen join rows), 5× with a whale
    basket, where the whole C(f,2) struct array also materializes in
    one task. The co-partitioned self-join is the right plan."""
    # NULL pin (advisor r10): the equi-join key drops NULL l_orderkey
    # rows implicitly; the explicit filter keeps that contract visible
    # and pushes IsNotNull to the scan.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey").isNotNull())
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.orderBy(F.col("n_orders").desc(), "part_a", "part_b")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            "part_a",
            "part_b",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@query(
    "q_largest_remainder_alloc",
    oracle="""
    WITH share AS (
      SELECT n_nationkey AS nation, COUNT(c_custkey) AS members
      FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
      GROUP BY 1),
    quota AS (
      SELECT nation, members,
             CAST(FLOOR(members * 1000.0 / SUM(members) OVER ()) AS BIGINT) AS base,
             members * 1000.0 / SUM(members) OVER ()
               - FLOOR(members * 1000.0 / SUM(members) OVER ()) AS rem
      FROM share),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, nation) AS rr,
             1000 - SUM(base) OVER () AS leftover
      FROM quota)
    SELECT nation, CAST(members AS BIGINT) AS members,
           CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS allocation
    FROM ranked
    """,
)
def q_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: distribute 1000
    integer units across nations pro-rata to customer count — floor
    each quota, then hand the leftover units to the largest fractional
    remainders. The sum is EXACTLY 1000 by construction (tested), which
    naive independent rounding cannot guarantee — the pattern behind
    budget splits, seat apportionment, and sampling-quota assignment.

    Scale: the big side reduces to one groupBy; everything after runs
    on the |groups| relation (two windows over 25 rows here; at any
    scale the group count, not the fact count, bounds the window)."""
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nation")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"), "c_custkey"
    )
    share = n.join(c, "nation", "left").groupBy("nation").agg(
        F.count("c_custkey").alias("members")
    )
    wall = Window.partitionBy()
    exact = F.col("members") * 1000.0 / F.sum("members").over(wall)
    quota = share.select(
        "nation",
        "members",
        F.floor(exact).cast("long").alias("base"),
        (exact - F.floor(exact)).alias("rem"),
    )
    ranked = quota.select(
        "*",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "nation")).alias("rr"),
        (F.lit(1000) - F.sum("base").over(wall)).alias("leftover"),
    )
    return ranked.select(
        "nation",
        F.col("members").cast("long").alias("members"),
        (
            F.col("base") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).cast("long").alias("allocation"),
    )


@query(
    "q_benford_test",
    oracle="""
    WITH digits AS (
      -- FLOOR, not a bare BIGINT cast: DuckDB's double->int cast
      -- rounds to nearest while Spark's truncates
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
      FROM orders WHERE o_totalprice >= 1),
    counts AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT SUM(n) AS t FROM counts)
    SELECT d AS leading_digit,
           CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / t, 6) AS observed_freq,
           ROUND(LN(1.0 + 1.0 / d) / LN(10), 6) AS benford_freq,
           ROUND(n * 1.0 / t - LN(1.0 + 1.0 / d) / LN(10), 6) AS deviation
    FROM counts CROSS JOIN tot
    """,
)
def q_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of order totals: observed leading-
    digit frequencies vs the Benford expectation log10(1 + 1/d) — the
    fraud/anomaly screen auditors run on financial magnitude columns
    (fabricated numbers rarely follow the law; naturally-grown
    magnitudes do).

    Scale: map-only digit extraction, one 9-key groupBy (partial-
    aggregated), and the comparison arithmetic on 9 rows. Truncating
    to BIGINT before taking the first character avoids scientific
    notation in string rendering on either engine."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(F.col("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("int")
        .alias("d")
    )
    counts = d.groupBy("d").agg(F.count("*").alias("n"))
    wall = Window.partitionBy()
    t = F.sum("n").over(wall)
    benford = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    return counts.select(
        F.col("d").alias("leading_digit"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") * 1.0 / t, 6).alias("observed_freq"),
        F.round(benford, 6).alias("benford_freq"),
        F.round(F.col("n") * 1.0 / t - benford, 6).alias("deviation"),
    )


@query(
    "q_partial_agg_merge",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             COUNT(*) AS n, SUM(value) AS s,
             MIN(value) AS mn, MAX(value) AS mx,
             SUM(value * value) AS s2
      FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)  AS n_days,
           CAST(SUM(n) AS BIGINT)    AS n_events,
           ROUND(SUM(s), 4)          AS total,
           ROUND(SUM(s) / SUM(n), 4) AS mean,
           ROUND(MIN(mn), 4)         AS vmin,
           ROUND(MAX(mx), 4)         AS vmax,
           ROUND((SUM(s2) - SUM(s) * SUM(s) / SUM(n)) / SUM(n), 4) AS variance
    FROM daily GROUP BY event_type
    """,
)
def q_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via mergeable partial states — the
    pattern that replaces whole-history recomputes in a daily pipeline.
    Stage 1 reduces each day to sufficient statistics per key
    (count, sum, min, max, sum-of-squares); stage 2 merges partials
    across days into exact totals, mean, and variance. Because every
    statistic is associative+commutative, yesterday's partials never
    need recomputing: a new day appends one partial row per key and
    the merge is a key-sized aggregation, not a 100 TB rescan.

    The oracle recomputes the same daily-partial → merge pipeline in
    SQL, and the variance identity (Σx² − (Σx)²/n)/n demonstrates the
    non-obvious mergeable form of a "non-mergeable-looking" statistic.

    Scale: both stages are hash aggregations with map-side partials;
    stage 2's input is |keys|×|days| rows regardless of event volume.
    In production stage-1 output is the day-partitioned state table
    (sinks/writers.py ParquetSink partitionBy) that each daily run
    appends to — this query is the read path over that state.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    )
    s, n, s2 = F.sum("s"), F.sum("n"), F.sum("s2")
    return daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        n.cast("long").alias("n_events"),
        F.round(s, 4).alias("total"),
        F.round(s / n, 4).alias("mean"),
        F.round(F.min("mn"), 4).alias("vmin"),
        F.round(F.max("mx"), 4).alias("vmax"),
        F.round((s2 - s * s / n) / n, 4).alias("variance"),
    )


@query(
    "q_basket_affinity_lift",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem),
    n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM items),
    supp AS (SELECT part, COUNT(*) AS s FROM items GROUP BY part),
    pairs AS (
      SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS n_both
      FROM items a JOIN items b ON a.ok = b.ok AND a.part < b.part
      GROUP BY 1, 2),
    scored AS (
      SELECT part_a, part_b, n_both, sa.s AS s_a, sb.s AS s_b, n_baskets,
             ROUND(CAST(n_both AS DOUBLE) / sa.s, 4) AS confidence,
             ROUND(CAST(n_both AS DOUBLE) * n_baskets / (sa.s * sb.s), 4) AS lift
      FROM pairs
      JOIN supp sa ON sa.part = pairs.part_a
      JOIN supp sb ON sb.part = pairs.part_b
      CROSS JOIN n
      WHERE n_both >= 2)
    SELECT part_a, part_b, CAST(n_both AS BIGINT) AS n_both,
           CAST(s_a AS BIGINT) AS s_a, CAST(s_b AS BIGINT) AS s_b,
           confidence, lift
    FROM scored
    ORDER BY lift DESC, part_a, part_b LIMIT 15
    """,
)
def q_basket_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over market baskets: for item pairs
    co-bought in ≥2 orders, support counts, confidence P(b|a) and lift
    P(ab)/(P(a)P(b)) — the full a-priori rule scoring that
    q_cooccurrence_pairs' raw support counts feed.

    Scale: same basket-bounded self-join as q_cooccurrence_pairs
    (fanout ≤ basket size² per order, never |items|²); item supports
    are one hash aggregate and broadcast back; the basket total is a
    1-row broadcast. Top-15 is ordered on ROUNDED lift with pair
    tie-breaks — a cross-engine-stable cut (text_pmi_collocations
    policy)."""
    # One groupBy(order) with in-array pair emission
    # (`pairs.bucket_pairs`): collect_set subsumes the (ok, part)
    # distinct, so the single exchange on l_orderkey replaces it and
    # the self-join's two ok-keyed sides. The persisted per-basket
    # relation feeds the basket total, the supports, and the pair
    # counts.
    # NULL l_orderkey filtered for the same reason as
    # q_cooccurrence_pairs (advisor r10): the old (ok, part) distinct +
    # self-join dropped NULL ok via the equi-key; a groupBy would keep
    # it as a basket.
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey").isNotNull())
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .persist()
    )
    n = baskets.agg(F.count("*").alias("n_baskets"))
    supp = baskets.select(F.explode("items").alias("part")).groupBy("part").agg(
        F.count("*").alias("s")
    )
    pairs = (
        bucket_pairs(baskets, "items", {"part_a": "a", "part_b": "b"})
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    sa = supp.select(F.col("part").alias("part_a"), F.col("s").alias("s_a"))
    sb = supp.select(F.col("part").alias("part_b"), F.col("s").alias("s_b"))
    scored = (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .join(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("s_a").cast("long").alias("s_a"),
            F.col("s_b").cast("long").alias("s_b"),
            F.round(F.col("n_both").cast("double") / F.col("s_a"), 4).alias(
                "confidence"
            ),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_baskets")
                / (F.col("s_a") * F.col("s_b")),
                4,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "part_a", "part_b").limit(15)


# ------------------------------------------------ space-saving top-k ----

_SS_SHARDS = 8
_SS_CAPACITY = 16


@query("q_spacesaving_topk")  # sequential sketch — no SQL twin (rows-only)
def q_spacesaving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-saving heavy hitters (Metwally et al., ICDT 2005): per
    shard, at most `capacity` counters track candidate frequent
    users; a new key evicts the minimum counter and inherits its
    count as its error bound. Guarantees — for ANY arrival order:
    est ≥ true ≥ est − err, and every key with true shard-count
    > n_shard/capacity is present. The deterministic replay order
    (ts, event_id) and smallest-id eviction make the output stable
    across runs/partitionings; the guarantees are what
    tests/test_llm_ops.py asserts against exact counts.

    Scale: sharding by key hash bounds per-task state at `capacity`
    counters regardless of stream size (the whole point vs exact
    groupBy at 100 TB: counters fit in L1, no per-key state growth);
    summaries are tiny and merge by union — any global heavy hitter
    is heavy in its own shard. The streaming twin
    (streaming/jobs.py:spacesaving_user_counts) maintains the same
    state across micro-batches via applyInPandasWithState."""
    import pandas as pd  # noqa: F401

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    def summarize(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"])
        counters: dict[int, list[int]] = {}  # uid -> [count, err]
        n = 0
        for uid in pdf["user_id"]:
            n += 1
            uid = int(uid)
            if uid in counters:
                counters[uid][0] += 1
            elif len(counters) < _SS_CAPACITY:
                counters[uid] = [1, 0]
            else:
                vid, (vc, _) = min(
                    counters.items(), key=lambda kv: (kv[1][0], kv[0])
                )
                del counters[vid]
                counters[uid] = [vc + 1, vc]
        shard = int(pdf["user_id"].iat[0]) % _SS_SHARDS if len(pdf) else 0
        return pd.DataFrame(
            {
                "shard": shard,
                "user_id": list(counters),
                "est_count": [c for c, _ in counters.values()],
                "max_err": [e for _, e in counters.values()],
                "n_shard": n,
            }
        )

    return (
        ev.withColumn("shard", (F.col("user_id") % _SS_SHARDS).cast("int"))
        .groupBy("shard")
        .applyInPandas(
            summarize,
            "shard int, user_id long, est_count long, max_err long, n_shard long",
        )
    )


@query(
    "q_merge_with_delete",
    oracle="""
    WITH delta AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 50 = 0 THEN 'D'
                  ELSE 'U' END AS op,
             ROUND(c_acctbal + 100.0, 2) AS new_balance
      FROM customer WHERE c_custkey % 5 = 0),
    base AS (SELECT c_custkey AS k, c_name AS name,
                    ROUND(c_acctbal, 2) AS balance
             FROM customer)
    SELECT b.k AS custkey, b.name,
           CASE WHEN d.op = 'U' THEN d.new_balance ELSE b.balance END AS balance,
           CASE WHEN d.op = 'D' THEN 'delete'
                WHEN d.op = 'U' THEN 'update'
                ELSE 'keep' END AS action
    FROM base b LEFT JOIN delta d ON b.k = d.k
    WHERE d.op IS DISTINCT FROM 'D'
    """,
)
def q_merge_with_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with the full disposition set — WHEN MATCHED AND
    op = 'D' THEN DELETE, WHEN MATCHED THEN UPDATE, ELSE keep —
    applying a CDC delta (every 5th customer changed, every 50th
    tombstoned) to a type-1 dimension. Completes q_merge_upsert's
    insert/update surface with the delete branch every CDC consumer
    needs: deleted rows vanish from the output (the filter IS the
    delete), surviving rows carry their disposition for audit. The
    +100.0 balance update is exact float arithmetic (the SCALE.md
    ROUND-tie rule).

    Scale: the delta is small by nature → broadcast left join; the
    delete is a predicate, not a rewrite — at file-format level this
    is what Delta/Iceberg MERGE's delete branch lowers to before
    file rewriting."""
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("balance"),
    )
    delta = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.when(F.col("c_custkey") % 50 == 0, "D").otherwise("U").alias("op"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("new_balance"),
        )
    )
    j = base.join(F.broadcast(delta), base.custkey == delta.k, "left")
    return (
        j.filter(~F.col("op").eqNullSafe("D"))
        .select(
            "custkey",
            "name",
            F.when(F.col("op") == "U", F.col("new_balance"))
            .otherwise(F.col("balance"))
            .alias("balance"),
            F.when(F.col("op") == "D", "delete")
            .when(F.col("op") == "U", "update")
            .otherwise("keep")
            .alias("action"),
        )
    )
