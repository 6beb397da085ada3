"""Oracle-checked query forms of the reference's pipeline operators
(SURVEY.md §2a S1-S14), expressed over the driver fixtures.

The library implementations live in plans/, sources/, sinks/,
functions/. S1, S4, S5/S6 and S7 call that library code, so the DuckDB
oracle checks value-for-value the same functions the ETL CLI runs.
S3 and S14 keep their own forms: S3's cutoff is derived from the data
(the library takes a fixed day), and the library's S14 count rides
the sink's write pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import load_table
from ..functions.reference_transforms import cast_bools, format_datetimes_as_strings
from ..plans.table_spec import TableSpec
from ..registry import query
from ..sources.catalog import discover_tables

_CATALOG_ALLOWLIST = ["region", "nation", "lineitem", "no_such_table"]


@query(
    "s1_catalog_allowlist",
    oracle="""
    SELECT t AS table_name FROM (VALUES
      ('region'),('nation'),('customer'),('supplier'),('part'),
      ('orders'),('lineitem'),('events'),('documents'),('embeddings')) v(t)
    WHERE t IN ('region','nation','lineitem','no_such_table')
    """,
)
def s1_catalog_allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: catalog listing ∩ static allowlist (reference
    mysql_operations.py:45-51) via ``discover_tables``. Metadata-only
    at any scale."""
    return discover_tables(spark, sf_dir, _CATALOG_ALLOWLIST)


@query(
    "s2_full_scan",
    oracle="SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS s_acctbal FROM supplier",
)
def s2_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: SELECT * full table extract (reference
    mysql_operations.py:25) — as a distributed parquet scan."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("s_acctbal")
    )


@query(
    "s3_incremental_day_slice",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT MAX(CAST(ts AS DATE)) - 1 FROM events)
    """,
)
def s3_incremental_day_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: the daily incremental window (reference
    mysql_operations.py:21-23) — 'yesterday' relative to the data's max
    day so the query is deterministic. The cutoff is computed as a
    1-row aggregate broadcast into the filter (no driver collect);
    Catalyst turns the date range into a pushed scan predicate."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(F.date_sub(F.max(F.to_date("ts")), 1).alias("yday"))
    return (
        ev.join(F.broadcast(cutoff))
        .filter(F.to_date("ts") == F.col("yday"))
        .select("event_id", "user_id", "event_type")
    )


@query(
    "s4_datetime_format",
    oracle="""
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM events WHERE event_id < 1000
    """,
)
def s4_datetime_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: the reference's datetime→string wire format (reference
    mysql_operations.py:30-31) via ``format_datetimes_as_strings`` —
    sub-second precision intentionally truncated, reproduced exactly."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return format_datetimes_as_strings(ev.select("event_id", "ts")).withColumnRenamed(
        "ts", "ts_str"
    )


@query(
    "s5_s6_rename_drop",
    oracle="""
    SELECT o_orderkey AS OrderKey, o_custkey AS CustKey,
           o_orderstatus AS Status, ROUND(o_totalprice, 2) AS TotalPrice
    FROM orders
    """,
)
def s5_s6_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+S6: static rename map + column drop (reference
    transformations.py:10-20) via ``TableSpec.transform`` — one narrow
    projection; Catalyst prunes dropped columns out of the scan (the
    reference always reads them)."""
    spec = TableSpec(
        name="orders",
        rename={
            "o_orderkey": "OrderKey",
            "o_custkey": "CustKey",
            "o_orderstatus": "Status",
            "o_totalprice": "TotalPrice",
        },
        drop=["o_orderdate", "o_orderpriority"],
    )
    out = spec.transform(load_table(spark, sf_dir, "orders"))
    return out.withColumn("TotalPrice", F.round("TotalPrice", 2))


@query(
    "s7_bool_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_linenumber % 2 AS BOOLEAN) AS is_odd_line
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def s7_bool_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: int→boolean cast semantics (reference transformations.py:
    33-37) via ``cast_bools``: 0→false, nonzero→true, NULL→NULL."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    flags = li.select(
        "l_orderkey", "l_linenumber", (F.col("l_linenumber") % 2).alias("is_odd_line")
    )
    return cast_bools(flags, ["is_odd_line"])


@query(
    "s9_empty_extract",
    oracle="SELECT event_id, event_type FROM events WHERE event_type = 'no_such_type'",
)
def s9_empty_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: the empty-extract path (reference etl_process.py:21) — a
    filter that matches nothing; downstream must handle 0 rows."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "no_such_type").select("event_id", "event_type")


@query(
    "s10_schema_enforce",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nation_id,
           CAST(n_name AS VARCHAR)     AS nation_name,
           CAST(n_regionkey AS BIGINT) AS region_id
    FROM nation
    """,
)
def s10_schema_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: declared-schema projection+cast (reference
    bigquery_operations.py:14-27) via apply_declared_schema."""
    from pyspark.sql import types as T

    from ..functions.reference_transforms import apply_declared_schema

    n = load_table(spark, sf_dir, "nation").withColumnsRenamed(
        {"n_nationkey": "nation_id", "n_name": "nation_name", "n_regionkey": "region_id"}
    )
    declared = T.StructType(
        [
            T.StructField("nation_id", T.LongType()),
            T.StructField("nation_name", T.StringType()),
            T.StructField("region_id", T.LongType()),
        ]
    )
    return apply_declared_schema(n, declared)


@query(
    "s14_audit_counts",
    oracle="""
    SELECT 'lineitem' AS table_name, COUNT(*) AS n_rows FROM lineitem
    UNION ALL SELECT 'orders'   AS table_name, COUNT(*) AS n_rows FROM orders
    UNION ALL SELECT 'customer' AS table_name, COUNT(*) AS n_rows FROM customer
    """,
)
def s14_audit_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: the post-load audit (reference mysql_operations.py:33,
    bigquery_operations.py:46-48) as a union of count aggregates."""
    parts = []
    for t in ["lineitem", "orders", "customer"]:
        parts.append(
            load_table(spark, sf_dir, t)
            .agg(F.count("*").alias("n_rows"))
            .select(F.lit(t).alias("table_name"), "n_rows")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cdc_snapshots(o: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Yesterday's and today's full extracts of an orders relation
    `o`, derived deterministically so the oracles can reproduce them:
    "old" drops keys ≡3 (mod 10); "new" drops keys ≡7 and bumps the
    o_totalprice of keys ≡0 (mod 5). The bump is an exact +1000.0
    (same IEEE add in both engines) rather than a ×1.1-then-ROUND,
    whose half-ties Spark (BigDecimal HALF_UP) and DuckDB (double
    rounding) resolve differently. Both keep `o`'s columns. Callers:
    q_snapshot_diff_cdc, q_scd2_apply_changes and
    q_ivm_join_maintenance."""
    key = F.col("o_orderkey")
    old = o.filter(key % 10 != 3)
    new = o.filter(key % 10 != 7).withColumn(
        "o_totalprice",
        F.when(key % 5 == 0, F.col("o_totalprice") + 1000.0).otherwise(F.col("o_totalprice")),
    )
    return old, new


@query(
    "q_snapshot_diff_cdc",
    headline=True,
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 3),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 7)
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                WHEN new.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           old.o_totalprice AS old_price,
           new.o_totalprice AS new_price
    FROM old FULL OUTER JOIN new USING (o_orderkey)
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_totalprice <> new.o_totalprice
    """,
)
def q_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff change-data-capture: given yesterday's and today's
    full extracts of a table with no change log, emit the insert /
    update / delete delta — the standard way to retrofit incremental
    loads (reference S3's --daily mode) onto a source that can't
    provide one (the reference's fallback is a full refresh,
    etl_process.py --daily).

    The two snapshots are `cdc_snapshots` of orders.

    Scale: ONE full-outer sort-merge join on the primary key — the
    minimal possible cost for snapshot differencing (every row of both
    snapshots must be looked at once). At 100 TB both extracts should
    be written bucketed by the key (sinks/layout.py) so the diff joins
    with zero exchange; the unchanged majority is filtered before
    anything downstream shuffles again."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old, new = cdc_snapshots(o)
    j = old.alias("old").join(new.alias("new"), "o_orderkey", "full_outer")
    op, np = F.col("old.o_totalprice"), F.col("new.o_totalprice")
    return (
        j.withColumn(
            "change_type",
            F.when(op.isNull(), "insert")
            .when(np.isNull(), "delete")
            .otherwise("update"),
        )
        .filter(op.isNull() | np.isNull() | (op != np))
        .select(
            "o_orderkey",
            "change_type",
            op.alias("old_price"),
            np.alias("new_price"),
        )
    )


@query(
    "q_compaction_binpack",
    oracle="""
    WITH files AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             COUNT(*) * 100 AS est_bytes
      FROM lineitem GROUP BY 1),
    packed AS (
      SELECT day, est_bytes,
             SUM(est_bytes) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before
      FROM files)
    SELECT CAST(COALESCE(cum_before, 0) // 1000000 AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT)        AS n_files,
           CAST(SUM(est_bytes) AS BIGINT)  AS total_bytes,
           MIN(day)                        AS day_from,
           MAX(day)                        AS day_to
    FROM packed GROUP BY 1
    """,
)
def q_compaction_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: group per-day file fragments
    into ~1 MB rewrite bins — the maintenance pass every long-running
    partitioned sink needs (compact_parquet_dir in sinks/writers.py is
    the executor; this query is the planner that decides WHAT to
    rewrite together, like Delta OPTIMIZE / Iceberg rewrite_data_files
    bin-packing). File sizes are estimated at 100 bytes/row from the
    day's row count — on a real lakehouse this column comes from the
    manifest, and the plan below is unchanged.

    Packing rule: cumulative next-fit — a file joins bin
    floor(bytes_before_it / cap), so bins fill to the cap and only
    the file straddling a boundary overflows (the streaming-friendly
    rule; true first-fit-decreasing is sequential and buys little for
    compaction). Integer arithmetic only → identical on both engines.

    Scale: the heavy part is the per-day size rollup (one
    partial-aggregated shuffle over the fact table / manifest); the
    ordered cumulative window runs on the FILE-MANIFEST table —
    metadata-sized, thousands of rows per table at 100 TB — so its
    single-partition stage is O(#files), never O(rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        (F.count("*") * 100).alias("est_bytes")
    )
    from pyspark.sql import Window as W

    cum_before = F.coalesce(
        F.sum("est_bytes").over(
            W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    packed = files.withColumn(
        "bin_id", F.floor(cum_before / 1_000_000).cast("long")
    )
    return packed.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("est_bytes").cast("long").alias("total_bytes"),
        F.min("day").alias("day_from"),
        F.max("day").alias("day_to"),
    )


@query(
    "q_scd2_apply_changes",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 3),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 7),
    j AS (
      SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS k,
             old.o_totalprice AS op, new.o_totalprice AS np
      FROM old FULL OUTER JOIN new USING (o_orderkey))
    -- surviving unchanged current rows
    SELECT k AS o_orderkey, op AS price,
           DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
           TRUE AS is_current
    FROM j WHERE op IS NOT NULL AND np IS NOT NULL AND op = np
    UNION ALL
    -- updated: close the old version at the change date
    SELECT k, op, DATE '2024-01-01', DATE '2024-02-01', FALSE
    FROM j WHERE op IS NOT NULL AND np IS NOT NULL AND op <> np
    UNION ALL
    -- updated: open the new version
    SELECT k, np, DATE '2024-02-01', NULL, TRUE
    FROM j WHERE op IS NOT NULL AND np IS NOT NULL AND op <> np
    UNION ALL
    -- inserted: brand-new current row
    SELECT k, np, DATE '2024-02-01', NULL, TRUE
    FROM j WHERE op IS NULL
    UNION ALL
    -- deleted: close with no successor
    SELECT k, op, DATE '2024-01-01', DATE '2024-02-01', FALSE
    FROM j WHERE np IS NULL
    """,
)
def q_scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 change application: take the q_snapshot_diff_cdc
    delta and produce the updated slowly-changing dimension — updates
    close the old version (valid_to = change date) and open a new
    current one, inserts open new rows, deletes close rows with no
    successor, unchanged rows pass through — the WHEN MATCHED /
    NOT MATCHED merge a warehouse dimension load runs every day
    (q_merge_upsert is the flat upsert; this keeps full history).

    The old snapshot's rows are dated 2024-01-01 and the batch applies
    on 2024-02-01 (fixed dates so the oracle reproduces them; in
    production these are the load dates).

    Scale: ONE full-outer join on the dimension key (bucket both
    snapshots to make it exchange-free — sinks/layout.py), then the
    five disposition branches are projections of that single joined
    relation: Spark computes the join once and fans out map-side;
    history never rewrites, only closes."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old, new = cdc_snapshots(o)
    j = (
        old.alias("old")
        .join(new.alias("new"), "o_orderkey", "full_outer")
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("old.o_totalprice").alias("op"),
            F.col("new.o_totalprice").alias("np"),
        )
    )
    d0 = F.to_date(F.lit("2024-01-01"))
    d1 = F.to_date(F.lit("2024-02-01"))
    null_date = F.lit(None).cast("date")
    both = F.col("op").isNotNull() & F.col("np").isNotNull()

    def row(cond, price, vfrom, vto, current):
        return j.filter(cond).select(
            F.col("k").alias("o_orderkey"),
            price.alias("price"),
            vfrom.alias("valid_from"),
            vto.alias("valid_to"),
            F.lit(current).alias("is_current"),
        )

    unchanged = row(both & (F.col("op") == F.col("np")), F.col("op"), d0, null_date, True)
    upd_close = row(both & (F.col("op") != F.col("np")), F.col("op"), d0, d1, False)
    upd_open = row(both & (F.col("op") != F.col("np")), F.col("np"), d1, null_date, True)
    ins = row(F.col("op").isNull(), F.col("np"), d1, null_date, True)
    dele = row(F.col("np").isNull(), F.col("op"), d0, d1, False)
    return (
        unchanged.unionByName(upd_close)
        .unionByName(upd_open)
        .unionByName(ins)
        .unionByName(dele)
    )


@query(
    "q_ivm_join_maintenance",
    oracle="""
    WITH new AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 7)
    SELECT c_nationkey,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM new JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def q_ivm_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance over a JOIN: the view
    V = revenue per customer nation (orders ⋈ customer, grouped) is
    maintained from the OLD snapshot plus the CDC delta — deletes
    subtract their old contribution, inserts add, updates add the
    difference — never rescanning old orders. The oracle recomputes V
    directly from the new snapshot, so matching it PROVES the delta
    algebra (ΔV = Δorders ⋈ customer, then merge) is exact.

    This is q_partial_agg_merge's idea lifted to joins: because the
    aggregate is algebraic (SUM) and the dimension side is unchanged,
    ΔV needs only the delta joined to customer. Scale: the delta is
    tiny in a real daily load (here it's mod-derived so the oracle can
    reproduce it) — its join broadcasts the dim or probes bucketed
    files, and V_old merges with ΔV on the group key: total cost is
    O(|delta| + |V|), independent of the base table size. That
    independence is the entire point of IVM at 100 TB."""
    old, new = cdc_snapshots(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # the materialized view as of yesterday
    v_old = (
        old.join(F.broadcast(c), old.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum("o_totalprice").alias("v"))
    )
    # CDC delta with signed contributions (insert +np, delete -op,
    # update np-op); unchanged rows contribute 0 and are dropped
    d = (
        old.alias("a")
        .join(new.alias("b"), "o_orderkey", "full_outer")
        .select(
            F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("custkey"),
            (
                F.coalesce(F.col("b.o_totalprice"), F.lit(0.0))
                - F.coalesce(F.col("a.o_totalprice"), F.lit(0.0))
            ).alias("contrib"),
        )
        .filter(F.col("contrib") != 0.0)
    )
    dv = (
        d.join(F.broadcast(c), d.custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum("contrib").alias("dv"))
    )
    return (
        v_old.join(dv, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            F.round(
                F.coalesce(F.col("v"), F.lit(0.0)) + F.coalesce(F.col("dv"), F.lit(0.0)),
                2,
            ).alias("revenue"),
        )
    )


@query(
    "q_table_checksum",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST('0x' || substr(md5(
                 CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(o_custkey AS VARCHAR) || '|' ||
                 o_orderstatus || '|' ||
                 CAST(o_totalprice AS VARCHAR)), 1, 12) AS BIGINT))
               AS VARCHAR) AS content_checksum
    FROM orders
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table content checksum: per-row md5 over a
    canonical column serialization, truncated to 48 bits and SUMMED —
    one number that equals iff two copies of the table hold the same
    rows. This is the integrity check the reference's row-count audit
    (S14) cannot do: counts match trivially after a corrupt load;
    checksums don't.

    Addition is commutative, so the checksum is independent of row
    order and partitioning — each partition sums locally and the
    merge is one number per partition (the cheapest possible
    cross-system validation at 100 TB: run the same expression on
    source and replica, ship back a handful of bytes). The 48-bit
    terms accumulate in DECIMAL(38,0) — int64 overflows past ~32k
    rows·2^48, which the sf0.1 census caught the hard way; DuckDB's
    BIGINT sum widens to HUGEINT, so both sides serialize the wide
    sum as a string for comparison.

    Cross-engine canonicalization: both engines print BIGINTs
    identically and shortest-round-trip doubles below 1e7
    identically; the '|' separator prevents field-concatenation
    ambiguity. Real deployments should CAST every column explicitly
    and pin a NULL sentinel."""
    o = load_table(spark, sf_dir, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("string"),
    )
    term = (
        F.conv(F.substring(F.md5(row_repr), 1, 12), 16, 10)
        .cast("long")
        .cast("decimal(38,0)")
    )
    return o.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(term).cast("decimal(38,0)").cast("string").alias("content_checksum"),
    )


@query(
    "q_k_anonymity_audit",
    oracle="""
    WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
             COUNT(*) AS grp_n
      FROM customer GROUP BY 1, 2, 3)
    SELECT CAST(COUNT(*) AS BIGINT)                       AS n_classes,
           CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below_k,
           CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
             AS users_at_risk,
           CAST(MIN(grp_n) AS BIGINT)                     AS min_class_size
    FROM q
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (nation, market segment, account-balance band): how many
    equivalence classes exist, how many fall below k, and how many
    individuals sit in those re-identifiable classes — the governance
    gate a dataset must pass before leaving the warehouse (a class of
    1 means those quasi-identifiers pinpoint a person).

    Scale: one partial-aggregated shuffle on the QI tuple, then a
    1-row summary — the audit costs a groupBy no matter how wide the
    table is. Generalization (coarser bands) and suppression (drop
    below-k rows: semi-join this class list back) are both one step
    from this plan."""
    c = load_table(spark, sf_dir, "customer")
    q = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_band"),
    ).agg(F.count("*").alias("grp_n"))
    return q.agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum(F.when(F.col("grp_n") < 5, 1).otherwise(0))
        .cast("long")
        .alias("classes_below_k"),
        F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0))
        .cast("long")
        .alias("users_at_risk"),
        F.min("grp_n").cast("long").alias("min_class_size"),
    )


# ------------------------------------------------- GDPR erasure cascade ----


@query(
    "q_gdpr_erasure_audit",
    oracle="""
    WITH forget AS (
      SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
    co AS (
      SELECT COUNT(*) FILTER (WHERE k IS NOT NULL) AS purged, COUNT(*) AS total
      FROM customer LEFT JOIN forget ON c_custkey = k),
    oo AS (
      SELECT COUNT(*) FILTER (WHERE k IS NOT NULL) AS purged, COUNT(*) AS total
      FROM orders LEFT JOIN forget ON o_custkey = k),
    li AS (
      SELECT COUNT(*) FILTER (WHERE f IS NOT NULL) AS purged, COUNT(*) AS total
      FROM lineitem LEFT JOIN (
        SELECT DISTINCT o_orderkey AS f FROM orders JOIN forget ON o_custkey = k
      ) ON l_orderkey = f),
    ev AS (
      SELECT COUNT(*) FILTER (WHERE k IS NOT NULL) AS purged, COUNT(*) AS total
      FROM events LEFT JOIN forget ON user_id = k)
    SELECT 'customer' AS tbl, CAST(purged AS BIGINT) AS rows_purged,
           CAST(total - purged AS BIGINT) AS rows_retained FROM co
    UNION ALL SELECT 'orders', CAST(purged AS BIGINT), CAST(total - purged AS BIGINT) FROM oo
    UNION ALL SELECT 'lineitem', CAST(purged AS BIGINT), CAST(total - purged AS BIGINT) FROM li
    UNION ALL SELECT 'events', CAST(purged AS BIGINT), CAST(total - purged AS BIGINT) FROM ev
    """,
)
def q_gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure planning: given a deletion list of
    subject keys (here: custkey % 97 == 0), walk the foreign-key
    cascade (customer → orders → lineitem, plus the events stream
    keyed by user_id) and report per-table purge vs retain counts —
    the audit artifact a GDPR/CCPA erasure run must produce BEFORE
    the destructive anti-join delete, and the same joins the delete
    itself then uses (`df.join(forget, ..., "left_anti")`).

    Scale: the deletion list is small by nature → broadcast semi
    probes; the one transitive hop (orders of forgotten customers →
    their lineitems) materializes only the affected orderkey set,
    itself broadcast-sized. Every table is scanned exactly once and
    only counts cross the wire."""
    forget = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("k"))
    )

    def audit(tbl: str, df: DataFrame, key: str, probe: DataFrame) -> DataFrame:
        hit = df.join(F.broadcast(probe), F.col(key) == F.col(probe.columns[0]), "left")
        return hit.agg(
            F.lit(tbl).alias("tbl"),
            F.count(probe.columns[0]).cast("long").alias("rows_purged"),
            (F.count("*") - F.count(probe.columns[0])).cast("long").alias("rows_retained"),
        )

    orders = load_table(spark, sf_dir, "orders")
    forgotten_orders = (
        orders.join(F.broadcast(forget), F.col("o_custkey") == F.col("k"))
        .select(F.col("o_orderkey").alias("f"))
        .distinct()
    )
    parts = [
        audit("customer", load_table(spark, sf_dir, "customer"), "c_custkey", forget),
        audit("orders", orders, "o_custkey", forget),
        audit("lineitem", load_table(spark, sf_dir, "lineitem"), "l_orderkey", forgotten_orders),
        audit("events", load_table(spark, sf_dir, "events"), "user_id", forget),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------- partition backfill ----


@query(
    "q_backfill_plan",
    oracle="""
    WITH src AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS expected_rows
      FROM events GROUP BY 1),
    mx AS (SELECT MAX(day) AS max_day FROM src),
    loaded AS (
      SELECT day FROM src, mx
      WHERE day <= max_day - 3 AND day(day) % 7 <> 3)
    SELECT s.day,
           CASE WHEN day(s.day) % 7 = 3 AND s.day <= mx.max_day - 3
                THEN 'failed_load' ELSE 'pending_recent' END AS status,
           CAST(s.expected_rows AS BIGINT) AS expected_rows
    FROM src s, mx
    WHERE s.day NOT IN (SELECT day FROM loaded)
    """,
)
def q_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner: diff the source's day partitions against the
    sink's loaded set and emit the days to (re)load, classified as
    gaps (a load that ran and failed) vs the expected recent lag —
    the decision table an orchestrator turns into backfill jobs, and
    the piece the reference's fixed `--daily` window cannot express
    (it reloads yesterday only; a 3-day outage silently loses days).
    The sink state is simulated deterministically: loaded = all days
    older than max-3 except day-of-month % 7 == 3 (planted failures).

    Scale: day-grain aggregates only — the partition manifest, rows
    ~O(days), joined/anti-joined at metadata size; the source count
    comes from one scan with map-side combine (on a real lake, from
    partition statistics without any scan)."""
    src = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("expected_rows"))
    )
    mx = src.agg(F.max("day").alias("max_day"))
    s = src.crossJoin(F.broadcast(mx))
    is_failed = (F.dayofmonth("day") % 7 == 3) & (F.col("day") <= F.date_sub("max_day", 3))
    is_loaded = (F.col("day") <= F.date_sub("max_day", 3)) & (F.dayofmonth("day") % 7 != 3)
    return s.filter(~is_loaded).select(
        "day",
        F.when(is_failed, F.lit("failed_load")).otherwise(F.lit("pending_recent")).alias("status"),
        F.col("expected_rows").cast("long").alias("expected_rows"),
    )


# ------------------------------------------------- Merkle bucket diff ----


@query(
    "q_merkle_bucket_diff",
    oracle="""
    WITH canon AS (
      SELECT o_orderkey % 64 AS bucket,
             CAST('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               CAST(o_totalprice AS VARCHAR)), 1, 12) AS BIGINT) AS h,
             o_orderkey % 101 = 0 AS corrupt
      FROM orders),
    src AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS cs
      FROM canon GROUP BY bucket),
    dst AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS cs
      FROM canon WHERE NOT corrupt GROUP BY bucket)
    SELECT s.bucket,
           s.n AS src_rows, COALESCE(d.n, 0) AS dst_rows,
           s.cs = COALESCE(d.cs, '') AS checksums_match
    FROM src s LEFT JOIN dst d USING (bucket)
    WHERE s.cs IS DISTINCT FROM d.cs OR d.bucket IS NULL
    """,
)
def q_merkle_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed anti-entropy diff (the Merkle-tree repair pattern of
    Dynamo/Cassandra, flattened to one level): both replicas compute
    per-bucket (hash-range) row counts and commutative content
    checksums — the q_table_checksum primitive, 64× — and only
    MISMATCHED buckets come back. Repair then re-ships 1/64th of the
    table per divergent bucket instead of re-comparing every row:
    cross-system reconciliation bandwidth drops from O(rows) to
    O(buckets + damaged/64). The "replica" here is simulated by
    deterministically dropping o_orderkey % 101 rows — the planted
    corruption the diff must localize.

    Scale: each side is one scan with map-side partial aggregation to
    64 rows; the diff joins two 64-row relations. Deepening to a real
    Merkle TREE is bucketing the buckets — same plan, log depth."""
    o = load_table(spark, sf_dir, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("string"),
    )
    canon = o.select(
        (F.col("o_orderkey") % 64).alias("bucket"),
        F.conv(F.substring(F.md5(row_repr.cast("binary")), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
        (F.col("o_orderkey") % 101 == 0).alias("corrupt"),
    )

    def side(df):
        return df.groupBy("bucket").agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("cs"),
        )

    src = side(canon)
    dst = side(canon.filter(~F.col("corrupt")))
    d = dst.select(
        F.col("bucket"), F.col("n").alias("dn"), F.col("cs").alias("dcs")
    )
    return (
        src.join(d, "bucket", "left")
        .filter(
            ~F.col("cs").eqNullSafe(F.col("dcs")) | F.col("dn").isNull()
        )
        .select(
            "bucket",
            F.col("n").alias("src_rows"),
            F.coalesce("dn", F.lit(0)).alias("dst_rows"),
            (F.col("cs") == F.coalesce(F.col("dcs"), F.lit(""))).alias("checksums_match"),
        )
    )


# --------------------------------------------- join-size estimation ----


@query(
    "q_join_cardinality_estimate",
    oracle="""
    WITH ck AS (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
    ek AS (SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1),
    est AS (
      SELECT CAST(SUM(ck.c * ek.c) AS BIGINT) AS predicted_rows,
             CAST(COUNT(*) AS BIGINT) AS matching_keys,
             CAST(MAX(ck.c * ek.c) AS BIGINT) AS hottest_key_output
      FROM ck JOIN ek USING (k))
    SELECT predicted_rows, matching_keys, hottest_key_output,
           ROUND(CAST(hottest_key_output AS DOUBLE) / predicted_rows, 4)
             AS hot_key_share
    FROM est
    """,
)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size prediction from per-key histograms — the estimate a
    cost-based optimizer needs BEFORE committing to a join strategy:
    |A ⋈ B| = Σ_k cA(k)·cB(k), computed from two key-count aggregates
    joined on the key, never by running the join. Also surfaces the
    hottest key's share of the output — the number that says 'salt
    this key' (q_salted_hot_key_join) before the shuffle falls over.

    Scale: each histogram is a map-side-combined aggregate to
    |distinct keys| rows; their join shuffles key counts, not rows.
    On real lakes this reads from column statistics without any scan;
    here it IS the statistics computation. Exact, so oracle-checked —
    and on TPC-H-shaped data it exactly predicts the join size the
    executor would produce."""
    ck = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("ca"))
    )
    ek = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count("*").alias("cb"))
    )
    est = ck.join(ek, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("predicted_rows"),
        F.count("*").cast("long").alias("matching_keys"),
        F.max(F.col("ca") * F.col("cb")).cast("long").alias("hottest_key_output"),
    )
    return est.select(
        "predicted_rows",
        "matching_keys",
        "hottest_key_output",
        F.round(
            F.col("hottest_key_output").cast("double") / F.col("predicted_rows"), 4
        ).alias("hot_key_share"),
    )


# ------------------------------------------------- freshness audit ----


@query(
    "q_freshness_sla_audit",
    oracle="""
    WITH marks AS (
      SELECT 'events' AS tbl, MAX(ts) AS latest FROM events
      UNION ALL
      SELECT 'orders', MAX(o_orderdate) FROM orders),
    ref AS (SELECT MAX(latest) AS now_mark FROM marks)
    SELECT tbl, latest,
           CAST(date_diff('day', CAST(latest AS DATE), CAST(now_mark AS DATE))
                AS BIGINT) AS lag_days,
           date_diff('day', CAST(latest AS DATE), CAST(now_mark AS DATE)) <= 2
             AS within_sla
    FROM marks, ref
    """,
)
def q_freshness_sla_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table freshness SLA audit: each source's high-water mark
    against the freshest table's mark (the wall-clock stand-in the
    fixtures allow), with per-table staleness lag and an SLA verdict —
    the monitor that catches a silently-stuck incremental feed days
    before consumers notice, and the gap in the reference's audit
    surface (it counts rows, never checks recency).

    Scale: MAX per table is a metadata-cheap scan (parquet max
    statistics at file level); the audit joins a handful of 1-row
    aggregates — cost is independent of table size."""
    ev = load_table(spark, sf_dir, "events").agg(
        F.lit("events").alias("tbl"), F.max("ts").alias("latest")
    )
    od = load_table(spark, sf_dir, "orders").agg(
        F.lit("orders").alias("tbl"), F.max("o_orderdate").alias("latest")
    )
    marks = ev.unionByName(od)
    ref = marks.agg(F.max("latest").alias("now_mark"))
    lag = F.datediff(F.to_date("now_mark"), F.to_date("latest"))
    return marks.crossJoin(F.broadcast(ref)).select(
        "tbl",
        "latest",
        lag.cast("long").alias("lag_days"),
        (lag <= 2).alias("within_sla"),
    )


@query(
    "q_l_diversity_audit",
    oracle="""
    WITH q AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
             COUNT(*) AS grp_n,
             COUNT(DISTINCT c_mktsegment) AS l_distinct
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, bal_band, CAST(grp_n AS BIGINT) AS grp_n,
           CAST(l_distinct AS BIGINT) AS l_distinct
    FROM q WHERE l_distinct < 3
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=3) — k-anonymity's complement: an
    equivalence class can be large (k-safe) yet still leak the
    SENSITIVE attribute if everyone in it shares one value (the
    homogeneity attack). Here market segment plays the sensitive
    attribute over the (nation, balance-band) quasi-identifiers; the
    audit returns every class whose distinct-sensitive count is
    below l — the classes to generalize or suppress before release.

    Scale: one partial-aggregated shuffle on the QI tuple carrying a
    COUNT DISTINCT of the sensitive column (exact here since segment
    cardinality is tiny; swap approx_count_distinct when the
    sensitive domain is wide); output is the violation list only."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_band"),
        )
        .agg(
            F.count("*").cast("long").alias("grp_n"),
            F.count_distinct("c_mktsegment").cast("long").alias("l_distinct"),
        )
        .filter(F.col("l_distinct") < 3)
    )


# ------------------------------------------- differentially-private release ----

_DP_EPSILON = 0.5  # per-release budget; sensitivity 1 → Laplace b = 1/ε
_DP_SCALE = 1.0 / _DP_EPSILON
_DP_TAU = 10.0  # post-noise suppression threshold (small-count release gate)
_DP_SEED = "dp1"  # release tag: a re-release with a new tag redraws all noise


@query(
    "q_dp_noisy_counts",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS grp_n
      FROM customer GROUP BY 1, 2),
    u AS (
      SELECT c_nationkey, c_mktsegment, grp_n,
             (CAST(('0x' || substr(md5(
                 concat_ws(':', '{_DP_SEED}', c_nationkey, c_mktsegment)
               ), 1, 8)) AS UBIGINT) + 0.5) / 4294967296.0 AS un
      FROM g)
    SELECT c_nationkey AS nation, c_mktsegment AS segment,
           ROUND(grp_n - {_DP_SCALE} * sign(un - 0.5)
                 * ln(1.0 - 2.0 * abs(un - 0.5)), 4) AS noisy_count
    FROM u
    WHERE grp_n - {_DP_SCALE} * sign(un - 0.5)
          * ln(1.0 - 2.0 * abs(un - 0.5)) >= {_DP_TAU}
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release: per-(nation, segment)
    user counts with Laplace(1/ε) noise (ε = 0.5, sensitivity 1 —
    each user lands in exactly one group) and post-noise suppression
    of releases below τ = 10 — the standard small-count gate layered
    on top of the DP noise, as census-style engines release marginals.

    The noise is DETERMINISTIC given the release tag: uniform u =
    md5(tag:group)[0:8] mapped into (0,1), Laplace via the inverse
    CDF −b·sign(u−½)·ln(1−2|u−½|). Seeding noise from a keyed hash is
    how distributed DP systems make releases reproducible across
    retries (a re-run must not average the noise away — that would
    spend budget ε per run); a NEW release draws fresh noise by
    changing the tag. Determinism is also what lets the whole
    operator be oracle-checked end to end: both engines compute the
    identical closed form (the +0.5 offset keeps u strictly inside
    (0,1), so the log never sees 0, and u = ½ exactly is impossible
    for an integer hash).

    Scale: one partial-aggregated shuffle on the group key; the noise
    is a per-GROUP scalar expression over the already-aggregated
    relation (groups ≪ rows), so the DP layer costs nothing beyond
    the count itself. Reference parity: none — the reference ships
    raw counts; this is the §2b governance extension beside
    q_k_anonymity_audit / q_l_diversity_audit."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("grp_n"))
    un = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(_DP_SEED), "c_nationkey", "c_mktsegment"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    noisy = F.col("grp_n") - F.lit(_DP_SCALE) * F.signum(un - 0.5) * F.log(
        1.0 - 2.0 * F.abs(un - 0.5)
    )
    return (
        g.filter(noisy >= _DP_TAU)
        .select(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.round(noisy, 4).alias("noisy_count"),
        )
    )


_DP_SUM_CLIP = 200000.0  # per-user contribution bound → sensitivity
_DP_SUM_EPS = 0.5
_DP_SUM_SCALE = _DP_SUM_CLIP / _DP_SUM_EPS  # Laplace b = Δ/ε
_DP_SUM_SEED = "dpsum1"


@query(
    "q_dp_noisy_sum",
    oracle=f"""
    WITH per_user AS (
      SELECT o_custkey,
             LEAST(SUM(o_totalprice), {_DP_SUM_CLIP}) AS contrib
      FROM orders GROUP BY 1),
    g AS (
      SELECT c.c_nationkey AS nation,
             SUM(u.contrib) AS raw_sum, COUNT(*) AS n_users
      FROM per_user u JOIN customer c ON c.c_custkey = u.o_custkey
      GROUP BY 1),
    noised AS (
      SELECT nation, n_users,
             (CAST(('0x' || substr(md5(
                 concat_ws(':', '{_DP_SUM_SEED}', nation)
               ), 1, 8)) AS UBIGINT) + 0.5) / 4294967296.0 AS un,
             raw_sum
      FROM g)
    SELECT nation, CAST(n_users AS BIGINT) AS n_users,
           ROUND(raw_sum - {_DP_SUM_SCALE} * sign(un - 0.5)
                 * ln(1.0 - 2.0 * abs(un - 0.5)), 2) AS noisy_sum
    FROM noised
    """,
)
def q_dp_noisy_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private SUM release with per-user contribution
    CLIPPING — the second DP primitive beside `q_dp_noisy_counts`: a
    user's order total is capped at the clip bound BEFORE aggregation
    (one user appears in exactly one nation group, so the release's
    sensitivity is exactly the clip, not the unbounded order value),
    then per-nation revenue gets Laplace(clip/ε) noise from the same
    keyed-hash inverse-CDF scheme as the count release (deterministic
    per release tag → retries don't re-spend budget; both engines
    compute the identical closed form, so the whole mechanism is
    oracle-checked).

    Scale: the clip is a per-user aggregate (one shuffle on the user
    key, map-side combined), the group sum a second bounded shuffle on
    the group key, and the noise a per-GROUP scalar over the
    aggregated relation — the DP layer itself costs nothing extra.
    The clip bound is cast to DECIMAL before least(): a double literal
    would promote contrib — and hence raw_sum — to a partition-order-
    dependent float sum, while the oracle's LEAST/SUM stays exact
    DECIMAL; keeping both sides DECIMAL until the final noise
    expression makes the release order-independent and hash-stable."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_user = o.groupBy("o_custkey").agg(
        F.least(
            F.sum("o_totalprice"), F.lit(_DP_SUM_CLIP).cast("decimal(22,2)")
        ).alias("contrib")
    )
    g = (
        per_user.join(
            c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.sum("contrib").alias("raw_sum"), F.count("*").alias("n_users"))
    )
    un = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(_DP_SUM_SEED), "nation")), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    noisy = F.col("raw_sum") - F.lit(_DP_SUM_SCALE) * F.signum(
        un - 0.5
    ) * F.log(1.0 - 2.0 * F.abs(un - 0.5))
    return g.select(
        "nation",
        F.col("n_users").cast("long").alias("n_users"),
        F.round(noisy, 2).alias("noisy_sum"),
    )
