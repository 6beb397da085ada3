"""Time-series operators over `events`: gap-fill, forward-fill, OHLC
resample — the hypertable-rollup surface (SURVEY.md §2b X8/X16-adjacent;
the reference's only time logic is the daily extract window, reference
``mysql_operations.py:21-23``).

All spines are built with sequence()+explode from a 1-row global
min/max aggregate — never a driver-side loop or collect; the grid is a
DataFrame like everything else and joins distribute normally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data import load_table
from ..registry import query


def _hourly_spine(ev: DataFrame) -> DataFrame:
    """One row per hour over the global event span. The min/max agg is
    a 1-row result; sequence/explode expands it distributedly after a
    broadcast — no data ever reaches the driver."""
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    return span.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )


@query(
    "ts_gapfill_hourly",
    oracle="""
    WITH span AS (
      SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS hi
      FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM span),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
             COUNT(*) AS n, ROUND(SUM(value), 2) AS tv
      FROM events GROUP BY 1, 2)
    SELECT s.hour, t.event_type,
           COALESCE(h.n, 0)    AS n_events,
           COALESCE(h.tv, 0.0) AS total_value
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type
    """,
)
def ts_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup per event type with silent hours materialized as
    zero rows (the dense grid downstream models need).

    Plan shape: hourly agg (one shuffle) + dense grid (spine × types,
    both tiny) left-joined back — the grid side broadcasts, so
    gap-filling adds no extra shuffle over the bare rollup.

    Scale note: the dense hours × event_types output grid is the
    operator's inherent cost — fine while the type dimension is small,
    but see ts_forward_fill's scale note before swapping in a
    high-cardinality entity column."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
    grid = _hourly_spine(ev).crossJoin(ev.select("event_type").distinct())
    return grid.join(hourly, ["hour", "event_type"], "left").select(
        "hour",
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("tv", F.lit(0.0)).alias("total_value"),
    )


@query(
    "ts_forward_fill",
    oracle="""
    WITH span AS (
      SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi FROM events),
    spine AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM span),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, user_id, ROUND(SUM(value), 2) AS day_value
      FROM events GROUP BY 1, 2)
    SELECT s.day, u.user_id,
           COALESCE(
             last_value(d.day_value IGNORE NULLS) OVER (
               PARTITION BY u.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             0.0) AS filled_value
    FROM spine s
    CROSS JOIN users u
    LEFT JOIN daily d ON d.day = s.day AND d.user_id = u.user_id
    """,
)
def ts_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily totals on a dense calendar, gaps forward-filled
    with the most recent observed value (leading gaps → 0.0) — the
    last-observation-carried-forward resample.

    F.last(ignorenulls=True) over an unbounded-preceding frame is the
    idiomatic Spark ffill: one shuffle on user_id, then a streaming
    frame scan per partition — no self-join, no driver loop.

    Scale note — the OUTPUT is the cost here, not the plan: dense
    resampling materializes the full days × users grid by definition,
    so at 100 TB the result size is set by the entity set, not the
    input. Bound the entity set before calling (filter to the cohort
    you actually need, or cap the spine window); an unfiltered
    all-users × multi-year grid is a deliberate choice, not a free
    transform. The same applies to ts_gapfill_hourly's
    hours × event_types grid (smaller only because event_type has
    low cardinality)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day"), "user_id").agg(
        F.round(F.sum("value"), 2).alias("day_value")
    )
    span = ev.agg(F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi"))
    spine = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    grid = spine.crossJoin(ev.select("user_id").distinct())
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["day", "user_id"], "left")
        .withColumn("ff", F.last("day_value", ignorenulls=True).over(w))
        .select("day", "user_id", F.coalesce("ff", F.lit(0.0)).alias("filled_value"))
    )


@query(
    "ts_resample_ohlc",
    oracle="""
    WITH r AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT event_type, hour,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
           ROUND(MAX(value), 4)                             AS high,
           ROUND(MIN(value), 4)                             AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
           COUNT(*)                                         AS n_events
    FROM r
    GROUP BY event_type, hour
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to hourly OHLC bars per event type
    (open/close = first/last value in the hour, ties broken by
    event_id so the result is deterministic on both engines).

    One shuffle on (event_type, hour) serves both row_number windows
    and the final aggregate — Catalyst reuses the partitioning."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    wa = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
        .groupBy("event_type", "hour")
        .agg(
            F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 4).alias("close"),
            F.count("*").alias("n_events"),
        )
    )


def scd2_versions(ev: DataFrame) -> DataFrame:
    """The SCD2 versions of the signup dimension: each signup event of
    `ev` is one version (user_id, valid_from, valid_to, version_id,
    value rounded to 4 dp), valid from its ts up to the next version's
    ts (LEAD over ts, then event_id, so same-timestamp changes get
    deterministic edges), open-ended (valid_to NULL) for the current
    one. One shuffle on the key. Callers: ts_scd2_intervals,
    ts_point_in_time_join, ts_scd2_as_of_snapshot and
    ts_time_travel_diff."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.col("event_id").alias("version_id"),
        F.round("value", 4).alias("value"),
    )


def scd2_valid_at(t: Column) -> Column:
    """True where an `scd2_versions` row is the version valid at `t`:
    valid_from ≤ t < valid_to, with an open valid_to. Callers:
    ts_point_in_time_join (t = each purchase's ts),
    ts_scd2_as_of_snapshot and ts_time_travel_diff."""
    return (F.col("valid_from") <= t) & (F.col("valid_to").isNull() | (F.col("valid_to") > t))


@query(
    "ts_scd2_intervals",
    oracle="""
    SELECT user_id,
           ts   AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           event_id,
           ROUND(value, 4) AS value,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE event_type = 'signup'
    """,
)
def ts_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension build: turn a change-event log into
    validity intervals [valid_from, valid_to) per key, open-ended for
    the current version — the standard warehouse history table the
    reference's truncate-reload sink (reference
    ``bigquery_operations.py:36``) cannot express.

    The intervals are `scd2_versions`: one shuffle on the key."""
    return scd2_versions(load_table(spark, sf_dir, "events")).select(
        "user_id",
        "valid_from",
        "valid_to",
        F.col("version_id").alias("event_id"),
        "value",
        F.when(F.col("valid_to").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


@query(
    "ts_ewma",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vals
      FROM events WHERE user_id < 200)
    SELECT user_id, ts, event_id,
           ROUND(list_sum(list_transform(vals, (v, i) -> v * POWER(0.8, len(vals) - i)))
                 / list_sum(list_transform(vals, (v, i) -> POWER(0.8, len(vals) - i))),
                 4) AS ewma
    FROM x
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α-decay 0.8) over the
    last 10 events per user — the smoothing pass of a metrics/feature
    pipeline. EWMA is sequential in its textbook recurrence; here it is
    re-expressed as a weighted sum over a bounded ROWS frame
    (collect_list over the window, then a row-local higher-order
    `transform` with positional weights), which Spark executes in one
    shuffle on user_id with no Python and no iteration.

    DuckDB's lambda index is 1-based and Spark's 0-based; both sides
    use weights that depend only on distance-from-frame-end, so the
    arithmetic is identical.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return (
        ev.select(
            "user_id", "ts", "event_id", F.collect_list("value").over(w).alias("vals")
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            F.round(
                F.expr(
                    "aggregate(transform(vals, (v, i) -> v * pow(0.8, size(vals) - 1 - i)),"
                    " 0D, (a, x) -> a + x)"
                )
                / F.expr(
                    "aggregate(transform(vals, (v, i) -> pow(0.8, size(vals) - 1 - i)),"
                    " 0D, (a, x) -> a + x)"
                ),
                4,
            ).alias("ewma"),
        )
    )


@query(
    "ts_sessionize",
    headline=True,
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id < 300
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM sessions GROUP BY 1, 2
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions at >30-minute silence gaps (LAG to mark session starts,
    running SUM to number them, then per-session aggregation) — the
    batch twin of the streaming session_window job in streaming/jobs.py
    and the standard clickstream prep step.

    One shuffle on user_id serves the LAG, the running sum, AND the
    final groupBy (all partition on the same key — Catalyst reuses the
    exchange); nothing is ever ordered globally."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # exact microsecond arithmetic (a plain timestamp→long cast truncates
    # to seconds and would disagree with the oracle's INTERVAL compare on
    # sub-second gap edges); the NTZ→TZ cast offset cancels in the diff
    def micros(col):
        return F.unix_micros(col.cast("timestamp"))

    is_new = F.when(
        prev_ts.isNull() | (micros(F.col("ts")) - micros(prev_ts) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    marked = ev.select("user_id", "ts", "event_id", "value", is_new.alias("is_new"))
    sess = marked.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "ts_session_window_builtin",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id < 150
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS seq
          FROM marked)
    SELECT user_id,
           MIN(ts)                       AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE  AS session_end,
           COUNT(*)                      AS n_events
    FROM s GROUP BY user_id, seq
    """,
)
def ts_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via Spark's built-in session_window
    (30-minute gap): the engine-native spelling of ts_sessionize,
    cross-checked against the classic LAG/cumsum SQL formulation as
    the oracle — the two definitions provably agree (session end =
    last event + gap; a gap of exactly 30:00 starts a new session on
    both sides).

    session_window in batch mode is a plain aggregation: one shuffle
    on (user_id), then Spark merges overlapping per-row candidate
    windows per group — no window function pass at all, which makes it
    the cheaper plan when only per-session aggregates (not per-event
    session ids) are needed."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 150)
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy(sw, "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "ts_rolling_zscore",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             ROUND(SUM(value), 2)               AS hourly_value
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, hour, hourly_value,
             AVG(hourly_value) OVER w         AS mu,
             STDDEV_SAMP(hourly_value) OVER w AS sigma
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN 23 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour, hourly_value,
           ROUND((hourly_value - mu) / sigma, 4) AS zscore,
           COALESCE(ABS((hourly_value - mu) / sigma) > 3, FALSE) AS is_anomaly
    FROM scored
    """,
)
def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each hour's revenue per event
    type scored against the mean/stddev of the PRECEDING 24 hours
    (frame excludes the current row — the observation never contaminates
    its own baseline). NULL z for the warm-up rows with an undefined
    baseline; |z| > 3 flags the anomaly.

    Scale: aggregate first (map-side-combining hourly rollup collapses
    the fact table to |types| × |hours| rows), THEN window the small
    series — partitioned by event_type, so no global ordering. This
    agg-then-window ordering is the difference between windowing 100 TB
    and windowing kilobytes."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.round(F.sum("value"), 2).alias("hourly_value"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-23, -1)
    )
    z = (F.col("hourly_value") - F.avg("hourly_value").over(w)) / F.stddev_samp(
        "hourly_value"
    ).over(w)
    return hourly.select(
        "event_type",
        "hour",
        "hourly_value",
        F.round(z, 4).alias("zscore"),
        F.coalesce(F.abs(z) > 3, F.lit(False)).alias("is_anomaly"),
    )


@query(
    "ts_point_in_time_join",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
             event_id AS version_id
      FROM events WHERE event_type = 'signup'
    )
    SELECT f.user_id,
           f.event_id        AS purchase_id,
           f.ts              AS purchase_ts,
           d.version_id,
           d.valid_from
    FROM events f
    JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    WHERE f.event_type = 'purchase'
    """,
)
def ts_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join: each purchase picks the
    SCD2 dimension version (from ts_scd2_intervals' interval build)
    that was valid AT ITS EVENT TIME — the bitemporal-correctness join
    that prevents training-data leakage from future attribute values.

    Scale: this is an equi-join on the key with a residual interval
    predicate, so it executes as an ordinary hash join partitioned on
    user_id (NOT a theta join) — each key's few versions filter
    row-locally after the match. The as-of union+window formulation
    (q_asof_join) is the alternative when versions per key are huge."""
    ev = load_table(spark, sf_dir, "events")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        facts.join(scd2_versions(ev), "user_id")
        .filter(scd2_valid_at(F.col("purchase_ts")))
        .select("user_id", "purchase_id", "purchase_ts", "version_id", "valid_from")
    )


@query(
    "ts_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
      FROM events WHERE user_id < 100),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM flagged),
    merged AS (
      SELECT user_id, isl, MIN(s) AS m_start, MAX(e) AS m_end
      FROM islands GROUP BY user_id, isl)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           -- floor each endpoint before differencing: Spark's
           -- unix_timestamp truncates to whole seconds per endpoint
           CAST(SUM(CAST(FLOOR(epoch(m_end)) AS BIGINT)
                    - CAST(FLOOR(epoch(m_start)) AS BIGINT)) AS BIGINT) AS covered_seconds
    FROM merged GROUP BY user_id
    """,
)
def ts_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval algebra: union of overlapping intervals per key (each
    event opens a 30-minute activity window) → merged interval count
    and total covered seconds — the coverage/utilization computation
    behind SLA accounting, ad-viewability, and machine-uptime rollups.
    Classic gap-islands: an interval starts a new island iff it begins
    after the running max end of everything earlier.

    Scale: one shuffle on user_id; both windows and the island groupBy
    ride the same hash partitioning (a single Exchange), and the
    running-max trick handles nested/contained intervals that a naive
    LAG(end) comparison gets wrong."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    order = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_end = F.max("e").over(order.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") > prev_max_end, 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "isl",
        F.sum("new_island").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("user_id", "isl").agg(
        F.min("s").alias("m_start"), F.max("e").alias("m_end")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum(F.unix_timestamp("m_end") - F.unix_timestamp("m_start"))
        .cast("long")
        .alias("covered_seconds"),
    )


@query(
    "ts_time_weighted_avg",
    oracle="""
    WITH seg AS (
      SELECT user_id, value,
             CAST(FLOOR(epoch(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
           - CAST(FLOOR(epoch(ts)) AS BIGINT) AS dur
      FROM events WHERE user_id < 100)
    SELECT user_id,
           CAST(SUM(dur) AS BIGINT) AS observed_seconds,
           ROUND(SUM(value * dur) / SUM(dur), 4) AS twap
    FROM seg WHERE dur IS NOT NULL AND dur > 0
    GROUP BY user_id
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation holds until the
    next one, so its weight is the duration it was in force — the
    correct average for irregularly-sampled state (prices, gauge
    metrics, feature values), where the arithmetic mean over-weights
    bursts of frequent updates.

    Scale: one shuffle on user_id; LEAD and the aggregate share the
    partitioning. The final segment (no successor) is excluded —
    standard right-open convention."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dur = (
        F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
    ).alias("dur")
    seg = ev.select("user_id", "value", dur)
    return (
        seg.filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
        .groupBy("user_id")
        .agg(
            F.sum("dur").cast("long").alias("observed_seconds"),
            F.round(F.sum(F.col("value") * F.col("dur")) / F.sum("dur"), 4).alias("twap"),
        )
    )


@query(
    "ts_autocorr_lag1",
    oracle="""
    WITH pairs AS (
      SELECT event_type, value AS y,
             LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS x
      FROM events),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(20,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(20,10)) * CAST(y AS DECIMAL(20,10))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(20,10)) * CAST(x AS DECIMAL(20,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(20,10)) * CAST(y AS DECIMAL(20,10))) AS DOUBLE) AS syy
      FROM pairs WHERE x IS NOT NULL GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS acf1
    FROM s
    """,
)
def ts_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per event type — the first time-series
    diagnostic (is the signal momentum-driven or white noise?):
    Pearson correlation between each value and its predecessor in
    event-time order.

    Determinism: the five sufficient statistics (Σx, Σy, Σxy, Σx²,
    Σy²) accumulate in DECIMAL(20,10) — exact and order-independent —
    so both engines compute the identical correlation before the one
    rounded division. Scale: LAG and the aggregate share one shuffle
    on event_type; the sufficient statistics combine map-side, which
    is why closed-form correlation beats any sort-based method on a
    cluster."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = ev.select(
        "event_type",
        F.col("value").alias("y"),
        F.lag("value").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(20,10)")  # noqa: E731
    s = pairs.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * dec("y")).cast("double").alias("sxy"),
        F.sum(dec("x") * dec("x")).cast("double").alias("sxx"),
        F.sum(dec("y") * dec("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    acf = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "event_type",
        n.cast("long").alias("n_pairs"),
        F.round(acf, 6).alias("acf1"),
    )


@query(
    "ts_ols_trend",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS DOUBLE) AS x,
             value AS y
      FROM events),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(20,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(20,10)) * CAST(y AS DECIMAL(20,10))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(20,10)) * CAST(x AS DECIMAL(20,10))) AS DOUBLE) AS sxx
      FROM pts GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_per_day,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept
    FROM s
    """,
)
def ts_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend (OLS slope per day + intercept) of
    value over time — the closed-form distributed regression: four
    sufficient statistics, one shuffle, no iteration. x = days since
    2024-01-01 keeps magnitudes small enough for exact DECIMAL
    accumulation (the cross-engine determinism trick shared with
    ts_autocorr_lag1).

    Scale: identical shape to any hash aggregate — map-side partials
    of (n, Σx, Σy, Σxy, Σx²) merge associatively; this is why OLS,
    correlation and variance belong IN the engine rather than in a
    driver-side statistics library."""
    return ols_trend(load_table(spark, sf_dir, "events"))


def ols_trend(events: DataFrame) -> DataFrame:
    """ts_ols_trend's regression over any events relation, static or
    streaming. Over readStream it is a complete-mode aggregation with
    five numbers of state per event type: the statistics merge
    associatively, and slope/intercept derive in the final select, so
    the stateful part never grows."""
    pts = events.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("value").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(20,10)")  # noqa: E731
    s = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * dec("y")).cast("double").alias("sxy"),
        F.sum(dec("x") * dec("x")).cast("double").alias("sxx"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "event_type",
        n.cast("long").alias("n_points"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
    )


@query(
    "ts_peak_concurrency",
    oracle="""
    WITH edges AS (
      SELECT user_id, ts AS t, 1 AS delta
      FROM events WHERE user_id < 200
      UNION ALL
      SELECT user_id, ts + INTERVAL 30 MINUTE, -1
      FROM events WHERE user_id < 200),
    swept AS (
      SELECT user_id, t, delta,
             SUM(delta) OVER (PARTITION BY user_id
                              ORDER BY t, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS concurrent
      FROM edges)
    SELECT user_id,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrency,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
    FROM swept GROUP BY user_id
    """,
)
def ts_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per key via the sweep line: every interval
    (event + 30-minute window) contributes a +1 edge at its start and
    a -1 at its end; the running sum over time-ordered edges is the
    number of simultaneously-open intervals, and its max is the
    capacity answer (max concurrent sessions / connections / jobs)
    that interval counting alone can't give.

    Ordering ties break by delta ASC so an interval ending exactly
    when another starts counts the END first (-1 sorts before +1) —
    back-to-back intervals don't overlap; both engines sort
    identically. Scale: the edge relation is 2× the input, one shuffle
    on the key, and the window + max share its partitioning."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    starts = ev.select("user_id", F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    edges = starts.unionByName(ends)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = edges.withColumn("concurrent", F.sum("delta").over(w))
    return swept.groupBy("user_id").agg(
        F.max("concurrent").cast("long").alias("peak_concurrency"),
        (F.count("*") / 2).cast("long").alias("n_intervals"),
    )


@query(
    "ts_holt_winters",
    oracle="""
    WITH RECURSIVE hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    arr AS (
      SELECT event_type, list(CAST(c AS DOUBLE) ORDER BY hour) AS xs
      FROM hourly GROUP BY 1 HAVING COUNT(*) >= 2),
    rec AS (
      SELECT event_type, xs, 2 AS i,
             xs[1] AS level, xs[2] - xs[1] AS trend
      FROM arr
      UNION ALL
      SELECT event_type, xs, i + 1,
             0.5 * xs[i + 1] + 0.5 * (level + trend),
             0.5 * ((0.5 * xs[i + 1] + 0.5 * (level + trend)) - level)
               + 0.5 * trend
      FROM rec WHERE i < len(xs)
    )
    SELECT event_type, CAST(len(xs) AS BIGINT) AS n_hours,
           ROUND(level, 4) AS level, ROUND(trend, 4) AS trend,
           ROUND(level + trend, 4) AS forecast_next
    FROM rec WHERE i = len(xs)
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (level + trend, α=β=0.5)
    over the hourly event-count series per event type, forecasting the
    next hour — the classic capacity-planning smoother one step beyond
    EWMA (which cannot track a trend).

    The textbook recurrence is sequential; here it is one ordered-array
    fold per key: collect the hourly series (sort_array — hours are
    unique per key, so ordering is total), seed (level, trend) from the
    first two points, then `F.aggregate` with a struct accumulator over
    the tail. The fold runs inside codegen — no Python, no iteration,
    no driver loop; DuckDB replays the identical recurrence as a
    recursive CTE, so both engines execute the same float ops in the
    same order (the series is integer counts — no cross-engine
    sum-order divergence feeds the fold).

    Scale: per-key series length is bounded by the time range (here
    ≤ a few hundred hours), not the row count; the heavy reduction is
    the hourly pre-aggregation, one partial-agg shuffle on
    (event_type, hour). Million-key cardinality parallelizes freely —
    the pattern for fleet-wide per-metric forecasting.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").cast("double").alias("c"))
    arr = (
        hourly.groupBy("event_type")
        .agg(F.sort_array(F.collect_list(F.struct("hour", "c"))).alias("hc"))
        .filter(F.size("hc") >= 2)
        .select("event_type", F.expr("transform(hc, s -> s.c)").alias("xs"))
    )
    fold = F.expr(
        """
        aggregate(
          slice(xs, 3, greatest(size(xs) - 2, 0)),
          named_struct('level', xs[1], 'trend', xs[2] - xs[1]),
          (acc, x) -> named_struct(
            'level', 0.5D * x + 0.5D * (acc.level + acc.trend),
            'trend', 0.5D * ((0.5D * x + 0.5D * (acc.level + acc.trend)) - acc.level)
                       + 0.5D * acc.trend)
        )
        """
    )
    return arr.select(
        "event_type",
        F.size("xs").cast("long").alias("n_hours"),
        fold.alias("st"),
    ).select(
        "event_type",
        "n_hours",
        F.round(F.col("st.level"), 4).alias("level"),
        F.round(F.col("st.trend"), 4).alias("trend"),
        F.round(F.col("st.level") + F.col("st.trend"), 4).alias("forecast_next"),
    )


@query(
    "ts_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, AVG(c * 1.0) AS mu FROM hourly GROUP BY 1),
    dev AS (
      SELECT h.event_type, h.hour, h.c, h.c - s.mu AS d,
             SUM(h.c - s.mu) OVER (PARTITION BY h.event_type ORDER BY h.hour) AS cum
      FROM hourly h JOIN stats s USING (event_type)),
    ranked AS (
      SELECT event_type, hour, cum,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(cum) DESC, hour) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_hours
      FROM dev)
    SELECT event_type, hour AS change_hour,
           ROUND(cum, 4) AS cusum_peak,
           CAST(n_hours AS BIGINT) AS n_hours
    FROM ranked WHERE rk = 1 AND n_hours >= 4
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection: for each event type's hourly count
    series, accumulate deviations from the series mean; the hour where
    |cumulative deviation| peaks is the most likely mean-shift point
    (the classic offline CUSUM estimator — monitoring's "when did this
    metric change behavior" question).

    Two passes, both hash-shuffles: the per-key mean (broadcast back
    via an equi-join on the key), then one ordered window per key for
    the running sum and the argmax. Ties on |cum| break by hour, so
    both engines pick the same peak deterministically.

    Scale: series length is bounded by the time range, not event
    volume — the window partitions by key, never a global sort. The
    hourly pre-agg is the only stage that sees raw rows.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("c"))
    stats = hourly.groupBy("event_type").agg(F.avg(F.col("c") * 1.0).alias("mu"))
    wcum = Window.partitionBy("event_type").orderBy("hour")
    dev = hourly.join(stats, "event_type").withColumn(
        "cum", F.sum(F.col("c") - F.col("mu")).over(wcum)
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cum")).desc(), F.col("hour")
    )
    return (
        dev.withColumn("rk", F.row_number().over(wrank))
        .withColumn("n_hours", F.count("*").over(Window.partitionBy("event_type")))
        .filter((F.col("rk") == 1) & (F.col("n_hours") >= 4))
        .select(
            "event_type",
            F.col("hour").alias("change_hour"),
            F.round("cum", 4).alias("cusum_peak"),
            F.col("n_hours").cast("long").alias("n_hours"),
        )
    )


@query(
    "ts_lttb_downsample",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    pts AS (SELECT hour, y, CAST(epoch(hour) AS BIGINT) AS x FROM hourly),
    span AS (SELECT MIN(x) AS minx, MAX(x) - MIN(x) + 3600 AS w FROM pts),
    b AS (SELECT hour, y, x, ((x - minx) * 24) // w AS bucket FROM pts, span),
    stats AS (SELECT bucket, AVG(CAST(x AS DOUBLE)) AS ax,
                     AVG(CAST(y AS DOUBLE)) AS ay
              FROM b GROUP BY bucket),
    nb AS (SELECT bucket,
                  LAG(ax)  OVER (ORDER BY bucket) AS ax_prev,
                  LAG(ay)  OVER (ORDER BY bucket) AS ay_prev,
                  LEAD(ax) OVER (ORDER BY bucket) AS ax_next,
                  LEAD(ay) OVER (ORDER BY bucket) AS ay_next
           FROM stats),
    mx AS (SELECT MAX(bucket) AS mb FROM b),
    scored AS (
      SELECT b.bucket, b.hour, b.y, b.x, mb,
             ABS((ax_prev - ax_next) * (CAST(b.y AS DOUBLE) - ay_prev)
                 - (ax_prev - CAST(b.x AS DOUBLE)) * (ay_next - ay_prev)) AS area
      FROM b JOIN nb USING (bucket) CROSS JOIN mx),
    sel AS (
      SELECT bucket, hour, y,
             ROW_NUMBER() OVER (
               PARTITION BY bucket
               ORDER BY CASE WHEN bucket = 0  THEN CAST(x AS DOUBLE)
                             WHEN bucket = mb THEN -CAST(x AS DOUBLE)
                             ELSE -area END, x) AS rn
      FROM scored)
    SELECT CAST(bucket AS INT) AS bucket, hour, y FROM sel WHERE rn = 1
    """,
)
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of the hourly event
    series to 24 points — the standard shape-preserving reduction for
    charting/monitoring a long series (peaks and cliffs survive; a
    plain per-bucket average erases them).

    Parallel variant: true LTTB anchors each triangle on the
    *previously selected* point — a sequential chain. This uses the
    neighbor-BUCKET AVERAGES as both anchors, which removes the chain:
    every bucket selects independently (the original paper's own
    "effective area" approximation for its fixed right anchor). First/
    last bucket pin the series endpoints, as in the paper.

    Determinism across engines: x is exact epoch seconds, y an exact
    count, bucket assignment is integer arithmetic (`div`), and bucket
    averages are exact-integer sums over counts — so the triangle
    areas are bit-identical IEEE doubles in Spark and DuckDB and the
    per-bucket argmax agrees without rounding tricks.

    Scale: one shuffle for the hourly rollup, one for the per-bucket
    argmax window; the bucket-stats/neighbor table is O(#buckets) and
    broadcasts (its LAG/LEAD window runs on that tiny table only —
    the deliberate O(#buckets) single-partition stage, same pattern as
    q_global_ranks_scalable's offset table)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("long").alias("y")
    )
    pts = hourly.withColumn("x", F.unix_timestamp("hour"))
    span = pts.agg(
        F.min("x").alias("minx"), (F.max("x") - F.min("x") + 3600).alias("w")
    )
    b = pts.join(F.broadcast(span)).withColumn(
        "bucket", F.expr("((x - minx) * 24) div w")
    )
    stats = b.groupBy("bucket").agg(
        F.avg(F.col("x").cast("double")).alias("ax"),
        F.avg(F.col("y").cast("double")).alias("ay"),
    )
    wb = Window.orderBy("bucket")  # O(#buckets) rows — tiny by design
    nb = stats.select(
        "bucket",
        F.lag("ax").over(wb).alias("ax_prev"),
        F.lag("ay").over(wb).alias("ay_prev"),
        F.lead("ax").over(wb).alias("ax_next"),
        F.lead("ay").over(wb).alias("ay_next"),
    )
    mx = b.agg(F.max("bucket").alias("mb"))
    scored = (
        b.join(F.broadcast(nb), "bucket")
        .join(F.broadcast(mx))
        .withColumn(
            "area",
            F.abs(
                (F.col("ax_prev") - F.col("ax_next"))
                * (F.col("y").cast("double") - F.col("ay_prev"))
                - (F.col("ax_prev") - F.col("x").cast("double"))
                * (F.col("ay_next") - F.col("ay_prev"))
            ),
        )
    )
    order_key = (
        F.when(F.col("bucket") == 0, F.col("x").cast("double"))
        .when(F.col("bucket") == F.col("mb"), -F.col("x").cast("double"))
        .otherwise(-F.col("area"))
    )
    rn = F.row_number().over(
        Window.partitionBy("bucket").orderBy(order_key, "x")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(F.col("bucket").cast("int").alias("bucket"), "hour", "y")
    )


def _stl_interior(ev: DataFrame) -> DataFrame:
    """Shared STL skeleton: hourly counts, centered 25-hour moving SUM
    and COUNT (kept as exact integers), interior rows only, hour-of-day
    seasonal means joined back. Columns: hour, y, t_num, s. Every
    double downstream derives from exact BIGINTs by identical IEEE ops
    in Spark and DuckDB (see ts_stl_decompose)."""
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("long").alias("y")
    )
    w = Window.orderBy("hour").rowsBetween(-12, 12)
    tr = hourly.select(
        "hour",
        "y",
        F.sum("y").over(w).alias("t_num"),
        F.count("y").over(w).alias("t_cnt"),
    )
    # persist (r10): interior feeds both the seasonal aggregate and
    # the join back — without the cache the hourly rollup + the
    # single-partition moving window ran twice (two events scans).
    # #hours-sized, tiny at any event volume.
    interior = tr.filter(F.col("t_cnt") == 25).persist()
    seas = interior.groupBy(F.hour("hour").alias("hod")).agg(
        (
            F.sum("y").cast("double") / F.count("*")
            - F.sum("t_num").cast("double") / (25.0 * F.count("*"))
        ).alias("s")
    )
    return interior.withColumn("hod", F.hour("hour")).join(F.broadcast(seas), "hod")


@query(
    "ts_stl_decompose",
    headline=True,
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    tr AS (
      SELECT hour, y,
             SUM(y)    OVER w AS t_num,
             COUNT(y)  OVER w AS t_cnt
      FROM hourly
      WINDOW w AS (ORDER BY hour ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    interior AS (SELECT * FROM tr WHERE t_cnt = 25),
    seas AS (
      SELECT EXTRACT(hour FROM hour) AS hod,
             CAST(SUM(y) AS DOUBLE) / COUNT(*)
             - CAST(SUM(t_num) AS DOUBLE) / (25.0 * COUNT(*)) AS s
      FROM interior GROUP BY 1)
    SELECT i.hour, i.y,
           ROUND(CAST(i.t_num AS DOUBLE) / 25.0, 4) + 0.0  AS trend,
           ROUND(s, 4) + 0.0                               AS seasonal,
           ROUND(CAST(i.y AS DOUBLE)
                 - CAST(i.t_num AS DOUBLE) / 25.0 - s, 4) + 0.0 AS resid
    FROM interior i JOIN seas ON EXTRACT(hour FROM i.hour) = seas.hod
    """,
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the hourly event series:
    trend = centered 25-hour moving average, seasonal = hour-of-day
    mean of the detrended series, residual = remainder — the additive
    decomposition behind capacity planning and anomaly baselines
    (the moving-average skeleton of STL, without loess).

    Determinism across engines: y is an exact count and the moving
    window keeps the exact integer SUM and COUNT as separate columns,
    so every double is derived from exact BIGINTs by identical IEEE
    ops — no order-dependent double summation anywhere. Edge hours
    (partial windows, t_cnt < 25) are excluded, as in the classical
    method.

    Scale: the moving window orders the WHOLE series — a deliberate
    O(series-length) single-partition stage, fine for one series
    (#hours, not #events; the heavy part is the hourly rollup's hash
    aggregate, which distributes). For millions of independent series,
    add the series key to every PARTITION BY and the same plan
    distributes by key (the q_global_ranks_scalable pattern is NOT
    needed because no window ever spans series)."""
    return _stl_interior(load_table(spark, sf_dir, "events")).select(
            "hour",
            "y",
            # + 0.0 canonicalizes IEEE -0.0 to +0.0 (both engines),
            # so rounded zeros hash identically
            (F.round(F.col("t_num").cast("double") / 25.0, 4) + 0.0).alias("trend"),
            (F.round(F.col("s"), 4) + 0.0).alias("seasonal"),
            (
                F.round(
                    F.col("y").cast("double")
                    - F.col("t_num").cast("double") / 25.0
                    - F.col("s"),
                    4,
                )
                + 0.0
            ).alias("resid"),
        )


@query(
    "ts_stl_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    tr AS (
      SELECT hour, y,
             SUM(y)   OVER w AS t_num,
             COUNT(y) OVER w AS t_cnt
      FROM hourly
      WINDOW w AS (ORDER BY hour ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    interior AS (SELECT * FROM tr WHERE t_cnt = 25),
    seas AS (
      SELECT EXTRACT(hour FROM hour) AS hod,
             CAST(SUM(y) AS DOUBLE) / COUNT(*)
             - CAST(SUM(t_num) AS DOUBLE) / (25.0 * COUNT(*)) AS s
      FROM interior GROUP BY 1),
    r AS (
      SELECT i.hour, i.y,
             CAST(i.y AS DOUBLE) - CAST(i.t_num AS DOUBLE) / 25.0 - s AS resid
      FROM interior i JOIN seas ON EXTRACT(hour FROM i.hour) = seas.hod),
    med AS (SELECT quantile_cont(resid, 0.5) AS m FROM r),
    mad AS (SELECT quantile_cont(ABS(resid - m), 0.5) AS d FROM r CROSS JOIN med)
    SELECT hour, y,
           ROUND(resid, 4) + 0.0                  AS resid,
           ROUND(3 * 1.4826 * d, 4)               AS threshold
    FROM r CROSS JOIN med CROSS JOIN mad
    WHERE ABS(resid - m) > 3 * 1.4826 * d
    """,
)
def ts_stl_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decomposition-based anomaly detection: hours whose STL residual
    deviates from the residual median by more than 3 robust sigmas
    (1.4826·MAD) — the seasonality-aware upgrade of ts_rolling_zscore
    (a traffic spike at 3 a.m. is anomalous even if the same count at
    noon is normal, and a mean/stddev screen would let the outliers
    inflate their own threshold).

    Reuses _stl_interior: residuals are deterministic doubles derived
    from exact integer sums, so the exact interpolated median/MAD
    (percentile ≡ DuckDB quantile_cont, the q_mad_outliers pairing)
    agree bit-for-bit before the single rounded report. Scale: the
    curve-sized stats are two 1-row broadcasts; everything heavy is
    the same hourly hash aggregate the decomposition already pays."""
    # persist: r is curve-sized (#hours) but its lineage includes the
    # heavy hourly rollup; three consumers (median, MAD, report) would
    # otherwise each recompute the full event scan
    r = (
        _stl_interior(load_table(spark, sf_dir, "events"))
        .select(
            "hour",
            "y",
            (
                F.col("y").cast("double")
                - F.col("t_num").cast("double") / 25.0
                - F.col("s")
            ).alias("resid"),
        )
        .persist()
    )
    med = r.agg(F.expr("percentile(resid, 0.5)").alias("m"))
    mad = (
        r.join(F.broadcast(med))
        .agg(F.expr("percentile(abs(resid - m), 0.5)").alias("d"))
    )
    return (
        r.join(F.broadcast(med))
        .join(F.broadcast(mad))
        .filter(F.abs(F.col("resid") - F.col("m")) > 3 * 1.4826 * F.col("d"))
        .select(
            "hour",
            "y",
            (F.round("resid", 4) + 0.0).alias("resid"),
            F.round(3 * 1.4826 * F.col("d"), 4).alias("threshold"),
        )
    )


@query(
    "ts_forecast_backtest",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    x AS (SELECT hour, y,
                 LAG(y, 24)  OVER (ORDER BY hour) AS f_seasonal,
                 LAG(y, 1)   OVER (ORDER BY hour) AS f_naive,
                 (LAG(y, 1) OVER (ORDER BY hour)
                  + LAG(y, 2) OVER (ORDER BY hour)
                  + LAG(y, 3) OVER (ORDER BY hour)) AS ma3_sum
          FROM hourly),
    t AS (SELECT * FROM x
          WHERE f_seasonal IS NOT NULL AND ma3_sum IS NOT NULL)
    SELECT 'naive' AS method,
           ROUND(AVG(ABS(CAST(y - f_naive AS DOUBLE))), 4)          AS mae,
           ROUND(SQRT(AVG(CAST((y - f_naive) * (y - f_naive) AS DOUBLE))), 4) AS rmse,
           CAST(COUNT(*) AS BIGINT) AS n_hours
    FROM t
    UNION ALL
    SELECT 'seasonal_24h',
           ROUND(AVG(ABS(CAST(y - f_seasonal AS DOUBLE))), 4),
           ROUND(SQRT(AVG(CAST((y - f_seasonal) * (y - f_seasonal) AS DOUBLE))), 4),
           CAST(COUNT(*) AS BIGINT)
    FROM t
    UNION ALL
    SELECT 'ma3',
           ROUND(AVG(ABS(y - ma3_sum / 3.0)), 4),
           ROUND(SQRT(AVG((y - ma3_sum / 3.0) * (y - ma3_sum / 3.0))), 4),
           CAST(COUNT(*) AS BIGINT)
    FROM t
    """,
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest: score three one-step-ahead
    baselines (naive y[t-1], seasonal-naive y[t-24], 3-hour moving
    average) by MAE and RMSE over every hour where all three are
    defined — the eval harness any fancier model (ts_holt_winters)
    must beat before it ships.

    Determinism: forecasts are LAGs of exact integer counts; the MA3
    forecast is kept as an integer SUM divided at scoring time, so
    every error term is an identical IEEE double in both engines and
    the only float aggregation is the final AVG (order-absorbed by the
    4-decimal round, same policy as the stats family).

    Scale: one hourly rollup shuffle; the lag windows run over the
    O(#hours) series table (single series — partition by series key
    for millions, as in ts_stl_decompose); scoring is one aggregate
    per method over the same tiny table."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("long").alias("y")
    )
    w = Window.orderBy("hour")
    x = hourly.select(
        "y",
        F.lag("y", 24).over(w).alias("f_seasonal"),
        F.lag("y", 1).over(w).alias("f_naive"),
        (F.lag("y", 1).over(w) + F.lag("y", 2).over(w) + F.lag("y", 3).over(w)).alias(
            "ma3_sum"
        ),
    )
    t = x.filter(F.col("f_seasonal").isNotNull() & F.col("ma3_sum").isNotNull())

    def scores(name: str, err):
        return t.agg(
            F.lit(name).alias("method"),
            F.round(F.avg(F.abs(err)), 4).alias("mae"),
            F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
            F.count("*").cast("long").alias("n_hours"),
        ).select("method", "mae", "rmse", "n_hours")

    naive = scores("naive", (F.col("y") - F.col("f_naive")).cast("double"))
    seas = scores("seasonal_24h", (F.col("y") - F.col("f_seasonal")).cast("double"))
    ma3 = scores("ma3", F.col("y") - F.col("ma3_sum") / 3.0)
    return naive.unionByName(seas).unionByName(ma3)


@query(
    "ts_downsample_m4",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    pts AS (SELECT hour, y, CAST(epoch(hour) AS BIGINT) AS x FROM hourly),
    span AS (SELECT MIN(x) AS minx, MAX(x) - MIN(x) + 3600 AS w FROM pts),
    b AS (SELECT hour, y, x, ((x - minx) * 24) // w AS bucket FROM pts, span)
    SELECT CAST(bucket AS INT)   AS bucket,
           min_by(hour, x)       AS first_hour,
           min_by(y, x)          AS first_y,
           CAST(MIN(y) AS BIGINT) AS min_y,
           CAST(MAX(y) AS BIGINT) AS max_y,
           max_by(hour, x)       AS last_hour,
           max_by(y, x)          AS last_y
    FROM b GROUP BY bucket
    """,
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling: per time bucket keep first, last, min and max —
    the error-free aggregation for line-chart rendering (every pixel
    column's drawn segment is exactly reproduced by those 4 values;
    ts_lttb_downsample is the 1-point-per-bucket alternative when
    overplotting matters more than pixel exactness).

    Unlike LTTB, M4 is a PLAIN hash aggregate — min/max/min_by/max_by
    are all algebraic, so partial aggregation combines map-side and
    there is no per-bucket window at all: strictly cheaper, fully
    parallel, and the natural first choice at 100 TB. Bucketing is the
    same integer arithmetic as LTTB (shared determinism argument);
    min_by/max_by tie-break on the unique epoch x."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("long").alias("y")
    )
    pts = hourly.withColumn("x", F.unix_timestamp("hour"))
    span = pts.agg(
        F.min("x").alias("minx"), (F.max("x") - F.min("x") + 3600).alias("w")
    )
    b = pts.join(F.broadcast(span)).withColumn(
        "bucket", F.expr("((x - minx) * 24) div w")
    )
    return b.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.min_by("hour", "x").alias("first_hour"),
        F.min_by("y", "x").alias("first_y"),
        F.min("y").cast("long").alias("min_y"),
        F.max("y").cast("long").alias("max_y"),
        F.max_by("hour", "x").alias("last_hour"),
        F.max_by("y", "x").alias("last_y"),
    )


@query(
    "ts_dow_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS INT)        AS dow,
           CAST(EXTRACT(hour FROM ts) AS INT)    AS hour_of_day,
           CAST(COUNT(*) AS BIGINT)              AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def ts_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (events and distinct
    users per cell) — the weekly seasonality fingerprint behind
    staffing, anomaly baselines, and ts_stl_decompose's hour-of-day
    seasonal assumption.

    One shuffle on the 168-cell key with map-side partial aggregation;
    the distinct-user count shuffles (cell, user) pairs once. Both
    engines: Sunday=1 dayofweek convention (Spark dayofweek ≡ DuckDB
    dayofweek + 1 shift checked in the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


# ------------------------------------------------ decayed engagement ----


@query(
    "ts_decayed_engagement",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS ref FROM events),
    w AS (
      SELECT user_id, value,
             POWER(2.0, -CAST(ref - CAST(ts AS DATE) AS INT)) AS wt
      FROM events, mx)
    SELECT user_id,
           ROUND(CAST(SUM(CAST(wt AS DECIMAL(30,15))) AS DOUBLE), 6) AS decayed_events,
           ROUND(CAST(SUM(CAST(value * wt AS DECIMAL(30,15))) AS DOUBLE), 6)
             AS decayed_value
    FROM w GROUP BY user_id
    """,
)
def ts_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user (half-life
    = 1 day against the corpus's max date): the recency-weighted
    counter behind trending/ranking features, computed in one scan —
    no per-day state, no backfill loop, because exp decay folds into
    a weighted sum.

    Determinism scheme: the decay weight is 2^(-age_days) — an EXACT
    power of two, so value·wt is an exact IEEE scaling of value (no
    transcendental pow differences between engines) — and the sums
    run in DECIMAL(30,15), order-independent. At 100 TB this is one
    map-side-combined shuffle on user_id; refreshing tomorrow just
    multiplies yesterday's score by ½ and adds the new day (the
    q_partial_agg_merge incremental pattern)."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("ref"))
    w = ev.crossJoin(F.broadcast(mx)).withColumn(
        "wt", F.pow(F.lit(2.0), -F.datediff("ref", F.to_date("ts")).cast("int"))
    )
    return w.groupBy("user_id").agg(
        F.round(F.sum(F.col("wt").cast("decimal(30,15)")).cast("double"), 6).alias(
            "decayed_events"
        ),
        F.round(
            F.sum((F.col("value") * F.col("wt")).cast("decimal(30,15)")).cast("double"), 6
        ).alias("decayed_value"),
    )


# ------------------------------------------- SCD2 time travel ----------

_TT_T1 = "2024-01-08 00:00:00"
_TT_T2 = "2024-01-15 00:00:00"

_SCD2_DIM_SQL = """
      SELECT user_id,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
             event_id AS version_id,
             ROUND(value, 4) AS value
      FROM events WHERE event_type = 'signup'
"""


@query(
    "ts_scd2_as_of_snapshot",
    oracle=f"""
    WITH dim AS ({_SCD2_DIM_SQL})
    SELECT user_id, version_id, valid_from, ROUND(value, 4) AS value
    FROM dim
    WHERE valid_from <= TIMESTAMP '{_TT_T2}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_TT_T2}')
    """,
)
def ts_scd2_as_of_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a plain table: reconstruct the dimension AS OF
    a timestamp from its SCD2 validity intervals — the engine-native
    answer to `SELECT ... TIMESTAMP AS OF` where no Delta/Iceberg
    metadata layer exists (this environment ships neither; the
    intervals ARE the version history, so any past state is one
    filter away and needs no snapshot copies).

    Scale: interval build is one key-partitioned window; the as-of
    cut is a row-local filter — no join, no extra shuffle, and with
    the history table day-partitioned on valid_from the filter prunes
    partitions."""
    dim = scd2_versions(load_table(spark, sf_dir, "events"))
    return dim.filter(scd2_valid_at(F.lit(_TT_T2).cast("timestamp"))).select(
        "user_id", "version_id", "valid_from", "value"
    )


@query(
    "ts_time_travel_diff",
    oracle=f"""
    WITH dim AS ({_SCD2_DIM_SQL}),
    snap AS (
      SELECT user_id, version_id, value,
             CASE WHEN valid_from <= TIMESTAMP '{_TT_T1}'
                   AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_TT_T1}')
                  THEN 1 ELSE 0 END AS at_t1,
             CASE WHEN valid_from <= TIMESTAMP '{_TT_T2}'
                   AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_TT_T2}')
                  THEN 1 ELSE 0 END AS at_t2
      FROM dim),
    keyed AS (
      SELECT user_id,
             MAX(CASE WHEN at_t1 = 1 THEN version_id END) AS v1,
             MAX(CASE WHEN at_t2 = 1 THEN version_id END) AS v2
      FROM snap WHERE at_t1 = 1 OR at_t2 = 1 GROUP BY user_id)
    SELECT user_id, v1 AS version_t1, v2 AS version_t2,
           CASE WHEN v1 IS NULL THEN 'added'
                WHEN v2 IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM keyed WHERE v1 IS DISTINCT FROM v2
    """,
)
def ts_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two points in time from the same SCD2
    history: which keys were added, removed, or version-changed
    between T1 and T2 — what `DESCRIBE HISTORY` + two time-travel
    reads + an anti-join chain gives on a lakehouse table, here in
    ONE pass over the interval table (each interval row knows its
    membership in both snapshots, so the diff is a conditional
    aggregate per key, not a join of two snapshot materializations).

    Scale: one key-partitioned window for intervals + one groupBy on
    the key; cost is independent of how far apart T1 and T2 are."""
    keyed = (
        scd2_versions(load_table(spark, sf_dir, "events"))
        .withColumn("at_t1", scd2_valid_at(F.lit(_TT_T1).cast("timestamp")).cast("int"))
        .withColumn("at_t2", scd2_valid_at(F.lit(_TT_T2).cast("timestamp")).cast("int"))
        .filter((F.col("at_t1") == 1) | (F.col("at_t2") == 1))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("at_t1") == 1, F.col("version_id"))).alias("version_t1"),
            F.max(F.when(F.col("at_t2") == 1, F.col("version_id"))).alias("version_t2"),
        )
    )
    return keyed.filter(
        ~F.col("version_t1").eqNullSafe(F.col("version_t2"))
    ).select(
        "user_id",
        "version_t1",
        "version_t2",
        F.when(F.col("version_t1").isNull(), "added")
        .when(F.col("version_t2").isNull(), "removed")
        .otherwise("changed")
        .alias("change"),
    )
