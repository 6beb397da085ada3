"""Behavioral / product-analytics operators over the ``events`` table.

The reference has no event analytics at all (its only time logic is the
daily incremental predicate, reference ``mysql_operations.py:21-23``);
these are extension surface (SURVEY.md §2b X5/X8) — the standard
event-log questions every warehouse answers: funnels, cohort retention,
and Markov-style transition counts.

  q_funnel_conversion     strictly-ordered 3-step funnel
                          (view → click → purchase) counted per user
  q_cohort_retention      weekly cohort × week-offset retention matrix
  q_event_transitions     adjacent event-type transition counts (LAG)
  q_rolling_active_users  rolling 7-day actives via explode-to-cover-days
  q_week_over_week        period-over-period growth (LAG on the
                          aggregated weekly series)
  q_ab_test_significance  two-proportion z-test between experiment arms

Scale notes: funnel/retention/transitions scan the fact ONCE and hash-
partition on ``user_id`` (whole-partition window formulations — plan-
asserted in test_plan_quality.py); rolling actives replaces the global
ordered window with a map-side day expansion + hash aggregate. No
driver state, no global sort anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data import load_table
from ..registry import query

# ------------------------------------------------------------ funnel ----


def funnel_stages(events: DataFrame, within_us: int | None, names: list[str]) -> DataFrame:
    """The strictly-ordered view → click → purchase funnel as one row
    of three user counts, aliased `names`. Each user's stage
    timestamps are three whole-partition window minimums over the
    SAME user_id partitioning, each conditioned on the previous
    stage's (a step must come strictly after it and, unless
    `within_us` is None, at most `within_us` microseconds after it);
    then one count-distinct rollup. The plan is one events scan, one
    user_id exchange and one single-row rollup. Callers:
    q_funnel_conversion (unbounded), q_funnel_time_windowed (1 hour)."""
    w = Window.partitionBy("user_id")

    def us(c: str) -> Column:
        return F.unix_micros(F.col(c).cast("timestamp"))

    def first_after(event: str, prev: str) -> Column:
        cond = (F.col("event_type") == event) & (F.col("ts") > F.col(prev))
        if within_us is not None:
            cond = cond & (us("ts") <= us(prev) + within_us)
        return F.min(F.when(cond, F.col("ts"))).over(w)

    staged = (
        events.select("user_id", "event_type", "ts")
        .withColumn("view_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
        .withColumn("click_ts", first_after("click", "view_ts"))
        .withColumn("buy_ts", first_after("purchase", "click_ts"))
    )
    return staged.agg(
        *[
            F.count_distinct(F.when(F.col(c).isNotNull(), F.col("user_id"))).alias(n)
            for c, n in zip(["view_ts", "click_ts", "buy_ts"], names)
        ]
    )


@query(
    "q_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS view_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS click_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS buy_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS users_view,
           (SELECT COUNT(*) FROM c) AS users_click,
           (SELECT COUNT(*) FROM p) AS users_purchase
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel: users whose first view precedes a click
    that precedes a purchase.

    Single-scan formulation (`funnel_stages`): one events scan + one
    user_id exchange + one single-row rollup — versus the textbook
    per-stage aggregate-and-join-back chain, which scans the fact 6×
    and shuffles 8× for identical results (that chain is what the
    DuckDB oracle runs)."""
    return funnel_stages(
        load_table(spark, sf_dir, "events"),
        None,
        ["users_view", "users_click", "users_purchase"],
    )


# --------------------------------------------------------- retention ----


@query(
    "q_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, a.active_week) / 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM active a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week,
    counted in each later week they return.

    Single-scan formulation: distinct (user, week) pairs first (the
    big shrink — one shuffle), then the cohort week is just the
    whole-partition window MIN over the user's weeks (cohort_week =
    week of first event = min of per-event weeks), avoiding the second
    events scan + aggregate-and-join-back the textbook query (and the
    oracle) performs. Ends in a tiny (cohort, offset) rollup."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    )
    active = e.distinct()
    cohort = F.min("active_week").over(Window.partitionBy("user_id"))
    return (
        active.withColumn("cohort_week", cohort)
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# ------------------------------------------------------- transitions ----


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between adjacent events of
    each user (LAG over user timeline, event_id tie-break). One shuffle
    on user_id for the window, then a tiny |types|² aggregate that
    combines map-side."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


@query(
    "q_rolling_active_users",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM daily)
    SELECT d.day, COUNT(DISTINCT a.user_id) AS active_7d
    FROM days d JOIN daily a ON a.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (the WAU curve), one row per
    observed day.

    Scale formulation: instead of a windowed COUNT(DISTINCT) over a
    globally ordered frame (SinglePartition at 100 TB) or a day-range
    theta-join fanning every activity row against the day spine, each
    distinct (day, user) pair is EXPLODED to the ≤7 future days it
    covers (map-side sequence+explode, no join), then one hash
    aggregate counts distinct users per covered day. The tiny observed-
    day spine is broadcast-semi-joined at the end only to drop cover
    days that run past the data's edge. At extreme cardinality swap
    count_distinct for the bitmap/HLL rollup (q_bitmap_distinct_rollup
    / q_hll_sketch_union) — the expansion shape is unchanged."""
    e = load_table(spark, sf_dir, "events")
    daily = e.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = daily.select("day").distinct()
    expanded = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("day"),
        "user_id",
    )
    return (
        expanded.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("active_7d"))
    )


@query(
    "q_week_over_week",
    oracle="""
    WITH weekly AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
             ROUND(SUM(value), 2)                 AS revenue
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    )
    SELECT week, revenue,
           LAG(revenue) OVER (ORDER BY week) AS prev_revenue,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY week))
                 / LAG(revenue) OVER (ORDER BY week) * 100, 4) AS wow_pct
    FROM weekly
    """,
)
def q_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth: weekly rollup, then LAG against
    the previous week.

    The LAG window is globally ordered, but it runs on the AGGREGATED
    series — one row per week (~5K rows even for a century of data), so
    the single-partition stage is on provably tiny input; the heavy
    lifting is the map-side-combining weekly aggregate before it."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    weekly = e.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).agg(F.round(F.sum("value"), 2).alias("revenue"))
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week",
        "revenue",
        prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias("wow_pct"),
    )


@query(
    "q_ab_test_significance",
    oracle="""
    WITH assign AS (
      SELECT user_id, user_id % 2 AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT variant,
             COUNT(*)                    AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM assign GROUP BY variant
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n_users END)     AS n0,
        MAX(CASE WHEN variant = 0 THEN n_converted END) AS c0,
        MAX(CASE WHEN variant = 1 THEN n_users END)     AS n1,
        MAX(CASE WHEN variant = 1 THEN n_converted END) AS c1
      FROM arms
    )
    SELECT n0, c0, n1, c1,
           ROUND(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
           ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
           -- NULLIF: z is undefined when the pooled rate is 0 or 1
           -- (degenerate experiment) — NULL, not a division error
           ROUND(
             (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / NULLIF(SQRT((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 0), 4) AS zscore
    FROM wide
    """,
)
def q_ab_test_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between experiment arms (variant =
    user_id % 2, conversion = any purchase): per-arm user and
    conversion counts, rates, and the pooled z-statistic — the readout
    every experimentation platform computes.

    Shape: one per-user aggregate (the only real shuffle), a 2-row arm
    rollup, then pure arithmetic on a 1-row conditional pivot. All the
    statistics happen after the data has collapsed to four numbers, so
    the cost at 100 TB is the cost of the user-level aggregate."""
    e = load_table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("variant"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    )
    arms = assign.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c1"),
    )
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pooled = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    # try_divide: z is undefined when the pooled rate is 0 or 1
    # (degenerate experiment) — NULL, not an ANSI division error
    z = F.try_divide(
        p1 - p0,
        F.sqrt(pooled * (1 - pooled) * (1 / F.col("n0") + 1 / F.col("n1"))),
    )
    return wide.select(
        "n0", "c0", "n1", "c1",
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.round(z, 4).alias("zscore"),
    )


@query(
    "q_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'signup')   AS first_signup,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
      FROM events GROUP BY user_id),
    conv AS (
      SELECT user_id,
             CAST(FLOOR(epoch(first_purchase)) AS BIGINT)
           - CAST(FLOOR(epoch(first_signup)) AS BIGINT) AS secs
      FROM firsts
      WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_signup)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(CAST(secs AS DOUBLE), 0.5), 2) AS median_secs,
           ROUND(quantile_cont(CAST(secs AS DOUBLE), 0.9), 2) AS p90_secs
    FROM conv
    """,
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, first signup → first
    purchase latency; report conversion count with exact median and
    p90 — the activation metric behind every growth dashboard
    (q_funnel_conversion counts WHO converts; this measures HOW FAST).

    Scale: one conditional-MIN groupBy on user_id builds both
    first-touch timestamps in a single pass (no per-stage scan or
    self-join); the percentile runs over the converted-user relation
    only. Endpoint-floored epoch seconds keep both engines integral
    before the interpolated quantiles."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("fs"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    conv = firsts.filter(
        F.col("fs").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") >= F.col("fs"))
    ).select(
        (F.unix_timestamp("fp") - F.unix_timestamp("fs")).cast("double").alias("secs")
    )
    return conv.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.round(F.expr("percentile(secs, 0.5)"), 2).alias("median_secs"),
        F.round(F.expr("percentile(secs, 0.9)"), 2).alias("p90_secs"),
    )


@query(
    "q_cumulative_distinct_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id),
    daily_new AS (
      SELECT first_day AS day, COUNT(*) AS new_users FROM firsts GROUP BY 1)
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM daily_new
    """,
)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth curve. Windowed
    COUNT(DISTINCT) is unsupported in Spark (and quadratic where it
    exists); the scalable identity is first-occurrence: a user counts
    exactly once, on MIN(day), so cumulative distinct = running sum of
    daily first-timers. One groupBy(user) + one tiny running sum over
    |days| rows — the pattern generalizes to any cumulative-unique
    metric (devices, SKUs, n-grams: see text_novelty_ratio)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily_new = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@query(
    "q_session_path_topk",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id < 300
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked),
    paths AS (
      SELECT user_id, session_seq,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sessions GROUP BY user_id, session_seq)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent session paths (the ordered event-type
    sequence within a 30-minute-gap session) — the "common journeys"
    report behind funnel design and anomaly triage.

    Reuses the ts_sessionize spine: one shuffle on user_id serves the
    LAG gap-mark, the running session number, AND the per-session path
    aggregation (same key → Catalyst reuses the exchange); the path
    string is built per session AFTER that shuffle by sorting only the
    session's own events (collect_list → array_sort on (ts, event_id)
    structs — never a global sort). The final path count is one more
    hash aggregate; top-10 is a TakeOrdered, not a full sort."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)

    # exact microsecond gap arithmetic — same rationale as ts_sessionize
    # (a plain long cast truncates to seconds and disagrees with the
    # oracle's INTERVAL compare on sub-second gap edges)
    def micros(col):
        return F.unix_micros(col.cast("timestamp"))

    marked = ev.withColumn(
        "is_new",
        F.when(
            prev_ts.isNull()
            | (micros(F.col("ts")) - micros(prev_ts) > 30 * 60 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_seq", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = sessions.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


@query(
    "q_funnel_time_windowed",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS view_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS click_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
        AND e.ts <= v.view_ts + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS buy_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        AND e.ts <= c.click_ts + INTERVAL 1 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS users_view,
           (SELECT COUNT(*) FROM c) AS users_click_1h,
           (SELECT COUNT(*) FROM p) AS users_purchase_1h
    """,
)
def q_funnel_time_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: like q_funnel_conversion but each step
    must land within 1 hour of the previous step — the form real
    funnel analysis uses (an unbounded funnel counts a purchase a month
    after the click as converted).

    Same single-scan / single-exchange spine as q_funnel_conversion:
    the window constraint is one extra predicate inside each
    conditional window MIN, so tightening or widening the conversion
    window never changes the plan shape. The oracle runs the textbook
    6-scan aggregate-and-join-back chain for the same answer."""
    return funnel_stages(
        load_table(spark, sf_dir, "events"),
        3600 * 1_000_000,
        ["users_view", "users_click_1h", "users_purchase_1h"],
    )


@query(
    "q_survival_km",
    oracle="""
    WITH span AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
    u AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
                 MIN(CASE WHEN event_type = 'purchase' AND value > 150
                          THEN CAST(ts AS DATE) END) AS hv
          FROM events GROUP BY user_id),
    obs AS (
      SELECT CASE WHEN hv IS NULL THEN datediff('day', fd, maxd)
                  ELSE datediff('day', fd, hv) END AS t,
             CASE WHEN hv IS NULL THEN 0 ELSE 1 END AS churned
      FROM u CROSS JOIN span),
    agg AS (SELECT t, COUNT(*) AS n_t, SUM(churned) AS d FROM obs GROUP BY t),
    risk AS (SELECT t, d, SUM(n_t) OVER (ORDER BY t DESC) AS n_risk FROM agg),
    ev AS (SELECT * FROM risk WHERE d > 0 AND d < n_risk)
    SELECT CAST(t AS INT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT)      AS n_events,
           ROUND(EXP(SUM(LN(1.0 - CAST(d AS DOUBLE) / n_risk))
                     OVER (ORDER BY t)), 6) AS survival
    FROM ev
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-event curve: t = days from a user's first
    event to their first HIGH-VALUE purchase (value > 150); users who
    never reach one by the end of the data are right-CENSORED at the
    observation edge (they count in the at-risk set but contribute no
    event) — the estimator conversion/CLV analysis uses when the
    observation window cuts journeys short. (~half the users censor at
    these fixtures, so the censoring arithmetic is genuinely
    exercised, not a degenerate all-censored edge case.)

    Distributed KM: per-user spans are one hash aggregate; the
    lifetime table collapses to one row per distinct duration (tiny);
    at-risk counts are a reverse running sum and the survival product
    is exp(Σ ln(1 - d/n)) — both windows run over the O(#distinct
    durations) table, so the only single-partition work is
    curve-length-sized. Times where every remaining user churns are
    excluded (both engines, identically) because ln(0) diverges —
    the curve's zero tail carries no information.

    Cross-engine note: survival rides ln/exp whose last-ulp behavior
    may differ between the JVM and libm; the 6-decimal round absorbs
    it (same policy as the entropy/TF-IDF queries)."""
    ev = load_table(spark, sf_dir, "events")
    hv_day = F.when(
        (F.col("event_type") == "purchase") & (F.col("value") > 150),
        F.to_date("ts"),
    )
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"), F.min(hv_day).alias("hv")
    )
    span = ev.agg(F.max(F.to_date("ts")).alias("maxd"))
    obs = u.join(F.broadcast(span)).select(
        F.when(F.col("hv").isNull(), F.datediff("maxd", "fd"))
        .otherwise(F.datediff("hv", "fd"))
        .alias("t"),
        F.when(F.col("hv").isNull(), 0).otherwise(1).alias("churned"),
    )
    agg = obs.groupBy("t").agg(
        F.count("*").alias("n_t"), F.sum("churned").alias("d")
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = agg.select(
        "t", "d", F.sum("n_t").over(w_desc).alias("n_risk")
    ).filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk")))
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return risk.select(
        F.col("t").cast("int").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.round(
            F.exp(
                F.sum(
                    F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
                ).over(w_asc)
            ),
            6,
        ).alias("survival"),
    )


@query(
    "q_change_contribution",
    oracle="""
    WITH span AS (
      SELECT CAST(date_trunc('week', MAX(ts)) AS DATE) AS wk_cur FROM events),
    weekly AS (
      SELECT event_type,
             SUM(CASE WHEN CAST(date_trunc('week', ts) AS DATE) = wk_cur
                      THEN value END)                               AS cur_val,
             SUM(CASE WHEN CAST(date_trunc('week', ts) AS DATE)
                           = wk_cur - 7 THEN value END)             AS prev_val
      FROM events CROSS JOIN span GROUP BY event_type),
    d AS (
      SELECT event_type,
             COALESCE(cur_val, 0)  AS cur_val,
             COALESCE(prev_val, 0) AS prev_val,
             COALESCE(cur_val, 0) - COALESCE(prev_val, 0) AS delta
      FROM weekly),
    tot AS (SELECT SUM(delta) AS total_delta FROM d)
    SELECT event_type,
           ROUND(cur_val, 2)  AS cur_val,
           ROUND(prev_val, 2) AS prev_val,
           ROUND(delta, 2)    AS delta,
           ROUND(delta / total_delta, 4) AS contribution
    FROM d CROSS JOIN tot
    """,
)
def q_change_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-contribution decomposition: the latest full week's value
    moved vs the week before — WHICH segments moved it? Per event
    type: both weekly totals, the delta, and its share of the overall
    delta (shares sum to 1 by construction) — the "why did the metric
    move" report behind every metrics review.

    One scan: both weeks ride a single conditional aggregate per
    segment (no per-week subqueries or self-joins); the grand delta is
    a 1-row broadcast back over the segment table. Adding a second
    breakdown dimension is one more GROUP BY column, same plan."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.date_trunc("week", F.max("ts")).cast("date").alias("wk_cur")
    )
    cur = F.sum(
        F.when(
            F.date_trunc("week", F.col("ts")).cast("date") == F.col("wk_cur"),
            F.col("value"),
        )
    )
    prev = F.sum(
        F.when(
            F.date_trunc("week", F.col("ts")).cast("date")
            == F.date_sub(F.col("wk_cur"), 7),
            F.col("value"),
        )
    )
    weekly = (
        ev.join(F.broadcast(span))
        .groupBy("event_type")
        .agg(
            F.coalesce(cur, F.lit(0.0)).alias("cur_val"),
            F.coalesce(prev, F.lit(0.0)).alias("prev_val"),
        )
        .withColumn("delta", F.col("cur_val") - F.col("prev_val"))
    )
    tot = weekly.agg(F.sum("delta").alias("total_delta"))
    return weekly.join(F.broadcast(tot)).select(
        "event_type",
        F.round("cur_val", 2).alias("cur_val"),
        F.round("prev_val", 2).alias("prev_val"),
        F.round("delta", 2).alias("delta"),
        F.round(F.col("delta") / F.col("total_delta"), 4).alias("contribution"),
    )


@query(
    "q_rfm_segmentation",
    oracle="""
    WITH span AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
    u AS (
      SELECT user_id,
             datediff('day', MAX(CAST(ts AS DATE)), maxd) AS recency,
             COUNT(*)                                     AS frequency,
             ROUND(SUM(value), 2)                         AS monetary
      FROM events CROSS JOIN span GROUP BY user_id, maxd),
    th AS (
      SELECT quantile_cont(recency, 0.2) AS r20, quantile_cont(recency, 0.4) AS r40,
             quantile_cont(recency, 0.6) AS r60, quantile_cont(recency, 0.8) AS r80,
             quantile_cont(frequency, 0.2) AS f20, quantile_cont(frequency, 0.4) AS f40,
             quantile_cont(frequency, 0.6) AS f60, quantile_cont(frequency, 0.8) AS f80,
             quantile_cont(monetary, 0.2) AS m20, quantile_cont(monetary, 0.4) AS m40,
             quantile_cont(monetary, 0.6) AS m60, quantile_cont(monetary, 0.8) AS m80
      FROM u),
    scored AS (
      SELECT CASE WHEN recency <= r20 THEN 5 WHEN recency <= r40 THEN 4
                  WHEN recency <= r60 THEN 3 WHEN recency <= r80 THEN 2
                  ELSE 1 END AS r_score,
             CASE WHEN frequency <= f20 THEN 1 WHEN frequency <= f40 THEN 2
                  WHEN frequency <= f60 THEN 3 WHEN frequency <= f80 THEN 4
                  ELSE 5 END AS f_score,
             CASE WHEN monetary <= m20 THEN 1 WHEN monetary <= m40 THEN 2
                  WHEN monetary <= m60 THEN 3 WHEN monetary <= m80 THEN 4
                  ELSE 5 END AS m_score
      FROM u CROSS JOIN th)
    SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every user scored 1-5 on Recency, Frequency,
    and Monetary value against the population's exact quintile
    thresholds, reported as segment counts (5-5-5 = champions,
    1-1-1 = lost) — the classic lifecycle-marketing cut.

    Scale: one hash aggregate builds the per-user RFM table; the
    twelve quintile thresholds are ONE exact-percentile aggregate row
    broadcast back (threshold-compare scoring is map-only — no global
    rank pass, no per-dimension shuffle; swap in approx_percentile at
    extreme user counts, same plan). Monetary is rounded before
    thresholding so the double sum's ulp wiggle can't flip a boundary
    user between engines."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.max(F.to_date("ts")).alias("maxd"))
    u = (
        ev.join(F.broadcast(span))
        .groupBy("user_id", "maxd")
        .agg(
            F.datediff(F.max(F.col("maxd")), F.max(F.to_date("ts"))).alias("_r"),
            F.count("*").alias("frequency"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
        .select(
            F.col("_r").alias("recency"), "frequency", "monetary"
        )
        # persist: per-user table feeds both the threshold aggregate and
        # the scoring pass — one events scan instead of two (the user
        # table is |users|-sized, far below the event log it summarizes)
        .persist()
    )
    th = u.agg(
        *[
            F.percentile(c, F.lit(q)).alias(f"{c[0]}{int(q * 100)}")
            for c in ["recency", "frequency", "monetary"]
            for q in [0.2, 0.4, 0.6, 0.8]
        ]
    )

    def band(col, t, asc):
        # asc=True: higher value → higher score (freq/monetary);
        # recency is the reverse
        c = F.col(col)
        if asc:
            return (
                F.when(c <= F.col(f"{t}20"), 1)
                .when(c <= F.col(f"{t}40"), 2)
                .when(c <= F.col(f"{t}60"), 3)
                .when(c <= F.col(f"{t}80"), 4)
                .otherwise(5)
            )
        return (
            F.when(c <= F.col(f"{t}20"), 5)
            .when(c <= F.col(f"{t}40"), 4)
            .when(c <= F.col(f"{t}60"), 3)
            .when(c <= F.col(f"{t}80"), 2)
            .otherwise(1)
        )

    scored = u.join(F.broadcast(th)).select(
        band("recency", "r", asc=False).cast("int").alias("r_score"),
        band("frequency", "f", asc=True).cast("int").alias("f_score"),
        band("monetary", "m", asc=True).cast("int").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_users")
    )


@query(
    "q_new_vs_returning",
    oracle="""
    WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    firsts AS (SELECT user_id, MIN(day) AS first_day FROM daily GROUP BY user_id)
    SELECT d.day,
           CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returning
    FROM daily d JOIN firsts f ON d.user_id = f.user_id
    GROUP BY d.day
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives split into first-ever-seen vs returning users —
    the growth-accounting base table (new/retained) that sits under
    every DAU chart.

    Single-scan: distinct (day, user) once, then each user's first
    day is a whole-partition window MIN over the SAME user_id
    partitioning the distinct already created — no second scan, no
    aggregate-and-join-back (that chain is the oracle's plan); the
    final day rollup partial-aggregates map-side."""
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = e.distinct()
    first_day = F.min("day").over(Window.partitionBy("user_id"))
    return (
        daily.withColumn("first_day", first_day)
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("n_returning"),
        )
    )


@query(
    "q_stickiness_dau_wau",
    oracle="""
    WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM daily),
    dau AS (SELECT day, COUNT(*) AS dau FROM daily GROUP BY day),
    wau AS (
      SELECT d.day, COUNT(DISTINCT a.user_id) AS wau
      FROM days d JOIN daily a ON a.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day)
    SELECT d.day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           ROUND(CAST(dau AS DOUBLE) / wau, 4) AS stickiness
    FROM dau d JOIN wau USING (day)
    """,
)
def q_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (DAU/WAU) per day: what fraction of the week's
    active users showed up today — the engagement-frequency ratio next
    to every DAU chart.

    Scale: the oracle's range join (day BETWEEN d-6 AND d) is
    quadratic-ish per user; the operator instead uses the
    q_rolling_active_users rewrite — each (day, user) row EXPANDS
    map-side to the ≤7 trailing days it covers, so WAU is a plain hash
    aggregate (count_distinct per covered day) and DAU rides the same
    distinct relation. One distinct shuffle + two hash aggregates,
    no range join anywhere."""
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    # persist: the distinct (day,user) relation feeds DAU, the cover-day
    # expansion, AND the observed-day list — one distinct shuffle total
    daily = e.distinct().persist()
    dau = daily.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    covered = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    days = daily.select("day").distinct()
    wau = (
        covered.join(days, "day")  # drop cover-days past the observed range
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 4).alias(
                "stickiness"
            ),
        )
    )


@query(
    "q_activity_streaks",
    oracle="""
    WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    isl AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INT) AS island
      FROM daily),
    streaks AS (
      SELECT user_id, MIN(day) AS streak_start, COUNT(*) AS streak_days
      FROM isl GROUP BY user_id, island)
    SELECT user_id,
           CAST(MAX(streak_days) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT)         AS n_streaks,
           MIN(streak_start)                AS first_day
    FROM streaks GROUP BY user_id
    """,
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of CONSECUTIVE active
    days and how many separate streaks they had — the engagement-streak
    metric, and the canonical islands idiom (day minus its per-user row
    number is constant exactly while days are consecutive, so the
    difference IS the island key — no self-join, no recursion).

    Scale: one distinct shuffle on (user, day); the row_number window,
    the island rollup, and the per-user summary all partition on
    user_id, so Catalyst reuses that single exchange end-to-end."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    daily = e.distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    isl = daily.withColumn("island", F.date_sub(F.col("day"), rn))
    streaks = isl.groupBy("user_id", "island").agg(
        F.min("day").alias("streak_start"), F.count("*").alias("streak_days")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_days").cast("long").alias("longest_streak"),
        F.count("*").cast("long").alias("n_streaks"),
        F.min("streak_start").alias("first_day"),
    )
