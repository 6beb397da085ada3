"""X16 (oracle-checkable half): the batch twins of the streaming jobs.
Each windowed, join, enrichment and sketch twin CALLS the stream
transform in streaming/jobs.py over the static events table — Spark's
unified DataFrame model runs one function under readStream or over a
table (withWatermark is a no-op in batch) — so the DuckDB oracle
checks the code that streams, and tests assert stream == batch on the
same input.

Oracles express the window algebra in portable SQL: tumbling = truncate
to the grid; sliding(1h, 30m) = exactly the two covering 30m-grid
starts; session = gap-islands via LAG + cumulative flag sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import load_table, load_table_spread
from ..registry import query
from .jobs import (
    countmin_cells,
    enrich_with_user_dim,
    session_aggregate,
    sliding_counts,
    stream_click_purchase_join,
    tumbling_counts,
)


@query(
    "stream_tumbling_hourly",
    headline=True,
    oracle="""
    SELECT date_trunc('hour', ts)      AS window_start,
           event_type,
           COUNT(*)                    AS n_events,
           ROUND(SUM(value), 2)        AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type: calls
    jobs.tumbling_counts.

    Scale/streaming: with readStream + withWatermark this exact plan
    maintains incremental per-window state; in batch it is one shuffle
    on (window, event_type).
    """
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_sliding_windows",
    oracle="""
    WITH g AS (
      SELECT ts, value,
             -- DuckDB's to_timestamp returns TIMESTAMP WITH TIME ZONE,
             -- which diverges from Spark's F.window TIMESTAMP in both
             -- arrow type and rendered value (the r10 driver attestation
             -- failed on exactly this: rows matched, schema/hash did
             -- not). make_timestamp(micros) round-trips epoch() back to
             -- a plain TIMESTAMP independent of the session time zone.
             make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)
                            * 1000000) AS b
      FROM events),
    w AS (
      SELECT b                              AS window_start, value FROM g
      UNION ALL
      SELECT b - INTERVAL 30 MINUTE         AS window_start, value FROM g)
    SELECT window_start, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM w GROUP BY 1
    """,
)
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide — every event
    lands in exactly two windows (its 30m bucket and the one before).
    The window function generates both assignments natively. Calls
    jobs.sliding_counts."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


@query(
    "stream_session_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 2 HOUR OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    tagged AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered)
    SELECT user_id,
           MIN(ts)                       AS session_start,
           MAX(ts) + INTERVAL 2 HOUR     AS session_end,
           COUNT(*)                      AS n_events,
           ROUND(SUM(value), 2)          AS total_value
    FROM tagged
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 2-hour inactivity gap per user —
    session_window (start = first event, end = last event + gap),
    oracled by the classic LAG/cumulative-sum gaps-and-islands SQL.
    Calls jobs.session_aggregate.

    Scale/streaming: session_window under readStream keeps one merged
    state row per open session per user; watermark closes sessions.
    """
    return session_aggregate(load_table(spark, sf_dir, "events"))


@query(
    "stream_stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*)             AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of jobs.stateful_user_totals (applyInPandasWithState):
    the final per-user running totals. In batch this is a plain
    aggregate; the streaming form maintains it as arbitrary keyed state
    across micro-batches (tests/test_streaming.py asserts equality).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    )


@query(
    "stream_click_attribution",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM events p
    JOIN events c ON c.user_id = p.user_id
                 AND c.event_type = 'click'
                 AND c.ts <= p.ts
                 AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    """,
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval join (purchase × clicks in the preceding hour):
    calls jobs.stream_click_purchase_join. In streaming the same plan
    runs with two watermarked sides and bounded state;
    tests/test_streaming.py asserts stream == batch."""
    return stream_click_purchase_join(load_table(spark, sf_dir, "events"))


@query(
    "stream_dedup_ids",
    oracle="""
    SELECT DISTINCT event_id, user_id, event_type, ts, value
    FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
    """,
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of jobs.stream_dedup_events: the input is doubled
    (simulating at-least-once redelivery) and deduped on event_id.
    Duplicate rows are bit-identical, so dropDuplicates' keeper is
    deterministic here; tests/test_streaming.py asserts the streaming
    dropDuplicatesWithinWatermark form yields the same set."""
    ev = load_table(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    return doubled.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment,
           COUNT(*)                 AS n_events,
           ROUND(SUM(e.value), 2)   AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: calls
    jobs.enrich_with_user_dim — events joined to the customer
    dimension on user_id, revenue rolled up per (hour, market segment).

    Under readStream the identical plan is a stateless per-micro-batch
    broadcast join — the standard way a 100 TB/day event firehose picks
    up slowly-changing dimension attributes without any join state."""
    return enrich_with_user_dim(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


@query(
    "stream_countmin_cells",
    oracle="""
    SELECT i, bucket, COUNT(*) AS cell FROM (
      SELECT i,
             CAST(concat('0x', substr(md5(concat(CAST(i AS VARCHAR), ':',
                                                 CAST(user_id AS VARCHAR))), 25, 8))
                  AS BIGINT) % 64 AS bucket
      FROM events CROSS JOIN (SELECT unnest(range(4)) AS i))
    GROUP BY i, bucket
    """,
)
def stream_countmin_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4×64 count-min cell table over event user_ids: calls
    jobs.countmin_cells. The same plan runs under readStream (complete
    mode) because the aggregation state is a constant 256 cells — the
    sketch property that makes frequency estimation streamable with
    bounded memory where an exact per-key count is not. Cells are
    md5-bucketed (engine-independent), so the DuckDB oracle rebuilds
    the same sketch cell-for-cell; tests/test_streaming.py asserts
    stream == batch on the same input."""
    return countmin_cells(load_table(spark, sf_dir, "events"))


@query(
    "stream_knn_probe",
    scale_twin="stream_knn_probe_ivf",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    arrivals AS (SELECT vec_id, v FROM e WHERE vec_id % 17 = 3),
    standing AS (SELECT * FROM e WHERE vec_id % 17 <> 3),
    u AS (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM standing),
    dims AS (
      SELECT label, i, CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
      FROM u GROUP BY label, i),
    cent AS (SELECT label, list(c ORDER BY i) AS cv FROM dims GROUP BY label),
    probe AS (
      SELECT vec_id AS query_id, qv, label FROM (
        SELECT a.vec_id, a.v AS qv, cent.label,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                 list_dot_product(a.v, cent.cv)
                 / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(cent.cv, cent.cv)))
                 DESC, cent.label) AS pr
        FROM arrivals a CROSS JOIN cent)
      WHERE pr <= 3),
    scored AS (
      SELECT p.query_id, s.vec_id AS neighbor_id,
             list_dot_product(p.qv, s.v)
             / (SQRT(list_dot_product(p.qv, p.qv)) * SQRT(list_dot_product(s.v, s.v))) AS cos
      FROM probe p JOIN standing s ON s.label = p.label AND s.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def stream_knn_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming ANN probe: arriving query vectors
    (the `vec_id % 17 == 3` slice, matching sim_ivf_incremental_add's
    arrival convention) are ranked against the STANDING corpus via the
    IVF probe core (`operators.similarity.ivf_probe`, nprobe=3, k=3).
    Under readStream the identical core runs per micro-batch inside
    foreachBatch against the standing index — the stream==batch test
    in tests/test_streaming.py proves result equality on the same
    arrivals, which is exactly the unified-model claim: a vector
    search service and its backfill job share one implementation.

    Scale NOTE (r7): with the fixture's FIXED label cells, per-query
    cost is nprobe/cells × corpus — O(n) per query, quadratic overall
    once arrivals scale with the corpus (measured 3.2 s → 94 s over
    one 10× twin step). This oracle-checked form is therefore fenced
    to `stream_knn_probe_ivf`, the √n-trained-cell production tier;
    per-micro-batch cost there is O(batch × nprobe·(n/√n)·d) with the
    centroids trained once and reused across batches."""
    from ..operators.similarity import _as_double, ivf_probe

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    is_arrival = F.col("vec_id") % 17 == 3
    return ivf_probe(e.filter(is_arrival).select("vec_id", "v"), e.filter(~is_arrival))


@query("stream_knn_probe_ivf")  # approximate (trained cells) → rows-only
def stream_knn_probe_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production tier of `stream_knn_probe`: the same arrival slice
    probed against the standing corpus through √n driver-trained
    k-means cells (`operators.similarity.ivf_probe_trained` — the
    faiss-IVFFlat shape `sim_knn_join_ivf` uses) instead of the
    fixture's fixed label cells. Fixed cells make per-query cost
    O(corpus/cells) = O(n): the label-cell probe measured 3.2 s → 94 s
    over one 10× twin step. Trained √n cells restore sub-quadratic
    growth AND full parallelism (per-cell numpy matmuls over a
    cell-key shuffle, no interpreted HOF dot products).

    foreachBatch production loop: train centroids once
    (`train_ivf_centroids(standing)`), pass them per batch — the
    stream==batch equality test in tests/test_streaming.py drives
    exactly that and must equal this batch form."""
    from ..operators.similarity import _as_double, ivf_probe_trained

    e = load_table_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    is_arrival = F.col("vec_id") % 17 == 3
    return ivf_probe_trained(
        e.filter(is_arrival).select("vec_id", "v"), e.filter(~is_arrival)
    )
