"""Fixture table access.

The driver's synthetic tables (TESTDATA.md) are one parquet file per
table. ``load_table`` reads one lazily as a DataFrame.

At cluster scale the same call works against a directory of many
parquet files per table; nothing here materializes data on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table (column pruning + predicate
    pushdown happen automatically once the caller projects/filters).

    events.parquet stores ts as parquet TIMESTAMP(NANOS), which the
    Spark reader rejects outright; read it as raw nanos
    (legacy.parquet.nanosAsLong — a runtime-settable conf, so this
    works under any caller's session) and truncate to microseconds,
    the same ns→µs truncation DuckDB applies.
    """
    path = table_path(sf_dir, name)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # Build TIMESTAMP_NTZ arithmetically from the raw nanos.
            # (timestamp_micros() yields an instant whose wall-clock
            # rendering depends on spark.sql.session.timeZone — under a
            # non-UTC caller session every event time would shift
            # relative to DuckDB's naive read. NTZ epoch + interval is
            # timezone-independent: days exact, intra-day seconds a
            # double that make_dt_interval re-rounds to exact micros.)
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestamp_ntz '1970-01-01 00:00:00' + make_dt_interval("
                    "ts div 86400000000000, 0, 0,"
                    " ((ts % 86400000000000) div 1000) / 1e6)"
                ),
            )
        return df
    return spark.read.parquet(path)


def load_table_spread(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """load_table + repartition-before-expensive-transform.

    The fixture tables are single sub-split-size parquet files, so any
    scan yields ONE input task and per-row CPU-heavy expansions
    (shingling, n-gram explodes, vector math) run single-threaded no
    matter the core count. Paying one tiny shuffle of the compressed
    input spreads the expansion over every core (the char_shingles
    rule). On a real lake with many files the scan already provides
    parallelism and the repartition is a cheap no-op-sized shuffle —
    keep it only ahead of genuinely CPU-bound transforms.
    """
    return load_table(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism, key
    )


def range_fanout(df: DataFrame) -> int:
    """Width for `global_prefix`'s repartitionByRange.

    Derived, not hardcoded: the pattern's SinglePartition offsets stage
    only ever sees one long per range partition, so the width can grow
    with the input at zero metadata cost — while a FIXED 32 means ~3 TB
    per task at 100 TB (a straggler/spill wall no plan census can see).
    Width = max(32, defaultParallelism, plan-estimated input bytes /
    files.maxPartitionBytes) — the same "size the narrow work to the
    cluster" convention as load_table_spread. At fixture scale all
    three terms collapse to 32, so local plans are unchanged.
    The result is still an EXPLICIT partition count, so AQE will not
    re-coalesce it and both consumers of the persisted range exchange
    see identical boundaries. The prefix sums are width-agnostic by
    construction (tests/test_range_fanout.py proves it at two widths).
    """
    spark = df.sparkSession
    width = max(32, spark.sparkContext.defaultParallelism)
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        target = _parse_byte_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        # Two guards on the estimate (advisor r7 — the helper is a
        # general utility, not every caller hands it a file scan):
        # stats-less leaves report the defaultSizeInBytes sentinel
        # (Long.MaxValue-ish) and JOINS MULTIPLY child estimates, so an
        # un-clamped width could be 10^13 — int overflow inside
        # repartitionByRange or millions of scheduled tasks. Ignore
        # sentinel-sized estimates outright, and cap the derived term
        # at _RANGE_FANOUT_CEILING (2^18 tasks × maxPartitionBytes
        # ≈ 32 TB of ranked relation per pattern instance — beyond
        # that a fixed ceiling just means fatter, still-bounded range
        # partitions, not a correctness change).
        sentinel = _parse_byte_conf(
            spark.conf.get("spark.sql.defaultSizeInBytes", str(1 << 62))
        )
        if 0 <= est < sentinel:
            width = max(width, min(-(-est // max(target, 1)), _RANGE_FANOUT_CEILING))
    except Exception:
        pass  # Spark Connect: no _jdf — defaultParallelism still applies
    return width


# Upper clamp for range_fanout's size-derived term; see its body.
_RANGE_FANOUT_CEILING = 1 << 18


def global_prefix(df: DataFrame, order: list, weight=None) -> DataFrame:
    """``df`` plus ``cum``, the inclusive running sum of ``weight``
    (a column or name; default 1, making ``cum`` the 1-based global
    rank) in ``order``, and ``total``, the sum over all rows — without
    a whole-table window, which would funnel the relation through one
    task. ``order`` must be unique per row for ``cum`` to be exact.

    Two passes: repartitionByRange on ``order`` (sampled boundaries, a
    parallel distributed sort over `range_fanout` partitions) and a
    running sum inside each range partition; then each partition's
    exclusive offset, the sum of the partitions before it, from a
    per-partition sum — one row per partition, so its cumulative
    window is the only SinglePartition stage and sees one long per
    partition — broadcast-joined back.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = F.lit(1) if weight is None else weight
    # persist() pins the range partitioning across the two consumers
    # (rows + broadcast offsets). The offsets subtree executes as its
    # own job and may prune to a narrower schema than the rows branch,
    # defeating exchange reuse — and RangePartitioner re-samples
    # boundaries per exchange instance, so the two branches could
    # disagree on boundaries and silently corrupt the offsets (bitten
    # in q_decile_lift).
    ranged = (
        df.repartitionByRange(range_fanout(df), *order)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    local = ranged.withColumn(
        "_lc",
        F.sum(w).over(
            W.partitionBy("_pid").orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    parts = W.orderBy("_pid")
    offsets = local.groupBy("_pid").agg(F.sum(w).alias("_c")).select(
        "_pid",
        F.coalesce(
            F.sum("_c").over(parts.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("_off"),
        F.sum("_c").over(parts.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("total"),
    )
    return local.join(F.broadcast(offsets), "_pid").select(
        *df.columns, (F.col("_off") + F.col("_lc")).alias("cum"), "total"
    )


def _parse_byte_conf(value: str) -> int:
    """Parse Spark size confs like ``10485760b`` / ``10MB`` / ``-1``."""
    v = value.strip().lower()
    for suffix, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if v.endswith(suffix):
            return int(float(v[: -len(suffix)]) * mult)
    return int(v)


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast hint guarded by Catalyst's own size estimate.

    ``F.broadcast(df)`` is an unconditional hint: Spark will ship the
    table to every executor no matter how large it turns out to be, and
    at web scale a "vocabulary-sized" side table can blow past the
    driver/executor memory the hint assumes. This helper reads the
    optimized plan's ``sizeInBytes`` estimate and only applies the hint
    when the estimate fits under the session's
    ``spark.sql.autoBroadcastJoinThreshold``. Above the
    threshold the DataFrame is returned unhinted, so the planner picks
    a shuffle join (sort-merge / shuffled-hash, AQE may still convert
    back if runtime stats shrink). The size estimate is conservative in
    the safe direction — without CBO, aggregates inherit their child's
    estimate, so an over-estimate falls back to the always-correct
    shuffle path rather than an OOM-prone broadcast.
    """
    threshold_bytes = _parse_byte_conf(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    )
    if threshold_bytes < 0:  # -1 disables auto-broadcast: never hint
        return df
    from pyspark.sql import functions as F

    try:
        # internal API (classic mode); under Spark Connect there is no
        # _jdf — fall back to the unguarded hint, the pre-guard behavior
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return F.broadcast(df)
    return F.broadcast(df) if est <= threshold_bytes else df


def bounded(df: DataFrame, n: int) -> DataFrame:
    """Declare a cardinality bound on a relation that is bounded BY
    CONSTRUCTION (a probe/query set selected by key, a k-row centroid
    table, a 2^bits×M codebook) but whose bound Catalyst cannot see.

    Semantically a no-op when the contract holds (``df`` really has
    ≤ ``n`` rows — every call site passes the exact constructed
    cardinality); it materializes as a LocalLimit/GlobalLimit pair in
    the physical plan, which (a) lets ``tools/plan_audit.py``'s
    broadcast census PROVE the relation is safe to ``F.broadcast``
    instead of trusting a docstring, and (b) turns a violated contract
    into bounded memory (truncation) rather than an executor OOM at
    100 TB. LIMIT-without-ORDER nondeterminism cannot bite: the limit
    never truncates when the contract holds."""
    return df.limit(n)
