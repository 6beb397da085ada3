"""SparkSession factory tuned for both local testing and cluster scale.

The reference runs a single-threaded pandas loop (reference
``etl_process.py:18``, ``mysql_operations.py:27``); here every knob is
chosen so the same code runs unchanged on a 1000-executor cluster:
AQE for runtime re-planning (partition coalescing + skew-join
handling), Arrow for any Python-boundary crossing, UTC session time
zone so timestamp semantics are stable across engines, and shuffle
partition count sized from the environment rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cgroup_mem_limit_bytes() -> int | None:
    """Container memory limit, if one is set: cgroup v2 ``memory.max``
    or v1 ``memory.limit_in_bytes``. Returns None when unlimited or
    unreadable ("max", absent file, or a sentinel ≥ 2^60 that kernels
    use for 'no limit')."""
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw == "max" or not raw.isdigit():
            continue
        limit = int(raw)
        if limit < 1 << 60:  # v1 reports ~2^63 when unlimited
            return limit
    return None


def _default_driver_mem() -> str:
    """Driver-heap default scaled to what this process may actually
    use: ~40% of min(host MemTotal, cgroup memory limit), capped at
    48g (local[32] puts all 32 task slots in one driver JVM, so the
    heap must be sized like 32 executor cores' worth — ≥1g/task avoids
    heap-OOM on corpus-scale sorts) and floored at 2g so tiny CI hosts
    still launch. Host MemTotal alone over-allocates inside a
    container (40% of host RAM, not of the cgroup limit, reproduces
    the OOM-kill this sizing exists to prevent); a fixed 48g constant
    did the same on smaller hosts. Override via
    SPARK_GRAFT_DRIVER_MEM either way."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_bytes = int(line.split()[1]) * 1024
                    break
            else:
                return "8g"
    except OSError:  # non-Linux: keep Spark-sized conservative default
        return "8g"
    cg = _cgroup_mem_limit_bytes()
    if cg is not None:
        total_bytes = min(total_bytes, cg)
    gib = total_bytes * 0.4 / (1024 ** 3)
    return f"{min(48, max(2, int(gib)))}g"


def get_spark(
    app_name: str = "database_to_bigquery_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Started by spark-submit, the master is spark-submit's ``--master``
    and these configs still apply; started as a plain Python process,
    it is ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)
    builder = SparkSession.builder.appName(app_name)
    # spark-submit hands its Python driver the gateway port in
    # PYSPARK_GATEWAY_PORT. "Is spark.master set?" cannot tell the two
    # launches apart: a plain launch starts its JVM through
    # spark-submit too, so its conf already holds the default local[*].
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce small shuffle partitions, split skewed ones,
        # convert sort-merge joins to broadcast at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Subset-key co-partitioning: let a join reuse a child already
        # hash-partitioned on a PREFIX/SUBSET of the join keys instead
        # of reshuffling both sides on the full key set. The engine's
        # big corpus relations are persisted hash-partitioned on their
        # entity key (doc_id / vec_id) and probed by joins keyed
        # (entity, attribute) — e.g. the miner's (doc_b, g) exact-
        # verification join over the (doc_id, g)-sorted shingle cache;
        # with the Spark default (true) that corpus side pays a full
        # exchange+sort per consumer (measured: the residual x50 miner
        # bound, SCALE.md §14), with false it is exchange- AND sort-
        # free and only the small candidate stream shuffles. The skew
        # hazard the default guards against (few distinct subset keys)
        # does not apply to high-cardinality entity keys, and AQE skew
        # handling stays on for the rest. Scope note (advisor r8): the
        # knob is session-global, so it can also let OTHER joins reuse
        # subset-key partitionings — audited under the new default by
        # regenerating the full 288-query PLANS.md census (0 cartesian
        # products, broadcast/SMJ mix unchanged except the intended
        # miner attaches) and the 288/288 oracle gate + plan-quality
        # pytest suite; the only relations the engine persists
        # pre-partitioned on a key subset are the miner/probe caches
        # (doc_id, vec_id — highest-cardinality keys), while the
        # low-cardinality keys the advisor flags (band buckets, labels,
        # IVF cells) are never persisted partitioned, so no join can
        # inherit a collapsed layout from them.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Arrow batches for every pandas_udf / applyInPandas crossing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ...and for Python UDTFs too (ArrowEvalPythonUDTF instead of
        # row-pickled BatchEvalPythonUDTF) — keeps the suite-wide
        # "no row-at-a-time Python" plan gate exact.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # Deterministic timestamp semantics (matches DuckDB oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # Dimension tables (region/nation/supplier/part at test SFs)
        # should broadcast; 64MB leaves headroom at larger SFs too.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Input split size. The fixtures are single parquet files of a
        # few MB-tens of MB; at the JVM default (128MB) every scan
        # collapses to ONE task and all narrow work (shingling, UDFs,
        # expression eval) runs single-threaded regardless of
        # local[32]. 4MB splits restore full parallelism at test scale.
        # On a 100 TB cluster this knob should be raised back to
        # 128-256MB (SPARK_GRAFT_MAX_PARTITION_BYTES) — there the file
        # count itself provides the parallelism and 4MB splits would
        # mean tens of millions of tasks.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        .config("spark.ui.enabled", "false")
        # Heap sized from the host's RAM (see _default_driver_mem —
        # on this 128 GiB box it resolves to 48g ≈ 1.5g/task; 8g gave
        # ~250MB/task and heap-OOMed corpus-scale sorts at 250k docs
        # that a real cluster would absorb).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
