"""The repository's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It generates the workload's inputs from the seed, starts Spark on
``local[nproc]`` in this process and sets up ``SETUPS`` times (the
first starts the JVM, the others restart the session in it; ``setup_s``
is their median). It then times passes over the workload's items for
about S seconds (at least the workload's ``min_passes``) and checks the
last pass's outputs. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs two untimed warm
passes, then untraced and traced passes in the balanced order U T U, and
reports the per-layer metrics (spans plus the Spark event log).

Everything it writes lives under ``.perfbench/`` next to this
directory; a run's scratch directory is removed when it ends, its
spans and host record stay in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "database_to_bigquery_spark"
DRIVER_HEAP = "2g"
#: set-ups per run: one cold (JVM start) and the rest session restarts
SETUPS = 3
#: traced runs repeat this untraced/traced order: the untraced passes
#: sit on both sides of the traced one, so neither gets the warmer JVM
TRACE_ORDER = (False, True, False)
#: untimed passes before a traced run's first: after one, the next pass
#: still ran 15% faster (etl_daily)
WARM_PASSES = 2

# Wall-clock figures (wall_s, item_p50_s) are in the result record, not
# metrics: on a shared VM they follow the CPU time other guests take
# (README.md, "Spread"), while CPU time and memory stay within bounds.
UNITS = {"setup_s": "s", "cpu_s": "s", "item_cpu_p50_s": "s", "peak_rss_mb": "MB"}
LAYER_COUNTERS = (
    ("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"), ("fetch_wait_s", "s"),
    ("spill_bytes", "bytes"), ("driver_gap_s", "s"),
)
#: reported layer -> span layers whose jobs it owns
COUNTER_LAYERS = {"operators": {"operators", "registry"}, "sinks": {"sinks"}, "streaming": {"streaming"}}


def per_layer_units() -> dict[str, str]:
    from workloads import CORPUS_QUERIES, TPCH_QUERIES

    units = {
        "session.get_spark_s": "s", "session.warmup_s": "s",
        "sources.load_s": "s", "sources.bytes_read": "bytes", "sources.records_read": "count",
        "sources.files_read": "count",
        "plans.run_table_s": "s", "plans.pre_write_s": "s",
        "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
        "sinks.rows_written": "count",
        "registry.build_s": "s", "registry.eager_jobs": "count", "registry.cache_leaks": "count",
    }
    units.update({f"operators.{q}_s": "s" for q in CORPUS_QUERIES + TPCH_QUERIES})
    for layer in COUNTER_LAYERS:
        units.update({f"{layer}.{c}": u for c, u in LAYER_COUNTERS})
    units.update({
        "operators.python_rows": "count", "operators.lsh_pair_yield": "ratio",
        "streaming.batch_s": "s", "streaming.store_bytes_read": "bytes",
        "streaming.store_files_read": "count", "streaming.driver_jobs": "count",
        "streaming.recall": "ratio", "write_amp": "ratio",
        "trace.overhead_s": "s", "trace.span_gap_s": "s",
    })
    return units


class Context:
    """What a workload sees: the session, its inputs and ``item``."""

    def __init__(self, tracer, data_dir: str, work_dir: str, manifest: dict):
        self.spark = None
        self.tracer = tracer
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.manifest = manifest
        self.items: list[tuple[str, float, bool]] = []  # (id, seconds, ok)
        self.item_cpu: dict[str, float] = {}  # id -> CPU seconds of the tree
        self.leaks: dict[str, int] = {}  # item -> persistent RDDs it left

    def item(self, item_id: str, span: str, fn) -> None:
        """Run one item in the closed loop; a raise marks it failed."""
        rdds = self._persistent_rdds() if self.tracer.enabled else 0
        c0 = proctree.cpu_seconds()
        t0 = time.perf_counter()
        ok = True
        try:
            with self.tracer.item_span(item_id, span):
                fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.items.append((item_id, time.perf_counter() - t0, ok))
        self.item_cpu[item_id] = proctree.cpu_seconds() - c0
        if self.tracer.enabled:
            self.leaks[item_id] = max(0, self._persistent_rdds() - rdds)

    def _persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def warm_up(spark, python_workers: bool) -> None:
    """JVM codegen on one scan/aggregate and, for workloads that cross
    into Python, one pandas UDF so the worker pool is forked before
    anything is timed."""
    from pyspark.sql import functions as F

    spark.range(1 << 18).select(F.sum(F.xxhash64("id") % 1000)).collect()
    if not python_workers:
        return

    def _touch(pdf):
        import numpy  # noqa: F401 -- imported once per pooled worker

        return pdf

    (spark.range(64).withColumn("g", F.col("id") % 8).groupBy("g")
     .applyInPandas(_touch, "id long, g long").write.format("noop").mode("overwrite").save())


def set_up(ctx, workload, conf: dict) -> float:
    """One set-up: ``get_spark``, warm-up and the workload's standing
    state. A session left by an earlier set-up is stopped first; its
    JVM stays, so only the first set-up of a run pays the JVM start."""
    from database_to_bigquery_spark.session import get_spark

    tracer = ctx.tracer
    if ctx.spark is not None:
        tracer.bind(None)
        ctx.spark.stop()
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        ctx.spark = get_spark("perfbench", extra_conf=conf)
    tracer.bind(ctx.spark)
    with tracer.span("session.warmup"):
        warm_up(ctx.spark, workload.python_workers)
    workload.setup(ctx)
    return time.perf_counter() - t0


def host_record(spark, manifest: dict, seed: int) -> dict:
    import duckdb
    import pyspark

    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:"))
    cpu = next((line.split(":", 1)[1].strip() for line in open("/proc/cpuinfo")
                if line.startswith("model name")), platform.machine())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpu": cpu,
        "ram_mb": mem_kb // 1024,
        "driver_heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "jvm": spark._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "seed": seed,
        "input_rows": manifest["input_rows"],
        "input_bytes": manifest["input_bytes"],
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started (the Python daemon and its workers) to exit."""
    from pyspark import SparkContext

    children = proctree.descendants()[1:]
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while any(_alive(p) for p in children) and time.time() < deadline:
            time.sleep(0.1)
        for p in children:
            if _alive(p):
                os.kill(p, signal.SIGKILL)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s: float, passes: list[dict], peak_rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "cpu_s": median(p["cpu"] for p in passes),
        "item_cpu_p50_s": median(c for p in passes for c in p["item_cpu"]),
        "peak_rss_mb": peak_rss_mb,
    }


def wall_clock(passes: list[dict]) -> dict[str, float]:
    return {
        "wall_s": median(p["wall"] for p in passes),
        "item_p50_s": median(s for p in passes for _, s, _ in p["items"]),
    }


def per_layer(ctx, untraced: list[dict], traced: list[dict], log, quality: dict) -> dict:
    """Per-pass means over the traced passes of span times and event-log
    counters, plus the quality ratios and the tracing overhead."""
    tracer = ctx.tracer
    n = max(1, len(traced))
    items = {i for p in traced for i, _, _ in p["items"]}
    spans = [s for s in tracer.spans if s.item in items]
    selfs = tracer.self_times()

    def span_sum(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name) / n

    out = dict.fromkeys(per_layer_units(), 0.0)
    for name in ("session.get_spark", "session.warmup"):  # median over the set-ups
        out[f"{name}_s"] = median(s.end - s.start for s in tracer.spans
                                  if s.item is None and s.name == name)
    out["sources.load_s"] = span_sum("sources.load")
    out["plans.run_table_s"] = span_sum("plans.run_table")
    out["sinks.write_s"] = span_sum("sinks.write")
    out["plans.pre_write_s"] = out["plans.run_table_s"] - out["sinks.write_s"]
    out["registry.build_s"] = span_sum("registry.build")
    out["registry.cache_leaks"] = sum(ctx.leaks.get(i, 0) for i in items) / n

    all_layers = log.total(None, items)
    # the scans' "size of files read": task input metrics miss most of a
    # local parquet read
    out["sources.bytes_read"] = all_layers["files_read_bytes"] / n
    out["sources.records_read"] = all_layers["input_records"] / n
    out["sources.files_read"] = all_layers["files_read"] / n
    out["write_amp"] = median(p["write_amp"] or 0.0 for p in traced)
    out["registry.eager_jobs"] = log.total({"registry"}, items)["jobs"] / n
    gap_spans = {"operators": lambda s: s.parent is None and s.layer == "operators",
                 "sinks": lambda s: s.name == "sinks.write",
                 "streaming": lambda s: s.name == "streaming.batch"}
    for layer, owned in COUNTER_LAYERS.items():
        tot = log.total(owned, items)
        for c, _ in LAYER_COUNTERS:
            if c != "driver_gap_s":
                out[f"{layer}.{c}"] = tot[c] / n
        out[f"{layer}.driver_gap_s"] = log.driver_gap_s(
            [(s.start, s.end) for s in spans if gap_spans[layer](s)]) / n
    out["operators.python_rows"] = log.total(COUNTER_LAYERS["operators"], items)["python_rows"] / n
    out["sinks.bytes_written"] = log.total({"sinks"}, items)["output_bytes"] / n
    out["sinks.rows_written"] = log.total({"sinks"}, items)["output_records"] / n
    out["sinks.files_written"] = log.total({"sinks"}, items)["files_written"] / n

    for p in traced:
        for item_id, secs, _ in p["items"]:
            q = item_id.split(":", 1)[1]
            if f"operators.{q}_s" in out:
                out[f"operators.{q}_s"] += secs / n
    batches = [(i, s) for p in traced for i, s, _ in p["items"] if ":batch" in i]
    if batches:
        out["streaming.batch_s"] = median(s for _, s in batches)
        out["streaming.store_bytes_read"] = sum(log.store_bytes[i] for i, _ in batches) / len(batches)
        out["streaming.store_files_read"] = sum(log.store_files[i] for i, _ in batches) / len(batches)
        out["streaming.driver_jobs"] = log.total({"streaming"}, items)["jobs"] / len(batches)
    out.update(quality)
    out["trace.overhead_s"] = (median(p["wall"] for p in traced)
                               - median(p["wall"] for p in untraced))
    walls = {i: s for p in traced for i, s, _ in p["items"]}
    roots = [s for s in spans if s.parent is None]
    out["trace.span_gap_s"] = max(
        (abs(walls[r.item] - sum(selfs[s.id] for s in spans if tracer.root_of(s) is r))
         for r in roots if r.item in walls), default=0.0)
    return out


def run(args, work: str) -> dict:
    sys.path[:0] = [ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_HEAP)
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts first: no /tmp/hsperfdata_* file
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))

    import gen
    from spans import Tracer
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    data_dir = os.path.join(work, "data")
    t_gen = time.perf_counter()
    manifest = gen.generate(workload.family, args.seed, data_dir, workload.sizes)
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(tracer, data_dir, work, manifest)
    ctx.log(f"inputs: {manifest['input_rows']} rows, {manifest['input_bytes']} bytes "
            f"in {time.perf_counter() - t_gen:.1f} s")

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's files in the checkout: its temp dir, and no
        # /tmp/hsperfdata_* file
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    eventlog_dir = os.path.join(work, "eventlog")
    try:
        with proctree.RssPeak(period=0.5) as rss:  # set-ups and passes, not the checks
            setups, host, passes = measure(ctx, workload, args, conf, eventlog_dir)
        untraced = [p for p in passes if not p["traced"]]
        metrics = end_to_end(median(setups), untraced, rss.peak_mb)
        t_check = time.perf_counter()
        bad = workload.verify(ctx, passes[-1]["tag"])
        quality = quality_ratios(ctx, workload, passes[-1]["tag"]) if args.trace else {}
        ctx.log(f"checks: {time.perf_counter() - t_check:.1f} s")
    finally:
        if ctx.spark is not None:
            shutdown_spark(ctx.spark)
        tracer.uninstall()

    failed = sum(1 for _, _, ok in ctx.items if not ok) + len(bad)
    units = UNITS
    if args.trace:
        import eventlog

        def locate(t: float):
            s = tracer.innermost_at(t)
            return (s.layer, s.item) if s else None

        log = eventlog.parse(eventlog_dir, locate)
        traced = [p for p in passes if p["traced"]]
        metrics = per_layer(ctx, untraced, traced, log, quality)
        units = per_layer_units()
    # not metrics (they may read 0), but part of every result record
    amps = [p["write_amp"] for p in untraced if p["write_amp"] is not None]
    info = {**wall_clock(untraced), "failed_frac": failed / max(1, len(ctx.items)),
            "write_amp": median(amps) if amps else None,
            "setups_s": setups, "passes": len(passes),
            "steal_s": sum(p["steal"] for p in passes)}
    print(json.dumps({"workload": args.workload, **info}), flush=True)
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer.dump(os.path.join(results, f"spans-{stem}.jsonl"))
    with open(os.path.join(results, f"run-{stem}.json"), "w") as fh:
        json.dump({"host": host, **info, "items": ctx.items, "passes": [
            {k: p[k] for k in ("tag", "wall", "cpu", "steal", "traced", "write_amp")} for p in passes
        ], "metrics": metrics}, fh, indent=1)
    return {
        "correct": failed == 0,
        "attempted": len(ctx.items),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def measure(ctx, workload, args, conf: dict, eventlog_dir: str):
    """The set-ups, then the timed passes: (set-up seconds, host
    record, passes)."""
    tracer = ctx.tracer
    setups = [set_up(ctx, workload, conf) for _ in range(SETUPS - 1)]
    if args.trace:  # only the session the passes run in is logged
        os.makedirs(eventlog_dir)
        conf = {**conf, "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                # smaller log: no explain text, no duplicated task metrics
                "spark.sql.ui.explainMode": "simple",
                "spark.eventLog.includeTaskMetricsAccumulators": "false"}
    setups.append(set_up(ctx, workload, conf))
    ctx.log("set-ups: " + ", ".join(f"{s:.2f}" for s in setups) + " s")
    host = host_record(ctx.spark, ctx.manifest, args.seed)
    print(json.dumps({"workload": args.workload, "host": host}), flush=True)
    if args.trace:
        install_shims(tracer)

    tracer.enabled = False
    if args.trace:  # so traced and untraced passes are all warm ones
        for k in range(WARM_PASSES):
            t_warm = time.perf_counter()
            workload.run_pass(ctx, f"warm{k + 1}")
            ctx.log(f"warm pass {k + 1}: {time.perf_counter() - t_warm:.1f} s")

    passes: list[dict] = []
    want = workload.min_passes
    if args.trace:
        want = len(TRACE_ORDER) * -(-want // len(TRACE_ORDER))
    t_start = time.perf_counter()
    while True:
        tag = f"p{len(passes) + 1}"
        tracer.enabled = bool(args.trace) and TRACE_ORDER[len(passes) % len(TRACE_ORDER)]
        n0 = len(ctx.items)
        c0, s0 = proctree.cpu_seconds(), proctree.steal_seconds()
        w0 = time.perf_counter()
        workload.run_pass(ctx, tag)
        wall = time.perf_counter() - w0
        items = ctx.items[n0:]
        passes.append({"tag": tag, "wall": wall, "cpu": proctree.cpu_seconds() - c0,
                       "steal": proctree.steal_seconds() - s0,
                       "traced": tracer.enabled, "items": items,
                       "item_cpu": [ctx.item_cpu[i] for i, _, _ in items],
                       "write_amp": workload.write_amp(ctx, tag)})
        ctx.log(f"{tag}{' traced' if tracer.enabled else ''}: {wall:.2f} s, "
                f"{passes[-1]['steal']:.1f} CPU s stolen by other guests")
        elapsed = time.perf_counter() - t_start
        if len(passes) >= want and (len(passes) % len(TRACE_ORDER) == 0 or not args.trace) \
                and elapsed + median(p["wall"] for p in passes) > args.seconds:
            break
    tracer.enabled = False
    return setups, host, passes


def install_shims(tracer) -> None:
    """Spans over the package's layer boundaries."""
    from database_to_bigquery_spark import data
    from database_to_bigquery_spark.plans import pipeline
    from database_to_bigquery_spark.sinks.writers import ParquetSink
    from database_to_bigquery_spark.streaming.standing_store import StandingStore

    tracer.shim(data, "load_table", "sources.load")
    tracer.shim(pipeline, "run_table", "plans.run_table")
    tracer.shim(ParquetSink, "write", "sinks.write")
    tracer.shim(StandingStore, "probe", "streaming.store_probe")


def quality_ratios(ctx, workload, tag: str) -> dict[str, float]:
    """Ratios that must not drop: stream recall of planted near-copies;
    LSH yield = verified pairs / band-collision candidate pairs."""
    if hasattr(workload, "recall"):
        return {"streaming.recall": workload.recall(ctx, tag)}
    if "dedup_minhash_lsh" not in getattr(workload, "queries", ()):
        return {}
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.data import load_table
    from database_to_bigquery_spark.operators.dedup import (
        drop_hot_buckets,
        minhash_signatures,
        shingles_of,
        signature_bands,
    )

    spark = ctx.spark
    bands = drop_hot_buckets(signature_bands(minhash_signatures(
        shingles_of(load_table(spark, ctx.data_dir, "documents")))))
    cand = (bands.alias("x").join(bands.alias("y"), ["band_idx", "band_hash"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select("x.doc_id", "y.doc_id").distinct().count())
    verified = workload.state["specs"]["dedup_minhash_lsh"].fn(spark, ctx.data_dir).count()
    return {"operators.lsh_pair_yield": verified / max(1, cand)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found next to {HERE}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
