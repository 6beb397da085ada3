"""The benchmark's workloads. Each is a closed loop with one client:
an item starts when the previous one completes.

A workload has three phases, driven by run.py:

* ``setup`` builds standing state (timed into ``setup_s``);
* ``run_pass`` executes every item once through ``ctx.item`` (timed);
  a run makes at least ``min_passes`` of them. The first pass meets
  each item's plans for the first time, as a batch job in a fresh
  process does (bench.py times its pass the same way);
* ``verify`` checks outputs outside any timing and returns the ids of
  the items whose output was wrong.

A workload that writes reports ``write_amp``: bytes on disk it wrote
in a pass per byte of source files the pass read.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from oracle import Oracle, compare

# The production-profile headline queries over documents/embeddings
# that one run has time for (see README.md, "Workloads"). Left out:
# the intentionally quadratic exact twins (dedup_clusters,
# dedup_ngram_jaccard); dedup_clusters_lsh, which is dedup_minhash_lsh's
# pairs plus label propagation, adds about 16 s to a run, and whose
# DuckDB oracle takes 8 s at 1k docs; llm_corpus_prepare_lsh (about
# 8 s), whose shingle/MinHash/band plan is dedup_minhash_lsh's first
# half; and text_bpe_merges, sim_kmeans_2iter and sim_topk_bruteforce,
# about 10 s together, whose plan shapes (self-joins, iterated
# aggregates, a cross join) the kept queries share.
CORPUS_QUERIES = (
    "dedup_exact_text", "dedup_minhash_lsh", "sim_knn_join_ivf_auto", "sim_topk_sq8",
    "text_stats", "text_tfidf_top_terms",
)
# The relational headline queries: no documents or embeddings table, no
# Python boundary.
TPCH_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue", "q10_returned_items",
    "q18_large_volume_customers", "q_window_rank", "q_merge_upsert", "q_countmin_sketch",
    "q_snapshot_diff_cdc", "q_asof_join", "ts_sessionize", "ts_stl_decompose",
    "stream_tumbling_hourly", "graph_item_jaccard",
)


@dataclass
class Workload:
    name: str
    family: str  # generator family (gen.GENERATORS)
    sizes: dict
    why: str
    python_workers: bool = True  # fork the Python worker pool in warm-up
    min_passes: int = 1
    state: dict = field(default_factory=dict)

    def setup(self, ctx) -> None:
        pass

    def run_pass(self, ctx, tag: str) -> None:
        raise NotImplementedError

    def verify(self, ctx, tag: str) -> set[str]:
        """Ids of the items of pass ``tag`` whose output is wrong."""
        return set()

    def write_amp(self, ctx, tag: str) -> float | None:
        """None for a workload that writes nothing."""
        return None


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


# ------------------------------------------------------------ queries
class QueryWorkload(Workload):
    """Registered queries, each built with ``registry.all_specs()[q].fn``
    and collected. bench.py forces with a noop write instead; collecting
    hands the check the very result that was timed, with no second
    execution, which a run has no time for. Results are small."""

    queries: tuple[str, ...] = ()

    def setup(self, ctx) -> None:
        from database_to_bigquery_spark.registry import all_specs

        self.state["specs"] = all_specs()

    def _collect(self, ctx, q: str, got: dict) -> None:
        with ctx.tracer.span("registry.build"):
            df = self.state["specs"][q].fn(ctx.spark, ctx.data_dir)
        with ctx.tracer.span("operators.collect"):
            got[q] = (df.columns, [tuple(r) for r in df.collect()])

    def run_pass(self, ctx, tag: str) -> None:
        got: dict[str, tuple[list[str], list[tuple]]] = {}
        self.state["results"] = {tag: got}  # only the latest pass is checked
        for q in self.queries:
            ctx.item(f"{tag}:{q}", f"operators.{q}", lambda q=q: self._collect(ctx, q, got))

    def verify(self, ctx, tag: str) -> set[str]:
        got = self.state["results"][tag]
        oracle = Oracle(ctx.data_dir)
        bad = set()
        try:
            for q in self.queries:
                problem = verify_query(self.state["specs"][q], got.get(q), oracle)
                if problem:
                    ctx.log(f"{q}: {problem}")
                    bad.add(f"{tag}:{q}")
        finally:
            oracle.close()
        return bad


def verify_query(spec, result, oracle: Oracle) -> str | None:
    """Oracle value-hash check, or rows-only (non-empty result) for
    queries without a usable oracle. ``result`` None means it raised."""
    if result is None:
        return "raised"
    cols, rows = result
    if spec.oracle is None:
        return None if rows else "empty result"
    want_cols, want_rows = oracle.rows(spec.oracle)
    return compare(cols, rows, want_cols, want_rows)


class TpchWorkload(QueryWorkload):
    queries = TPCH_QUERIES


class CorpusWorkload(QueryWorkload):
    queries = CORPUS_QUERIES


# ---------------------------------------------------------------- ETL
ETL_TABLES = ("daily_log", "backup_log", "servers_temp", "database_list",
              "events", "orders", "lineitem", "customer")
# unique key per incremental table, for the no-duplicates check
ETL_KEYS = {
    "daily_log": ["ID"], "backup_log": ["id"], "events": ["event_id"],
    "orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
}
_ARROW_OF_BQ = {
    "INTEGER": pa.types.is_int64, "FLOAT": pa.types.is_float64, "STRING": pa.types.is_string,
    "BOOLEAN": pa.types.is_boolean, "TIMESTAMP": pa.types.is_timestamp,
}


class EtlWorkload(Workload):
    """A full load (TRUNCATE) of every table from ``snapshot/``, then
    one pinned ``--daily`` run per daily day from ``live/``; each table
    load is one ``run_pipeline`` call into a day-partitioned
    ParquetSink with the registry's declared schema."""

    def setup(self, ctx) -> None:
        from database_to_bigquery_spark.etl import FIXTURE_SPECS
        from database_to_bigquery_spark.plans.table_spec import (
            REFERENCE_SPECS,
            schema_from_registry,
        )

        with open(os.path.join(ctx.data_dir, "schemas.json")) as fh:
            registry = json.load(fh)
        specs = {**REFERENCE_SPECS, **FIXTURE_SPECS}
        self.state.update(
            registry=registry,
            specs={t: specs[t] for t in ETL_TABLES},
            schemas={t: schema_from_registry(registry, t) for t in ETL_TABLES},
            warehouse=os.path.join(ctx.work_dir, "warehouse"),
        )

    def _load(self, ctx, table: str, source: str, day: str | None) -> None:
        from database_to_bigquery_spark.data import load_table
        from database_to_bigquery_spark.plans.pipeline import run_pipeline
        from database_to_bigquery_spark.sinks.writers import ParquetSink

        spec = self.state["specs"][table]
        sink = ParquetSink(
            declared_schema=self.state["schemas"][table],
            partition_field=spec.partition_field or spec.incremental_column,
            path=os.path.join(self.state["warehouse"], table),
        )
        df = load_table(ctx.spark, os.path.join(ctx.data_dir, source), table)
        with ctx.tracer.span("plans.run_pipeline"):
            run_pipeline(
                ctx.spark, [(spec, df, sink)], is_daily=day is not None,
                day=dt.date.fromisoformat(day) if day else None,
            )

    def run_pass(self, ctx, tag: str) -> None:
        for t in ETL_TABLES:
            ctx.item(f"{tag}:full:{t}", "plans.load", lambda t=t: self._load(ctx, t, "snapshot", None))
        for day in ctx.manifest["daily_days"]:
            for t in ETL_TABLES:
                ctx.item(f"{tag}:{day}:{t}", "plans.load",
                         lambda t=t, d=day: self._load(ctx, t, "live", d))

    def write_amp(self, ctx, tag: str) -> float:
        """Warehouse after the pass per source byte the pass read: every
        snapshot file once, every live file once per daily day."""
        m = ctx.manifest
        read = sum(m["snapshot"][t]["bytes"] + len(m["daily_days"]) * m["live"][t]["bytes"]
                   for t in ETL_TABLES)
        return parquet_bytes(self.state["warehouse"]) / read

    def verify(self, ctx, tag: str) -> set[str]:
        days = ctx.manifest["daily_days"]
        bad = set()
        for t in ETL_TABLES:
            problem = self.verify_table(ctx, t, days)
            if problem:
                ctx.log(f"{t}: {problem}")
                bad |= {f"{tag}:full:{t}"} | {f"{tag}:{d}:{t}" for d in days}
        return bad

    def verify_table(self, ctx, table: str, days: list[str]) -> str | None:
        """Warehouse vs source: the declared schema, rows per day, no
        duplicate keys, and no output at all for the empty table."""
        from gen import INCREMENTAL

        path = os.path.join(self.state["warehouse"], table)
        live = pq.read_table(os.path.join(ctx.data_dir, "live", f"{table}.parquet"))
        if live.num_rows == 0:
            return "empty source was loaded" if os.path.exists(path) else None
        if not os.path.isdir(path):
            return "no output"
        got = pads.dataset(path, format="parquet", partitioning="hive").to_table()
        declared = self.state["registry"][table]
        names = [c for c in got.column_names if not c.endswith("_day")]
        if names != [f["name"] for f in declared]:
            return f"columns {names} != declared {[f['name'] for f in declared]}"
        for f in declared:
            if not _ARROW_OF_BQ[f["type"]](got.schema.field(f["name"]).type):
                return f"column {f['name']} is {got.schema.field(f['name']).type}, declared {f['type']}"
        src_col = INCREMENTAL.get(table)
        if src_col is None:  # full refresh: the warehouse equals the source
            return None if got.num_rows == live.num_rows else f"{got.num_rows} rows != {live.num_rows}"
        last = days[-1]
        day_of = lambda tbl, c: Counter(  # noqa: E731
            str(d) for d in tbl.column(c).cast(pa.timestamp("us")).cast(pa.date32()).to_pylist()
        )
        want = {d: n for d, n in day_of(live, src_col).items() if d <= last}
        out_col = self.state["specs"][table].rename.get(src_col, src_col)
        have = day_of(got, out_col)
        if have != want:
            diff = sorted(d for d in set(have) | set(want) if have.get(d) != want.get(d))
            return f"rows per day differ on {diff[:3]}"
        keys = [self.state["specs"][table].rename.get(k, k) for k in ETL_KEYS[table]]
        if got.group_by(keys).aggregate([]).num_rows != got.num_rows:
            return "duplicate rows"
        return None


# ----------------------------------------------------------- streaming
class StreamWorkload(Workload):
    """``run_fuzzy_dedup_stream`` against a StandingStore built over the
    corpus in setup. Each pass feeds every batch file, one at a time,
    into a fresh stream (its own source, output and checkpoint
    directories); each item runs the stream (trigger availableNow)
    until that batch is committed."""

    def setup(self, ctx) -> None:
        from database_to_bigquery_spark.data import load_table
        from database_to_bigquery_spark.operators.dedup import shingles_of
        from database_to_bigquery_spark.streaming.standing_store import StandingStore

        path = os.path.join(ctx.work_dir, "store")
        shutil.rmtree(path, ignore_errors=True)
        corpus = load_table(ctx.spark, ctx.data_dir, "corpus")
        self.state["store"] = StandingStore.build(shingles_of(corpus), path)

    def write_amp(self, ctx, tag: str) -> float:
        """Pair output of the pass per byte of batch files it read."""
        read = sum(b["bytes"] for b in ctx.manifest["batches"])
        return parquet_bytes(self._dirs(ctx, tag)["out"]) / read

    def _dirs(self, ctx, tag: str) -> dict[str, str]:
        base = os.path.join(ctx.work_dir, "stream", tag)
        return {k: os.path.join(base, k) for k in ("src", "out", "ckpt")}

    def _batch(self, ctx, dirs: dict[str, str], path: str) -> None:
        from database_to_bigquery_spark.streaming.jobs import run_fuzzy_dedup_stream

        shutil.copyfile(path, os.path.join(dirs["src"], os.path.basename(path)))
        stream = ctx.spark.readStream.schema("doc_id long, text string").parquet(dirs["src"])
        with ctx.tracer.span("streaming.run"):
            handle = run_fuzzy_dedup_stream(
                stream, None, dirs["out"], dirs["ckpt"], standing_store=self.state["store"]
            )
            handle.awaitTermination()
        if handle.query.exception() is not None:
            raise RuntimeError(str(handle.query.exception()))

    def run_pass(self, ctx, tag: str) -> None:
        dirs = self._dirs(ctx, tag)
        os.makedirs(dirs["src"], exist_ok=True)
        for i, b in enumerate(ctx.manifest["batches"]):
            ctx.item(f"{tag}:batch{i:03d}", "streaming.batch",
                     lambda p=b["path"]: self._batch(ctx, dirs, p))

    def emitted(self, ctx, tag: str) -> set[tuple[int, int, float]]:
        out = self._dirs(ctx, tag)["out"]
        if not os.path.isdir(out):
            return set()
        t = pads.dataset(out, format="parquet", partitioning="hive").to_table()
        return set(zip(*(t.column(c).to_pylist() for c in ("batch_id", "corpus_id", "jaccard"))))

    def expected(self, ctx) -> set[tuple[int, int, float]]:
        """The batch answer on the same inputs: every batch doc against
        the corpus through ``cross_minhash_pairs``, in one shot."""
        if "expected" not in self.state:
            from database_to_bigquery_spark.data import load_table
            from database_to_bigquery_spark.operators.dedup import cross_minhash_pairs, shingles_of

            spark = ctx.spark
            batches = spark.read.parquet(*[b["path"] for b in ctx.manifest["batches"]])
            corpus = load_table(spark, ctx.data_dir, "corpus")
            rows = cross_minhash_pairs(shingles_of(batches), shingles_of(corpus)).collect()
            self.state["expected"] = {(r.batch_id, r.corpus_id, r.jaccard) for r in rows}
        return self.state["expected"]

    def verify(self, ctx, tag: str) -> set[str]:
        got, want = self.emitted(ctx, tag), self.expected(ctx)
        wrong_docs = {p[0] for p in got ^ want}
        bad = set()
        for i, doc_ids in enumerate(self._batch_ids(ctx)):
            if wrong_docs & doc_ids:
                bad.add(f"{tag}:batch{i:03d}")
        if wrong_docs:
            ctx.log(f"{len(got ^ want)} pairs differ from cross_minhash_pairs")
        return bad

    def _batch_ids(self, ctx) -> list[set[int]]:
        if "batch_ids" not in self.state:
            self.state["batch_ids"] = [
                set(pq.read_table(b["path"], columns=["doc_id"]).column(0).to_pylist())
                for b in ctx.manifest["batches"]
            ]
        return self.state["batch_ids"]

    def recall(self, ctx, tag: str) -> float:
        """Planted near-copies flagged against their source doc."""
        flagged = {(b, c) for b, c, _ in self.emitted(ctx, tag)}
        planted = [tuple(p) for p in ctx.manifest["planted"]]
        return sum(p in flagged for p in planted) / max(1, len(planted))


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        EtlWorkload(
            "etl_daily", "etl",
            {"start": "2024-03-01", "days": 30, "daily_days": 2, "ref_rows": 4000,
             "customers": 1000, "events": 20000, "users": 300},
            "the reference's own daily job: sources and sinks work, operators idle; "
            "a write-heavy full load beside read-heavy pinned daily appends",
            python_workers=False,
        ),
        TpchWorkload(
            "tpch_relational", "tpch",
            {"customers": 1500, "events": 20000, "users": 300, "event_days": 30},
            "short JVM-codegen scan/join/aggregate plans where planning and per-job overhead "
            "weigh; no Python boundary",
        ),
        CorpusWorkload(
            "llm_corpus", "corpus", {"docs": 1000, "vecs": 500},
            "headline dedup/LSH, similarity and text queries: Python/Arrow crossings, "
            "pair-generation shuffles and persist/collect gates dominate",
        ),
        StreamWorkload(
            "stream_dedup", "stream",
            {"corpus_docs": 300, "batches": 7, "batch_docs": 20, "planted_frac": 0.2},
            "incremental fuzzy dedup against a StandingStore: per-batch probe and "
            "bucket-file reads of the streaming layer",
            min_passes=3,  # 21 batch commits: ten beyond the median
        ),
    )
}
