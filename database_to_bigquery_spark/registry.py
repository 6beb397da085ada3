"""Query registry backing the driver contract (__spark_entry__.py).

Every implemented operator from SURVEY.md §2 registers a QuerySpec:
a named PySpark implementation plus (where SQL-expressible) the ANSI
SQL twin that DuckDB runs as the correctness oracle. The driver
compares row count + schema + order-insensitive value hash, sorting
columns by name — so Spark and oracle column names MUST match
(alias everything on both sides).

Conventions that keep the hash comparison stable across engines:
  * every floating-point aggregate is ROUND()ed identically on both
    sides (sum-of-doubles is order-dependent at the ulp level; a
    2-to-6-decimal round absorbs it),
  * integer sums are CAST(... AS BIGINT) in the oracle (DuckDB widens
    integer sums to HUGEINT, Spark to long),
  * ranking windows always carry a unique tie-break column,
  * LIMIT queries order by a unique key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # None → driver records rows-only check
    headline: bool = False  # included in bench.py
    doc: str = ""
    # Non-empty for queries that are INTENTIONALLY scale-unsafe (exact
    # oracle twins / pedagogical stock forms). Names the in-repo
    # scale-safe alternative; surfaced as a column in PLANS.md so the
    # census distinguishes intended single-partition/quadratic plans
    # from accidental ones.
    scale_twin: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# The external driver samples the FIRST 50 entries of queries() for its
# per-round correctness attestation (CORRECTNESS_r{N}.json), and
# registration order is module-import order, so DRIVER_PRIORITY pins
# that window. Standing rule for filling it (gated by
# tests/test_registry_order.py):
#   * family coverage is ROLLING: a SURVEY.md §2 operator family is
#     covered while any representative was attested green within the
#     last ATTESTATION_WINDOW rounds; only a lapsed family needs an
#     oracle-bearing seat here;
#   * every other seat goes to an oracle-bearing query that was never
#     attested or whose implementation changed since its last
#     attestation; a seat attested green rotates out the next round,
#     a failure stays seated until its fix re-attests;
#   * rows-only queries take no seat (they attest only as no_oracle);
#   * a query is seated only after tools/check_oracle.py passes it at
#     sf0.001 and sf0.01.
# git log keeps the per-round rotation history.
DRIVER_PRIORITY: tuple[str, ...] = (
    # pair-generation callers rewritten onto operators/pairs.py
    "mm_phash_neardup",
    "graph_item_jaccard",
    "q_basket_affinity_lift",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_embedding_cosine",
    "sim_knn_join_exact",
    "llm_corpus_prepare",
    # rewritten after their last attestation
    "sim_topk_ivfpq",
    "dedup_incremental_clusters",
    # never-attested: relational surface
    "q_conditional_agg_pivot",
    "q_sort_limit",
    "q_distinct",
    "q_scalar_functions",
    "q_date_functions",
    "q_array_agg_ordered",
    "q_set_ops_all",
    "q_posexplode_words",
    "q_window_first_last_nth",
    "q_boolean_aggregates",
    "q_offset_pagination",
    "q_partial_agg_merge",
    "q_salted_two_phase_agg",
    "q_sql_udf_library",
    # never-attested: statistics and sampling
    "q_ntile_stats",
    "q_largest_remainder_alloc",
    "q_histogram",
    "q_hash_sample",
    "q_dataset_mixture",
    "q_minmax_scale",
    "q_weighted_sample",
    # never-attested: text analysis
    "text_quality_score",
    "text_normalize",
    "text_novelty_ratio",
    "text_repeated_ngram_coverage",
    "text_chunk_fixed",
    # never-attested: timeseries
    "ts_session_window_builtin",
    "ts_interval_coverage",
    "ts_cusum_changepoint",
    "ts_lttb_downsample",
    "ts_forecast_backtest",
    "ts_downsample_m4",
    "ts_dow_hour_heatmap",
)


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    _REGISTRY[spec.name] = spec
    return spec


def query(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    scale_twin: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator form: @query("q1", oracle=SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        register(
            QuerySpec(
                name=name,
                fn=fn,
                oracle=oracle,
                headline=headline,
                doc=fn.__doc__ or "",
                scale_twin=scale_twin,
            )
        )
        return fn

    return deco


def production_specs() -> dict[str, QuerySpec]:
    """The production-profile preset: every registered query EXCEPT the
    intentionally scale-unsafe exact twins (those carrying a non-empty
    ``scale_twin``). A 100 TB deployment schedules from this view; the
    excluded queries exist as oracle twins / pedagogical stock forms,
    and each names its in-repo scale-safe replacement. The exclusion is
    the mechanical census rule (PLANS.md scale-twin column), not a
    hand-maintained list."""
    return {n: s for n, s in all_specs().items() if not s.scale_twin}


def all_specs() -> dict[str, QuerySpec]:
    """Import all operator modules (side-effect: registration) and
    return the full registry."""
    # Imports deferred so `import database_to_bigquery_spark` stays cheap.
    from .operators import (  # noqa: F401
        behavioral,
        dedup,
        graph,
        layout,
        llm_filters,
        multimodal,
        pipeline_ops,
        profiling,
        relational,
        relational_ext,
        reshape,
        similarity,
        skew,
        sql_surface,
        text_analysis,
        timeseries,
        tpch_extra,
        training_prep,
        udfs,
    )
    from .streaming import batch_equiv  # noqa: F401

    missing = [n for n in DRIVER_PRIORITY if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_PRIORITY names not registered: {missing}")
    ordered = {n: _REGISTRY[n] for n in DRIVER_PRIORITY}
    ordered.update((n, s) for n, s in _REGISTRY.items() if n not in ordered)
    return ordered
