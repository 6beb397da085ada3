"""Plan-quality gates: the physical plans Catalyst actually produces
for representative queries must have the scale-critical properties —
filters reaching the parquet scan, small dimensions broadcast, no
accidental cartesian products, codegen in the hot path. These are the
`.explain("formatted")` iterations (build instructions) frozen into
assertions so a regression in plan shape fails CI, not just the bench.
"""

from __future__ import annotations

import pytest

from database_to_bigquery_spark.registry import all_specs

SPECS = all_specs()


def plan_of(spark, sf_dir, name: str) -> str:
    df = SPECS[name].fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    # q6: date-window + discount-band filters must appear as
    # PushedFilters on the lineitem scan, not a post-scan Filter only.
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln or "l_discount" in ln for ln in pushed), pushed


def test_column_pruning_projects_scan_schema(spark, sf_dir):
    # q1 needs 7 of lineitem's 16 columns; ReadSchema must not contain
    # untouched wide columns like l_comment.
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("l_comment" not in ln for ln in read), read


def test_small_dimensions_are_broadcast(spark, sf_dir):
    # q5 joins region(5) and nation(25) — these must go broadcast, not
    # shuffle both sides of every join.
    plan = plan_of(spark, sf_dir, "q5_region_revenue")
    assert "BroadcastHashJoin" in plan


def test_no_cartesian_in_equi_join_queries(spark, sf_dir):
    for name in ["q_merge_upsert", "q_fuzzy_levenshtein", "text_contamination_ngram"]:
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_sessionize_reuses_single_exchange(spark, sf_dir):
    # LAG, the running SUM and the final groupBy all partition on
    # user_id — the plan must contain exactly one shuffle of the
    # events relation (plus AQE reads), not three.
    import re

    plan = plan_of(spark, sf_dir, "ts_sessionize")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}"


def test_contamination_benchmark_side_broadcast(spark, sf_dir):
    # the eval-set probe must be a broadcast join: the corpus side
    # streams through without shuffling for the candidate probe.
    plan = plan_of(spark, sf_dir, "text_contamination_ngram")
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("name", ["q1_pricing_summary", "q_window_rank"])
def test_hot_path_stays_in_codegen(spark, sf_dir, name):
    # simple mode marks whole-stage-codegen spans with '*(n)'; AQE
    # wraps the plan and defers codegen marks to runtime, so turn it
    # off for this static inspection only (queries run with AQE on).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = SPECS[name].fn(spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(" in plan, plan


def test_shuffle_shard_windows_are_partitioned(spark, sf_dir):
    # training-prep ordering must never fall into a global (single
    # partition) window — the plan's Window/Sort nodes must be keyed by
    # the shard hash, which shows up as hashpartitioning on the sort
    # ordering's Exchange rather than SinglePartition.
    for name in ["text_pack_sequences", "q_deterministic_shuffle"]:
        plan = plan_of(spark, sf_dir, name)
        assert "SinglePartition" not in plan, name
        assert "hashpartitioning(shard" in plan, name


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    # At 100 TB a fact⨝filtered-dim join can't broadcast; Spark's
    # runtime bloom filter (on by default) builds a bloom of the
    # filtered dim keys and semi-reduces the fact scan BEFORE the
    # shuffle — the cheap substitute for a true semi-join reduction.
    # The injection preconditions are size-based (app side > 10GB by
    # default), so emulate cluster scale by zeroing the scan-size
    # threshold and disabling broadcast, then assert the filter is
    # actually planted on the fact side.
    from database_to_bigquery_spark.data import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from pyspark.sql import functions as F

        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 90000)
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_tfidf_vocab_broadcast_is_size_guarded(spark, sf_dir):
    # text_tfidf_top_terms joins TF against the vocabulary-sized DF
    # table through maybe_broadcast: under the default 10MB threshold
    # the fixture vocabulary broadcasts (no shuffle of the TF side for
    # the join); when the estimate exceeds the threshold the hint must
    # NOT be applied, so a web-scale vocabulary degrades to a shuffle
    # join instead of an executor-OOM broadcast. Exercise both shapes
    # by flipping autoBroadcastJoinThreshold.
    plan = plan_of(spark, sf_dir, "text_tfidf_top_terms")
    assert "BroadcastHashJoin" in plan

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        plan_small = plan_of(spark, sf_dir, "text_tfidf_top_terms")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan_small
    assert (
        "SortMergeJoin" in plan_small or "ShuffledHashJoin" in plan_small
    ), plan_small


def test_join_strategy_hints_are_honored(spark, sf_dir):
    # the hint API is the manual override when AQE/statistics pick a
    # suboptimal strategy at scale; verify each hint reaches the
    # physical plan
    from database_to_bigquery_spark.data import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    def physical(df):
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    merge = physical(li.hint("merge").join(o, li.l_orderkey == o.o_orderkey))
    assert "SortMergeJoin" in merge

    shj = physical(li.hint("shuffle_hash").join(o, li.l_orderkey == o.o_orderkey))
    assert "ShuffledHashJoin" in shj

    bc = physical(li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey))
    assert "BroadcastHashJoin" in bc


def test_parse_byte_conf_units():
    from database_to_bigquery_spark.data import _parse_byte_conf

    assert _parse_byte_conf("10485760b") == 10 << 20
    assert _parse_byte_conf("10MB") == 10 << 20
    assert _parse_byte_conf("1g") == 1 << 30
    assert _parse_byte_conf("512k") == 512 << 10
    assert _parse_byte_conf("12345") == 12345
    assert _parse_byte_conf("-1") == -1  # broadcast disabled


@pytest.fixture(scope="module")
def plan_census(spark, sf_dir):
    """One pass of tools/plan_audit.census over EVERY registered query
    (its default plan plus the threshold=-1 re-plan), shared by the
    census-as-CI gates below so the suite plans each query once."""
    from tools.plan_audit import census

    return census(spark, sf_dir)


def test_suitewide_no_cartesian_no_row_udf(plan_census):
    # census-as-CI: EVERY registered query must plan without a
    # CartesianProduct (the accidental-cross-join scale killer) and
    # without row-at-a-time Python evaluation (BatchEvalPython — only
    # Arrow-batched Python is allowed in this repo). The per-query
    # spot checks above freeze specific shapes; this is the global
    # floor a new operator cannot slip under.
    failures = []
    for name, row in sorted(plan_census.items()):
        if "error" in row:  # a plan-time failure is also a failure
            failures.append((name, f"plan error: {row['error']}"))
            continue
        if row["cartesian"]:
            failures.append((name, "CartesianProduct"))
        if row["row_udf"]:
            failures.append((name, "BatchEvalPython (row-at-a-time UDF)"))
    assert not failures, failures


def test_single_partition_stages_are_bounded_or_twinned(plan_census):
    """Census-as-CI for the one place a silent scale regression can
    hide: a SinglePartition exchange. ~70 registered plans legitimately
    carry one — but only because the collapsing input is an aggregate
    or limit output (bounded), which tools/plan_audit.py verifies
    mechanically by walking each such exchange's input subtree instead
    of trusting docstrings. Any RAW-relation collapse (the global
    window/sort that stops scaling) must name an in-repo scale twin;
    a refactor that moves a single-partition stage onto raw data in
    an un-twinned query fails here, not in production."""
    failures = []
    raw_twinned = []
    for name, row in sorted(plan_census.items()):
        if "error" in row:
            failures.append((name, f"plan error: {row['error']}"))
            continue
        if "raw" in row["sp_classes"]:
            if row["twin"]:
                raw_twinned.append(name)
            else:
                failures.append(
                    (name, f"RAW single-partition stage ({row['sp_classes']}) with no scale twin")
                )
    assert not failures, failures
    # the classifier must stay non-vacuous: the known intentional
    # raw-collapse exact twin is detected as such
    assert "q_ntile_stats" in raw_twinned, raw_twinned


def test_hint_forced_broadcasts_are_bounded_or_twinned(plan_census):
    """Census-as-CI for the OTHER silent scale regression: an
    unconditional `F.broadcast` hint on an unbounded relation (how the
    r03 sim_knn_join_lsh corpus broadcast slipped in). The census
    re-plans every registered query with auto-broadcast DISABLED
    (threshold=-1) so only hint-forced BroadcastExchanges survive, then
    classifies each one's input subtree (tools/plan_audit.broadcast_classes):
    aggregate/limit output (incl. the bounded() cardinality-contract
    limit) or dimension/literal scans pass; a raw fact/corpus relation
    must carry a scale-twin annotation. Catalyst's own stats-driven
    auto-broadcasts are deliberately exempt — they fall back to shuffle
    joins at scale when the relation outgrows the threshold."""
    failures = []
    raw_twinned = []
    for name, row in sorted(plan_census.items()):
        if "error" in row:
            failures.append((name, f"plan error: {row['error']}"))
            continue
        if row["hint_raw"]:
            if row["twin"]:
                raw_twinned.append(name)
            else:
                failures.append(
                    (name, f"{row['hint_raw']} hint-forced RAW broadcast(s) with no scale twin")
                )
    assert not failures, failures
    # non-vacuous: the known intentional corpus broadcasts (exact
    # oracle twins) are detected as raw-and-twinned
    assert "dedup_embedding_cosine" in raw_twinned, raw_twinned
    assert "sim_knn_join_exact" in raw_twinned, raw_twinned


def test_plan_census(plan_census, sf_dir):
    """Pins every census row to the committed PLANS.md table. Any plan
    change fails here until `python tools/plan_audit.py` regenerates
    it, so the change is reviewed as a PLANS.md diff."""
    from tools.plan_audit import PLANS_MD, table_row

    with open(PLANS_MD) as f:
        text = f.read()
    assert f"Input: `{sf_dir}`" in text, "PLANS.md was generated at another scale factor"
    committed = {
        ln.split(" | ", 1)[0][2:]: ln
        for ln in text.splitlines()
        if ln.startswith("| ") and not ln.startswith("| query |")
    }
    fresh = {name: table_row(name, row) for name, row in plan_census.items()}
    stale = sorted(
        (name, committed.get(name), fresh.get(name))
        for name in committed.keys() | fresh.keys()
        if committed.get(name) != fresh.get(name)
    )
    assert not stale, f"PLANS.md is stale; regenerate with python tools/plan_audit.py: {stale}"


def test_new_flagships_plan_shapes(spark, sf_dir):
    """Round-2 flagships keep their scale-critical plan properties:
    no cartesian products anywhere; GDPR probes and PQ/IVFADC model
    tables are broadcast; the linear probe never shuffles more than
    its 1-row weight/gradient aggregates."""
    for name in (
        "dedup_semdedup",
        "sim_topk_pq",
        "sim_topk_ivfpq",
        "q_gdpr_erasure_audit",
        "text_quality_linear_probe",
        "q_merkle_bucket_diff",
        "q_join_cardinality_estimate",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
    gdpr = plan_of(spark, sf_dir, "q_gdpr_erasure_audit")
    assert "BroadcastHashJoin" in gdpr
    pq = plan_of(spark, sf_dir, "sim_topk_pq")
    assert "BroadcastHashJoin" in pq and "SortMergeJoin" not in pq
    probe = plan_of(spark, sf_dir, "text_quality_linear_probe")
    # the only joins are with 1-row aggregates -> broadcast NLJ/HJ, no SMJ
    assert "SortMergeJoin" not in probe


def test_single_partition_classifier_on_canned_plans():
    """Pure-text unit test of the subtree walk: a global window over a
    raw scan is 'raw'; a final aggregate fed by a partial aggregate
    through the same exchange shape is 'bounded'; non-SinglePartition
    exchanges are ignored; subquery trees are parsed independently."""
    from tools.plan_audit import single_partition_classes

    raw_window = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- Project (5)
   +- Window (4)
      +- Sort (3)
         +- Exchange (2)
            +- Scan parquet  (1)


(2) Exchange
Input [2]: [a#0L, b#1]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]
"""
    assert single_partition_classes(raw_window) == ["raw"]

    global_agg = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- HashAggregate (4)
   +- Exchange (3)
      +- HashAggregate (2)
         +- Scan parquet  (1)


(3) Exchange
Input [1]: [sum#9]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]
"""
    assert single_partition_classes(global_agg) == ["bounded"]

    hash_exchange_only = """== Physical Plan ==
AdaptiveSparkPlan (4)
+- Sort (3)
   +- Exchange (2)
      +- Scan parquet  (1)


(2) Exchange
Input [2]: [a#0L, b#1]
Arguments: hashpartitioning(a#0L, 32), ENSURE_REQUIREMENTS, [plan_id=3]
"""
    assert single_partition_classes(hash_exchange_only) == []

    # two trees (main + subquery): the subquery's bounded collapse must
    # not leak into the main tree's raw one
    two_trees = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- Window (5)
   +- Sort (4)
      +- Exchange (3)
         +- Scan parquet  (2)

===== Subqueries =====

Subquery:1 Hosting operator id = 5 Hosting Expression = Subquery subquery#1
HashAggregate (9)
+- Exchange (8)
   +- HashAggregate (7)


(3) Exchange
Input [2]: [a#0L, b#1]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]

(8) Exchange
Input [1]: [sum#9]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=13]
"""
    assert sorted(single_partition_classes(two_trees)) == ["bounded", "raw"]


def test_broadcast_classifier_flags_deliberate_raw_broadcast(spark, sf_dir):
    """Failing-demo for the gate above: a deliberate unconditional
    broadcast of a fact relation IS classified raw (would fail CI on
    an un-twinned query), while the same join through a bounded()
    cardinality contract or against a dimension table passes."""
    from pyspark.sql import functions as F

    from database_to_bigquery_spark.data import bounded, load_table
    from tools.plan_audit import broadcast_classes

    def classes_of(df):
        return broadcast_classes(
            spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
        nation = load_table(spark, sf_dir, "nation")

        # the scale-killer shape: unconditional hint on a fact relation
        bad = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        assert classes_of(bad) == ["raw"]

        # same fact side under a declared cardinality bound -> bounded
        good_bounded = li.join(
            F.broadcast(bounded(orders.filter(F.col("o_orderkey") < 10), 10)),
            li.l_orderkey == orders.o_orderkey,
        )
        assert classes_of(good_bounded) == ["agg"]

        # dimension-table broadcast -> dim
        good_dim = li.join(F.broadcast(nation), li.l_suppkey == nation.n_nationkey)
        assert classes_of(good_dim) == ["dim"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_broadcast_classifier_on_canned_plans():
    """Pure-text unit test of the broadcast subtree walk: fact scan ->
    raw; aggregate/limit-fed -> agg; dimension scan (resolved through
    the details section's Location path) -> dim; non-broadcast
    exchanges are ignored."""
    from tools.plan_audit import broadcast_classes

    raw_fact = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- BroadcastHashJoin Inner BuildRight (4)
   :- Scan parquet  (1)
   +- BroadcastExchange (3)
      +- Scan parquet  (2)


(1) Scan parquet
Output [1]: [l_orderkey#0L]
Location: InMemoryFileIndex [file:/data/lineitem.parquet]

(2) Scan parquet
Output [1]: [o_orderkey#1L]
Location: InMemoryFileIndex [file:/data/orders.parquet]

(3) BroadcastExchange
Input [1]: [o_orderkey#1L]
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=9]
"""
    assert broadcast_classes(raw_fact) == ["raw"]

    agg_fed = raw_fact.replace(
        """   +- BroadcastExchange (3)
      +- Scan parquet  (2)""",
        """   +- BroadcastExchange (3)
      +- HashAggregate (2)""",
    )
    assert broadcast_classes(agg_fed) == ["agg"]

    dim_scan = raw_fact.replace("orders.parquet", "nation.parquet")
    assert broadcast_classes(dim_scan) == ["dim"]

    no_broadcast = """== Physical Plan ==
AdaptiveSparkPlan (4)
+- Sort (3)
   +- Exchange (2)
      +- Scan parquet  (1)


(1) Scan parquet
Output [1]: [a#0L]
Location: InMemoryFileIndex [file:/data/lineitem.parquet]

(2) Exchange
Input [1]: [a#0L]
Arguments: hashpartitioning(a#0L, 32), ENSURE_REQUIREMENTS, [plan_id=3]
"""
    assert broadcast_classes(no_broadcast) == []


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """Runtime scale evidence, not just configuration: build a join
    whose left side is 90% one hot key, execute it with the skew
    thresholds scaled down to fixture bytes (cluster defaults are
    256MB-scale), and assert AQE actually SPLIT the skewed partition —
    the final adaptive plan marks the join skew=true and the shuffle
    read 'skewed'. This is the runtime half of the skew story whose
    compile-time half is the salted rewrites (operators/skew.py):
    AQE handles skew transparently for plain shuffle joins, salting
    remains for aggregations and for joins AQE can't re-plan."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    from pyspark.sql import functions as F

    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        left = (
            spark.range(300_000)
            .withColumn(
                "k",
                F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 100),
            )
            .withColumn("pad", F.repeat(F.lit("x"), 100))
        )
        right = spark.range(100).withColumn("k", F.col("id") % 100)
        j = left.join(right, "k").agg(F.sum(F.length("pad")).alias("s"))
        assert j.collect()[0]["s"] == 30_000_000  # correctness under the split
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple"
        )
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final, final
        assert "skewed" in final, final  # the AQEShuffleRead that did the split
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
