"""The two-pass global prefix (`data.global_prefix`) must be
range-fanout-agnostic.

VERDICT r6 design finding #1: the family hardcoded
``repartitionByRange(32, …)`` — the right SHAPE (the SinglePartition
offsets stage sees one long per partition, never the corpus) but a
straggler/spill wall at 100 TB (~3 TB/task). The width is now derived
(``data.range_fanout``); these tests prove the derivation is safe: the
offset arithmetic is partition-count-agnostic BY CONSTRUCTION, so any
width (including degenerate 1 and a prime that misaligns every range
boundary) yields byte-identical results.
"""

from __future__ import annotations

import pytest

from database_to_bigquery_spark import data
from database_to_bigquery_spark.data import load_table, range_fanout
from database_to_bigquery_spark.registry import all_specs

# every caller of data.global_prefix
PREFIX_QUERIES = [
    "q_global_ranks_scalable",
    "q_decile_lift",
    "llm_curriculum_order",
    "llm_chunk_manifest",
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("width", [1, 7])
@pytest.mark.parametrize("name", PREFIX_QUERIES)
def test_global_prefix_width_agnostic(spark, sf_dir, name, width, monkeypatch):
    """Each caller gives the same rows at a forced width, and the
    forced width reached it: a caller that ranks without going
    through data.global_prefix never calls the patched range_fanout."""
    fn = all_specs()[name].fn
    baseline = _rows(fn(spark, sf_dir))
    calls = []
    monkeypatch.setattr(data, "range_fanout", lambda df: calls.append(df) or width)
    assert _rows(fn(spark, sf_dir)) == baseline
    assert calls


def test_fanout_derivation(spark, sf_dir):
    """Floor wins at fixture scale; the size term scales the width
    once estimated input exceeds the split size."""
    o = load_table(spark, sf_dir, "orders")
    assert range_fanout(o) >= 32

    # Simulate a big input by shrinking the per-partition target: the
    # width must now exceed the floor (est_bytes / target dominates).
    est = int(o._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(est // 100, 1)))
        assert range_fanout(o) >= 100
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
