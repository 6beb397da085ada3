"""Plan audit: a per-query census of the physical-plan properties that
decide 100 TB viability — scans, exchanges (shuffles), join strategies,
Python boundaries, single-partition stages, broadcast inputs.

`census()` is the one implementation: `main()` writes its rows to
PLANS.md, and tests/test_plan_quality.py::test_plan_census re-runs it
and asserts the scale rules plus row-for-row equality with the
committed PLANS.md. A plan change therefore shows up as a reviewable
PLANS.md diff, regenerated at the tier-1 scale factor.

Usage: python tools/plan_audit.py [sf_dir]   (default: tier-1's, sf0.001)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from database_to_bigquery_spark.registry import all_specs  # noqa: E402
from database_to_bigquery_spark.session import get_spark  # noqa: E402

PLANS_MD = os.path.join(REPO, "PLANS.md")
_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

# Node names below a SinglePartition exchange that PROVE its input
# cardinality is bounded before the collapse to one partition: an
# aggregate (partial or final — either way the exchanged rows are
# per-partition/grouped aggregates, not the raw relation) or an
# explicit limit. A single-partition stage fed by anything else is a
# RAW-relation collapse — the one plan shape that silently stops
# scaling — and must carry a scale-twin annotation to pass CI.
_BOUNDED_NODE = re.compile(
    r"\b(HashAggregate|SortAggregate|ObjectHashAggregate|GlobalLimit|"
    r"LocalLimit|CollectLimit|TakeOrderedAndProject)\b"
)
_TREE_LINE = re.compile(r"^(?P<prefix>[:\s+\-*]*)(?P<name>[A-Za-z][\w ]*?)\s+\((?P<id>\d+)\)\s*$")
_SP_EXCHANGE = re.compile(r"\((\d+)\) Exchange[^\n]*\nInput[^\n]*\nArguments: SinglePartition")

# Tables whose cardinality is bounded by the DATA MODEL rather than by
# the fact/corpus volume: the TPC-H-ish dimension tier. Broadcasting
# one of these (or an aggregate/limit output, or a driver-side literal
# relation) is the intended use of the hint; broadcasting a raw
# fact/corpus relation (lineitem/orders/events/documents/embeddings)
# is the silent 100 TB killer — the hint is unconditional, so unlike
# Catalyst's stats-driven auto-broadcast it does NOT fall back to a
# shuffle join when the relation grows.
_DIM_TABLES = {"region", "nation", "supplier", "customer", "part"}
_SCAN_DETAIL = re.compile(r"^\((\d+)\) Scan (\w+)")
_NODE_DETAIL = re.compile(r"^\(\d+\) ")
_TABLE_IN_PATH = re.compile(r"([A-Za-z0-9_]+)\.(?:parquet|csv|json|txt)")


def _scan_tables(plan: str) -> dict[int, str]:
    """Map scan-node id -> source table name, from the details section
    (`(3) Scan parquet` ... `Location: InMemoryFileIndex [...path...]`).
    Non-file scans (ExistingRDD / LocalTableScan — driver-side
    literals) map to '<literal>'."""
    out: dict[int, str] = {}
    lines = plan.splitlines()
    i = 0
    while i < len(lines):
        m = _SCAN_DETAIL.match(lines[i])
        if m:
            nid, kind = int(m.group(1)), m.group(2)
            table = "<literal>" if kind.lower() in ("existingrdd",) else "?"
            j = i + 1
            while j < len(lines) and not _NODE_DETAIL.match(lines[j]):
                if lines[j].startswith("Location:"):
                    tm = _TABLE_IN_PATH.search(lines[j])
                    if tm:
                        table = tm.group(1)
                j += 1
            out[nid] = table
            i = j
        else:
            i += 1
    return out


def _subtrees(plan: str):
    """Yield (name, id, [(name, id) of its input subtree]) for every
    node of a formatted plan's tree section. The tree gives
    parent/child structure by indentation; each contiguous run of tree
    lines (main plan, each subquery) is its own tree, so a subtree
    never leaks across trees."""
    runs: list[list[tuple[int, str, int]]] = [[]]
    for ln in plan.splitlines():
        m = _TREE_LINE.match(ln)
        if m and not ln.startswith("("):
            runs[-1].append((len(m.group("prefix")), m.group("name").strip(), int(m.group("id"))))
        elif runs[-1]:
            runs.append([])
    for run in runs:
        for i, (indent, name, nid) in enumerate(run):
            below = []
            for indent2, name2, nid2 in run[i + 1:]:
                if indent2 <= indent:
                    break
                below.append((name2, nid2))
            yield name, nid, below


def _bounded(subtree: list[tuple[str, int]]) -> bool:
    return any(_BOUNDED_NODE.search(n) for n, _ in subtree)


def broadcast_classes(plan: str) -> list[str]:
    """Classify every BroadcastExchange in a formatted plan by walking
    its input subtree (same tree-walk as the SinglePartition census):

    - 'agg'  — the subtree contains an aggregate/limit, so what's
               broadcast is an aggregate's output, not a relation;
    - 'dim'  — every scan feeding it is a bounded dimension table
               (region/nation/supplier/customer/part), a driver-side
               literal (ExistingRDD/LocalTableScan/Range), or there is
               no scan at all;
    - 'raw'  — at least one fact/corpus scan (lineitem, orders,
               events, documents, embeddings, ...) reaches the
               broadcast with nothing bounding its cardinality. This
               is the shape that OOMs a 1000-executor cluster: CI
               requires a scale-twin annotation for it.

    ReusedExchange nodes are skipped (their original is classified
    where it appears)."""
    tables = _scan_tables(plan)
    classes: list[str] = []
    for name, _, below in _subtrees(plan):
        if name != "BroadcastExchange":
            continue
        if _bounded(below):
            classes.append("agg")
            continue
        scan_tbls = [
            tables.get(nid, "<literal>")
            for n, nid in below
            if n.startswith("Scan ") or n == "LocalTableScan" or n == "Range"
        ]
        if all(t in _DIM_TABLES or t == "<literal>" for t in scan_tbls):
            classes.append("dim")
        else:
            classes.append("raw")
    return classes


def single_partition_classes(plan: str) -> list[str]:
    """Classify every SinglePartition exchange in a formatted plan as
    'bounded' (its input subtree contains an aggregate/limit, so the
    row count collapsing onto one partition is an aggregate's output,
    not the raw relation) or 'raw' (nothing bounds it — a scale
    smell that the census and the CI gate surface explicitly instead
    of leaving the adjudication to docstrings). The details section
    identifies which Exchange nodes are SinglePartition."""
    sp_ids = {int(m) for m in _SP_EXCHANGE.findall(plan)}
    return [
        "bounded" if _bounded(below) else "raw"
        for _, nid, below in _subtrees(plan)
        if nid in sp_ids
    ]


def audit_plan(plan: str) -> dict:
    def n(pat: str) -> int:
        return len(re.findall(pat, plan))

    return {
        "scans": n(r"\(\d+\) Scan parquet") + n(r"\(\d+\) Scan csv")
        + n(r"\(\d+\) Scan json") + n(r"\(\d+\) Scan ExistingRDD"),
        "exchanges": n(r"\(\d+\) Exchange"),
        "bhj": n(r"\(\d+\) BroadcastHashJoin"),
        "smj": n(r"\(\d+\) SortMergeJoin"),
        "shj": n(r"\(\d+\) ShuffledHashJoin"),
        "bnlj": n(r"\(\d+\) BroadcastNestedLoopJoin"),
        "cartesian": n(r"\(\d+\) CartesianProduct"),
        "py": n(r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas|"
                r"FlatMapGroupsInPandas|MapInArrow|AggregateInPandas|"
                r"FlatMapGroupsInPandasWithState|PythonMapInArrow)"),
        # row-at-a-time Python evaluation; only Arrow-batched is allowed
        "row_udf": n(r"\(\d+\) BatchEvalPython"),
        "single_part": int("SinglePartition" in plan),
        "sp_classes": single_partition_classes(plan),
        "bc_classes": broadcast_classes(plan),
    }


def census(spark, sf_dir: str) -> dict[str, dict]:
    """One row per registered query: `audit_plan` of its default plan,
    plus `hint_raw`, the raw broadcasts that survive a re-plan at
    autoBroadcastJoinThreshold=-1. Those are hint-forced: unlike
    Catalyst's stats-driven auto-broadcasts, which fall back to a
    shuffle join once the relation outgrows the threshold, an
    unconditional hint on an unbounded relation ships it to every
    executor at any scale (the shape that took down sim_knn_join_lsh
    in round 3). A plan-time failure is a row with `error` in place of
    the counts.

    The cache is cleared before each plan: persist()-registered
    subplans from earlier queries would otherwise be substituted into
    this one (and ones compiled under the default threshold would be
    misread as hint-forced in the re-plan), so a row never depends on
    what ran before it. No cache entry is left behind."""
    explain = spark._jvm.PythonSQLUtils.explainString

    def plan_of(spec) -> str:
        spark.catalog.clearCache()
        df = spec.fn(spark, sf_dir)
        return explain(df._jdf.queryExecution(), "formatted")

    prev = spark.conf.get(_THRESHOLD)
    rows: dict[str, dict] = {}
    try:
        for name, spec in sorted(all_specs().items()):
            try:
                row = audit_plan(plan_of(spec))
                spark.conf.set(_THRESHOLD, "-1")
                row["hint_raw"] = broadcast_classes(plan_of(spec)).count("raw")
            except Exception as e:  # plan-time failure is itself a finding
                row = {"error": type(e).__name__}
            finally:
                spark.conf.set(_THRESHOLD, prev)
            row["twin"] = spec.scale_twin
            rows[name] = row
    finally:
        spark.catalog.clearCache()
    return rows


def table_row(name: str, a: dict) -> str:
    """The PLANS.md table line for one census row."""
    if "error" in a:
        return f"| {name} | — plan error: {a['error']} | | | | | | | | | | |"
    sp = a["sp_classes"]
    if not sp:
        sp_cell = "⚠" if a["single_part"] else ""  # 1part outside exchanges (rare)
    elif "raw" in sp:
        sp_cell = f"RAW ⚠ ({sp.count('raw')}/{len(sp)})"
    else:
        sp_cell = f"agg ({len(sp)})"
    bc = a["bc_classes"]
    bc_cell = " ".join(f"{k}:{bc.count(k)}" for k in ("agg", "dim", "raw") if bc.count(k))
    if a["hint_raw"] > 0:
        bc_cell += f" HINT-RAW ⚠ ({a['hint_raw']})"
    return (
        f"| {name} | {a['scans']} | {a['exchanges']} | {a['bhj']} | {a['smj']} "
        f"| {a['shj']} | {a['bnlj']} | {a['cartesian']} | {a['py']} "
        f"| {sp_cell} | {bc_cell} | {a['twin']} |"
    )


def main() -> None:
    from tests.conftest import SF_DIR  # the tier-1 scale factor

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = census(spark, sf_dir)

    out = [
        "# PLANS — physical-plan census (generated by tools/plan_audit.py)",
        "",
        f"Input: `{sf_dir}`, the tier-1 test scale factor:",
        "tests/test_plan_quality.py::test_plan_census re-runs the census",
        "there and fails on any row that differs from this table, so",
        "regenerate this file with every plan change. Counts are static",
        "plan nodes (AQE may further coalesce/convert at runtime —",
        "SMJ→BHJ, skew splits). Columns:",
        "scans = source reads; exch = shuffles; joins by strategy;",
        "py = Arrow/Python boundaries; 1part = single-partition stages,",
        "CLASSIFIED by walking each SinglePartition exchange's input",
        "subtree: `agg` = every such stage is fed by an aggregate/limit",
        "(bounded — an aggregate's output collapses to one partition,",
        "not the raw relation), `RAW ⚠` = at least one stage collapses",
        "an unbounded relation (the scale killer; CI requires a",
        "scale-twin annotation for these); bcast = BroadcastExchange",
        "census by input class (`agg:` aggregate/limit-bounded, `dim:`",
        "fixed-size dimension, `raw:` unbounded relation — hint-forced",
        "raw broadcasts are flagged `HINT-RAW ⚠` and CI-gated);",
        "scale-twin = non-empty for",
        "queries that are INTENTIONALLY scale-unsafe (exact oracle twins /",
        "pedagogical stock forms) — the named query is the in-repo",
        "scale-safe alternative to use at 100 TB.",
        "",
        "| query | scans | exch | bhj | smj | shj | bnlj | cart | py | 1part | bcast | scale-twin |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    out += [table_row(name, a) for name, a in rows.items()]

    ok = [a for a in rows.values() if "error" not in a]
    out += [
        "",
        f"**Totals:** {len(rows)} queries; "
        f"{sum(a['exchanges'] for a in ok)} exchanges; "
        f"{sum(a['bhj'] for a in ok)} broadcast / "
        f"{sum(a['smj'] for a in ok)} sort-merge / "
        f"{sum(a['shj'] for a in ok)} shuffled-hash joins; "
        f"{sum(a['cartesian'] for a in ok)} cartesian products; "
        f"{sum(a['single_part'] for a in ok)} queries with a "
        "single-partition stage "
        f"({sum(1 for a in ok if 'raw' in a['sp_classes'])} with a "
        "RAW-relation collapse). "
        f"Broadcast census: {sum(a['bc_classes'].count('agg') for a in ok)} agg / "
        f"{sum(a['bc_classes'].count('dim') for a in ok)} dim / "
        f"{sum(a['bc_classes'].count('raw') for a in ok)} raw BroadcastExchanges; "
        f"{sum(1 for a in ok if a['hint_raw'] > 0)} queries with a HINT-forced raw "
        "broadcast (threshold=-1 re-plan). Every RAW collapse and HINT-forced "
        "raw broadcast is scale-twin-annotated — gated by "
        "tests/test_plan_quality.py::test_plan_census.",
        "",
    ]
    with open(PLANS_MD, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {PLANS_MD}: {len(rows)} queries")


if __name__ == "__main__":
    main()
