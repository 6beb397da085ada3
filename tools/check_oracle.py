"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count + schema-width + order-insensitive value hash.

Usage: python tools/check_oracle.py [--sf-dir DIR] [names...]

The `rows` and `OK` lines carry the first 12 hex digits of the Spark
result's value hash, so two trees give the same results when their
runs differ only in the bracketed timings. The cache is cleared after
each query, so each hash comes from that query's own plan. The cell
normalisation and the hash are perfbench/oracle.py's, so the benchmark
and this gate hash a result the same way. The per-query check is
`check_query`; tests/test_queries_oracle.py runs the same function
on every query at sf0.001.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# perfbench's modules import each other by bare name
sys.path.append(os.path.join(REPO, "perfbench"))

import duckdb  # noqa: E402
from oracle import normalize_cell, value_hash  # noqa: E402

from database_to_bigquery_spark.data import TABLE_NAMES  # noqa: E402
from database_to_bigquery_spark.registry import all_specs  # noqa: E402
from database_to_bigquery_spark.session import get_spark  # noqa: E402


def spark_type_category(dtype: str) -> str:
    d = dtype.lower()
    if d in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("decimal"):
        return "decimal"
    if d in ("string", "varchar", "char"):
        return "str"
    if d == "boolean":
        return "bool"
    if d == "date":
        return "date"
    if d.startswith("timestamp"):
        # Spark timestamps collect as naive datetimes; only an explicit
        # tz-aware dtype would be "tstz" (none of our queries emit one).
        return "ts"
    if d == "binary":
        return "bin"
    if d.startswith("array"):
        return "list"
    return "other"


def arrow_type_category(t) -> str:
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        # Driver-strict: TIMESTAMP WITH TIME ZONE (e.g. DuckDB's
        # to_timestamp result) is NOT the same type as plain TIMESTAMP —
        # the external driver failed stream_sliding_windows' schema on
        # exactly this in r10 while this gate passed it.
        return "tstz" if t.tz is not None else "ts"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    return "other"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    specs = all_specs()
    names = args.names or sorted(specs)
    failures = []
    for name in names:
        spec = specs[name]
        t0 = time.time()
        problems, n_rows, s_hash = check_query(spark, con, spec, args.sf_dir)
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
        elif spec.oracle is None:
            print(
                f"rows  {name}: {n_rows} rows (no oracle) "
                f"hash={s_hash[:12]} [{time.time()-t0:.1f}s]"
            )
        else:
            print(
                f"OK    {name}: {n_rows} rows hash={s_hash[:12]} "
                f"[{time.time()-t0:.1f}s]"
            )
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


def check_query(spark, con, spec, sf_dir: str) -> tuple[list[str], int, str]:
    """Run one registered query on Spark and, when it has an oracle,
    the oracle on DuckDB connection ``con``; return (problems, Spark
    row count, Spark value hash). No problems means the query passed:
    it ran, returned columns and, with an oracle, matched it on row
    count, column names, type categories and value hash, with no list
    column on either side. The cache is cleared afterwards, so no
    query reads another's persisted relations."""
    try:
        try:
            sdf = spec.fn(spark, sf_dir)
            s_cols = sdf.columns
            s_dtypes = dict(sdf.dtypes)
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            return [f"spark error: {exc}"], 0, ""
        s_hash = value_hash(s_rows, s_cols)
        if not s_cols:
            return ["no columns"], len(s_rows), s_hash
        if spec.oracle is None:
            return [], len(s_rows), s_hash
        try:
            # fetch_arrow_table (not fetchall) so DuckDB type artifacts
            # that the external driver sees — HUGEINT→decimal128,
            # DECIMAL sums — reproduce locally instead of being masked
            # by the Python client's int coercion.
            tbl = con.execute(spec.oracle).fetch_arrow_table()
            o_cols = list(tbl.column_names)
            o_types = {f.name: f.type for f in tbl.schema}
            cols_data = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            o_rows = list(zip(*cols_data)) if tbl.num_columns else []
        except Exception as exc:
            return [f"duckdb error: {exc}"], len(s_rows), s_hash
    finally:
        spark.catalog.clearCache()
    problems = []
    for c in s_cols:
        # Driver-strict canonicalization: the external driver sorts
        # result columns with pandas (Categorical/factorize), which
        # raises `TypeError: unhashable type: 'list'` on list cells —
        # q_map_functions crashed its r10 attestation this way. Any
        # list-typed column in an oracle-bearing result is therefore
        # a FAILURE here, on either side.
        if spark_type_category(s_dtypes.get(c, "")) == "list":
            problems.append(
                f"list column {c}: spark {s_dtypes.get(c)} — the "
                "driver's pandas canonicalizer cannot sort list "
                "cells; emit a deterministic string encoding "
                "(to_json) on both sides"
            )
    for c, t in o_types.items():
        if arrow_type_category(t) == "list":
            problems.append(
                f"list column {c}: oracle {t} — driver-uncanonicalizable"
            )
    for c in s_cols:
        if c in o_types:
            sc = spark_type_category(s_dtypes.get(c, ""))
            oc = arrow_type_category(o_types[c])
            if sc != oc:
                problems.append(
                    f"type mismatch {c}: spark {s_dtypes.get(c)} vs "
                    f"oracle {o_types[c]}"
                )
    if len(s_rows) != len(o_rows):
        problems.append(f"rowcount {len(s_rows)} vs {len(o_rows)}")
    if sorted(s_cols) != sorted(o_cols):
        problems.append(f"columns {sorted(s_cols)} vs {sorted(o_cols)}")
    elif s_hash != value_hash(o_rows, o_cols):
        problems.append("value hash mismatch")
        # show first differing rows for debugging
        order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        order_o = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
        ss = sorted("\x1f".join(normalize_cell(r[i]) for i in order_s) for r in s_rows)
        oo = sorted("\x1f".join(normalize_cell(r[i]) for i in order_o) for r in o_rows)
        for a, b in zip(ss, oo):
            if a != b:
                problems.append(f"  spark:  {a[:300]}")
                problems.append(f"  oracle: {b[:300]}")
                break
    return problems, len(s_rows), s_hash


if __name__ == "__main__":
    sys.exit(main())
