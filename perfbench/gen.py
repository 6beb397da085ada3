"""Seeded input generator for the benchmark.

Every table is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical parquet files, another seed writes different
ones. Nothing is read from outside the output directory.

Families written (schemas as in FIXTURES.md):

* TPC-H-ish star (region, nation, customer, supplier, part, orders,
  lineitem) plus ``events`` with a TIMESTAMP(NANOS) ``ts`` column.
* ``documents``: 10-100 words drawn from a Zipf-weighted vocabulary
  (the fixture's 31 head words plus a synthetic tail), with ~1% exact
  copies and ~4% near-copies (10% of words replaced) of earlier docs;
  ``embeddings``: label-clustered Gaussian vectors.
* Reference ETL tables (daily_log, backup_log, servers_temp,
  database_list) with their edge cases: sub-second timestamps, rows
  exactly on day boundaries, one empty table (servers_temp) and
  0/1/NULL flag columns.

Usage: python perfbench/gen.py --workload NAME --seed N --out DIR
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The driver fixtures' own 31-word document vocabulary; the tail
# extends it Zipf-style so unrelated docs are dissimilar, as in a real
# corpus (tools/gen_scale_twin.py explains the choice).
HEAD_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the dup"
).split()
VOCAB_TYPES = 10_000
ZIPF_S = 1.1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_NAMES = [
    f"{a} {b}"
    for a in ("blue", "cold", "green", "hot", "red", "small", "big", "dark")
    for b in ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1, 0.6, 0.1, 0.1, 0.1]

DATABASE_LIST_STRINGS = (
    "name ip description os type version frequency location project encryption_type "
    "user pwd bucket authfile save_path owner environment database_name"
).split()
DATABASE_LIST_FLAGS = "sun mon tue wed thu fri sat encrypted ssl backup load size active".split()

#: incremental column per ETL source table (the reference's daily key)
INCREMENTAL = {
    "daily_log": "backup_date",
    "backup_log": "backup_date",
    "events": "ts",
    "orders": "o_orderdate",
    "lineitem": "l_shipdate",
}

_DAY_US = 86_400_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    """One independent stream per (seed, table): a table's bytes do
    not depend on which other tables a workload asks for."""
    return np.random.default_rng([seed, int.from_bytes(table.encode(), "little") % (1 << 62)])


def _ts_us(start: str, offsets_us: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us").astype(np.int64) + offsets_us.astype(np.int64)


def _us_array(values: np.ndarray) -> pa.Array:
    return pa.array(values, pa.timestamp("us"))


def vocabulary() -> tuple[np.ndarray, np.ndarray]:
    words = np.array(HEAD_WORDS + [f"w{i:05d}" for i in range(VOCAB_TYPES - len(HEAD_WORDS))])
    p = np.arange(1, len(words) + 1, dtype=np.float64) ** -ZIPF_S
    return words, p / p.sum()


def random_text(rng: np.random.Generator, words: np.ndarray, p: np.ndarray) -> str:
    return " ".join(words[rng.choice(len(words), int(rng.integers(10, 101)), p=p)])


def mutate(rng: np.random.Generator, text: str, words: np.ndarray, p: np.ndarray) -> str:
    """Near-copy: replace ~10% of the words."""
    toks = text.split(" ")
    k = max(1, len(toks) // 10)
    for j, w in zip(rng.choice(len(toks), k, replace=False), rng.choice(len(words), k, p=p)):
        toks[j] = words[w]
    return " ".join(toks)


# --------------------------------------------------------------- TPC-H
def tpch_tables(seed: int, n_cust: int, date_start: str, n_days: int) -> dict[str, pa.Table]:
    """Star schema with the fixture's key ratios (orders = 10 x
    customers, ~4 lines per order, part = 4/3 x customers, supplier =
    customers / 15); dates are whole days over ``n_days`` from
    ``date_start``."""
    n_supp, n_part, n_ord = max(10, n_cust // 15), n_cust * 4 // 3, n_cust * 10
    out = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
    }
    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-1000, 10000, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-1000, 10000, n_supp), 2),
        }
    )
    r = _rng(seed, "part")
    pkeys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pkeys,
            "p_name": np.array(P_NAMES)[r.integers(0, len(P_NAMES), n_part)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(P_TYPES)[r.integers(0, len(P_TYPES), n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (pkeys % 1000) / 10.0,
        }
    )
    r = _rng(seed, "orders")
    okeys = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": okeys,
            "o_custkey": r.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(STATUSES)[r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _us_array(_ts_us(date_start, r.integers(0, n_days, n_ord) * _DAY_US)),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )
    r = _rng(seed, "lineitem")
    lines = 1 + r.poisson(3.0, n_ord)
    n_li = int(lines.sum())
    seq = np.arange(n_li) - np.repeat(np.concatenate(([0], np.cumsum(lines)[:-1])), lines)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": np.repeat(okeys, lines),
            "l_partkey": r.integers(0, n_part, n_li),
            "l_suppkey": r.integers(0, n_supp, n_li),
            "l_linenumber": (1 + seq % 7).astype(np.int32),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 105000, n_li), 2),
            "l_discount": np.round(r.uniform(0, 0.10, n_li), 2),
            "l_tax": np.round(r.uniform(0, 0.08, n_li), 2),
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": _us_array(_ts_us(date_start, (1 + r.integers(0, n_days, n_li)) * _DAY_US)),
        }
    )
    return out


def events_table(seed: int, n_events: int, n_users: int, start: str, n_days: int) -> pa.Table:
    """Uniform (user, ts) events over ``n_days``. ``ts`` is stored as
    TIMESTAMP(NANOS) holding whole microseconds, so an engine reading
    nanos and one truncating to micros agree."""
    r = _rng(seed, "events")
    ts_us = np.sort(_ts_us(start, r.integers(0, n_days * _DAY_US, n_events)))
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
            "user_id": r.integers(0, n_users, n_events),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_events)],
            "value": np.round(r.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
        }
    )


# ------------------------------------------------------------ corpus
def documents_table(seed: int, n_docs: int) -> pa.Table:
    r = _rng(seed, "documents")
    words, p = vocabulary()
    texts: list[str] = []
    for i in range(n_docs):
        u = r.random()
        if i > 10 and u < 0.01:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and u < 0.05:
            texts.append(mutate(r, texts[int(r.integers(0, i))], words, p))
        else:
            texts.append(random_text(r, words, p))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(seed: int, n_vecs: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """Unit cluster directions plus noise scaled for a within-label
    cosine of about 0.55 (cross-label about 0)."""
    r = _rng(seed, "embeddings")
    labels = r.integers(0, n_labels, n_vecs)
    dirs = r.standard_normal((n_labels, dim))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    vecs = dirs[labels] + np.sqrt((1 / 0.55 - 1) / dim) * r.standard_normal((n_vecs, dim))
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def stream_batches(seed: int, corpus: pa.Table, n_batches: int, batch_docs: int,
                   planted_frac: float) -> tuple[list[pa.Table], list[list[int]]]:
    """New-doc micro-batches; ``planted_frac`` of each batch are near-
    copies of corpus docs. Returns (batches, planted [doc, source])."""
    r = _rng(seed, "stream_batches")
    words, p = vocabulary()
    texts = corpus.column("text").to_pylist()
    next_id = len(texts)
    batches, planted = [], []
    for _ in range(n_batches):
        ids, out = [], []
        for _ in range(batch_docs):
            if r.random() < planted_frac:
                src = int(r.integers(0, len(texts)))
                out.append(mutate(r, texts[src], words, p))
                planted.append([next_id, src])
            else:
                out.append(random_text(r, words, p))
            ids.append(next_id)
            next_id += 1
        batches.append(pa.table({"doc_id": np.array(ids, dtype=np.int64), "text": out}))
    return batches, planted


# ----------------------------------------------------- reference ETL
def _day_offsets(r: np.random.Generator, n: int, n_days: int) -> np.ndarray:
    """Microsecond offsets over ``n_days`` with the FIXTURES.md §B edge
    cases planted: 1/16 of rows exactly at midnight, 1/16 at the last
    microsecond of a day, the rest with sub-second precision."""
    day = r.integers(0, n_days, n)
    intra = r.integers(0, _DAY_US, n)
    kind = r.integers(0, 16, n)
    intra = np.where(kind == 0, 0, np.where(kind == 1, _DAY_US - 1, intra))
    return day * _DAY_US + intra


def reference_tables(seed: int, n_rows: int, start: str, n_days: int) -> dict[str, pa.Table]:
    servers = np.array([f"db-{i:02d}" for i in range(12)])
    r = _rng(seed, "daily_log")
    bd = _ts_us(start, _day_offsets(r, n_rows, n_days))
    daily_log = pa.table(
        {
            "ID": np.arange(n_rows, dtype=np.int64),
            "backup_date": _us_array(bd),
            "server": servers[r.integers(0, 12, n_rows)],
            "database": [f"schema_{d}" for d in r.integers(0, 40, n_rows)],
            "size": r.integers(1 << 20, 1 << 34, n_rows),
            "state": np.array(["OK", "FAILED", "RUNNING"])[r.choice(3, n_rows, p=[0.9, 0.05, 0.05])],
            "last_update": _us_array(bd + r.integers(0, 3_600_000_000, n_rows)),
            "fileName": [f"/backup/{i}.sql.gz" for i in range(n_rows)],
        }
    )
    r = _rng(seed, "backup_log")
    bd = _ts_us(start, _day_offsets(r, n_rows, n_days))
    backup_log = pa.table(
        {
            "id": np.arange(n_rows, dtype=np.int64),
            "backup_date": _us_array(bd),
            "server": servers[r.integers(0, 12, n_rows)],
            "size": r.integers(1 << 20, 1 << 34, n_rows),
            "filepath": [f"/backup/b{i}.tar" for i in range(n_rows)],
            "last_update": _us_array(bd + r.integers(0, 3_600_000_000, n_rows)),
        }
    )
    servers_temp = pa.table(
        {
            "id": pa.array([], pa.int64()),
            "name": pa.array([], pa.string()),
            "updated_at": pa.array([], pa.timestamp("us")),
        }
    )
    r = _rng(seed, "database_list")
    n_db = max(10, n_rows // 20)
    cols: dict[str, object] = {
        c: [f"{c}_{v}" for v in r.integers(0, 50, n_db)] for c in DATABASE_LIST_STRINGS
    }
    for c in DATABASE_LIST_FLAGS:  # 0/1/NULL tinyint flags
        v = r.integers(0, 3, n_db)
        cols[c] = pa.array([None if x == 2 else int(x) for x in v], pa.int8())
    cols["creation_date"] = _us_array(_ts_us(start, r.integers(0, n_days * _DAY_US, n_db)))
    return {
        "daily_log": daily_log,
        "backup_log": backup_log,
        "servers_temp": servers_temp,
        "database_list": pa.table(cols),
    }


_BQ = {"int8": "INTEGER", "int32": "INTEGER", "int64": "INTEGER", "double": "FLOAT",
       "string": "STRING", "bool": "BOOLEAN"}


def declared_schema(table: pa.Table, spec) -> list[dict[str, str]]:
    """The reference's schema-registry entry (BigQuery type names) for
    one table, over its post-transform columns."""
    out = []
    for f in table.schema:
        name = spec.rename.get(f.name, f.name)
        if name in spec.drop:
            continue
        if name in spec.bool_cols:
            t = "BOOLEAN"
        elif pa.types.is_timestamp(f.type):
            t = "TIMESTAMP"
        else:
            t = _BQ[str(f.type)]
        out.append({"name": name, "type": t})
    return out


# -------------------------------------------------------- workloads
def write_table(tbl: pa.Table, path: str) -> int:
    pq.write_table(tbl, path, compression="snappy")
    return os.path.getsize(path)


def _write_dir(tables: dict[str, pa.Table], out: str) -> dict[str, dict[str, int]]:
    os.makedirs(out, exist_ok=True)
    return {
        name: {"rows": t.num_rows, "bytes": write_table(t, os.path.join(out, f"{name}.parquet"))}
        for name, t in tables.items()
    }


def gen_etl(seed: int, out: str, sizes: dict) -> dict:
    """``snapshot/`` holds every row before the first daily day (the
    full load's source); ``live/`` holds all rows: the daily days and
    one day after them that no run may extract. ``schemas.json`` is
    the declared-schema registry."""
    from database_to_bigquery_spark.etl import FIXTURE_SPECS
    from database_to_bigquery_spark.plans.table_spec import REFERENCE_SPECS

    os.makedirs(out, exist_ok=True)
    start, n_days, n_daily = sizes["start"], sizes["days"], sizes["daily_days"]
    tables = reference_tables(seed, sizes["ref_rows"], start, n_days)
    tpch = tpch_tables(seed, sizes["customers"], start, n_days - 1)
    tables.update(customer=tpch["customer"], orders=tpch["orders"], lineitem=tpch["lineitem"])
    tables["events"] = events_table(seed, sizes["events"], sizes["users"], start, n_days)
    first_daily = dt.date.fromisoformat(start) + dt.timedelta(days=n_days - n_daily - 1)
    cutoff_us = np.datetime64(first_daily.isoformat(), "us").astype(np.int64)
    snapshot = {}
    for name, t in tables.items():
        col = INCREMENTAL.get(name)
        if col is None:
            snapshot[name] = t
            continue
        us = t.column(col).cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
        snapshot[name] = t.filter(pa.array(us < cutoff_us))
    specs = {**REFERENCE_SPECS, **FIXTURE_SPECS}
    with open(os.path.join(out, "schemas.json"), "w") as fh:
        json.dump({n: declared_schema(tables[n], specs[n]) for n in tables}, fh, indent=1)
    return {
        "snapshot": _write_dir(snapshot, os.path.join(out, "snapshot")),
        "live": _write_dir(tables, os.path.join(out, "live")),
        "daily_days": [(first_daily + dt.timedelta(days=i)).isoformat() for i in range(n_daily)],
    }


def gen_tpch(seed: int, out: str, sizes: dict) -> dict:
    """The star schema dated like the fixture (orders from 1995-01-01
    over 2405 days, which the TPC-H oracles' date literals fall in)
    plus ``events`` over ``event_days`` from 2024-01-01."""
    tables = tpch_tables(seed, sizes["customers"], "1995-01-01", 2405)
    tables["events"] = events_table(seed, sizes["events"], sizes["users"], "2024-01-01",
                                    sizes["event_days"])
    return {"tables": _write_dir(tables, out)}


def gen_corpus(seed: int, out: str, sizes: dict) -> dict:
    tables = {
        "documents": documents_table(seed, sizes["docs"]),
        "embeddings": embeddings_table(seed, sizes["vecs"]),
    }
    return {"tables": _write_dir(tables, out)}


def gen_stream(seed: int, out: str, sizes: dict) -> dict:
    corpus = documents_table(seed, sizes["corpus_docs"]).select(["doc_id", "text"])
    batches, planted = stream_batches(
        seed, corpus, sizes["batches"], sizes["batch_docs"], sizes["planted_frac"]
    )
    manifest = {"tables": _write_dir({"corpus": corpus}, out), "batches": [], "planted": planted}
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    for i, b in enumerate(batches):
        path = os.path.join(out, "batches", f"batch-{i:04d}.parquet")
        manifest["batches"].append({"path": path, "rows": b.num_rows, "bytes": write_table(b, path)})
    return manifest


GENERATORS = {"etl": gen_etl, "tpch": gen_tpch, "corpus": gen_corpus, "stream": gen_stream}


def generate(family: str, seed: int, out: str, sizes: dict) -> dict:
    """Write one workload family's inputs under ``out``; returns the
    manifest with ``input_rows`` / ``input_bytes`` totals added."""
    manifest = GENERATORS[family](seed, out, sizes)
    entries = [e for key in ("tables", "snapshot", "live") for e in manifest.get(key, {}).values()]
    entries += manifest.get("batches", [])
    manifest["input_rows"] = sum(e["rows"] for e in entries)
    manifest["input_bytes"] = sum(e["bytes"] for e in entries)
    return manifest


def main() -> None:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="Write one workload's seeded inputs.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    m = generate(w.family, args.seed, args.out, w.sizes)
    print(json.dumps({"input_rows": m["input_rows"], "input_bytes": m["input_bytes"]}))


if __name__ == "__main__":
    main()
