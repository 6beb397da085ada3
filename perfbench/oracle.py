"""Result checks for query items: the registered DuckDB oracle run on
the same generated directory, compared by row count, column names and
an order-insensitive value hash. The cell normalisation follows
tools/check_oracle.py (itself a mirror of the external driver's), so a
query that passes the oracle gate passes here on the same data.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os


def normalize_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return repr(round(float(v), 9))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, list):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(normalize_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB over one generated directory: a view per parquet file."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
                )

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        tbl = self.con.execute(sql).fetch_arrow_table()
        cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        return list(tbl.column_names), list(zip(*cols)) if cols else []

    def close(self) -> None:
        self.con.close()


def compare(got_cols: list[str], got_rows: list[tuple],
            want_cols: list[str], want_rows: list[tuple]) -> str | None:
    """None when equal, else the first difference found."""
    if len(got_rows) != len(want_rows):
        return f"rowcount {len(got_rows)} vs oracle {len(want_rows)}"
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} vs oracle {sorted(want_cols)}"
    if value_hash(got_rows, got_cols) != value_hash(want_rows, want_cols):
        return "value hash differs from oracle"
    return None
