"""Every registered query runs and (where an oracle exists) matches
DuckDB at sf0.001 under `tools/check_oracle.py`'s own per-query check
(row count, column names, type categories, no list columns, value
hash), with the cache cleared after each query (SURVEY.md §5
strategy 1)."""

from __future__ import annotations

import duckdb
import pytest

from database_to_bigquery_spark.data import TABLE_NAMES
from database_to_bigquery_spark.registry import all_specs
from tools.check_oracle import check_query

SPECS = all_specs()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    problems, _, _ = check_query(spark, oracle_con, SPECS[name], sf_dir)
    assert not problems, "\n".join(problems)
