"""Spark vs DuckDB oracle twins for the OHLCV read and repair surface.

Runs the 24 OHLCV entries of ``__spark_entry__.queries()`` on Spark
and their ``oracle_sql()`` twins on DuckDB over the same events file,
with ``tools/check_oracle.py``'s rules: the two results must agree on
row count, column names and dtypes, and an order-insensitive value
hash (columns sorted by name, floats rounded to 6 places, rows sorted).
This keeps the engine core under independent oracle coverage inside
the pytest suite.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import __spark_entry__ as entrymod  # noqa: E402
from check_oracle import normalize, value_hash  # noqa: E402

OHLCV = [
    "candles_1m",
    "dedup_latest",
    "rollup_5m",
    "cascade_15m",
    "earliest_per_symbol",
    "minmax_window",
    "count_distinct_window",
    "latest_per_symbol",
    "distinct_pairs",
    "recent_topn",
    "symbol_filter",
    "readme_window",
    "freshness",
    "listing_diff",
    "listing_stable",
    "gap_missing_count",
    "gap_islands",
    "backfill_plan",
    "validate_quarantine",
    "gap_filled",
    "gap_filled_ffill",
    "gap_filled_interp",
    "repair_window",
    "watchdog_cycle",
]
QUERIES = entrymod.queries()
ORACLE_SQL = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", OHLCV)
def test_spark_matches_duckdb(spark, duck, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = duck.execute(ORACLE_SQL[name]).df()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    sn, on = normalize(sdf), normalize(odf)
    assert {c: str(sn[c].dtype) for c in sn.columns} == {
        c: str(on[c].dtype) for c in on.columns
    }
    if value_hash(sdf) != value_hash(odf):
        pytest.fail(f"value hash mismatch; first diffs:\n{sn.compare(on).head(5)}")
