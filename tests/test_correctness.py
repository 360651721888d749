"""Differential correctness: every declared query with an oracle runs on
both engines and must match (the driver's CORRECTNESS gate, run locally).
Rows-only queries are smoke-checked for executability + stable schema.
"""

from __future__ import annotations

import os

import pytest

from pg_lake_spark.queries import QUERIES
from tests.conftest import SF_DIR, assert_matches

WITH_ORACLE = sorted(name for name, s in QUERIES.items() if s.oracle)
ROWS_ONLY = sorted(name for name, s in QUERIES.items() if not s.oracle)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    spec = QUERIES[name]
    df = spec.fn(spark, SF_DIR)
    assert_matches(df, duck, spec.oracle)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    spec = QUERIES[name]
    df = spec.fn(spark, SF_DIR)
    assert df.columns, "query must produce a schema"
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))


def test_dsq78_null_keys_keep_legs_apart(spark, tmp_path):
    """The oracle's FULL OUTER JOIN never matches a NULL ``o_custkey``
    or NULL ``year(l_shipdate)``, so such a group's ship and return legs
    stay two rows; the one-aggregation fold must not merge them. The
    fixture is the sf0.001 join slice with NULLed keys on every 5th
    order and every 7th lineitem."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    spec = QUERIES["dsq78_channel_fullouter_ratio"]
    orders = pq.read_table(os.path.join(SF_DIR, "orders.parquet")).slice(0, 300)
    keys = orders.column("o_orderkey")
    lineitem = pq.read_table(os.path.join(SF_DIR, "lineitem.parquet"))
    lineitem = lineitem.filter(pc.is_in(lineitem.column("l_orderkey"), value_set=keys))

    def null_every(table, col, step):
        i = table.schema.get_field_index(col)
        mask = pa.array([r % step == 0 for r in range(table.num_rows)])
        nulls = pa.nulls(table.num_rows, table.schema.field(i).type)
        return table.set_column(i, table.field(i), pc.if_else(mask, nulls, table.column(i)))

    pq.write_table(null_every(orders, "o_custkey", 5), tmp_path / "orders.parquet")
    pq.write_table(null_every(lineitem, "l_shipdate", 7), tmp_path / "lineitem.parquet")

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path / t}.parquet')")
    null_rows = con.sql(
        f"SELECT count(*) FROM ({spec.oracle}) WHERE custkey IS NULL OR yr IS NULL"
    ).fetchone()[0]
    assert null_rows > 0, "fixture must exercise NULL-keyed legs"
    assert_matches(spec.fn(spark, str(tmp_path)), con, spec.oracle)
