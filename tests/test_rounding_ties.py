"""Half-unit ties must round to the same value in Spark and in the DuckDB
oracle: each side rounds an exact value (a DECIMAL sum or an integer),
never a double that the two engines may compute differently."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from check_correctness import compare


def _write(path, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), str(path))


def test_q3_half_cent_revenue_rounds_alike(spark, tmp_path):
    """Order 1's exact revenue is 141000.235: 71974.18 * 0.95 +
    76447.12 * 0.95. Rounding the double sum gave 141000.24 in Spark and
    141000.23 in DuckDB; the DECIMAL sum rounds half-up to 141000.24 in
    both."""
    import __spark_entry__ as entry_mod

    ts = pa.timestamp("us")
    _write(
        tmp_path / "customer.parquet",
        {
            "c_custkey": pa.array([10, 20], pa.int64()),
            "c_mktsegment": pa.array(["BUILDING", "BUILDING"]),
        },
    )
    _write(
        tmp_path / "orders.parquet",
        {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_custkey": pa.array([10, 20], pa.int64()),
            "o_orderdate": pa.array([dt.datetime(1997, 6, 1)] * 2, ts),
            "o_orderpriority": pa.array(["1-URGENT", "2-HIGH"]),
        },
    )
    _write(
        tmp_path / "lineitem.parquet",
        {
            "l_orderkey": pa.array([1, 1, 2], pa.int64()),
            "l_extendedprice": pa.array([71974.18, 76447.12, 100.0]),
            "l_discount": pa.array([0.05, 0.05, 0.0]),
            "l_shipdate": pa.array([dt.datetime(1998, 3, 1)] * 3, ts),
        },
    )
    sdf = entry_mod.queries()["q3_top_revenue_orders"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    for name in ("customer", "orders", "lineitem"):
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{tmp_path / name}.parquet'")
    ddf = con.sql(entry_mod.oracle_sql()["q3_top_revenue_orders"]).df()

    assert not compare("q3_top_revenue_orders", sdf, ddf)
    revenue = dict(zip(sdf.o_orderkey, sdf.revenue))
    assert revenue == {1: 141000.24, 2: 100.0}


def test_pagerank_rank_rounds_half_up_alike(spark):
    """A rank_pico ending in 500 sits exactly between two 9-place ranks:
    both engines round it half-up from the integer."""
    from pyspark.sql import functions as F

    from datalake_on_prem_system_spark.operators.graph_ops import _PR_RANK

    picos = [1_234_567_890_500, 2_500, 999_999_999_500, 1_234_567_890_499]
    want = [1.234567891, 3e-9, 1.0, 1.23456789]
    got_spark = [
        r.rank
        for r in spark.createDataFrame([(p,) for p in picos], "rq bigint")
        .select(F.expr(_PR_RANK.format(div="div")).alias("rank"))
        .collect()
    ]
    values = ", ".join(f"({p}::HUGEINT)" for p in picos)
    got_duck = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {_PR_RANK.format(div='//')} FROM (VALUES {values}) v(rq)"
        ).fetchall()
    ]
    assert got_spark == got_duck == want

