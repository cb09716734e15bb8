"""Shared helpers for operator modules."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType


def bind(expr: Column, fn: Callable[[Column], Column]) -> Column:
    """Evaluate ``expr`` ONCE and pass it to ``fn`` as a higher-order-
    function lambda variable.

    Catalyst's projection collapse re-inlines a subexpression into every
    reference, so ``w = F.split(text); concat(w[i], w[i+1], w[i+2])``
    re-splits the full text per subscript per array element — measured 4.6×
    slower on the shingling path. A lambda variable is bound per row, not
    re-derived per reference, making the sharing explicit in the plan.
    """
    return F.transform(F.array(expr), fn)[0]


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (parquet; column pruning + predicate pushdown
    handled by the DSv2 parquet source).

    ``events.ts`` has shipped in two physical shapes across fixture
    generations, so normalize ANY dtype to a session-tz ``TimestampType``:

    - INT64 TIMESTAMP(NANOS): Spark 4 only reads it with
      ``spark.sql.legacy.parquet.nanosAsLong=true`` (set in
      ``session.get_spark``), surfacing a raw long — convert with exact
      integer division (``div``), matching DuckDB's nanos→micros truncation
      bit-for-bit (double division would lose precision above 2^53 ns).
    - timestamp[us] without isAdjustedToUTC: Spark 4 surfaces TIMESTAMP_NTZ,
      which ``unix_micros`` et al. hard-reject — cast to ``timestamp``. The
      session timezone is pinned UTC (``session.py``), so the NTZ→TZ cast is
      wall-clock-identical to DuckDB's naive timestamp.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def t_par(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like ``t`` but repartitioned to the session's core count BEFORE any
    downstream computation. The fixture tables are single parquet files →
    single input splits; per-row-expensive operators (shingling, vector
    math, Arrow kernels) would otherwise run on one core. On a production
    many-split table this repartition is dropped (splits already ≫ cores).
    """
    df = t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df

