"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the reference's core pipeline (E1
placeholder resolution → D2 time-sliced incremental COPY of
orders⋈lineitem → D10 schema alignment + audit columns → per-slice
metrics) on sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2 plus the training-data-pipeline operators; built in
etl_service_spark/plans/queries.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_service_spark.plans.queries import registry, views  # noqa: E402

_REGISTRY = None


def _cases():
    global _REGISTRY
    if _REGISTRY is None:
        _REGISTRY = registry()
    return _REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from datetime import datetime

    from etl_service_spark.operators.copy import TakeoverWindow, copy_data_timesliced

    sf_dir = "/root/testdata/sf0.001"
    v = views(spark, sf_dir)
    window = TakeoverWindow(datetime(1995, 1, 1), datetime(1996, 12, 31))
    sliced = copy_data_timesliced(v["orders"], "o_orderdate", window)
    joined = sliced.join(v["lineitem"], sliced["o_orderkey"] == F.col("l_orderkey"))
    return (
        joined.groupBy("Zeitscheibe_Monat")
        .agg(
            F.count("*").alias("n_items"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
            )
            .cast("double")
            .alias("revenue"),
        )
        .withColumn("Nutzer", F.lit("etl_user"))
        .withColumn("Abfragezeitpunkt", F.lit("2026-01-01 00:00:00").cast("timestamp_ntz"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: case.spark for name, case in _cases().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query."""
    return {name: case.oracle for name, case in _cases().items()}
