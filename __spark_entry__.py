"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``kafka_streams_aggregate_spark.registry`` — every
implemented operator from SURVEY.md §2 registers a Spark callable and
(when SQL-expressible) a DuckDB oracle there.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_aggregate_spark.registry import load_all

FLAGSHIP = "q_agg_inventory"
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the reference capability itself: the keyed
    INC/DEC/REP inventory fold (SURVEY.md §2.2 Q-AGG) over `events`.
    """
    return load_all()[FLAGSHIP].spark(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order (the reference fold queries first)."""
    return {name: qd.spark for name, qd in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted entries get the
    driver's weaker rows-only check (non-SQL-expressible ops)."""
    return {
        name: qd.oracle for name, qd in load_all().items() if qd.oracle is not None
    }
