"""Declared-query registry.

Every operator the engine claims is registered here as a pair:
  - ``spark``: Callable[(SparkSession, sf_dir) -> DataFrame] — the
    Spark-first implementation,
  - ``oracle``: equivalent ANSI SQL for the DuckDB oracle (or None for
    genuinely non-SQL-expressible ops, which get a rows-only check).

``__spark_entry__.py`` exposes this registry to the driver. Column
names are aliased identically on both sides (the driver's compare sorts
columns by name before hashing). Queries are listed in registration
order, so the reference fold queries come first (``q_agg_inventory``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    spark: SparkQuery
    oracle: str | None
    doc: str = ""
    bench: bool = True  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = True,
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    def _wrap(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QueryDef(
            name=name, spark=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""),
            bench=bench, tags=tags,
        )
        return fn

    return _wrap


def load_all() -> dict[str, QueryDef]:
    """Import every query-bearing module (side effect: registration)."""
    import kafka_streams_aggregate_spark.queries.inventory  # noqa: F401
    import kafka_streams_aggregate_spark.queries.relational  # noqa: F401
    import kafka_streams_aggregate_spark.queries.llm_data  # noqa: F401
    import kafka_streams_aggregate_spark.queries.extended  # noqa: F401
    import kafka_streams_aggregate_spark.queries.scale_ops  # noqa: F401
    import kafka_streams_aggregate_spark.queries.round10  # noqa: F401
    import kafka_streams_aggregate_spark.queries.round11  # noqa: F401
    import kafka_streams_aggregate_spark.queries.round12  # noqa: F401
    import kafka_streams_aggregate_spark.queries.round13  # noqa: F401
    import kafka_streams_aggregate_spark.queries.round14  # noqa: F401
    import kafka_streams_aggregate_spark.queries.round15  # noqa: F401
    import kafka_streams_aggregate_spark.queries.round16  # noqa: F401

    return QUERIES

