"""Partitioning-independence: every declared query must produce
IDENTICAL results regardless of the shuffle-partition count.

This is the local proxy for the 1000-executor guarantee: if a result
changes when the partitioning changes, some aggregate depends on
partial-aggregation order (the classic double-sum bug) or an ordering
lacks a total order. The determinism rules (decimal money sums, total
orders on every limit, sequential vector folds) exist to make this
test pass — it is the regression net over all of them.

Every registered query is a case; tier-1 runs the cases listed in
``per_query_net.txt`` (see ``conftest.py``)."""

from __future__ import annotations

import pytest

from kafka_streams_aggregate_spark.registry import load_all

SF = "/root/testdata/sf0.001"

# Iterative clustering has its own equivalence test; excluded here for
# runtime (convergence rounds dominate, not partitioning).
EXCLUDED = {"q_dedup_clusters"}

QUERY_NAMES = sorted(n for n in load_all() if n not in EXCLUDED)


def _canon(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_result_invariant_under_partitioning(spark, name):
    qd = load_all()[name]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _canon(qd.spark(spark, SF))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = _canon(qd.spark(spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b, f"{name}: result depends on shuffle partitioning"
