"""Driver-gate rehearsal: every registered query with an oracle must
match DuckDB exactly at sf0.001 (fast) — the same check the driver runs
at sf0.01. Queries without an oracle get a rows-run smoke check.

Every registered query is a case; tier-1 runs the cases listed in
``per_query_net.txt`` (see ``conftest.py``)."""

from __future__ import annotations

import pytest

from kafka_streams_aggregate_spark.oracle import check_query, duck_con_for
from kafka_streams_aggregate_spark.registry import load_all

SF_DIR = "/root/testdata/sf0.001"

QUERY_NAMES = sorted(load_all())


@pytest.fixture(scope="module")
def con():
    c = duck_con_for(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, con, name):
    res = check_query(spark, name, SF_DIR, con)
    assert res.ok, f"{name}: {res.detail}"
