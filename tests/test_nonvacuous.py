"""Vacuous-oracle audit: no registered query may green via an
empty-vs-empty compare.

Round 6 found a CEP oracle whose 1-hour bound matched ZERO events at
every verification scale — the hash compare passed trivially and would
have greened a broken matcher (fixed in 667b6cd by widening to 24h).
This suite makes that audit standing practice:

- every query WITH an oracle: the oracle SQL itself must return >0 rows
  at sf0.01 (the driver's verification scale). The oracle side is the
  cheap proxy — if it is non-empty and the driver's hash matched, the
  Spark side was non-empty and value-checked too.
- every oracle-LESS query: the Spark result must return >0 rows at
  sf0.01, since its driver check is rows-only and a zero-row result
  would make even that vacuous.

No whitelist is currently needed — a query whose correct result is
documented-empty at sf0.01 would be added to ``DOCUMENTED_EMPTY`` with
a comment saying why.

Every registered query is a case; tier-1 runs the cases listed in
``per_query_net.txt`` (see ``conftest.py``).
"""

from __future__ import annotations

import pytest

from kafka_streams_aggregate_spark.oracle import duck_con_for
from kafka_streams_aggregate_spark.registry import load_all

SF = "/root/testdata/sf0.01"

DOCUMENTED_EMPTY: dict[str, str] = {}

_ALL = load_all()
WITH_ORACLE = sorted(n for n, q in _ALL.items() if q.oracle is not None)
NO_ORACLE = sorted(n for n, q in _ALL.items() if q.oracle is None)


@pytest.fixture(scope="module")
def duck_sf001():
    con = duck_con_for(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_is_not_vacuously_empty(duck_sf001, name):
    if name in DOCUMENTED_EMPTY:
        pytest.skip(DOCUMENTED_EMPTY[name])
    n = duck_sf001.execute(
        f"SELECT count(*) FROM ({_ALL[name].oracle})"
    ).fetchone()[0]
    assert n > 0, (
        f"{name}: oracle returns 0 rows at sf0.01 — its hash compare "
        "is an empty-vs-empty no-op; widen the predicate or whitelist "
        "with a documented reason"
    )


@pytest.mark.parametrize("name", NO_ORACLE)
def test_rows_only_query_is_not_empty(spark, name):
    if name in DOCUMENTED_EMPTY:
        pytest.skip(DOCUMENTED_EMPTY[name])
    n = _ALL[name].spark(spark, SF).count()
    assert n > 0, (
        f"{name}: rows-only query returns 0 rows at sf0.01 — even the "
        "driver's weak rows-only check would be vacuous"
    )
