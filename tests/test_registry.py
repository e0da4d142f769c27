"""Registry invariants: every declared query is well-formed,
``__spark_entry__`` lists the registry in registration order, and the
tier-1 per-query net selects only cases the per-query families
collect."""

from __future__ import annotations

import importlib.util
import os

import test_nonvacuous
import test_oracle_parity
import test_partitioning_independence
import test_plan_lint
from conftest import per_query_net, per_query_selected

from kafka_streams_aggregate_spark.registry import load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_sql_names_only_registered_queries():
    qs = load_all()
    for name, qd in qs.items():
        assert qd.spark is not None, name
        if qd.oracle is not None:
            assert qd.oracle.strip(), f"{name}: empty oracle SQL"


def test_spark_entry_lists_registry_in_registration_order():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    qs = load_all()
    assert list(entry.queries()) == list(qs)
    assert list(entry.queries())[0] == entry.FLAGSHIP == "q_agg_inventory"
    assert entry.oracle_sql() == {
        n: q.oracle for n, q in qs.items() if q.oracle is not None
    }


def _family_cases() -> dict[str, set[str]]:
    return {
        "test_nonvacuous": set(
            test_nonvacuous.WITH_ORACLE + test_nonvacuous.NO_ORACLE
        ),
        "test_oracle_parity": set(test_oracle_parity.QUERY_NAMES),
        "test_partitioning_independence": set(
            test_partitioning_independence.QUERY_NAMES
        ),
        "test_plan_lint": set(test_plan_lint.QUERY_NAMES),
    }


def test_per_query_families_collect_every_registered_query():
    """Any registered query's node id collects: a family leaves out
    only the queries in its own documented exclusion set."""
    every = set(load_all())
    cases = _family_cases()
    assert cases["test_nonvacuous"] == every
    assert cases["test_oracle_parity"] == every
    assert cases["test_partitioning_independence"] == (
        every - test_partitioning_independence.EXCLUDED
    )
    assert cases["test_plan_lint"] == every - test_plan_lint.EXECUTES_AT_BUILD


def test_per_query_net_selects_collected_cases_and_reference_queries():
    net = per_query_net()
    cases = _family_cases()
    assert set(net) == set(cases)
    reference = {n for n, q in load_all().items() if "reference" in q.tags}
    for module, queries in cases.items():
        unknown = net[module] - queries
        assert not unknown, f"{module}: net names uncollected cases {unknown}"
        for q in reference & queries:
            assert per_query_selected(net, module, q), (module, q)
