from __future__ import annotations

import hashlib
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# Suite-time module rotation (round 17, the r16 verdict's item 2).
#
# The r16 driver verify KILLED the suite at ~98% (29-34 min against the
# driver's pytest budget; VERIFY_r16.json tests_ok=false with ZERO
# failures). The repo's round-16 suite-time arithmetic (CLAUDE.md) shows
# the rotation of prior-green per-query slices is exhausted as a lever:
# the ~700-test fixed base of operator/hand-pin unit tests is the term
# that grows every round and the next lever it names is module-rotating
# that base. Steady state measured this round BEFORE the change: 1124
# tests in 25:40.
#
# Mechanics: test MODULES rotate by thirds keyed on the upcoming round
# number (same deterministic key as registry.suite_rotation — computed
# from the CORRECTNESS_r*.json files the driver leaves, so no run
# depends on wall clock and every module re-runs at least every 3
# rounds). ALWAYS-ON, never rotated:
#   - the per-query structural/parity families (they rotate internally
#     per registry.suite_rotation/oracle_rotation and carry the landing
#     gate for new/changed queries at full strength);
#   - the registry/plan/comparator infrastructure tests;
#   - every module covering code TOUCHED this round (the landing gate
#     for operator internals — update _TOUCHED_THIS_ROUND when editing
#     operators).
# KSA_FULL_SUITE=1 disables rotation (full re-audit), and so does naming
# test files or node ids on the command line.
# ---------------------------------------------------------------------------

_ALWAYS_ON_MODULES = {
    # per-query families (self-rotating; landing gate at full strength)
    "test_oracle_parity.py",
    "test_partitioning_independence.py",
    "test_plan_lint.py",
    "test_nonvacuous.py",
    # infrastructure the whole verification net stands on
    "test_registry.py",
    "test_plans.py",
    "test_comparator_strict.py",
}

# Modules exercising code changed in the CURRENT round: full landing
# gate, never rotated out while the change is fresh.
_TOUCHED_THIS_ROUND = {
    # run_stream_committed: one foreachBatch sink + FAILFAST read-back
    "test_partitioned_sink.py",
    "test_eventlog_source.py",
    "test_cusum_stream.py",
    "test_ss_stream.py",
    # session factory no longer touches the import path
    "test_scale_features.py",
    # streaming_inventory_fold is the single stateful fold
    "test_streaming.py",
    # carried from the previous round's list
    "test_bipartite.py",
}

_ROTATION_MODULUS = 3


def _upcoming_round() -> int:
    import glob
    import re

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    best = 0
    for p in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", os.path.basename(p))
        if m:
            best = max(best, int(m.group(1)))
    return best + 1


def _module_slot(mod: str) -> int:
    return int(hashlib.md5(mod.encode()).hexdigest()[:8], 16) % _ROTATION_MODULUS


def _names_tests(config) -> bool:
    """True when the command line names test files or node ids, not
    only directories: those run in full, never rotated to 0 tests."""
    root = config.invocation_params.dir
    return any(
        "::" in arg or (root / arg).is_file() for arg in config.args
    )


def pytest_collection_modifyitems(config, items):
    here = os.path.dirname(os.path.abspath(__file__))
    missing = sorted(
        m
        for m in _ALWAYS_ON_MODULES | _TOUCHED_THIS_ROUND
        if not os.path.isfile(os.path.join(here, m))
    )
    if missing:
        raise pytest.UsageError(
            f"conftest lists test modules that do not exist: {missing}"
        )
    if os.environ.get("KSA_FULL_SUITE") or _names_tests(config):
        return
    want = _upcoming_round() % _ROTATION_MODULUS
    keep, drop = [], []
    for item in items:
        mod = os.path.basename(str(item.fspath))
        if (
            mod in _ALWAYS_ON_MODULES
            or mod in _TOUCHED_THIS_ROUND
            or _module_slot(mod) == want
        ):
            keep.append(item)
        else:
            drop.append(item)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "kafka: live Kafka broker integration — runs only with "
        "KAFKA_BOOTSTRAP_SERVERS set, a reachable broker, and the "
        "spark-sql-kafka jar on the classpath; skips otherwise",
    )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from kafka_streams_aggregate_spark.session import get_spark

    # warehouse.dir is a static conf: point it at a temp dir up front so
    # saveAsTable tests never write into the repo.
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        app_name="ksa-tests",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()
