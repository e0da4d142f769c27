from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Per-query families: each takes every registered query as a case.
# Tier-1 runs the cases listed in per_query_net.txt plus every query
# tagged "reference"; naming test files or node ids runs every case.
PER_QUERY_NET = os.path.join(os.path.dirname(__file__), "per_query_net.txt")


def per_query_net() -> dict[str, set[str]]:
    """Module name -> query names, from the ``[module]`` sections of
    whitespace-separated names."""
    net: dict[str, set[str]] = {}
    with open(PER_QUERY_NET) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            if line.startswith("["):
                queries = net.setdefault(line.strip("[]"), set())
            else:
                queries.update(line.split())
    return net


def per_query_selected(net: dict[str, set[str]], module: str, query: str) -> bool:
    from kafka_streams_aggregate_spark.registry import load_all

    return query in net[module] or "reference" in load_all()[query].tags


def _names_tests(config) -> bool:
    """True when the command line names test files or node ids, not
    only directories: those run every case."""
    root = config.invocation_params.dir
    return any(
        "::" in arg or (root / arg).is_file() for arg in config.args
    )


_PER_QUERY_COUNTS = pytest.StashKey[tuple[int, int]]()


def pytest_collection_modifyitems(config, items):
    if _names_tests(config):
        return
    net = per_query_net()
    keep, drop, seen = [], [], 0
    for item in items:
        module = item.path.stem
        if module in net:
            seen += 1
            if not per_query_selected(net, module, item.callspec.params["name"]):
                drop.append(item)
                continue
        keep.append(item)
    config.stash[_PER_QUERY_COUNTS] = (seen - len(drop), seen)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


def pytest_report_collectionfinish(config):
    if _PER_QUERY_COUNTS in config.stash:
        kept, seen = config.stash[_PER_QUERY_COUNTS]
        return (
            f"per-query net: {kept} of {seen} per-query cases selected "
            "(tests/per_query_net.txt plus reference queries)"
        )
    return None


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
