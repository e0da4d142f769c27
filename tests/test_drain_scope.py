"""The drain scope every registered streaming query runs in
(``sources/eventlog_source.py:drain_workdir``) and the timeout rule of
every drain (``_await_drained``)."""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import tempfile

import pytest

from kafka_streams_aggregate_spark.sources.eventlog_source import (
    DRAIN_SHUFFLE_PARTITIONS,
    drain_workdir,
)

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "kafka_streams_aggregate_spark"
SF_SMOKE = "/root/testdata/sf0.001"


def _shuffle(spark) -> str:
    return spark.conf.get("spark.sql.shuffle.partitions")


def test_scope_pins_then_restores_and_removes_on_return(spark):
    before = _shuffle(spark)
    assert before != DRAIN_SHUFFLE_PARTITIONS
    with drain_workdir(spark) as work:
        assert os.path.isdir(work)
        assert _shuffle(spark) == DRAIN_SHUFFLE_PARTITIONS
        spark.range(50).write.parquet(f"{work}/t")
        df = spark.read.parquet(f"{work}/t").localCheckpoint(eager=True)
    assert _shuffle(spark) == before
    assert not os.path.exists(work)
    # The eager checkpoint holds the rows, not the deleted files.
    assert sorted(r["id"] for r in df.collect()) == list(range(50))


def test_scope_restores_and_removes_on_exception(spark):
    before = _shuffle(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with drain_workdir(spark) as work:
            open(f"{work}/marker", "w").close()
            raise RuntimeError("boom")
    assert _shuffle(spark) == before
    assert not os.path.exists(work)


def test_registered_drain_leaves_session_and_temp_dir_clean(spark):
    from kafka_streams_aggregate_spark.registry import load_all

    before = _shuffle(spark)
    pattern = os.path.join(tempfile.gettempdir(), "ksa_*")
    dirs_before = set(glob.glob(pattern))
    out = load_all()["q_tumbling_window_stream"].spark(spark, SF_SMOKE)
    assert out.count() > 0
    assert _shuffle(spark) == before
    assert set(glob.glob(pattern)) <= dirs_before


def test_every_drain_wait_goes_through_await_drained():
    """``awaitTermination`` returns False on timeout; a caller that
    ignores it reads a partial sink or state store as complete. Only
    ``_await_drained`` (which stops the query and raises) may call it."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        if "awaitTermination(" not in text:
            continue
        allowed = set()
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.FunctionDef) and node.name == "_await_drained":
                allowed.update(range(node.lineno, node.end_lineno + 1))
        for i, line in enumerate(text.splitlines(), 1):
            if "awaitTermination(" in line and i not in allowed:
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{i}")
    assert not offenders, offenders
