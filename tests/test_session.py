"""``get_spark``'s local-session settings: the master and shuffle
partitions read from ``SPARK_GRAFT_CPUS``, and the checkpoint file
manager that commits offsets, commits and state without forking
``readlink`` per rename."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from kafka_streams_aggregate_spark.operators.inventory_fold import (
    latest_per_key,
    python_fold_oracle,
)
from kafka_streams_aggregate_spark.schemas import INVENTORY_UPDATE_FLAT_SCHEMA
from kafka_streams_aggregate_spark.session import _FS_CHECKPOINT_MANAGER, _builder
from kafka_streams_aggregate_spark.sources.eventlog_source import run_stream_committed
from kafka_streams_aggregate_spark.streaming.inventory_stream import (
    OUTPUT_SCHEMA,
    streaming_inventory_fold,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
# Spark's default manager, which renames through Hadoop's FileContext.
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
UPDATE_SCHEMA = to_arrow_schema(INVENTORY_UPDATE_FLAT_SCHEMA)


def _rows(first_seq: int, n: int = 60) -> list[tuple]:
    actions = ["INC", "DEC", "REP", "INC"]
    return [
        (f"k{i % 7}", first_seq + i, actions[i % 4], (i * 5) % 11 + 1)
        for i in range(n)
    ]


def _write_file(src: str, name: str, rows: list[tuple], age_s: float) -> None:
    """One parquet file of inventory updates, ``age_s`` seconds old, so
    the file source takes files oldest first."""
    os.makedirs(src, exist_ok=True)
    path = f"{src}/{name}.parquet"
    pq.write_table(pa.table([list(c) for c in zip(*rows)], schema=UPDATE_SCHEMA), path)
    t = time.time() - age_s
    os.utime(path, (t, t))


def _fold(spark, src: str, work: str) -> dict:
    """Drain ``src`` one file per micro-batch through the committed sink
    and return the latest count per key."""
    stream = (
        spark.readStream.schema(INVENTORY_UPDATE_FLAT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    changelog = run_stream_committed(
        streaming_inventory_fold(stream), work, "update", OUTPUT_SCHEMA
    )
    final = latest_per_key(changelog, ["product_code"], "_batch", ["count"])
    return {r["product_code"]: r["count"] for r in final.collect()}


def test_only_local_masters_get_the_filesystem_checkpoint_manager():
    for master in ("local", "local[2]", "local[*]"):
        options = _builder("ksa-tests", master, None, None)._options
        assert options[MANAGER_CONF] == _FS_CHECKPOINT_MANAGER
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert MANAGER_CONF not in _builder("ksa-tests", master, None, None)._options


def test_cpus_set_after_import_sizes_master_and_partitions(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    options = _builder("ksa-tests", None, None, None)._options
    assert options["spark.master"] == "local[3]"
    assert options["spark.sql.shuffle.partitions"] == "3"


@pytest.mark.parametrize(
    "first,second",
    [("file_context", "session"), ("session", "file_context")],
)
def test_checkpoint_restarts_under_the_other_manager(spark, tmp_path, first, second):
    """A checkpoint written under one manager restarts under the other
    (same files, same checksums): folding a second file on top of the
    first gives ``python_fold_oracle`` of both."""
    session_manager = spark.conf.get(MANAGER_CONF)
    managers = {"file_context": FILE_CONTEXT_MANAGER, "session": session_manager}
    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    r1, r2 = _rows(0), _rows(1_000)
    try:
        _write_file(src, "f0", r1, age_s=20)
        spark.conf.set(MANAGER_CONF, managers[first])
        assert _fold(spark, src, work) == python_fold_oracle(r1)

        _write_file(src, "f1", r2, age_s=10)
        spark.conf.set(MANAGER_CONF, managers[second])
        assert _fold(spark, src, work) == python_fold_oracle(r1 + r2)
    finally:
        spark.conf.set(MANAGER_CONF, session_manager)


# Runs in a fresh process, whose JVM inherits a PATH with the readlink
# shim first: argv[1] is the source, argv[2] and argv[3] the work
# directories of a drain on the session's manager and on FileContext's.
_DRAIN_SCRIPT = """
import json, sys
sys.path.insert(0, "tests")
from test_session import FILE_CONTEXT_MANAGER, MANAGER_CONF, _fold
from kafka_streams_aggregate_spark.session import get_spark

spark = get_spark(app_name="ksa-readlink", shuffle_partitions=2)
session_state = _fold(spark, sys.argv[1], sys.argv[2])
spark.conf.set(MANAGER_CONF, FILE_CONTEXT_MANAGER)
file_context_state = _fold(spark, sys.argv[1], sys.argv[3])
spark.stop()
print(json.dumps([session_state, file_context_state]))
"""


def test_checkpoint_renames_fork_no_readlink(tmp_path):
    """Without the native Hadoop library, FileContext's rename forks
    ``readlink`` to check link status. A local session's checkpoint
    manager renames without it: a 2-file drain of the fold forks no
    ``readlink`` on any checkpoint path, while the same drain under
    Spark's default manager does."""
    shim_dir, log = tmp_path / "shim", tmp_path / "readlink.log"
    shim_dir.mkdir()
    shim = shim_dir / "readlink"
    shim.write_text(
        f'#!/bin/sh\necho "$@" >> {log}\nexec {shutil.which("readlink")} "$@"\n'
    )
    shim.chmod(0o755)
    src = str(tmp_path / "src")
    r1, r2 = _rows(0), _rows(1_000)
    _write_file(src, "f0", r1, age_s=20)
    _write_file(src, "f1", r2, age_s=10)
    work_session = str(tmp_path / "session")
    work_file_context = str(tmp_path / "file_context")

    env = dict(
        os.environ,
        PATH=f"{shim_dir}{os.pathsep}{os.environ['PATH']}",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    res = subprocess.run(
        [sys.executable, "-c", _DRAIN_SCRIPT, src, work_session, work_file_context],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, timeout=600, check=True,
    )
    states = json.loads(res.stdout.strip().splitlines()[-1])
    assert states == [python_fold_oracle(r1 + r2)] * 2

    logged = log.read_text().splitlines() if log.exists() else []

    def under_checkpoint(work):
        return [args for args in logged if f"{work}/sinkckpt/" in args]

    assert under_checkpoint(work_session) == []
    assert under_checkpoint(work_file_context), "the shim saw no FileContext rename"
