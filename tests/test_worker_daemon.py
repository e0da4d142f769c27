"""The local sessions' Python worker daemon: zip archives on the
workers' import path are re-read only when they change on disk."""

from __future__ import annotations

import os
import zipfile
import zipimport

from kafka_streams_aggregate_spark.session import _builder
from kafka_streams_aggregate_spark.worker.ksa_worker_daemon import (
    invalidate_unless_unchanged,
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_guarded_invalidate_rereads_only_a_changed_archive(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["alpha"])
    importers = [zipimport.zipimporter(archive) for _ in range(2)]
    for imp in importers:
        invalidate_unless_unchanged(imp)
    files = [imp._files for imp in importers]
    for imp in importers:
        invalidate_unless_unchanged(imp)
    assert all(imp._files is f for imp, f in zip(importers, files))
    assert all(imp.find_spec("beta") is None for imp in importers)

    _write_zip(archive, ["alpha", "beta"])
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    for imp in importers:
        invalidate_unless_unchanged(imp)
    assert all(imp._files is not f for imp, f in zip(importers, files))
    assert all(imp.find_spec("beta") is not None for imp in importers)


def test_python_task_does_not_reread_unchanged_zip_archives(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        before = [
            (imp, imp._files)
            for imp in list(sys.path_importer_cache.values())
            if isinstance(imp, zipimport.zipimporter)
        ]
        importlib.invalidate_caches()
        unchanged = sum(imp._files is files for imp, files in before)
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [len(before)], "unchanged": [unchanged]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "importers long, unchanged long")
        .collect()
    )
    assert rows[0]["importers"] > 0
    assert rows[0]["unchanged"] == rows[0]["importers"]


def test_only_local_masters_get_the_worker_daemon():
    daemon_conf = {"spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"}
    for master in ("local", "local[2]", "local[*]"):
        assert daemon_conf <= set(_builder("ksa-tests", master, None, None)._options)
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert not daemon_conf & set(_builder("ksa-tests", master, None, None)._options)
