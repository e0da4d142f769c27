"""Python worker daemon of local sessions (see ``session.get_spark``).

Every Python task calls ``importlib.invalidate_caches()``. Under CPython
3.11 that makes each zipimporter re-parse its archive's whole directory:
pyspark.zip, py4j and the spark-core jar, ~27k entries, 0.15-0.5 s per
task. Run as the daemon, this module makes a zipimporter re-read its
archive only when the archive's (mtime, size, inode) differs from the
one taken at its last re-read, then starts pyspark's own daemon. (CPython
3.13 makes the call lazy instead; the guard keeps 3.11's contract that a
changed archive is re-read.) Imported as a module it patches nothing.
"""

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_unless_unchanged(importer):
    """``zipimporter.invalidate_caches``, skipped while the archive on
    disk is the one this importer last re-read."""
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(importer, "_read_stamp", None):
        return
    _stock_invalidate(importer)
    importer._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_unless_unchanged
    import pyspark.daemon

    # Stamp the importers pyspark's imports made here, so the forked
    # workers inherit them instead of each re-reading every archive once.
    importlib.invalidate_caches()
    pyspark.daemon.manager()
