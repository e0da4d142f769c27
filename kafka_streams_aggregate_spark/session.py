"""SparkSession factory.

Local test/bench mode runs ``local[N]`` in one JVM; the configuration
below is nevertheless written for the real target — a multi-executor
cluster reading ~100 TB — so every knob that matters at scale (AQE,
skew handling, partition sizing, Arrow batching) is on by default and
centralized here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Holds only the worker daemon module (see get_spark).
_WORKER_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker")

# Spark's checkpoint file manager over Hadoop FileSystem (see get_spark).
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _default_driver_mem() -> str:
    """Heap default for the single local JVM: min(32g, ~75% of
    MemAvailable). 32g is the measured sweet spot for a full 32-thread
    bench run (old-gen GC thrash below ~16g), but hard-coding it would
    swap/system-OOM hosts with less RAM than that. The
    ``SPARK_GRAFT_DRIVER_MEM`` env override always wins (see caller).
    """
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(32, avail_gib * 3 // 4))}g"
    except (OSError, ValueError, IndexError):
        pass
    return "8g"  # no /proc (non-Linux): conservative


def get_spark(
    app_name: str = "kafka_streams_aggregate_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Scale notes:
      - AQE on: runtime coalescing of small shuffle partitions, skew-join
        splitting, and dynamic join-strategy switch are the main defenses
        at 100 TB where static planning guesses wrong.
      - ``spark.sql.shuffle.partitions`` is a *starting point*; AQE
        coalesces down. On a real cluster set it ~2-3x total cores.
      - Arrow on: every pandas-UDF operator in this repo moves data
        JVM<->Python in Arrow batches, never row-at-a-time.
      - Session timezone pinned UTC so timestamp semantics match the
        (UTC-naive) DuckDB oracle and are cluster-location-independent.
      - Python worker daemon: pyspark calls ``importlib.invalidate_caches()``
        in every Python task, and under CPython 3.11 that re-parses the
        directories of pyspark.zip, py4j and the spark-core jar (~27k
        entries, 0.15-0.5 s of a stateful micro-batch task whose own
        work is ~50 ms). ``local`` masters run Spark's daemon through
        ``worker/ksa_worker_daemon.py`` (``spark.python.daemon.module``),
        which re-reads an archive only when it changed on disk. Its
        directory goes on the workers' ``PYTHONPATH`` and holds nothing
        else, so workers still cannot import this package and UDF
        closures must stay self-contained. Other masters keep Spark's
        stock daemon: a cluster's executors do not have this path.
      - Checkpoint file manager: without the native Hadoop library,
        every ``FileContext.rename`` of Spark's default checkpoint
        manager forks ``readlink`` about 4 times (~3 ms each) to check
        link status. Offsets, commits and state deltas are all renamed
        into place, so a fold_drain micro-batch forked ~140 processes
        (~95 ``readlink``, ~45 ``chmod``). ``local`` masters set
        ``spark.sql.streaming.checkpointFileManagerClass`` to Spark's
        ``FileSystemBasedCheckpointFileManager``, whose rename on
        ``file:`` is one exists check plus ``File.renameTo``: the same
        files, checksums included, with no ``readlink``. Other masters
        keep the default, because HDFS and object-store checkpoints
        need FileContext's rename.
    """
    spark = _builder(app_name, master, shuffle_partitions, extra_conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _builder(
    app_name: str,
    master: str | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> SparkSession.Builder:
    """``get_spark``'s builder, before ``getOrCreate``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    n_shuffle = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Files: 128 MiB splits keep scan partitions memory-friendly at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Runtime row-group pruning: build a bloom filter from the
        # selective join side and push it into the big side's scan —
        # a major shuffle-input reducer on 100 TB star joins.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Driver testdata writes TIMESTAMP(NANOS) parquet (events.ts),
        # which Spark rejects by default; read as long + convert in the
        # loader (sources/tables.py) with DuckDB-matching truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # local[N] puts driver + all executor threads in ONE JVM: size
        # the heap for N concurrent tasks' shuffle/agg hash maps plus
        # accumulated localCheckpoint blocks, or the old generation
        # fills and every late query pays a 3-6x GC-thrash tax
        # (measured: old gen at 98% after ~40 bench queries at 8g).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        # Reclaim dropped localCheckpoint/broadcast blocks promptly —
        # the ContextCleaner only frees them after a JVM GC notices the
        # references are dead.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    if master.split("[")[0] == "local":
        builder = (
            builder.config("spark.python.daemon.module", "ksa_worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _WORKER_DAEMON_DIR)
            .config(
                "spark.sql.streaming.checkpointFileManagerClass",
                _FS_CHECKPOINT_MANAGER,
            )
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder
