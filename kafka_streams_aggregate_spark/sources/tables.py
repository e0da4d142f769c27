"""Parquet table loaders for the driver test tables.

The reference's only source is a Kafka topic
(``application.yml:3-5``); the engine's batch surface reads columnar
parquet — scans get predicate pushdown + column pruning from Catalyst
for free, which is the 100 TB-scale requirement.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_aggregate_spark.schemas import TABLE_NAMES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp columns whose parquet physical type has varied across
# testdata generations: TIMESTAMP(NANOS) (Spark reads it only as long
# under spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS)
# with isAdjustedToUTC=false (Spark 4 reads it as TIMESTAMP_NTZ).
# Both are normalized to session-local TimestampType here so every
# downstream query sees one stable type. The nanos path truncates with
# integer `div 1000` — exactly DuckDB's ns->us behavior — and the NTZ
# cast is value-preserving because the session timezone is UTC,
# matching DuckDB's naive-timestamp read of the same file.
_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one driver table. Plain `spark.read.parquet` — scans stay
    declarative so filter pushdown / column pruning apply."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    try:
        # Runtime-settable; needed when the caller (e.g. the driver
        # harness) built the session without our factory. UTC keeps
        # timestamp values identical to the (UTC-naive) DuckDB oracle.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _TS_COLS.get(name, ()):
        if col not in df.columns:
            continue
        dtype = dict(df.dtypes)[col]
        if dtype == "bigint":  # TIMESTAMP(NANOS) read as long
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype != "timestamp":  # timestamp_ntz -> session-UTC timestamp
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def stream_events(
    spark: SparkSession,
    src: str,
    columns: tuple[str, ...],
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming twin of ``load_table('events', ...)``: build a
    `readStream` over an events parquet directory with the physical
    `ts` type probed from the files (streams require a declared
    schema), then normalize `ts` to TimestampType exactly like the
    batch loader so batch and stream agree cell-for-cell. ``options``
    pass through to the file source (e.g. maxFilesPerTrigger to force
    multi-batch execution)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    dtypes = dict(spark.read.parquet(src).dtypes)
    ddl = ", ".join(f"{c} {dtypes[c]}" for c in columns)
    reader = spark.readStream.schema(ddl)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    raw = reader.parquet(src)
    if "ts" in columns:
        if dtypes.get("ts") == "bigint":  # TIMESTAMP(NANOS) read as long
            raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif "ts" in dtypes and dtypes["ts"] != "timestamp":
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw.select(*columns)


def stage_files(work: str, batches: list[str | DataFrame]) -> str:
    """Stage a file stream's input under a new ``{work}/src`` and return
    that directory: one parquet file per entry of ``batches``, in list
    order. An entry is either a parquet file path (copied as is, e.g.
    ``f"{sf_dir}/events.parquet"``) or a DataFrame (written as one
    coalesced file). Modification times are pinned 10 s apart in list
    order, so a ``maxFilesPerTrigger=1`` stream reads entry i as
    micro-batch i without sleeping between writes."""
    import glob
    import shutil
    import time

    src = f"{work}/src"
    os.makedirs(src)
    first = time.time() - 10 * len(batches)
    for i, batch in enumerate(batches, 1):
        dst = f"{src}/b{i}.parquet"
        if isinstance(batch, str):
            shutil.copy(batch, dst)
        else:
            tmp = f"{work}/stage_b{i}"
            batch.coalesce(1).write.parquet(tmp)
            [part] = glob.glob(f"{tmp}/part-*.parquet")
            shutil.move(part, dst)
        os.utime(dst, (first + 10 * i, first + 10 * i))
    return src


def staged_two_batch(
    spark: SparkSession,
    base: DataFrame,
    split_col: str,
    cutoff,
    schema_ddl: str,
    work: str,
) -> DataFrame:
    """Stream ``base`` as two micro-batches: the rows with ``split_col <
    cutoff``, then the rest (``stage_files``), through a ``readStream``
    (``schema_ddl``) that takes one file per trigger. Split on event
    time, this gives every key its events in time order across the
    batch boundary, the ingest order the stateful folds rely on."""
    src = stage_files(
        work,
        [
            base.filter(F.col(split_col) < cutoff),
            base.filter(F.col(split_col) >= cutoff),
        ],
    )
    return (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def with_scan_parallelism(df: DataFrame, floor: int | None = None) -> DataFrame:
    """Round-robin repartition a scan up to the session's core count —
    a no-op when the plan already has at least that many partitions.

    CPU-heavy per-row operators (shingling, 64-hash MinHash signatures,
    Arrow-batched vector kernels) run in the scan stage, so they inherit
    the file-split count. A small single-file table (the local test
    corpus) yields ONE split — serializing the expensive stage on one
    core of 32. At production scale the scan has thousands of splits and
    this returns the input unchanged; the repartition only fires on
    degenerate-split inputs, where the shuffled bytes are by definition
    small. Round-robin keeps batches size-balanced for Arrow kernels,
    and every caller's downstream aggregate is order-independent, so
    results are partitioning-invariant (pinned by
    tests/test_partitioning_independence.py)."""
    floor = floor or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= floor:
        return df
    return df.repartition(floor)


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in names}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every driver table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
