"""Hive-style partitioned parquet sink + partition pruning on re-read.

The write-side twin of predicate pushdown: a 100 TB table laid out as
`status=X/` directories lets any filter on the partition column skip
whole directories at planning time (PartitionFilters on the scan, no
data read), and `spark.sql.files.maxRecordsPerFile`-style knobs decide
file sizes. Pins both the layout and the pruned-scan plan property."""

from __future__ import annotations

import pathlib

import pytest

from kafka_streams_aggregate_spark.plans.inspect import formatted_plan
from kafka_streams_aggregate_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def partitioned_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("psink") / "orders_by_status")
    load_table(spark, "orders", SF).write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(out)
    return out


def test_layout_is_one_directory_per_status(spark, partitioned_dir):
    dirs = sorted(
        p.name
        for p in pathlib.Path(partitioned_dir).iterdir()
        if p.is_dir() and p.name.startswith("o_orderstatus=")
    )
    assert dirs == [
        "o_orderstatus=F",
        "o_orderstatus=O",
        "o_orderstatus=P",
    ]


def test_partition_filter_prunes_at_plan_time(spark, partitioned_dir):
    df = spark.read.parquet(partitioned_dir).filter("o_orderstatus = 'F'")
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan, plan
    # The status predicate must appear as a partition filter (directory
    # skip), NOT as a pushed data filter (row-group skip).
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("o_orderstatus" in ln for ln in pf_lines), plan
    pd_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert not any("o_orderstatus" in ln for ln in pd_lines), plan


def test_partitioned_roundtrip_counts(spark, partitioned_dir):
    orig = load_table(spark, "orders", SF)
    back = spark.read.parquet(partitioned_dir)
    assert back.count() == orig.count()
    assert (
        back.filter("o_orderstatus = 'F'").count()
        == orig.filter("o_orderstatus = 'F'").count()
    )


def test_run_stream_committed_append_roundtrip(spark, tmp_path):
    # Default append path (r17): foreachBatch + distributed JVM json +
    # per-batch manifest. Only manifest-listed batch dirs count.
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )

    src = str(tmp_path / "src")
    spark.range(100).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS bucket"
    ).write.parquet(src)
    stream = spark.readStream.schema("id long, bucket string").parquet(src)
    out = run_stream_committed(
        stream, str(tmp_path / "w"), "append", "id bigint, bucket string"
    )
    rows = {r["id"]: r["bucket"] for r in out.collect()}
    assert len(rows) == 100 and rows[13] == "6"
    import glob
    import json

    outdir = str(tmp_path / "w" / "sinkout")
    manifests = glob.glob(f"{outdir}/manifest/*.json")
    assert manifests, "foreachBatch append path must publish manifests"
    for mf in manifests:
        meta = json.load(open(mf))
        assert "dir" in meta and "batch" in meta


def test_eventlog_sink_matches_foreachbatch_append(spark, tmp_path):
    # The eventlogsink Python DataSource (q_sink_exactly_once's declared
    # surface), driven directly: per-task .jsonl files, a per-batch
    # manifest listing exactly the committed files, and committed rows
    # identical to run_stream_committed's foreachBatch append path.
    import glob
    import json

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        _await_drained,
        read_eventlog_sink,
        register_eventlog_sink,
        run_stream_committed,
    )

    src = str(tmp_path / "src")
    spark.range(100).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS bucket"
    ).write.parquet(src)
    schema = "id bigint, bucket string"

    def stream():
        return spark.readStream.schema("id long, bucket string").parquet(src)

    register_eventlog_sink(spark)
    outdir = str(tmp_path / "wds" / "sinkout")
    q = (
        stream()
        .writeStream.format("eventlogsink")
        .option("path", outdir)
        .option("checkpointLocation", str(tmp_path / "wds" / "sinkckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, 300)
    out_ds = read_eventlog_sink(spark, outdir, schema)
    out_fb = run_stream_committed(
        stream(), str(tmp_path / "wfb"), "append", schema
    )
    rows_ds = sorted((r["id"], r["bucket"]) for r in out_ds.collect())
    rows_fb = sorted((r["id"], r["bucket"]) for r in out_fb.collect())
    assert rows_ds == rows_fb and len(rows_ds) == 100
    # Only manifest-listed files count: every data file must be listed.
    listed = set()
    for mf in glob.glob(f"{outdir}/manifest/*.json"):
        listed.update(e["file"] for e in json.load(open(mf))["files"])
    on_disk = {f.split("/")[-1] for f in glob.glob(f"{outdir}/data/*.jsonl")}
    assert on_disk and on_disk == listed


def test_run_stream_committed_append_timestamp_micros(spark, tmp_path):
    # The JSON default truncates timestamps to millis on write; the
    # foreachBatch append path must roundtrip MICROsecond precision
    # (explicit timestampFormat on both sides).
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )

    src = str(tmp_path / "src")
    spark.sql(
        "SELECT timestamp_micros(1705363200123456) AS ts, 1 AS k"
    ).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, k int").parquet(src)
    out = run_stream_committed(
        stream, str(tmp_path / "w"), "append", "ts timestamp, k int"
    )
    [row] = out.collect()
    assert row["ts"].microsecond == 123456


def test_run_stream_committed_update_timestamp_micros(spark, tmp_path):
    # Update mode shares the append path's sink and read-back, so a
    # timestamp's microseconds survive the JSON round trip there too.
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )

    src = str(tmp_path / "src")
    spark.sql(
        "SELECT timestamp_micros(1705363200123456 + id) AS ts, id % 2 AS k "
        "FROM range(4)"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("ts timestamp, k bigint")
        .parquet(src)
        .groupBy("k")
        .agg({"ts": "max"})
        .withColumnRenamed("max(ts)", "ts")
    )
    out = run_stream_committed(
        stream, str(tmp_path / "w"), "update", "k bigint, ts timestamp"
    )
    got = {r["k"]: r["ts"].microsecond for r in out.collect()}
    assert got == {0: 123458, 1: 123459}


def test_committed_read_back_fails_fast_on_malformed_file(spark, tmp_path):
    """A manifest-listed file that does not parse raises on read-back
    instead of reading back as a row of NULLs."""
    import json

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        _read_committed,
    )

    out = tmp_path / "sinkout"
    data_dir = out / "data" / "0"
    data_dir.mkdir(parents=True)
    (data_dir / "part-00000.json").write_text('{"k":1,"v":2}\n{"k":3,"v"\n')
    (out / "manifest").mkdir()
    (out / "manifest" / "0.json").write_text(
        json.dumps({"batch": 0, "dir": str(data_dir)})
    )
    for with_batch in (False, True):
        df = _read_committed(spark, str(out), "k bigint, v bigint", with_batch)
        with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
            df.collect()


def test_run_stream_committed_update_latest_wins(spark, tmp_path):
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )

    src = str(tmp_path / "src")
    spark.range(50).selectExpr("id % 5 AS k", "id AS v").write.parquet(src)
    stream = (
        spark.readStream.schema("k long, v long")
        .parquet(src)
        .groupBy("k")
        .agg({"v": "max"})
        .withColumnRenamed("max(v)", "v")
    )
    out = run_stream_committed(
        stream, str(tmp_path / "w"), "update", "k bigint, v bigint"
    )
    assert "_batch" in out.columns
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {0: 45, 1: 46, 2: 47, 3: 48, 4: 49}


def test_run_stream_committed_update_reads_back_in_one_scan(spark, tmp_path):
    """Update-mode read-back is one JSON scan over every committed batch
    directory, and each row's ``_batch`` is the id of the manifest that
    lists the directory holding it."""
    import glob
    import json
    import re

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )

    src = str(tmp_path / "src")
    for i in range(4):
        spark.range(i * 10, i * 10 + 10).selectExpr(
            "id % 3 AS k", "id AS v"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("k")
        .agg({"v": "max"})
        .withColumnRenamed("max(v)", "v")
    )
    work = str(tmp_path / "w")
    out = run_stream_committed(stream, work, "update", "k bigint, v bigint")

    want = set()
    for mf in glob.glob(f"{work}/sinkout/manifest/*.json"):
        with open(mf) as fh:
            meta = json.load(fh)
        assert meta["batch"] == int(mf.rsplit("/", 1)[1].split(".")[0])
        want |= {
            (r["k"], r["v"], meta["batch"])
            for r in spark.read.schema("k long, v long").json(meta["dir"]).collect()
        }
    got = [(r["k"], r["v"], r["_batch"]) for r in out.collect()]
    assert len({b for _k, _v, b in got}) >= 3, got
    assert len(got) == len(want) and set(got) == want
    plan = formatted_plan(out)
    assert len(re.findall(r"\(\d+\) Scan json", plan)) == 1, plan
    assert "Union" not in plan, plan


def test_run_stream_committed_empty_stream(spark, tmp_path):
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )

    src = str(tmp_path / "src")
    spark.range(10).selectExpr("id").filter("id < 0").write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    out = run_stream_committed(stream, str(tmp_path / "w"), "append", "id bigint")
    assert out.count() == 0 and out.schema.simpleString() == "struct<id:bigint>"


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart-with-checkpoint contract: a second availableNow run over
    the SAME checkpoint must resume from committed offsets — the rows
    of batch 0 appear exactly once in the combined manifests even
    though the first file is still in the source directory, and batch
    ids continue instead of restarting."""
    import glob
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    work = str(tmp_path / "w")
    src = f"{work}/src"
    os.makedirs(src)
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        run_stream_committed,
    )

    def stage(n_lo, n_hi, name, mtime):
        spark.range(n_lo, n_hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("k"),
        ).coalesce(1).write.parquet(f"{work}/{name}_stage")
        [part] = glob.glob(f"{work}/{name}_stage/part-*.parquet")
        shutil.move(part, f"{src}/{name}.parquet")
        os.utime(f"{src}/{name}.parquet", (mtime, mtime))

    def run():
        stream = spark.readStream.schema("event_id bigint, k bigint").parquet(
            src
        )
        return run_stream_committed(
            stream.select("event_id", "k"), work, "append",
            "event_id bigint, k bigint",
        )

    stage(0, 100, "f1", 1_700_000_000)
    first = run()
    assert first.count() == 100

    stage(100, 150, "f2", 1_700_000_100)
    both = run()  # SAME work dir: same checkpoint, same sink manifests
    # Exactly once: 150 rows total, every event_id distinct, despite
    # f1.parquet still sitting in src on the second run.
    assert both.count() == 150
    assert both.select("event_id").distinct().count() == 150
    # Batch ids continued: two committed manifests, not a restart at 0.
    manifests = sorted(
        os.path.basename(p)
        for p in glob.glob(f"{work}/sinkout/manifest/*.json")
    )
    assert len(manifests) == 2, manifests


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, tmp_path
):
    """INSERT OVERWRITE semantics per partition: with
    partitionOverwriteMode=dynamic, an overwrite write replaces ONLY
    the partitions present in the incoming data — static mode (the
    default) would wipe the whole table first. The lakehouse
    partial-refresh contract (backfill one day without touching the
    rest)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "events_by_type")
    full = load_table(spark, "events", SF).select("event_id", "event_type")
    full.write.partitionBy("event_type").parquet(out)
    before = spark.read.parquet(out).count()
    n_click = full.filter("event_type = 'click'").count()

    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "dynamic")
        # Rewrite ONLY the click partition, halved.
        (
            full.filter("event_type = 'click'")
            .filter(F.col("event_id") % 2 == 0)
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(out)
        )
        after = spark.read.parquet(out)
        n_click_even = full.filter(
            "event_type = 'click' AND event_id % 2 = 0"
        ).count()
        # Other partitions intact; click replaced with the half set.
        assert after.count() == before - n_click + n_click_even
        assert (
            after.filter("event_type = 'purchase'").count()
            == full.filter("event_type = 'purchase'").count()
        )
        assert after.filter("event_type = 'click'").count() == n_click_even
    finally:
        spark.conf.set(conf, prev)
