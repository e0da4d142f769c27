"""Custom Python DataSource (the Kafka-topic stand-in, S1).

Covers the two consumer modes: drain-all under trigger(availableNow)
— which polls latestOffset once, the reason incremental advancing
would drop data there — and paced micro-batches via step_rows under a
processingTime trigger (the maxOffsetsPerTrigger analog), which must
replay the full log across several batches with no loss or overlap."""

from __future__ import annotations

import tempfile
import time

import pytest

from kafka_streams_aggregate_spark.sources.eventlog_source import (
    register_eventlog_source,
)

SF = "/root/testdata/sf0.001"
TOTAL = 1000  # events at sf0.001


@pytest.fixture(scope="module")
def evsource(spark):
    register_eventlog_source(spark)
    return spark


def _read(spark, **opts):
    r = spark.readStream.format("eventlog").option(
        "path", f"{SF}/events.parquet"
    )
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_available_now_drains_in_one_batch(evsource):
    spark = evsource
    batches: list[tuple[int, int]] = []

    def sink(b, bid):
        batches.append((bid, b.count()))

    q = (
        _read(spark)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ev1_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(n for _, n in batches) == TOTAL
    assert len(batches) == 1


def test_step_rows_paces_micro_batches_without_loss(evsource):
    spark = evsource
    seen: list[tuple[int, list[int]]] = []

    def sink(b, bid):
        seen.append((bid, [r["event_id"] for r in b.select("event_id").collect()]))

    q = (
        _read(spark, step_rows=100)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ev2_"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if sum(len(ids) for _, ids in seen) >= TOTAL:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    all_ids = sorted(i for _, ids in seen for i in ids)
    assert all_ids == list(range(TOTAL))  # no loss, no duplicates
    assert len({bid for bid, _ in seen if _}) >= 3  # genuinely paced


def test_schema_and_micros_truncation(evsource):
    spark = evsource
    rows: list = []

    def sink(b, bid):
        rows.extend(b.orderBy("event_id").limit(3).collect())

    q = (
        _read(spark)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_ev3_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    from kafka_streams_aggregate_spark.sources.tables import load_table

    batch = (
        load_table(spark, "events", SF).orderBy("event_id").limit(3).collect()
    )
    from datetime import datetime, timedelta

    epoch = datetime(1970, 1, 1)
    for got, want in zip(rows[:3], batch):
        assert got["event_id"] == want["event_id"]
        # ts_us must equal the batch loader's ns->us truncation exactly
        # (session tz is UTC, so the loader's naive timestamps are UTC).
        want_us = (want["ts"].replace(tzinfo=None) - epoch) // timedelta(
            microseconds=1
        )
        assert got["ts_us"] == want_us
        assert got["user_id"] == want["user_id"]
        assert got["event_type"] == want["event_type"]


def test_sink_manifest_commit_roundtrip(evsource, tmp_path):
    """source -> custom manifest-committing sink -> read back committed
    output: full fidelity, and stray uncommitted data files are
    invisible to manifest readers (the effectively-once contract)."""
    spark = evsource
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        read_eventlog_sink,
        register_eventlog_sink,
    )

    register_eventlog_sink(spark)
    out = str(tmp_path / "sinkout")
    q = (
        _read(spark)
        .writeStream.format("eventlogsink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    schema = "event_id long, ts_us long, user_id long, event_type string, value double"
    back = read_eventlog_sink(spark, out, schema)
    assert back.count() == TOTAL
    # Content fidelity on a sample key.
    row = back.filter("event_id = 7").collect()[0]
    from kafka_streams_aggregate_spark.sources.tables import load_table

    want = (
        load_table(spark, "events", SF).filter("event_id = 7").collect()[0]
    )
    assert row["event_type"] == want["event_type"]
    assert int(row["user_id"]) == want["user_id"]

    # An orphan data file (simulated failed/aborted task) must NOT
    # appear to manifest readers.
    with open(f"{out}/data/9-deadbeef.jsonl", "w") as f:
        f.write('{"event_id": 999999}\n')
    assert read_eventlog_sink(spark, out, schema).count() == TOTAL

def test_full_topology_source_topic_fold(evsource, tmp_path):
    """The reference application end-to-end, as the two-job chain a
    real Kafka deployment runs
    (KafkaStreamsInventoryCountApplication.java:67-93): job A consumes
    the event log (S1 stand-in), maps it to the update schema (S2), and
    produces to the sink topic (S7 stand-in; Python sinks are
    append-only at the capability layer, which fits — a topic IS an
    append log). Job B consumes the committed topic and runs the
    INC/DEC/REP fold; the result must equal folding the original log
    directly — transport through the custom source + sink changes
    nothing."""
    spark = evsource
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.operators.inventory_fold import (
        inventory_count_fold,
    )
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        read_eventlog_sink,
        register_eventlog_sink,
    )
    from kafka_streams_aggregate_spark.sources.tables import load_table

    register_eventlog_sink(spark)
    out = str(tmp_path / "updates_topic")

    def to_updates(df):
        return df.select(
            F.col("user_id").cast("string").alias("product_code"),
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "purchase", "INC")
            .when(F.col("event_type") == "error", "DEC")
            .when(F.col("event_type") == "signup", "REP")
            .alias("action"),
            F.floor("value").cast("int").alias("delta"),
        )

    q = (
        to_updates(_read(spark))
        .writeStream.format("eventlogsink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    consumed = read_eventlog_sink(
        spark, out, "product_code string, seq long, action string, delta int"
    )
    got = {
        r["product_code"]: int(r["count"])
        for r in inventory_count_fold(consumed).collect()
    }
    want = {
        r["product_code"]: int(r["count"])
        for r in inventory_count_fold(
            to_updates(load_table(spark, "events", SF))
        ).collect()
    }
    assert got and got == want
