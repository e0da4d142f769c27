"""Streaming fold tests — the Spark analog of the reference's test
tiers (SURVEY.md §5): batch/stream parity, conflation (update mode),
accumulation across rounds and across query restarts (checkpoint
restore), and the JSON serde expressions of the Kafka pipeline.

Driven broker-less: parquet files appended to a watched directory +
availableNow trigger + memory sink (the Spark twin of
TopologyTestDriver)."""

from __future__ import annotations

import os
import random

import pytest

from kafka_streams_aggregate_spark.operators.inventory_fold import (
    python_fold_oracle,
)
from kafka_streams_aggregate_spark.schemas import INVENTORY_UPDATE_FLAT_SCHEMA
from kafka_streams_aggregate_spark.streaming import keyed_fold
from kafka_streams_aggregate_spark.streaming.inventory_stream import (
    streaming_inventory_fold,
)
from kafka_streams_aggregate_spark.streaming.keyed_fold import key_bucket
from kafka_streams_aggregate_spark.streaming.pipeline import (
    count_event_output,
    parse_update_records,
)


def _write_round(spark, path, rows, mode):
    df = spark.createDataFrame(rows, schema=INVENTORY_UPDATE_FLAT_SCHEMA)
    df.coalesce(1).write.mode(mode).parquet(path)


def _bucket_mates(spark, n):
    """``n`` keys that the fold's own bucket expression puts in one
    bucket, so they share a state row."""
    keys = spark.createDataFrame([(f"k{i}",) for i in range(200)], "k string")
    by_bucket = {}
    for r in keys.select("k", key_bucket("k").alias("b")).collect():
        by_bucket.setdefault(r["b"], []).append(r["k"])
    mates = max(by_bucket.values(), key=len)
    assert len(mates) >= n, by_bucket
    return sorted(mates, key=lambda k: int(k[1:]))[:n]


def _run_stream(spark, src_dir, ckpt_dir, collected=None, sink_fn=None, strict=False,
                max_files=None):
    """Run the fold to completion over all available files via a
    foreachBatch sink (memory sink cannot recover from a checkpoint).
    Default sink appends emitted changelog rows driver-side to
    ``collected`` as (batch_id, product_code, count); pass ``sink_fn``
    for a custom foreachBatch body."""
    reader = spark.readStream.schema(INVENTORY_UPDATE_FLAT_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    folded = streaming_inventory_fold(reader.parquet(src_dir), strict=strict)

    if sink_fn is None:

        def sink_fn(batch_df, batch_id):
            for r in batch_df.collect():
                collected.append((batch_id, r["product_code"], r["count"]))

    q = (
        folded.writeStream.foreachBatch(sink_fn)
        .outputMode("update")
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _latest_counts(collected):
    # update-mode emits a changelog; the contract (like the reference's
    # test consumer, which reads records into a map) is latest-per-key
    # wins, in batch order.
    out = {}
    for _bid, key, count in sorted(collected, key=lambda t: t[0]):
        out[key] = count
    return out


def test_stream_matches_python_oracle(spark, tmp_path):
    rng = random.Random(11)
    rows = [
        (f"key{k}", s * 10 + k, rng.choice(["INC", "DEC", "REP"]), rng.randint(1, 10))
        for k in range(5)
        for s in range(8)
    ]
    _write_round(spark, str(tmp_path / "src"), rows, "overwrite")
    collected = []
    _run_stream(spark, str(tmp_path / "src"), str(tmp_path / "ckpt"), collected)
    assert _latest_counts(collected) == python_fold_oracle(rows)


def test_stream_accumulates_across_restart(spark, tmp_path):
    """Reference scenario processAggregatedEventsForSingleKey
    (KafkaStreamsInventoryCountTests.java:126-145): round 2 folds on
    top of round 1's state — here additionally across a full query
    restart, proving checkpointed state restore."""
    rng = random.Random(13)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    r1 = [("k", s, rng.choice(["INC", "DEC", "REP"]), rng.randint(1, 10)) for s in range(5)]
    _write_round(spark, src, r1, "overwrite")
    c1 = []
    _run_stream(spark, src, ckpt, c1)
    assert _latest_counts(c1) == python_fold_oracle(r1)

    r2 = [("k", 100 + s, rng.choice(["INC", "DEC"]), rng.randint(1, 10)) for s in range(5)]
    _write_round(spark, src, r2, "append")
    c2 = []
    _run_stream(spark, src, ckpt, c2)  # NEW query, same checkpoint
    assert _latest_counts(c2) == python_fold_oracle(r1 + r2)


def test_stream_multiple_keys_parity_with_batch(spark, tmp_path):
    """Batch/stream parity (SURVEY.md §5.iv): the same input through
    the batch closed form and the streaming fold agree per key."""
    from kafka_streams_aggregate_spark.operators.inventory_fold import (
        inventory_count_fold,
    )

    rng = random.Random(17)
    rows = [
        (f"key{k}", s, rng.choice(["INC", "DEC", "REP"]), rng.randint(1, 10))
        for k in range(10)
        for s in range(5)
    ]
    # inject null-value records; both paths must drop them
    rows += [(f"key{k}", 1000 + k, None, None) for k in range(10)]
    _write_round(spark, str(tmp_path / "src"), rows, "overwrite")
    c = []
    _run_stream(spark, str(tmp_path / "src"), str(tmp_path / "ckpt"), c)
    stream_counts = _latest_counts(c)

    batch = inventory_count_fold(
        spark.createDataFrame(rows, schema=INVENTORY_UPDATE_FLAT_SCHEMA)
    )
    batch_counts = {r["product_code"]: r["count"] for r in batch.collect()}
    assert stream_counts == batch_counts


def test_update_mode_emits_only_changed_keys(spark, tmp_path):
    # 'a' and 'b' share a state bucket: touching 'a' rewrites the bucket,
    # but only 'a' changed, so only 'a' is emitted.
    a, b = _bucket_mates(spark, 2)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _write_round(spark, src, [(a, 1, "INC", 5), (b, 2, "INC", 3)], "overwrite")
    _run_stream(spark, src, ckpt, [])
    # round 2 touches only key a
    _write_round(spark, src, [(a, 10, "DEC", 2)], "append")
    c2 = []
    _run_stream(spark, src, ckpt, c2)
    assert {(k, v) for _b, k, v in c2} == {(a, 3)}  # 5 - 2, key b untouched
    # b's count survived the rewrite of its bucket
    _write_round(spark, src, [(b, 20, "INC", 1)], "append")
    c3 = []
    _run_stream(spark, src, ckpt, c3)
    assert {(k, v) for _b, k, v in c3} == {(b, 4)}


def test_strict_tombstone_deletes_key_from_state(spark, tmp_path):
    """S4d (InventoryCountUpdateEventUpdater.java:40-41): an unknown
    action nulls the aggregate -> the key is DELETED from the store and
    a NULL-count changelog marker is emitted. A later valid event
    restarts from the initializer, exactly like Kafka Streams after a
    tombstone. The three keys share a state bucket: a tombstone removes
    only its own key's count."""
    keep, poisoned, reborn = _bucket_mates(spark, 3)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    r1 = [
        (keep, 1, "INC", 7),
        (poisoned, 2, "INC", 9),
        (poisoned, 3, "DESTROY", 1),  # unknown action -> tombstone
        (reborn, 4, "INC", 5),
        (reborn, 5, "DESTROY", 1),
        (reborn, 6, "INC", 2),  # restarts from initializer 0
    ]
    _write_round(spark, src, r1, "overwrite")
    c1 = []
    _run_stream(spark, src, ckpt, c1, strict=True)
    latest = _latest_counts(c1)
    assert latest[keep] == 7
    assert latest[poisoned] is None  # deletion marker emitted
    assert latest[reborn] == 2

    # Round 2: the poisoned key's state is GONE (not just masked) —
    # a new INC folds from 0, not from the pre-poison 9 — while its
    # bucket-mate keeps its count.
    _write_round(
        spark, src, [(poisoned, 10, "INC", 4), (keep, 11, "INC", 1)], "append"
    )
    c2 = []
    _run_stream(spark, src, ckpt, c2, strict=True)
    assert _latest_counts(c2) == {poisoned: 4, keep: 8}

    # Round 3: tombstoning every key of the bucket empties it.
    _write_round(
        spark,
        src,
        [(k, 20 + i, "DESTROY", 1) for i, k in enumerate((keep, poisoned, reborn))],
        "append",
    )
    c3 = []
    _run_stream(spark, src, ckpt, c3, strict=True)
    assert _latest_counts(c3) == {keep: None, poisoned: None, reborn: None}
    state = spark.read.format("statestore").load(ckpt)
    assert state.count() == 0


@pytest.mark.parametrize("strict", [False, True], ids=["lenient", "strict"])
def test_many_keys_per_bucket_parity_across_batches(spark, tmp_path, strict):
    """Hundreds of keys over the fold's 64 state buckets, so every
    bucket holds several keys, folded over several micro-batches (one
    file each) with INC/DEC/REP, null deltas and unknown actions: the
    final state equals ``python_fold_oracle``."""
    import glob
    import shutil
    import time

    rng = random.Random(29)
    n_keys, n_files, per_file = 320, 3, 800
    actions = ["INC", "DEC", "REP", "INC", "DEC", "ADJ"]
    rows = []
    for seq in range(n_files * per_file):
        delta = None if rng.random() < 0.03 else rng.randint(1, 50)
        rows.append((f"key{rng.randrange(n_keys)}", seq, rng.choice(actions), delta))
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    for i in range(n_files):
        stage = str(tmp_path / f"stage{i}")
        _write_round(spark, stage, rows[i * per_file:(i + 1) * per_file], "overwrite")
        [part] = glob.glob(f"{stage}/part-*.parquet")
        shutil.move(part, f"{src}/f{i}.parquet")
        os.utime(f"{src}/f{i}.parquet", (now + 10 * i, now + 10 * i))

    c = []
    _run_stream(spark, src, str(tmp_path / "ckpt"), c, strict=strict, max_files=1)
    assert len({bid for bid, _k, _v in c}) >= n_files, "expected one batch per file"
    state = {k: v for k, v in _latest_counts(c).items() if v is not None}
    oracle = python_fold_oracle(rows, strict=strict)
    assert state == oracle
    assert len(oracle) > 250


@pytest.mark.parametrize("fold", ["inventory", "cusum"])
def test_bucket_count_change_is_refused(spark, tmp_path, monkeypatch, fold):
    """A checkpoint is tied to the bucket count it was written under:
    restarting it with another ``N_BUCKETS`` would fold moved keys from
    their initial state and strand their old state, so ``keyed_fold``'s
    state function refuses it, whichever fold runs on it. (Spark cannot
    catch this itself: the state key is an int either way.)"""
    from kafka_streams_aggregate_spark.streaming.cusum_stream import (
        streaming_cusum,
    )

    if fold == "inventory":
        ddl, build = INVENTORY_UPDATE_FLAT_SCHEMA, streaming_inventory_fold
        keys = spark.createDataFrame([(f"k{i}",) for i in range(50)], "k string")
    else:
        ddl = "event_id long, user_id long, ts_us long, value double"
        build = streaming_cusum
        keys = spark.range(50).withColumnRenamed("id", "k")
    # A key in bucket b < 16 is in bucket b under 16 buckets too, so the
    # second run reads the state row the first one wrote.
    key = next(
        r["k"] for r in keys.select("k", key_bucket("k").alias("b")).collect()
        if r["b"] < 16
    )
    if fold == "inventory":
        batches = [(key, 1, "INC", 5)], [(key, 2, "INC", 1)]
        first_out = (key, 5)
    else:
        batches = [(1, key, 1, 1.0)], [(2, key, 2, 1.0)]
        first_out = (key, 1, 0, 0, 0)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def run(rows, mode):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(mode).parquet(src)
        out = []
        q = (
            build(spark.readStream.schema(ddl).parquet(src))
            .writeStream.foreachBatch(lambda df, _bid: out.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return out

    first = run(batches[0], "overwrite")
    assert [tuple(r) for r in first] == [first_out]

    monkeypatch.setattr(keyed_fold, "N_BUCKETS", 16)
    with pytest.raises(Exception, match="written under 64 key buckets"):
        run(batches[1], "append")


def test_strict_tombstone_batch_stream_parity(spark, tmp_path):
    """Batch closed form, streaming fold, and the independent Python
    oracle agree on final per-key state under strict tombstone
    semantics (deleted keys absent everywhere)."""
    from kafka_streams_aggregate_spark.operators.inventory_fold import (
        inventory_count_fold,
    )

    rng = random.Random(23)
    rows = [
        (f"key{k}", s, rng.choice(["INC", "DEC", "REP", "BOGUS"]), rng.randint(1, 10))
        for k in range(8)
        for s in range(6)
    ]
    rows += [(f"key{k}", 100 + k, None, None) for k in range(8)]  # null records
    _write_round(spark, str(tmp_path / "src"), rows, "overwrite")
    c = []
    _run_stream(spark, str(tmp_path / "src"), str(tmp_path / "ckpt"), c, strict=True)
    stream_state = {k: v for k, v in _latest_counts(c).items() if v is not None}

    batch = inventory_count_fold(
        spark.createDataFrame(rows, schema=INVENTORY_UPDATE_FLAT_SCHEMA), strict=True
    )
    batch_state = {r["product_code"]: r["count"] for r in batch.collect()}
    oracle = python_fold_oracle(rows, strict=True)
    assert stream_state == batch_state == oracle
    # the fixture must actually exercise the delete path
    assert len(oracle) < 8


def test_snapshot_reader_serves_latest_state(spark, tmp_path):
    """The /events-equivalent surface: run two rounds through the
    streaming fold writing a parquet changelog; the snapshot read must
    equal the final fold state (and reflect round-2 updates)."""
    from functools import partial

    from kafka_streams_aggregate_spark.streaming.snapshot import (
        latest_counts_snapshot,
        write_changelog_batch,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    sink = str(tmp_path / "changelog")
    sink_fn = partial(write_changelog_batch, sink_dir=sink)

    _write_round(spark, src, [("a", 1, "INC", 5), ("b", 2, "REP", 9)], "overwrite")
    _run_stream(spark, src, ckpt, sink_fn=sink_fn)
    _write_round(spark, src, [("a", 10, "DEC", 2)], "append")
    _run_stream(spark, src, ckpt, sink_fn=sink_fn)

    snap = {
        r["product_code"]: r["count"]
        for r in latest_counts_snapshot(spark, sink).collect()
    }
    assert snap == {"a": 3, "b": 9}


def test_snapshot_survives_checkpoint_reset(spark, tmp_path):
    """Regression: after a checkpoint reset (reprocessing run), batch
    ids restart at 0 — the snapshot must still serve the NEW run's
    state, not the old run's higher-numbered batches."""
    import time
    from functools import partial

    from kafka_streams_aggregate_spark.streaming.snapshot import (
        latest_counts_snapshot,
        write_changelog_batch,
    )

    sink = str(tmp_path / "changelog")
    sink_fn = partial(write_changelog_batch, sink_dir=sink)

    # Run 1: two rounds so its max _batch_id is >= 1.
    src1, ckpt1 = str(tmp_path / "src1"), str(tmp_path / "ckpt1")
    _write_round(spark, src1, [("a", 1, "INC", 5)], "overwrite")
    _run_stream(spark, src1, ckpt1, sink_fn=sink_fn)
    _write_round(spark, src1, [("a", 2, "INC", 1)], "append")
    _run_stream(spark, src1, ckpt1, sink_fn=sink_fn)

    time.sleep(0.01)  # ensure the reset run's write stamp advances
    # "Checkpoint reset": fresh checkpoint + source, batch ids restart.
    src2, ckpt2 = str(tmp_path / "src2"), str(tmp_path / "ckpt2")
    _write_round(spark, src2, [("a", 10, "REP", 100)], "overwrite")
    _run_stream(spark, src2, ckpt2, sink_fn=sink_fn)

    snap = {
        r["product_code"]: r["count"]
        for r in latest_counts_snapshot(spark, sink).collect()
    }
    assert snap == {"a": 100}


def test_windowed_stream_with_watermark_matches_batch(spark, tmp_path):
    """Event-time tumbling window + watermark (SURVEY.md §2.3
    'Streaming windows' / 'Watermarks'): the streamed append-mode
    result for closed windows must equal the batch window aggregation.
    """
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=7 * i), f"u{i % 3}", float(i))
        for i in range(60)
    ]
    schema = "event_id long, ts timestamp, user_id string, value double"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .select(F.col("window.start").alias("ws"), "n", "v")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["ws"]: (r["n"], r["v"]) for r in spark.sql("SELECT * FROM win_sink").collect()
    }

    batch = (
        df.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .select(F.col("window.start").alias("ws"), "n", "v")
    )
    batch_map = {r["ws"]: (r["n"], r["v"]) for r in batch.collect()}
    # Append mode emits only watermark-closed windows; the final window
    # may be withheld. Everything emitted must match batch exactly.
    assert streamed, "no windows emitted"
    for ws, vals in streamed.items():
        assert batch_map[ws] == vals
    assert len(streamed) >= len(batch_map) - 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup (SURVEY.md §2.3 dedup row, streaming
    form): duplicate event ids arriving within the watermark window are
    dropped across micro-batches via dropDuplicatesWithinWatermark."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, v double"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def write(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(src)

    collected = []

    def run():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
        )

        def _sink(batch_df, _bid):
            collected.extend((r["event_id"], r["v"]) for r in batch_df.collect())

        q = (
            stream.writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write(
        [(1, t0, 1.0), (2, t0 + dt.timedelta(minutes=1), 2.0), (1, t0, 1.0)],
        "overwrite",
    )
    run()
    # Second batch re-sends id 2 (within watermark) and adds id 3.
    write(
        [(2, t0 + dt.timedelta(minutes=2), 2.5), (3, t0 + dt.timedelta(minutes=3), 3.0)],
        "append",
    )
    run()
    ids = sorted(i for i, _ in collected)
    assert ids == [1, 2, 3], collected


def test_kafka_json_serde_roundtrip(spark):
    """The JsonSerde twin: parse raw Kafka-shaped records, fold in
    batch, serialize back — byte-for-byte JSON contract check, no
    broker needed."""
    raw = spark.createDataFrame(
        [
            (b'{"productCode":"p1"}', b'{"delta":5,"key":null,"action":"INC"}', 0),
            (b'{"productCode":"p1"}', b'{"delta":2,"key":null,"action":"DEC"}', 1),
            (b'{"productCode":"p2"}', b'{"delta":7,"key":null,"action":"REP"}', 2),
        ],
        "key binary, value binary, offset long",
    )
    parsed = parse_update_records(raw)
    got = {
        (r["product_code"], r["seq"]): (r["action"], r["delta"])
        for r in parsed.collect()
    }
    assert got == {
        ("p1", 0): ("INC", 5),
        ("p1", 1): ("DEC", 2),
        ("p2", 2): ("REP", 7),
    }

    from kafka_streams_aggregate_spark.operators.inventory_fold import (
        inventory_count_fold,
    )

    folded = inventory_count_fold(parsed)
    out = count_event_output(folded)
    recs = {r["key"]: r["value"] for r in out.collect()}
    assert recs == {
        '{"productCode":"p1"}': '{"count":3,"key":{"productCode":"p1"}}',
        '{"productCode":"p2"}': '{"count":7,"key":{"productCode":"p2"}}',
    }


def test_sessionize_ttl_evicts_idle_state_and_restarts_sessions(
    spark, tmp_path
):
    """EventTimeTimeout eviction: an idle key's session closes via the
    timeout callback and its row LEAVES the state store
    (numRowsRemoved > 0, final numRowsTotal < peak); an event arriving
    after eviction starts a FRESH session rather than extending the
    evicted one."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.streaming.session_stream import (
        SESSION_TTL_OUT_SCHEMA,
        streaming_sessionize_ttl,
    )

    work = str(tmp_path / "ttl")
    src = f"{work}/src"
    os.makedirs(src)
    T0 = 1_700_000_000_000_000  # us
    HOUR = 3_600_000_000
    batches = [
        # b0: user 1 two events (one session); user 2 one event
        [(1, 1, T0), (2, 1, T0 + 60_000_000), (3, 2, T0)],
        # b1: only user 2, 3h later -> advances the watermark past
        # user 1's timeout; user 2's first session closes by gap
        [(4, 2, T0 + 3 * HOUR)],
        # b2: user 2 again (60s later, same session) -> a batch where
        # user 1 has NO data AND the watermark (set at b1's end) now
        # exceeds its timeout, so the timeout FIRES: user 1's session
        # emits 'timeout' and the key EVICTS -> state total drops
        [(5, 2, T0 + 3 * HOUR + 60_000_000)],
        # b3: user 1 returns at T0+4h -- with LIVE state the old
        # session would close by the in-data gap test ('gap'); because
        # the key was evicted, the old session already emitted
        # 'timeout' and this event opens a FRESH session (stays open,
        # no emission). The closed_by label is the eviction witness.
        # (An event BEHIND the watermark would be dropped by the late-
        # row filter before reaching the operator, so the fold's
        # 'late' branch is defense-in-depth only.)
        [(6, 1, T0 + 4 * HOUR)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts_us long"
        )
        d = f"{work}/b{i}_dir"
        df.coalesce(1).write.parquet(d)
        [part] = glob.glob(f"{d}/part-*.parquet")
        shutil.move(part, f"{src}/e{i}.parquet")
        now = time.time()
        os.utime(f"{src}/e{i}.parquet", (now + 100 * i, now + 100 * i))

    raw = (
        spark.readStream.schema("event_id long, user_id long, ts_us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", "0 seconds")
    )
    sink = f"{work}/sink"
    q = (
        streaming_sessionize_ttl(raw, 1800)
        .writeStream.format("json")
        .option("path", sink)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    totals = [
        p["stateOperators"][0]["numRowsTotal"] for p in q.recentProgress
    ]
    removed = sum(
        p["stateOperators"][0]["numRowsRemoved"] for p in q.recentProgress
    )
    assert removed > 0, q.recentProgress
    assert totals[-1] < max(totals), totals

    import json

    rows = []
    for f in glob.glob(f"{sink}/*.json"):
        with open(f) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    closed = sorted(
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"],
         r["closed_by"])
        for r in rows
    )
    # user 1's ORIGINAL session closed by TIMEOUT with exactly its two
    # pre-eviction events (live state would have labeled it 'gap' when
    # the b3 event arrived); user 2's first session closed by gap and
    # its second by timeout in the final no-data batch (wm = T0+4h).
    # user 1's fresh T0+4h session stays open and never emits.
    assert closed == [
        (1, T0, T0 + 60_000_000, 2, "timeout"),
        (2, T0, T0, 1, "gap"),
        (2, T0 + 3 * HOUR, T0 + 3 * HOUR + 60_000_000, 2, "timeout"),
    ], closed


def test_streaming_query_listener_and_observed_metrics(spark, tmp_path):
    """Operational telemetry surface: a StreamingQueryListener receives
    per-batch QueryProgressEvents whose numInputRows account for every
    source row, and Dataset.observe() metrics ride the same events
    (observedMetrics) — the production monitoring hookup (lag/throughput
    dashboards, data-quality alerts) with zero extra jobs."""
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    progress = []

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rows = [(i, "p%d" % (i % 3), i * 2) for i in range(40)]
    spark.createDataFrame(
        rows, "seq BIGINT, product_code STRING, qty BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    listener = _L()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.schema("seq BIGINT, product_code STRING, qty BIGINT")
            .parquet(src)
            .observe(
                "audit",
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("qty").alias("qty_sum"),
            )
            .groupBy("product_code")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            stream.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously
        deadline = _time.time() + 30
        while _time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in progress):
                break
            _time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    assert sum(p["numInputRows"] for p in progress) == 40
    observed = [
        p["observedMetrics"]["audit"]
        for p in progress
        if "audit" in p.get("observedMetrics", {})
    ]
    assert observed and observed[0]["n_rows"] == 40
    assert observed[0]["qty_sum"] == sum(i * 2 for i in range(40))
    # state operator telemetry is present for the streaming aggregate
    assert any(p["stateOperators"] for p in progress)


def test_watermark_drop_metric_counts_late_rows(spark, tmp_path):
    """Late-data accounting: a row older than the watermark is DROPPED
    by the streaming aggregation and the loss is observable — the
    stateOperators numRowsDroppedByWatermark counter in the progress
    events is the audit trail (silent data loss is the alternative).
    Watermark advancement lags a batch (CLAUDE.md) — the commit at the
    END of batch N computes the watermark batch N+1 FILTERS with, and
    the progress row displays the updated value a batch before it
    takes effect — so the staging is four files under
    maxFilesPerTrigger=1: establish, raise event time, let the raised
    watermark become the active filter, then send the straggler."""
    import os
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_file(name, rows):
        spark.createDataFrame(rows, "ts TIMESTAMP, k STRING").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / ("stage_" + name)))
        # single file per batch, mtime-ordered for maxFilesPerTrigger=1
        import glob
        import shutil

        part = glob.glob(str(tmp_path / ("stage_" + name)) + "/part-*.parquet")[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))
        _time.sleep(1.1)

    import datetime

    t = lambda m: datetime.datetime(2024, 1, 1, 12, m)
    write_file("b1", [(t(0), "a"), (t(1), "a")])
    write_file("b2", [(t(30), "b")])        # raises max event time to 12:30
    write_file("b3", [(t(29), "c")])        # batch whose FILTER now uses 12:20
    write_file("b4", [(t(2), "late")])      # below watermark -> dropped

    progress = []

    class _L(StreamingQueryListener):
        def onQueryStarted(self, e): pass
        def onQueryProgress(self, e): progress.append(e.progress)
        def onQueryIdle(self, e): pass
        def onQueryTerminated(self, e): pass

    listener = _L()
    spark.streams.addListener(listener)
    try:
        q = (
            spark.readStream.schema("ts TIMESTAMP, k STRING")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = _time.time() + 30
        while _time.time() < deadline:
            if any(
                op["numRowsDroppedByWatermark"] > 0
                for p in progress
                for op in p.get("stateOperators", [])
            ):
                break
            _time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in progress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1, [
        [op["numRowsDroppedByWatermark"] for op in p.get("stateOperators", [])]
        for p in progress
    ]
    # and the late key never reached state: read the final state offline
    # ('a' is rightly GONE too — its closed window was evicted once the
    # watermark passed 12:05; only still-open windows hold state)
    state = spark.read.format("statestore").load(ckpt)
    keys = {r.key.k for r in state.select("key").collect()}
    assert "late" not in keys and {"b", "c"} <= keys
