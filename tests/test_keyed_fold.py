"""``keyed_fold`` (streaming/keyed_fold.py) with long keys: keys that
share a hash bucket share one state row, so their states must stay
apart across micro-batches and restarts, and a bucket whose keys emit
nothing must emit no row."""

from __future__ import annotations

import math
import random

from kafka_streams_aggregate_spark.streaming.cep_stream import (
    streaming_cep_matches,
)
from kafka_streams_aggregate_spark.streaming.cusum_stream import streaming_cusum
from kafka_streams_aggregate_spark.streaming.keyed_fold import key_bucket


def _bucket_mates(spark):
    """Two ``user_id``s that the fold's own bucket expression puts in
    one bucket."""
    by_bucket = {}
    users = spark.range(1, 200).withColumnRenamed("id", "u")
    for r in users.select("u", key_bucket("u").alias("b")).collect():
        by_bucket.setdefault(r["b"], []).append(r["u"])
    return sorted(next(v for v in by_bucket.values() if len(v) >= 2))[:2]


def _run(spark, fold, ddl, src, ckpt, rows, mode, output_mode):
    """Append ``rows`` as one more file under ``src`` and drain ``fold``
    from the checkpoint; returns ``{batch_id: rows}`` of this run."""
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode(mode).parquet(src)
    out = {}
    q = (
        fold(spark.readStream.schema(ddl).parquet(src))
        .writeStream.foreachBatch(
            lambda df, bid: out.setdefault(bid, []).extend(df.collect())
        )
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return out


def _cusum_path(values, k_cents=5000):
    """Batch CUSUM of one series by the reflection identity S_i = P_i -
    min(0, min_{j<=i} P_j), P the prefix sums of (cents - k): independent
    of the fold's max(0, .) recurrence."""
    p, p_min, path = 0, 0, []
    for v in values:
        p += math.floor(v * 100.0) - k_cents
        p_min = min(p_min, p)
        path.append(p - min(0, p_min))
    return path


def test_cusum_bucket_mates_restart_matches_batch_oracle(spark, tmp_path):
    """Two users in one bucket, their events interleaved over two
    micro-batches with a restart from the checkpoint between them: each
    user's last row equals the batch CUSUM of its whole series."""
    a, b = _bucket_mates(spark)
    rng = random.Random(7)
    # Each user's spike straddles the batch boundary (its 10th event)
    # and raises alarms; around it the values drift below k, so the
    # statistic resets to 0. The spikes differ in length, so the two
    # users carry different states across the restart.
    spikes = {a: range(8, 11), b: range(6, 12)}
    rows = []
    for i in range(40):
        user = (a, b)[i % 2]
        value = 300.0 if i // 2 in spikes[user] else rng.randrange(0, 6_000) / 100
        rows.append((i, user, 1_000 * i, value))
    ddl = "event_id long, user_id long, ts_us long, value double"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    first = _run(
        spark, streaming_cusum, ddl, src, ckpt, rows[:20], "overwrite", "update"
    )
    second = _run(
        spark, streaming_cusum, ddl, src, ckpt, rows[20:], "append", "update"
    )
    assert len(first) == len(second) == 1
    latest = {}
    for out in (first, second):
        for r in next(iter(out.values())):
            latest[r["user_id"]] = (
                r["n_events"], r["cusum_last"], r["cusum_max"], r["n_alarms"]
            )
    oracle = {}
    for u in (a, b):
        path = _cusum_path([v for _i, uid, _ts, v in rows if uid == u])
        # both branches of the fold run for each user
        assert 0 in path[1:] and max(path) > 50_000, path
        n_alarms = sum(1 for s in path if s > 50_000)
        oracle[u] = (len(path), path[-1], max(path), n_alarms)
    assert latest == oracle


def test_cep_bucket_without_match_emits_no_row(spark, tmp_path):
    """Append mode: in batch 1 a matching user and a non-matching user
    share a bucket, and only the match is emitted; batch 2 touches the
    bucket with the non-matching user's events only, and emits no row."""
    a, b = _bucket_mates(spark)
    ddl = "event_id long, user_id long, event_type string, ts_us long"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def fold(df):
        return streaming_cep_matches(df, 3_600_000_000)

    batch1 = [
        (1, a, "view", 1_000_000),
        (2, b, "view", 1_500_000),
        (3, a, "click", 2_000_000),
        (4, b, "click", 2_500_000),
        (5, a, "purchase", 3_000_000),
    ]
    batch2 = [(6, b, "view", 4_000_000), (7, b, "view", 5_000_000)]
    first = _run(spark, fold, ddl, src, ckpt, batch1, "overwrite", "append")
    second = _run(spark, fold, ddl, src, ckpt, batch2, "append", "append")
    assert [
        tuple(r) for rows in first.values() for r in rows
    ] == [(a, 1, 1_000_000, 3_000_000)]
    assert len(second) == 1 and next(iter(second.values())) == []
