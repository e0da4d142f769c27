"""Streaming CUSUM — pre-validation for the round-10 registration
queue (streaming/cusum_stream.py + the q_ewma_stream staging pattern).

The oracle is NON-RECURSIVE: the reflection identity turns the
max(0, .) fold into prefix-sum minus running-min windows — all exact
int64 cents. Registration-ready oracle text in CUSUM_ORACLE.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

SF = "/root/testdata/sf0.001"

CUSUM_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_id, ts,
               CAST(floor(value * 100) AS BIGINT) - 5000 AS d,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM read_parquet('{sf}/events.parquet')
    ),
    p AS (
        SELECT user_id, rn,
               CAST(SUM(d) OVER (
                   PARTITION BY user_id ORDER BY rn) AS BIGINT) AS ps
        FROM ordered
    ),
    s AS (
        SELECT user_id, rn,
               CAST(ps - LEAST(CAST(0 AS BIGINT), MIN(ps) OVER (
                   PARTITION BY user_id ORDER BY rn)) AS BIGINT) AS cs
        FROM p
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(max_by(cs, rn) AS BIGINT) AS cusum_last,
           CAST(MAX(cs) AS BIGINT) AS cusum_max,
           CAST(SUM(CASE WHEN cs > 50000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms
    FROM s GROUP BY user_id
"""


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-500, 500), min_size=1, max_size=60))
def test_reflection_identity(ds):
    """max(0, .) fold == prefix - min(0, running-min prefix)."""
    s, fold = 0, []
    for d in ds:
        s = max(0, s + d)
        fold.append(s)
    ps, run_min, closed = 0, 0, []
    for d in ds:
        ps += d
        run_min = min(run_min, ps)
        closed.append(ps - min(0, run_min))
    assert fold == closed


def test_cusum_stream_parity_sf0001(spark):
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.operators.inventory_fold import (
        latest_per_key,
    )
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        drain_workdir,
        run_stream_committed,
    )
    from kafka_streams_aggregate_spark.sources.tables import (
        load_table,
        staged_two_batch,
    )
    from kafka_streams_aggregate_spark.streaming.cusum_stream import (
        CUSUM_OUT_SCHEMA,
        streaming_cusum,
    )

    with drain_workdir(spark) as work:
        base = load_table(spark, "events", SF).select(
            "event_id",
            "user_id",
            F.expr("unix_micros(ts)").alias("ts_us"),
            "value",
        )
        raw = staged_two_batch(
            spark, base, "ts_us", 1705363200000000,  # 2024-01-16 UTC
            "event_id long, user_id long, ts_us long, value double", work,
        )
        committed = run_stream_committed(
            streaming_cusum(raw), work, "update", CUSUM_OUT_SCHEMA
        )
        got_df = latest_per_key(
            committed, ["user_id"], "_batch",
            ["n_events", "cusum_last", "cusum_max", "n_alarms"],
        ).localCheckpoint(eager=True)

    got = (
        got_df.toPandas().sort_values("user_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    exp = (
        con.sql(CUSUM_ORACLE.format(sf=SF))
        .df()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    con.close()
    assert len(got) == len(exp) > 0
    # the state carry across the two micro-batches is what this checks
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], exp[sorted(exp.columns)], check_dtype=False
    )
    assert (got["n_alarms"] > 0).any(), "staging produced no alarms at all"
