"""Streaming (s,S) policy monitor — pre-validation for the round-10
registration queue (streaming/ss_stream.py). Reuses the batch
operator's recursive-CTE oracle (tests/test_ss_policy.py:SS_ORACLE):
the streamed final state after the two staged day-split batches must
equal the batch fold over the whole history — the cross-batch state
carry is what the comparison verifies.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tests.test_ss_policy import SS_ORACLE

SF = "/root/testdata/sf0.001"
CUT_DAY = 9300  # ~mid-1995: splits the shipdate range


def test_ss_stream_parity_sf0001(spark):
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
    from kafka_streams_aggregate_spark.streaming.ss_stream import (
        SS_OUT_SCHEMA,
        streaming_ss_policy,
    )

    with drain_workdir(spark) as work:
        daily = (
            load_table(spark, "lineitem", SF)
            .select(
                F.col("l_partkey").alias("product"),
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.lit("1970-01-01").cast("date"),
                )
                .cast("bigint")
                .alias("d"),
                F.col("l_quantity").alias("qty"),
            )
            .groupBy("product", "d")
            .agg(F.sum(F.col("qty").cast("bigint")).cast("bigint").alias("qty"))
        )
        raw = staged_two_batch(
            spark, daily, "d", CUT_DAY, "product long, d long, qty long", work
        )
        committed = run_stream_committed(
            streaming_ss_policy(raw), work, "update", SS_OUT_SCHEMA
        )
        got_df = latest_per_key(
            committed, ["product"], "_batch",
            ["n_days", "lost_sales", "n_orders", "end_on_hand"],
        ).localCheckpoint(eager=True)

    got = got_df.toPandas().sort_values("product").reset_index(drop=True)
    con = duckdb.connect()
    exp = (
        con.sql(SS_ORACLE.format(sf=SF))
        .df()
        .sort_values("product")
        .reset_index(drop=True)
        .drop(columns=["total_demand"])
    )
    con.close()
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], exp[sorted(exp.columns)], check_dtype=False
    )
    # both policy branches fire somewhere across the two batches
    assert (got["n_orders"] > 0).any()
    assert (got["lost_sales"] > 0).any()
