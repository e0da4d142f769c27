"""Streaming (s, S) inventory-policy monitor: the cross-batch
incremental twin of ``operators/costing.py:ss_policy_sim``.

The reference app is a Kafka changelog consumer keeping per-key counts;
the operational question a warehouse asks of that stream is "did we
just cross the reorder point, and what have we lost to stockouts so
far?" — which is exactly the (s, S) fold run INCREMENTALLY: state per
product is four int64s (on_hand, lost, orders, n_days) carried across
micro-batches by ``applyInPandasWithState``; each batch walks its
demand days in day order (the staged day-split source keeps per-key
day order across the batch boundary).

Everything is exact integer arithmetic, so the streamed final state is
cell-exact against the SAME recursive-CTE oracle the batch operator
uses — the state carry across batches is precisely what the hash
verifies.

Scale shape: one hash exchange per micro-batch; the state of a product
is four int64s, kept forever in its hash bucket's state row
(``keyed_fold``: one Python call per touched bucket, not per product).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_streams_aggregate_spark.streaming.keyed_fold import keyed_fold

SS_STATE_SCHEMA = "on_hand long, lost long, orders long, n_days long"
SS_OUT_SCHEMA = (
    "product long, n_days long, lost_sales long, n_orders long, "
    "end_on_hand long"
)


def streaming_ss_policy(
    demand: DataFrame, s_small: int = 20, s_big: int = 100
) -> DataFrame:
    """Per-product (s, S) fold over a stream of ``(product, d, qty)``
    daily-demand rows: one UPDATE row per (product, batch) with the
    running day count, lost sales, order count, and position."""

    def step(product, state, rows):
        on_hand, lost, orders, n_days = state or (s_big, 0, 0, 0)
        for _d, q in rows:
            served = q if q <= on_hand else on_hand
            lost += q - served
            on_hand -= served
            if on_hand < s_small:
                orders += 1
                on_hand = s_big
            n_days += 1
        return (on_hand, lost, orders, n_days), [
            (product, n_days, lost, orders, on_hand)
        ]

    return keyed_fold(
        demand.select("product", "d", "qty"), "product", ["d"],
        SS_STATE_SCHEMA, SS_OUT_SCHEMA, step, "update",
    )
