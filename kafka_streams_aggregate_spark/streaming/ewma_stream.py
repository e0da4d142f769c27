"""Streaming EWMA: the cross-batch incremental twin of
``q_ewma_smoothing``'s sequential per-series fold.

The batch query documents that the fold "runs incrementally under
applyInPandasWithState for streams" — this module is that claim made
real: state per series is ONE float (the running smoothed value) plus
a count; each micro-batch sorts its slice by (ts_us, event_id) and
advances s_t = 0.5*v_t + 0.5*s_{t-1} from the carried state. Because
alpha = 1/2 makes each step a single correctly-rounded IEEE add (both
multiplies are exact power-of-two scalings), the streamed final value
is BIT-equal to the batch fold — and to the DuckDB recursive-CTE
oracle — whenever batches respect per-key event-time order, which the
staged time-split source guarantees.

Scale shape: one hash exchange per micro-batch; a series' state is one
float and a count, kept forever in its hash bucket's state row
(``keyed_fold``: one Python call per touched bucket, not per series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_streams_aggregate_spark.streaming.keyed_fold import keyed_fold

EWMA_STATE_SCHEMA = "s double, n long"
EWMA_OUT_SCHEMA = "user_id long, n_events long, ewma_last double"


def streaming_ewma(events: DataFrame) -> DataFrame:
    """Per-user running EWMA (alpha = 1/2) over a stream of
    ``(user_id, event_id, ts_us, value)``: one UPDATE row per
    (user, batch) with the events-so-far count and current smoothed
    value."""

    def step(user, state, rows):
        s, n = state or (None, 0)
        for _ts, _id, v in rows:
            s = v if s is None else 0.5 * v + 0.5 * s
            n += 1
        return (s, n), [(user, n, s)]

    return keyed_fold(
        events.select("user_id", "ts_us", "event_id", "value"), "user_id",
        ["ts_us", "event_id"], EWMA_STATE_SCHEMA, EWMA_OUT_SCHEMA, step,
        "update",
    )
