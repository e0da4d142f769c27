"""Streaming CUSUM change detection: the cross-batch incremental twin
of ``q_change_point_cusum``'s batch audit.

The one-sided CUSUM recurrence S_i = max(0, S_{i-1} + (v_i - k))
(Page 1954) is the canonical streaming drift detector: O(1) state per
series, an alarm whenever S crosses the decision threshold h. Here the
whole fold is EXACT INT64 — values enter as floor(value*100) cents and
k, h are integer cents — so the streamed result is cell-exact against
a NON-RECURSIVE closed-form oracle, via the reflection identity

    S_i = P_i - min(0, min_{j<=i} P_j),   P = prefix sums of (v - k)

(the same identity that turns a max(0, ...) fold into a running-min
window; provable by induction — both sides are 0 exactly when the
prefix minimum is attained at or after i).

State per key: (cusum, n, n_alarms, cusum_max) — four int64s, carried
across micro-batches by applyInPandasWithState; each batch sorts its
slice by (ts_us, event_id), which the staged time-split source keeps
globally ordered per key.

Scale shape: one hash exchange per micro-batch; a series' four int64s
are kept forever in its hash bucket's state row (``keyed_fold``: one
Python call per touched bucket, not per series); no Python in any
non-fold stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_streams_aggregate_spark.streaming.keyed_fold import keyed_fold

CUSUM_STATE_SCHEMA = "s long, n long, n_alarms long, s_max long"
CUSUM_OUT_SCHEMA = (
    "user_id long, n_events long, cusum_last long, cusum_max long, "
    "n_alarms long"
)


def streaming_cusum(
    events: DataFrame, k_cents: int = 5000, h_cents: int = 50000
) -> DataFrame:
    """Per-user one-sided CUSUM over ``(user_id, event_id, ts_us,
    value)``: one UPDATE row per (user, batch) with the running
    statistic, its max, and the alarm count so far."""

    def step(user, state, rows):
        import math

        s, n, n_alarms, s_max = state or (0, 0, 0, 0)
        for _ts, _id, v in rows:
            s = s + int(math.floor(v * 100.0)) - k_cents
            if s < 0:
                s = 0
            n += 1
            if s > s_max:
                s_max = s
            if s > h_cents:
                n_alarms += 1
        return (s, n, n_alarms, s_max), [(user, n, s, s_max, n_alarms)]

    return keyed_fold(
        events.select("user_id", "ts_us", "event_id", "value"), "user_id",
        ["ts_us", "event_id"], CUSUM_STATE_SCHEMA, CUSUM_OUT_SCHEMA, step,
        "update",
    )
