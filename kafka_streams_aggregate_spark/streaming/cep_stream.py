"""Streaming CEP: cross-batch contiguous pattern matching with
``applyInPandasWithState``.

The batch CEP reduction (queries/extended.py:q_cep_pattern_match) turns
a FIXED finite pattern into lead() columns — but a live stream delivers
a user's events split across micro-batches, and a contiguous
view→click→purchase run can straddle the boundary (view,click at the
end of batch N; purchase at the start of batch N+1). The general
engine answer — what Flink CEP does with NFA state — is a per-key
ordered fold carrying partial-match state. For a fixed length-3
pattern the partial-match state is exactly the key's LAST TWO events,
so the state is tiny and bounded no matter the stream length.

Correctness contract: per-key event-time order across batches (batch
N's events for a key all precede batch N+1's) — the property a
time-partitioned ingest (Kafka per-partition order, time-split files)
provides. Within a batch rows are sorted by (ts_us, event_id).

Scale shape: one hash exchange per micro-batch; a key's partial-match
state is a few scalars, kept in its hash bucket's state row
(``keyed_fold``: one Python call per touched bucket, not per key);
matches are emitted append-mode in the batch where their final event
arrives, so no match is ever double-counted (a triple needs 3 events
and the carried state holds only 2 — its last element is always
current-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_streams_aggregate_spark.streaming.keyed_fold import keyed_fold

CEP_STATE_SCHEMA = "p1_type string, p1_ts long, p2_type string, p2_ts long"
CEP_OUT_SCHEMA = (
    "user_id long, n_matches long, "
    "batch_first_start_us long, batch_last_end_us long"
)


def streaming_cep_matches(events: DataFrame, window_us: int) -> DataFrame:
    """view→click→purchase matcher over a stream of
    ``(user_id, event_id, ts_us, event_type)``; emits one append-mode
    row per (user, micro-batch) holding that batch's NEW completed
    matches (count + time bounds). Pattern must complete within
    ``window_us`` microseconds."""

    def step(user, state, rows):
        buf = []  # carried last-2 events: [(event_type, ts_us), ...]
        if state is not None:
            p1t, p1s, p2t, p2s = state
            if p1t is not None:
                buf.append((p1t, p1s))
            if p2t is not None:
                buf.append((p2t, p2s))
        seq = buf + [(t, ts) for ts, _id, t in rows]
        n = 0
        first = None
        last = None
        # every i has i+2 >= 2 >= len(buf): the match's final element is
        # always in the current batch, so emitting here never recounts a
        # match from an earlier batch.
        for i in range(len(seq) - 2):
            (t0, ts0), (t1, _ts1), (t2, ts2) = seq[i], seq[i + 1], seq[i + 2]
            if (
                t0 == "view"
                and t1 == "click"
                and t2 == "purchase"
                and ts2 - ts0 <= window_us
            ):
                n += 1
                first = ts0 if first is None else min(first, ts0)
                last = ts2 if last is None else max(last, ts2)
        tail = seq[-2:]
        new = tail[0] + tail[1] if len(tail) == 2 else (None, None) + tail[0]
        return new, [(user, n, first, last)] if n > 0 else []

    return keyed_fold(
        events.select("user_id", "ts_us", "event_id", "event_type"),
        "user_id", ["ts_us", "event_id"],
        CEP_STATE_SCHEMA, CEP_OUT_SCHEMA, step, "append",
    )


# --------------------------------------------------------------------------
# Quantified streaming CEP: A B+ C (round 7).
# --------------------------------------------------------------------------

CEPQ_STATE_SCHEMA = "b_type string, b_ts long, clicks_since long"
CEPQ_OUT_SCHEMA = (
    "user_id long, n_matches long, total_b_len long, max_b_len long, "
    "batch_first_start_us long, batch_last_end_us long"
)


def streaming_cep_quantified(events: DataFrame, window_us: int) -> DataFrame:
    """view click+ purchase (A B+ C, strict contiguity, skip past last
    row) over a stream of ``(user_id, event_id, ts_us, event_type)``.

    The quantified pattern's full NFA state per key is THREE scalars —
    the last non-click event's (type, ts) and the count of clicks seen
    since — because B+ is bounded by non-B symbols on both sides: a
    purchase completes a match iff the carried last non-click is a
    view with >= 1 click since, within the time bound. O(1) state per
    key forever, unbounded quantifier length across any number of
    micro-batch boundaries (a click run may span several batches; the
    counter carries). Same ingest contract as
    :func:`streaming_cep_matches`: per-key event-time order across
    batches. Matches emit in the batch their purchase arrives in, so
    none is ever double-counted.
    """

    def step(user, state, rows):
        b_type, b_ts, clicks = state or (None, None, 0)
        n = 0
        total_b = 0
        max_b = 0
        first = None
        last = None
        for ts, _id, t in rows:
            if t == "click":
                clicks += 1
                continue
            if (
                t == "purchase"
                and b_type == "view"
                and clicks >= 1
                and ts - b_ts <= window_us
            ):
                n += 1
                total_b += clicks
                max_b = max(max_b, clicks)
                first = b_ts if first is None else min(first, b_ts)
                last = ts if last is None else max(last, ts)
            b_type, b_ts, clicks = t, ts, 0
        out = [(user, n, total_b, max_b, first, last)] if n > 0 else []
        return (b_type, b_ts, clicks), out

    return keyed_fold(
        events.select("user_id", "ts_us", "event_id", "event_type"),
        "user_id", ["ts_us", "event_id"],
        CEPQ_STATE_SCHEMA, CEPQ_OUT_SCHEMA, step, "append",
    )
