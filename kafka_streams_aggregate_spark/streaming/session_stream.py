"""Streaming sessionization: cross-batch 30-minute-gap sessions with
``applyInPandasWithState``.

Native ``session_window`` aggregates exist (and are registered for the
batch/windowed shapes), but the per-key running TOTALS a product
dashboard wants — how many sessions has this user had, ever, including
the one currently open — are a changelog, not a windowed append. The
general engine answer is the per-key ordered fold: state is the open
session's bookkeeping (last event time, events in the current session)
plus the running totals; each micro-batch advances the fold and emits
the key's updated totals in UPDATE mode (latest batch wins downstream,
exactly the KTable contract the reference app's changelog uses).

A session that spans ANY number of micro-batch boundaries is one
session: only the gap test ever closes it, never a batch boundary —
that is the property the cross-batch state exists to provide, and what
the batch-oracle hash check verifies.

Ingest contract (same as cep_stream): per-key event-time order across
batches; within a batch rows sort by (ts_us, event_id). Scale shape:
one hash exchange per micro-batch; a key's five int64s are kept forever
in its hash bucket's state row (``keyed_fold``: one Python call per
touched bucket, not per key). The TTL fold below stays per key (see its
docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

from kafka_streams_aggregate_spark.streaming.keyed_fold import keyed_fold

SESSION_STATE_SCHEMA = (
    "last_ts long, cur_events long, max_events long, "
    "n_sessions long, n_events long"
)
SESSION_OUT_SCHEMA = (
    "user_id long, n_sessions long, n_events long, max_session_events long"
)


def streaming_sessionize(events: DataFrame, gap_seconds: int) -> DataFrame:
    """Per-user running session totals over a stream of
    ``(user_id, event_id, ts_us)``: one UPDATE row per (user, batch)
    with sessions-so-far, events-so-far, and the largest session's
    event count (open session included)."""

    gap_us = gap_seconds * 1_000_000

    def step(user, state, rows):
        last_ts, cur, mx, ns, ne = state or (None, 0, 0, 0, 0)
        for ts, _id in rows:
            if last_ts is None or ts - last_ts > gap_us:
                ns += 1
                cur = 0
            cur += 1
            ne += 1
            mx = max(mx, cur)
            last_ts = ts
        return (last_ts, cur, mx, ns, ne), [(user, ns, ne, mx)]

    return keyed_fold(
        events.select("user_id", "ts_us", "event_id"), "user_id",
        ["ts_us", "event_id"], SESSION_STATE_SCHEMA, SESSION_OUT_SCHEMA,
        step, "update",
    )


SESSION_TTL_STATE_SCHEMA = "start_us long, last_us long, n_events long"
SESSION_TTL_OUT_SCHEMA = (
    "user_id long, start_us long, end_us long, n_events long, "
    "closed_by string"
)


def streaming_sessionize_ttl(events: DataFrame, gap_seconds: int) -> DataFrame:
    """Sessionization with STATE EVICTION (round 8): closed sessions
    stream out in APPEND mode and their keys DROP from the state store.

    ``streaming_sessionize`` above holds every key's state forever
    (NoTimeout) — correct for the reference's accumulate-forever
    changelog, but a 100 TB stream with unbounded key cardinality
    needs expiry. Here the state is only the OPEN session (start, last
    event, count); after each batch the key registers an
    ``EventTimeTimeout`` at last_event + gap, and when the watermark
    passes it the timeout callback emits the session as closed-by-
    'timeout' and ``state.remove()``s the key — idle keys cost nothing
    after one gap. Sessions closed by an in-batch gap emit immediately
    ('gap'). Sessions still open when the stream drains are never
    emitted (they are not CLOSED), which gives the operator an exact
    batch oracle: every gaps-and-islands session except each user's
    final one when last_ms + gap_ms >= final_watermark_ms.

    Determinism notes (verified empirically, see the probe in the
    round-8 notes): availableNow runs a final NO-DATA micro-batch, so
    pending timeouts fire against the final watermark = the global max
    event time (ms-truncated, 0s delay); a key receiving data is never
    also timed out in the same batch, so with per-key event-time order
    across batches the session boundaries equal the batch
    sessionization's exactly. ``setTimeoutTimestamp`` must exceed the
    current watermark, hence ``max(cand, wm + 1)``; the 'late' branch
    (candidate already behind the watermark at data time) closes
    immediately — defense-in-depth only, since Spark's watermark
    late-row filter drops behind-watermark input before the operator
    ever sees it (unit-test verified), keeping the oracle exact.

    Ingest contract: per-key event-time order across batches; input
    must carry a ``ts`` TimestampType column with a watermark (the
    caller sets ``withWatermark``) plus ``ts_us``/``event_id`` longs.
    Scale shape: one hash exchange per micro-batch; state is O(1) per
    OPEN key and zero per expired key — the eviction is the point. It
    stays per key, not on ``keyed_fold``'s buckets: a timeout fires per
    group, and a bucket's would close every key in it at once.
    """
    gap_us = gap_seconds * 1_000_000
    gap_ms = gap_seconds * 1_000

    def _fold_group(key, pdf_iter, state):
        import pandas as pd

        rows = []
        uid = int(key[0])
        if state.hasTimedOut:
            start, last, n = (int(v) for v in state.get)
            rows.append((uid, start, last, n, "timeout"))
            state.remove()
        else:
            start = last = None
            n = 0
            if state.exists:
                start, last, n = (int(v) for v in state.get)
            chunks = [pdf for pdf in pdf_iter]
            batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            batch = batch.sort_values(["ts_us", "event_id"])
            for ts in batch["ts_us"]:
                ts = int(ts)
                if last is None:
                    start, last, n = ts, ts, 1
                elif ts - last > gap_us:
                    rows.append((uid, start, last, n, "gap"))
                    start, last, n = ts, ts, 1
                else:
                    last = max(last, ts)
                    n += 1
            wm = state.getCurrentWatermarkMs()
            cand = last // 1000 + gap_ms
            if cand < wm:
                # Already expired relative to the watermark: close now
                # (same strict < the timeout itself uses).
                rows.append((uid, start, last, n, "late"))
                state.remove()
            else:
                state.update((start, last, n))
                state.setTimeoutTimestamp(max(cand, wm + 1))
        yield pd.DataFrame(
            rows,
            columns=[
                "user_id", "start_us", "end_us", "n_events", "closed_by"
            ],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _fold_group,
        outputStructType=SESSION_TTL_OUT_SCHEMA,
        stateStructType=SESSION_TTL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
