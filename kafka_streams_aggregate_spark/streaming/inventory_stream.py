"""Streaming form of the inventory-count fold — the reference's actual
operating mode (continuous keyed aggregation over an event stream,
``KafkaStreamsInventoryCountApplication.java:69-85``).

Spark mapping (SURVEY.md §2.1/§3.2):
  - the KTable state store "inventory-counts" -> Structured Streaming
    state inside ``applyInPandasWithState``, one state row per hash
    bucket of keys holding the counts of all its keys (long-lived, no
    TTL — reference state never expires);
  - changelog emission -> ``outputMode("update")``: the latest
    aggregate per changed key per micro-batch, exactly the conflation
    contract the reference's tests tolerate (record cache +
    commit.interval.ms=1000);
  - Kafka offset order -> explicit ``seq`` column, sorted inside each
    bucket before folding (REP makes order matter; a stable sort keeps
    each key's events in seq order); cross-batch order is arrival
    order, as in Kafka Streams;
  - null-value records dropped before the fold (library rule the
    reference depends on).

``streaming_inventory_fold`` runs on ``keyed_fold``, the one keyed-state
primitive every NoTimeout fold of this package shares; its "Scale
notes" cover the bucket layout, what it costs and what it measured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_aggregate_spark.streaming.keyed_fold import keyed_fold

OUTPUT_SCHEMA = "product_code string, count bigint"
# One key's state; keyed_fold stores a bucket of them as
# ``keys array<string>, counts array<bigint>, n_buckets int``.
STATE_SCHEMA = "counts bigint"


def streaming_inventory_fold(updates: DataFrame, strict: bool = False) -> DataFrame:
    """Continuous keyed INC/DEC/REP fold over a streaming DataFrame of
    ``(product_code, seq, action, delta)``. Returns the update-mode
    changelog stream ``(product_code, count)``: one row per key that
    had an event in the micro-batch, holding its latest count.

    ``strict=True`` enables the reference's S4d tombstone rule
    (``InventoryCountUpdateEventUpdater.java:40-41``: an unknown action
    returns a null aggregate, which Kafka Streams turns into a state-
    store delete + a null changelog record). Here: the key leaves its
    bucket's state + an emitted row with ``count = NULL`` — the deletion
    marker a downstream KTable consumer conflates into "key gone"; the
    next valid event for the key restarts from the initializer. With the
    default ``strict=False``, unknown actions are filtered before the
    fold (unreachable in the reference's closed enum).

    State is kept per hash bucket of keys, not per key (``keyed_fold``).
    A checkpoint is tied to the bucket count it was written under:
    restarting it under another ``N_BUCKETS`` raises, and a checkpoint
    of a per-key layout (state keyed by the ``product_code`` string) is
    refused by Spark's own state key-schema check
    (``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``).

    Pair with ``.writeStream.outputMode("update")``.
    """
    init = None if strict else 0

    def step(code, state, rows):
        """Fold one key's batch in seq order on top of its stored count
        (init 0, mirroring InventoryCountEvent.java:32). In strict mode
        the aggregate can become None (tombstoned) mid-batch; if it ends
        the batch None, the key leaves the state and a NULL-count
        deletion marker is emitted."""
        count = init if state is None else state[0]
        for _seq, action, delta in rows:
            if action == "INC":
                count = (count or 0) + delta
            elif action == "DEC":
                count = (count or 0) - delta
            elif action == "REP":
                count = delta
            else:
                count = None  # strict mode only: tombstone
        if count is None:
            return None, [(code, None)]
        return (count,), [(code, count)]

    action_ok = F.col("action").isNotNull()
    if not strict:
        action_ok = action_ok & F.col("action").isin("INC", "DEC", "REP")
    valid = updates.filter(F.col("delta").isNotNull() & action_ok).select(
        "product_code", "seq", "action", "delta"
    )
    return keyed_fold(
        valid, "product_code", ["seq"], STATE_SCHEMA, OUTPUT_SCHEMA, step, "update"
    )
