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

``streaming_inventory_fold`` is the single stateful path: per-bucket
``applyInPandasWithState``, no second state API beside it.

Scale notes: the stateful operator groups by a fixed hash bucket of the
key, ``pmod(xxhash64(product_code), N_BUCKETS)``, not by the key. The
Python state function is called once per bucket a micro-batch touches
and pays its fixed cost (mostly the worker's Arrow->pandas conversion of
the group, ~1 ms, against ~0.3 ms for the fold itself) once per bucket
instead of once per changed key. On the ``fold_drain`` benchmark
(12k events over 1.5k keys in 4 micro-batches, ~1.3k keys changed per
batch, 4 vCPUs) the per-bucket fold drained a median 2,480 events/s
against 1,440 per key (ten pairs). The worker daemon of local sessions
(``session.py``) then removed a 0.15-0.5 s re-parse of pyspark.zip from
every Python task: 2,560 events/s against 1,820 without it (ten pairs),
and fold_live p50 latency 1,425 ms against 1,870. Most of the JVM-side
rest was forked ``readlink`` processes, ~3 ms each, in every checkpoint
rename (state deltas, offsets, commits); local sessions' checkpoint
manager (``session.py``) renames without them. The state commit fell
from 401 to 33 ms per batch (one traced pair), and fold_drain drained
3,510 events/s against 2,937 (twenty pairs). The fold is still not
what a micro-batch spends its time on. In a warm session over the same
drains, 4, 64 and 256 buckets took 3.3-4.0 s and 1,024 buckets 5.6 s
(per key: 6.9 s): the saving needs far fewer buckets than the keys a
batch changes. 64 keeps that margin down to batches of a few hundred
changed keys while still spreading the buckets over the shuffle
partitions. The trade-off: a touched bucket rewrites the counts of all
its keys, so the state written per batch scales with keys / 64, not with
the keys that changed; past millions of keys that write volume, not the
per-call cost, is what to size for (and the state store provider should
be RocksDB, ``spark.sql.streaming.stateStore.providerClass``). State
metrics in the streaming progress (``numRowsTotal``,
``numRowsUpdated``) count buckets, not keys. The bucket count is part of
a checkpoint: each bucket records the count it was written under and the
state function refuses another one, and a checkpoint of the earlier
per-key layout is refused by Spark's state key-schema check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

OUTPUT_SCHEMA = "product_code string, count bigint"
STATE_SCHEMA = "keys array<string>, counts array<bigint>, n_buckets int"

# Hash buckets the stateful fold groups keys into (see "Scale notes").
N_BUCKETS = 64


def key_bucket(col: str = "product_code"):
    """The stateful fold's grouping key: the hash bucket of ``col``
    under the module's ``N_BUCKETS``, as an ``int`` column."""
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


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

    State is kept per hash bucket of keys (``key_bucket``), not per key;
    see "Scale notes" in the module docstring. A checkpoint is tied to
    the bucket count it was written under: restarting it under another
    ``N_BUCKETS`` raises, and a checkpoint of the earlier per-key layout
    (state keyed by the ``product_code`` string) is refused by Spark's
    own state key-schema check (``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``).

    Pair with ``.writeStream.outputMode("update")``.
    """
    n_buckets = N_BUCKETS

    # NESTED so cloudpickle ships it by value: executor Python workers
    # must never need this package importable (the calling harness may
    # run from any CWD without the repo on PYTHONPATH).
    def _fold_bucket(key, pdf_iter, state):
        """Per-bucket state function. Folds the bucket's micro-batch in
        seq order (one stable sort for all its keys) on top of the
        stored counts (init 0, mirroring InventoryCountEvent.java:32),
        writes the bucket back and emits the latest count of each key
        the batch touched. In strict mode a key's aggregate can become
        None (tombstoned) mid-batch; if it ends the batch None, the key
        leaves the bucket and a NULL-count deletion marker is emitted."""
        import numpy as np
        import pandas as pd

        counts = {}
        if state.exists:
            keys, values, written_under = state.get
            if written_under != n_buckets:
                raise RuntimeError(
                    f"inventory fold state for bucket {key[0]} was written "
                    f"under {written_under} key buckets, but this query "
                    f"groups keys into {n_buckets}; restart from a fresh "
                    "checkpoint"
                )
            counts = dict(zip(keys, values))
        chunks = list(pdf_iter)
        batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        order = np.argsort(batch["seq"].to_numpy(), kind="stable")
        init = None if strict else 0
        latest = {}  # touched key -> count at the end of the batch
        for code, action, delta in zip(
            batch["product_code"].to_numpy()[order].tolist(),
            batch["action"].to_numpy()[order].tolist(),
            batch["delta"].to_numpy()[order].tolist(),
        ):
            count = latest[code] if code in latest else counts.get(code, init)
            if action == "INC":
                count = (count or 0) + delta
            elif action == "DEC":
                count = (count or 0) - delta
            elif action == "REP":
                count = delta
            else:
                count = None  # strict mode only: tombstone
            latest[code] = count
        for code, count in latest.items():
            if count is None:
                counts.pop(code, None)
            else:
                counts[code] = int(count)
        if counts:
            state.update((list(counts), list(counts.values()), n_buckets))
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            {
                "product_code": list(latest),
                "count": pd.array(list(latest.values()), dtype="Int64"),
            }
        )

    action_ok = F.col("action").isNotNull()
    if not strict:
        action_ok = action_ok & F.col("action").isin("INC", "DEC", "REP")
    valid = updates.filter(F.col("delta").isNotNull() & action_ok).select(
        key_bucket().alias("bucket"), "product_code", "seq", "action", "delta"
    )
    return valid.groupBy("bucket").applyInPandasWithState(
        _fold_bucket,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
