"""One keyed left fold over a stream: the state plumbing every
``NoTimeout`` ``applyInPandasWithState`` fold in this package shares.

A fold supplies ``step(key, state, rows) -> (new_state, out_rows)`` for
one key and one micro-batch; ``keyed_fold`` does the rest: grouping,
ordering, reading and writing the state, the bucket-count guard and the
output frame. The TTL session fold (``streaming_sessionize_ttl``) stays
per key: its ``EventTimeTimeout`` fires per group, and a group here is
a bucket of keys.

Scale notes: the stateful operator groups by a fixed hash bucket of the
key, ``pmod(xxhash64(key), N_BUCKETS)``, not by the key. The Python
state function is called once per bucket a micro-batch touches and pays
its fixed cost (mostly the worker's Arrow->pandas conversion of the
group, ~1 ms, against ~0.3 ms for the fold itself) once per bucket
instead of once per changed key. On the ``fold_drain`` benchmark (12k
events over 1.5k keys in 4 micro-batches, ~1.3k keys changed per batch,
4 vCPUs) the per-bucket inventory fold drained a median 2,480 events/s
against 1,440 per key (ten pairs). The worker daemon of local sessions
(``session.py``) then removed a 0.15-0.5 s re-parse of pyspark.zip from
every Python task: 2,560 events/s against 1,820 without it (ten pairs),
and fold_live p50 latency 1,425 ms against 1,870. Most of the JVM-side
rest was forked ``readlink`` processes, ~3 ms each, in every checkpoint
rename (state deltas, offsets, commits); local sessions' checkpoint
manager (``session.py``) renames without them. The state commit fell
from 401 to 33 ms per batch (one traced pair), and fold_drain drained
3,510 events/s against 2,937 (twenty pairs). The fold is still not what
a micro-batch spends its time on. In a warm session over the same
drains, 4, 64 and 256 buckets took 3.3-4.0 s and 1,024 buckets 5.6 s
(per key: 6.9 s): the saving needs far fewer buckets than the keys a
batch changes. 64 keeps that margin down to batches of a few hundred
changed keys while still spreading the buckets over the shuffle
partitions. The trade-off: a touched bucket rewrites the state of all
its keys, so the state written per batch scales with keys / 64, not
with the keys that changed; past millions of keys that write volume,
not the per-call cost, is what to size for (and the state store
provider should be RocksDB,
``spark.sql.streaming.stateStore.providerClass``). State metrics in the
streaming progress (``numRowsTotal``, ``numRowsUpdated``) count
buckets, not keys. The bucket count is part of a checkpoint: each
bucket records the count it was written under and the state function
refuses another one, and a checkpoint of a per-key layout (state keyed
by the key column) is refused by Spark's state key-schema check
(``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    IntegralType,
    StructField,
    StructType,
)

# Hash buckets every keyed fold groups its keys into (see "Scale notes").
N_BUCKETS = 64


def key_bucket(col: str):
    """A keyed fold's grouping key: the hash bucket of ``col`` under the
    module's ``N_BUCKETS``, as an ``int`` column."""
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def keyed_fold(
    df: DataFrame,
    key: str,
    order: list[str],
    state_schema: str,
    out_schema: str,
    step,
    output_mode: str,
) -> DataFrame:
    """Fold each ``key`` of the stream ``df`` left to right across
    micro-batches.

    Per micro-batch and key the state function calls ``step(k, state,
    rows)``: ``state`` is the key's stored tuple (fields of
    ``state_schema``) or ``None`` for a new key, and ``rows`` are the
    key's batch rows as tuples of ``df``'s other columns, in ``df``'s
    column order, sorted by ``order`` (one stable sort of the bucket, so
    ties keep arrival order). It returns the new state tuple, or
    ``None`` to remove the key, and a list of output tuples
    (``out_schema``; may be empty). ``step`` must be self-contained: it
    is shipped to the workers by value.

    State is one row per hash bucket of keys (``key_bucket``):
    ``keys array<K>``, one ``array<T>`` per field of ``state_schema``
    and ``n_buckets int``. A bucket left without keys is removed.
    Restarting a checkpoint under another ``N_BUCKETS`` raises.

    Pair with ``.writeStream.outputMode(output_mode)``.
    """
    n_buckets = N_BUCKETS
    per_key = StructType.fromDDL(state_schema)
    bucket_state = StructType(
        [StructField("keys", ArrayType(df.schema[key].dataType))]
        + [StructField(f.name, ArrayType(f.dataType)) for f in per_key.fields]
        + [StructField("n_buckets", IntegerType())]
    )
    out_fields = [
        (f.name, isinstance(f.dataType, IntegralType))
        for f in StructType.fromDDL(out_schema).fields
    ]
    value_cols = [c for c in df.columns if c != key]

    # NESTED so cloudpickle ships it by value: executor Python workers
    # must never need this package importable (the calling harness may
    # run from any CWD without the repo on PYTHONPATH).
    def _fold_bucket(bucket, pdf_iter, state):
        import numpy as np
        import pandas as pd

        stored = {}
        if state.exists:
            stored_keys, *fields, written_under = state.get
            if written_under != n_buckets:
                raise RuntimeError(
                    f"keyed fold state for bucket {bucket[0]} was written "
                    f"under {written_under} key buckets, but this query "
                    f"groups keys into {n_buckets}; restart from a fresh "
                    "checkpoint"
                )
            stored = dict(zip(stored_keys, zip(*fields)))
        chunks = list(pdf_iter)
        batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        perm = np.lexsort([batch[c].to_numpy() for c in reversed(order)])
        keys = batch[key].to_numpy()[perm].tolist()
        cols = [batch[c].to_numpy()[perm].tolist() for c in value_cols]
        rows_of = {}
        for k, row in zip(keys, zip(*cols)):
            rows_of.setdefault(k, []).append(row)
        out_rows = []
        for k, rows in rows_of.items():
            new, out = step(k, stored.get(k), rows)
            if new is None:
                stored.pop(k, None)
            else:
                stored[k] = new
            out_rows.extend(out)
        if stored:
            fields = [list(f) for f in zip(*stored.values())]
            state.update((list(stored), *fields, n_buckets))
        elif state.exists:
            state.remove()
        if out_rows:
            yield pd.DataFrame(
                {
                    name: pd.array(col, dtype="Int64") if integral else list(col)
                    for (name, integral), col in zip(out_fields, zip(*out_rows))
                }
            )

    return (
        df.select(key_bucket(key).alias("bucket"), key, *value_cols)
        .groupBy("bucket")
        .applyInPandasWithState(
            _fold_bucket,
            outputStructType=out_schema,
            stateStructType=bucket_state,
            outputMode=output_mode,
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
