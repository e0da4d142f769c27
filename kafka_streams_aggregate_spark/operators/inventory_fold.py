"""The inventory-count fold — the reference's one real operator (S4).

Reference semantics (``InventoryCountUpdateEventUpdater.java:26-46``):
a per-key left-fold over the event stream in offset order, init
``count = 0`` (``InventoryCountEvent.java:32``)::

    count <- count + delta   if action = INC
             count - delta   if action = DEC
             delta           if action = REP   (replace: discards history)
             (delete key)    otherwise         (unreachable for valid enum)

Null-value records are dropped before the fold (Kafka Streams library
rule the reference's tests depend on — SURVEY.md §2.1).

Because of REP the fold is order-sensitive within a key, so the batch
closed form (SURVEY.md §2.2) needs the last-REP position::

    count(key) = COALESCE(delta at max seq among action='REP', 0)
               + SUM(+delta for INC / -delta for DEC over seq > that max,
                     or all rows when no REP)

Spark-first shape: one window (max-when over the key partition) + one
hash aggregate. Both hash-partition on the key, so Catalyst plans a
single Exchange; the aggregate is partial+final (map-side combine).
No UDF anywhere — the whole plan is codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def inventory_count_fold(updates: DataFrame, strict: bool = False) -> DataFrame:
    """Batch closed form of the keyed INC/DEC/REP fold.

    Input: one row per update event ``(product_code, seq, action,
    delta)``; ``seq`` defines fold order within a key (the Kafka offset
    stand-in). Output: one row per key ``(product_code, count)`` — the
    final aggregate, i.e. the latest row of the reference's KTable
    ``inventory-counts`` (``KafkaStreamsInventoryCountApplication.java:
    78-82``).

    Rows with null ``delta`` or null ``action`` are dropped, mirroring
    the null-value-record skip rule.

    ``strict=True`` adds the reference's S4d tombstone rule
    (``InventoryCountUpdateEventUpdater.java:40-41``: unknown action ->
    null aggregate -> key deleted from the store): events at or before a
    key's LAST unknown action are discarded, so the fold restarts from
    the initializer after the poison event, and a key whose poison event
    is last simply has no final state. With ``strict=False`` (default)
    unknown actions are ignored — the practical batch reading, since the
    reference's enum makes them unreachable.
    """
    seq, action, delta = F.col("seq"), F.col("action"), F.col("delta")

    non_null = updates.filter(delta.isNotNull() & action.isNotNull())
    if strict:
        # Same key partitioning as the fold windows below: no extra
        # exchange — Catalyst reuses the hash partitioning.
        wk = Window.partitionBy("product_code")
        last_poison = F.max(
            F.when(~action.isin("INC", "DEC", "REP"), seq)
        ).over(wk)
        non_null = (
            non_null.withColumn("_last_poison", last_poison)
            .filter(F.col("_last_poison").isNull() | (seq > F.col("_last_poison")))
            .drop("_last_poison")
        )
    valid = non_null.filter(action.isin("INC", "DEC", "REP"))

    w = Window.partitionBy("product_code")
    last_rep_seq: Column = F.max(F.when(action == "REP", seq)).over(w)

    with_rep = valid.withColumn("_last_rep_seq", last_rep_seq)

    after_rep = F.col("_last_rep_seq").isNull() | (seq > F.col("_last_rep_seq"))
    signed = F.when(action == "INC", delta).when(action == "DEC", -delta).otherwise(
        F.lit(0)
    )

    return (
        with_rep.groupBy("product_code")
        .agg(
            (
                F.coalesce(
                    F.max(F.when(seq == F.col("_last_rep_seq"), delta)), F.lit(0)
                ).cast("long")
                + F.coalesce(
                    F.sum(F.when(after_rep, signed)).cast("long"), F.lit(0)
                )
            ).alias("count")
        )
    )


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Latest-row-per-key — the batch twin of the reference's
    KTable->changelog upsert emit (``.toStream()`` at
    ``KafkaStreamsInventoryCountApplication.java:84``): each key's most
    recent value wins, earlier records are conflated away.

    row_number over (key order by order desc) = 1: a single shuffle on
    the key; at scale prefer this over a self-join-with-max (one
    exchange instead of two).
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    out_cols = key_cols + (value_cols if value_cols is not None else [])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*out_cols)
    )


def python_fold_oracle(
    rows: list[tuple[str, int, str | None, int | None]],
    strict: bool = False,
) -> dict[str, int]:
    """Independent plain-Python reimplementation of the fold, for tests.

    Takes (key, seq, action, delta) tuples in arbitrary order; folds in
    seq order per key. Kept deliberately dumb — the point is that it
    shares no code with the Spark plan (the reference's own oracle
    reuses its production fold class, a weakness SURVEY.md §5 flags).

    ``strict=True`` models the tombstone rule: an unknown action deletes
    the key's aggregate (it restarts from 0 on the next valid event, and
    a key left deleted at the end is absent from the result).
    """
    per_key: dict[str, list[tuple[int, str | None, int | None]]] = {}
    for key, seq, action, delta in rows:
        per_key.setdefault(key, []).append((seq, action, delta))
    out: dict[str, int] = {}
    for key, events in per_key.items():
        count: int | None = None  # None = no state / tombstoned
        for _seq, action, delta in sorted(events, key=lambda e: e[0]):
            if delta is None or action is None:
                continue  # null-value record: dropped
            if action == "INC":
                count = (count or 0) + delta
            elif action == "DEC":
                count = (count or 0) - delta
            elif action == "REP":
                count = delta
            elif strict:
                count = None  # tombstone: delete the aggregate
            else:
                continue  # invalid action: ignored by the lenient form
        if count is not None:
            out[key] = count
    return out
