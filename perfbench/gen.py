"""Seeded load generator for the benchmark.

Everything the program under test reads is made here from one integer
seed, so the same seed gives byte-identical parquet files of
Kafka-shaped inventory update events ``(product_code, seq, action,
delta)`` with a monotone ``seq`` (the offset), INC/DEC/REP actions plus a
share of unknown actions and null deltas, so the fold's drop rules run.
Keys are drawn uniformly or from a bounded Zipf law.

Files are published atomically: written under a staging name, then
renamed into place, so a streaming file source never lists a partial
file.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_SCHEMA = pa.schema(
    [
        ("product_code", pa.string()),
        ("seq", pa.int64()),
        ("action", pa.string()),
        ("delta", pa.int32()),
    ]
)
EVENT_DDL = "product_code string, seq long, action string, delta int"

# Share of each action; ADJ is outside the reference's closed enum and is
# dropped by the lenient fold.
ACTIONS = ("INC", "DEC", "REP", "ADJ")
ACTION_P = (0.52, 0.33, 0.10, 0.05)
NULL_DELTA_P = 0.02


def key_names(n_keys: int) -> np.ndarray:
    return np.array([f"P{i:07d}" for i in range(n_keys)], dtype=object)


def draw_keys(rng: np.random.Generator, n: int, n_keys: int, zipf_s: float | None) -> np.ndarray:
    """Key indices: uniform when ``zipf_s`` is None, else bounded Zipf
    with exponent ``zipf_s`` over a seeded permutation of the keys (so
    the hot keys are not simply the lowest codes)."""
    if zipf_s is None:
        return rng.integers(0, n_keys, size=n)
    weights = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** zipf_s
    ranks = rng.choice(n_keys, size=n, p=weights / weights.sum())
    return rng.permutation(n_keys)[ranks]


def inventory_events(
    seed: int,
    n_events: int,
    n_keys: int,
    zipf_s: float | None = None,
) -> pa.Table:
    """``n_events`` update events over ``n_keys`` product codes, ``seq``
    running from 0 upwards."""
    rng = np.random.default_rng(seed)
    keys = key_names(n_keys)[draw_keys(rng, n_events, n_keys, zipf_s)]
    actions = np.array(ACTIONS, dtype=object)[
        rng.choice(len(ACTIONS), size=n_events, p=ACTION_P)
    ]
    delta = rng.integers(1, 101, size=n_events, dtype=np.int32)
    null = rng.random(n_events) < NULL_DELTA_P
    return pa.table(
        {
            "product_code": pa.array(keys, pa.string()),
            "seq": pa.array(np.arange(n_events, dtype=np.int64)),
            "action": pa.array(actions, pa.string()),
            "delta": pa.array(delta, pa.int32(), mask=null),
        },
        schema=EVENT_SCHEMA,
    )


def event_rows(table: pa.Table) -> list[tuple]:
    """``(key, seq, action, delta)`` tuples, the oracle's input shape."""
    cols = [table.column(c).to_pylist() for c in ("product_code", "seq", "action", "delta")]
    return list(zip(*cols))


def write_atomic(table: pa.Table, path: str) -> None:
    """Write ``table`` to ``path`` through a hidden staging file in the
    same directory and a rename, so no reader lists a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_split(table: pa.Table, n_files: int, out_dir: str) -> list[str]:
    """Split ``table`` into ``n_files`` contiguous (seq-ordered) parquet
    files named ``part-NNNNN.parquet`` in ``out_dir``.

    A file stream source reads files in modification-time order at
    millisecond resolution, and REP makes the fold order-sensitive
    across batches, so the files get strictly increasing mtimes 1 ms
    apart (a rename keeps them)."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    base_ns = time.time_ns() // 1_000_000 * 1_000_000
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        write_atomic(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        mtime = base_ns + i * 1_000_000
        os.utime(path, ns=(mtime, mtime))
        paths.append(path)
    return paths
