"""Measurement helpers for the benchmark: order statistics, spans, the
file-to-batch latency attribution over Spark's streaming progress feed,
Spark event-log task metrics, and process-tree memory from ``/proc``.

Nothing here imports the program under test; every number is read from
outside it (wall clocks around calls, progress rows, event-log lines).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def nearest_rank(values, q: float) -> float:
    """Nearest-rank ``q`` quantile (0 < q <= 1): the smallest sample with
    at least a ``q`` share of the samples at or below it."""
    s = sorted(values)
    if not s:
        return 0.0
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def tail(values, beyond: int = 10) -> tuple[float, float]:
    """The highest nearest-rank percentile that leaves ``beyond`` samples
    above it, as ``(value, quantile)``; the maximum when there are no more
    than ``beyond`` samples."""
    s = sorted(values)
    if not s:
        return 0.0, 0.0
    rank = len(s) - beyond if len(s) > beyond else len(s)
    return float(s[rank - 1]), rank / len(s)


# -- spans ---------------------------------------------------------------------


class Spans:
    """In-memory span recorder. Disabled, ``span`` is a bare context
    manager, so the untraced run pays one generator frame per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.items: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.time() - time.perf_counter()  # perf_counter -> epoch

    @contextmanager
    def span(self, name: str, trace: str = "", **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.items)
        self.items.append({})  # reserve the id so children can point at it
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.items[sid] = {
                "id": sid, "parent": parent, "trace": trace, "name": name,
                "start": self.t0 + start, "end": self.t0 + time.perf_counter(), **attrs,
            }

    def add(self, name: str, start: float, end: float, parent: int | None, trace: str = "", **attrs) -> int:
        """Record a span whose times were measured elsewhere (epoch s)."""
        sid = len(self.items)
        if self.enabled:
            self.items.append(
                {"id": sid, "parent": parent, "trace": trace, "name": name,
                 "start": start, "end": end, **attrs}
            )
        return sid

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.items, fh)


# Order in which MicroBatchExecution spends a trigger's phases.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def progress_epoch(p: dict) -> float:
    """Trigger start of a progress row, as epoch seconds."""
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return ts.timestamp()


def commit_epoch(p: dict) -> float:
    """When a micro-batch's output was committed: trigger start plus the
    trigger's whole execution time."""
    return progress_epoch(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def data_batches(progress: list[dict]) -> list[dict]:
    """Progress rows of micro-batches that read input, in batch order
    (idle heartbeats and duplicates dropped)."""
    seen: dict[int, dict] = {}
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            seen[p["batchId"]] = p
    return [seen[b] for b in sorted(seen)]


def batch_spans(spans: Spans, progress: list[dict], parent: int | None, trace: str) -> None:
    """One span per micro-batch with its phases laid out in execution
    order (progress gives durations, not start times)."""
    for p in data_batches(progress):
        start = progress_epoch(p)
        bid = spans.add("streaming.batch", start, commit_epoch(p), parent, trace,
                        batch=p["batchId"], rows=p["numInputRows"])
        t = start
        for phase in BATCH_PHASES:
            d = p["durationMs"].get(phase, 0) / 1000.0
            spans.add(f"streaming.{phase}", t, t + d, bid, trace)
            t += d


def attribute_files(file_rows: list[int], progress: list[dict]) -> list[tuple[int, float]]:
    """Map each published file to the micro-batch that folded it.

    ``file_rows`` are the row counts of the files in the order the source
    reads them; batches consume whole files in that order, so the batch
    whose cumulative ``numInputRows`` first covers a file's last row is
    the one that folded it. Returns ``(batchId, commit epoch)`` per file,
    for the files the progress feed covers.
    """
    out: list[tuple[int, float]] = []
    i, file_end, batch_end = 0, 0, 0
    for p in data_batches(progress):
        batch_end += p["numInputRows"]
        while i < len(file_rows) and file_end + file_rows[i] <= batch_end:
            file_end += file_rows[i]
            out.append((p["batchId"], commit_epoch(p)))
            i += 1
    return out


def folded_rate(batches: list[dict], inside: list[dict]) -> float:
    """Events per second folded by ``inside``, a run of consecutive data
    batches out of ``batches``: their input rows over the time from the
    commit of the batch before them to the commit of their last one."""
    if not inside:
        return 0.0
    first = batches.index(inside[0])
    start = commit_epoch(batches[first - 1]) if first else progress_epoch(inside[0])
    return sum(p["numInputRows"] for p in inside) / (commit_epoch(inside[-1]) - start)


def stream_layer_metrics(progress: list[dict], out_rows: int) -> dict[str, float]:
    """Per-layer metrics of the streaming and source layers, from the
    progress rows of the micro-batches that read input."""
    bs = data_batches(progress)
    dur = lambda k: [p["durationMs"].get(k, 0) for p in bs]  # noqa: E731
    ops = [p["stateOperators"][0] for p in bs if p.get("stateOperators")]
    rows_in = sum(p["numInputRows"] for p in bs)
    add_s = sum(dur("addBatch")) / 1000.0
    return {
        "streaming.batches": len(bs),
        "streaming.batch_ms_p50": median(dur("triggerExecution")),
        "streaming.batch_ms_p95": nearest_rank(dur("triggerExecution"), 0.95),
        "streaming.add_batch_ms_p50": median(dur("addBatch")),
        "streaming.plan_ms_p50": median(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": median(
            w + c for w, c in zip(dur("walCommit"), dur("commitOffsets"))
        ),
        "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.state_bytes": max((o["memoryUsedBytes"] for o in ops), default=0),
        "streaming.state_commit_ms_p50": median(o.get("commitTimeMs", 0) for o in ops),
        "streaming.state_update_ms_p50": median(o.get("allUpdatesTimeMs", 0) for o in ops),
        "streaming.keys_updated_per_s": (
            sum(o["numRowsUpdated"] for o in ops) / add_s if add_s else 0.0
        ),
        "streaming.changelog_ratio": out_rows / rows_in if rows_in else 0.0,
        "sources.latest_offset_ms_p50": median(dur("latestOffset")),
        "sources.get_batch_ms_p50": median(dur("getBatch")),
    }


# -- Spark event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


class TaskMetrics:
    """Task metrics of one application's event log, grouped by the job
    description the benchmark set before each call."""

    def __init__(self, events: list[dict]):
        self.stage_label: dict[int, str] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                label = (e.get("Properties") or {}).get("spark.job.description", "")
                for sid in e.get("Stage IDs", []):
                    self.stage_label[sid] = label
            elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                m, info = e["Task Metrics"], e["Task Info"]
                sr = m.get("Shuffle Read Metrics", {})
                self.tasks.append({
                    "stage": e["Stage ID"],
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                })

    def labelled(self, prefix: str) -> list[dict]:
        return [t for t in self.tasks if self.stage_label.get(t["stage"], "").startswith(prefix)]

    @staticmethod
    def skew(tasks: list[dict]) -> float:
        """Max over median task time of the shuffle-reading stages, the
        median taken across those stages."""
        by_stage: dict[int, list[int]] = {}
        for t in tasks:
            if t["shuffle_read"] > 0:
                by_stage.setdefault(t["stage"], []).append(t["ms"])
        ratios = [max(ms) / max(1.0, median(ms)) for ms in by_stage.values() if len(ms) > 1]
        return median(ratios)


# -- host ----------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of all CPUs so far, from
    ``/proc/stat``. Steal is time a virtual CPU was ready to run but the
    host ran something else; its share over a run tells a slow run on a
    busy host from a slow program."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


# -- memory --------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    kids = _children()
    todo, out = list(kids.get(root, ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` is a running (not zombie) process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's resident set; ``peak`` is
    the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
