"""The benchmark's two workloads.

Each workload takes a ``Ctx`` and returns an ``Outcome``: the samples
behind the end-to-end metrics, the attempted/failed counts, and (when
traced) the per-layer numbers it can see from outside the program.
Generation and correctness checks run off the clock.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
import measure as tr
from kafka_streams_aggregate_spark.operators.inventory_fold import (
    inventory_count_fold,
    latest_per_key,
    python_fold_oracle,
)
from kafka_streams_aggregate_spark.oracle import compare_frames
from kafka_streams_aggregate_spark.plans.inspect import count_exchanges
from kafka_streams_aggregate_spark.registry import load_all
from kafka_streams_aggregate_spark.sources.eventlog_source import run_stream_committed
from kafka_streams_aggregate_spark.sources.tables import load_table
from kafka_streams_aggregate_spark.streaming.inventory_stream import (
    OUTPUT_SCHEMA,
    streaming_inventory_fold,
)

# fold_drain: a backlog whose micro-batches each carry twice as many
# events as there are keys, so ~86% of the keys change in every batch
# and per-key work outweighs the per-batch fixed costs.
DRAIN_EVENTS, DRAIN_KEYS, DRAIN_FILES = 12_000, 1_500, 4
# The batch closed form over a larger generated log, checked on every run
# of fold_drain and, in a traced run, timed over forced calls for the
# operators layer.
BATCH_EVENTS, BATCH_KEYS, BATCH_FOLD_CALLS = 200_000, 20_000, 3

# fold_live: an open loop at 1,000 events/s over 1,000 Zipf(1.3) keys, a
# file every 100 ms. A batch pays for every file it reads, so a batch the
# host slows down makes the next one bigger; with more files a second
# that feedback made the latency swing with host load. The fold's JIT and
# Python workers need several batches to reach their steady speed; the
# warm-up gives them about eight.
LIVE_RATE, LIVE_INTERVAL_S, LIVE_KEYS, LIVE_ZIPF = 1_000, 0.1, 1_000, 1.3
LIVE_WARMUP_S = 8.0


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    spans: tr.Spans


@dataclass
class Outcome:
    events_per_s: list[float] = field(default_factory=list)
    latencies_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    units: int = 0  # measured drains or live windows

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {what}")


def fold_matches(final: dict, table, spans: tr.Spans | None = None) -> bool:
    """Whether a final state equals ``python_fold_oracle`` over the
    generated events, cell for cell."""
    rows = gen.event_rows(table)
    with (spans or tr.Spans(False)).span("operators.python_fold_oracle"):
        return final == python_fold_oracle(rows)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _ProgressListener:
    """Collects the streaming progress feed through Spark's public
    listener API (``run_stream_committed`` does not return its query)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer._cv:
                    outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated += 1
                    outer._cv.notify_all()

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def take(self, terminated: int, timeout: float = 30.0) -> list[dict]:
        """Wait until ``terminated`` queries have ended (their progress
        is posted before the end), then hand over the rows so far."""
        with self._cv:
            self._cv.wait_for(lambda: self.terminated >= terminated, timeout)
            rows, self.progress = self.progress, []
        return rows

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


# -- fold_drain ------------------------------------------------------------------


def _drain_once(ctx: Ctx, tag: str, listener: _ProgressListener, n_done: int):
    """One closed-loop drain of the files under ``tag``. Returns the
    timed seconds (commit call plus latest-wins reduction), the commit
    call alone, the progress rows, the final state and the changelog
    frame."""
    spark = ctx.spark
    src = f"{ctx.work}/{tag}/inventory.parquet"
    sdf = spark.readStream.schema(gen.EVENT_DDL).option("maxFilesPerTrigger", 1).parquet(src)
    t0 = time.perf_counter()
    with ctx.spans.span("sources.run_stream_committed", trace=tag):
        changelog = run_stream_committed(
            streaming_inventory_fold(sdf), f"{ctx.work}/{tag}/run", "update", OUTPUT_SCHEMA
        )
    commit_s = time.perf_counter() - t0
    with ctx.spans.span("operators.latest_per_key", trace=tag):
        final = latest_per_key(changelog, ["product_code"], "_batch", ["count"]).collect()
    dt = time.perf_counter() - t0
    progress = listener.take(n_done + 1)
    return dt, commit_s, progress, {r[0]: r[1] for r in final}, changelog


def _batch_fold(ctx: Ctx, out: Outcome) -> None:
    """The batch closed form over a generated log, read through
    ``load_table``: its result must equal ``python_fold_oracle`` (compared
    with ``oracle.compare_frames``). A traced run also times forced calls
    of it for the operators layer."""
    spark, tag = ctx.spark, "batch"
    table = gen.inventory_events(ctx.seed + 20_000, BATCH_EVENTS, BATCH_KEYS)
    gen.write_split(table, 4, f"{ctx.work}/{tag}/inventory.parquet")
    with ctx.spans.span("sources.load_table", trace=tag):
        log = load_table(spark, "inventory", f"{ctx.work}/{tag}")
    with ctx.spans.span("operators.python_fold_oracle", trace=tag):
        expected = python_fold_oracle(gen.event_rows(table))
    want = pd.DataFrame({"product_code": list(expected), "count": list(expected.values())})
    got = inventory_count_fold(log).toPandas()
    with ctx.spans.span("oracle.compare_frames", trace=tag):
        res = compare_frames("inventory_count_fold", got, want)
    out.record(res.ok, f"{tag}: inventory_count_fold differs from python_fold_oracle: {res.detail}")
    if not ctx.spans.enabled:
        return
    sc = spark.sparkContext
    calls = []
    for i in range(BATCH_FOLD_CALLS):
        sc.setJobDescription("fold:batch")
        t = time.perf_counter()
        with ctx.spans.span("operators.inventory_count_fold", trace=f"batch{i}"):
            _force(inventory_count_fold(log))
        calls.append(time.perf_counter() - t)
    sc.setJobDescription(None)
    out.layers["operators.batch_fold_events_per_s"] = table.num_rows / tr.median(calls)
    with ctx.spans.span("plans.count_exchanges"):
        out.layers["operators.fold_exchanges"] = count_exchanges(inventory_count_fold(log))
    t = time.perf_counter()
    with ctx.spans.span("registry.load_all"):
        load_all()
    out.layers["registry.load_all_s"] = time.perf_counter() - t


def fold_drain(ctx: Ctx) -> Outcome:
    out = Outcome()
    listener = _ProgressListener(ctx.spark)
    try:
        # Warm-up off the clock, one measured-size batch over the same keys:
        # it starts the Python workers of every shuffle partition and warms
        # the state function, state store and codegen.
        per_file = DRAIN_EVENTS // DRAIN_FILES
        warm = gen.inventory_events(ctx.seed + 10_000, per_file, DRAIN_KEYS)
        gen.write_split(warm, 1, f"{ctx.work}/warm/inventory.parquet")
        _drain_once(ctx, "warm", listener, 0)
        done, measured, progress_all, out_rows, readback = 1, 0.0, [], 0, []
        while measured < ctx.seconds:
            tag = f"drain{done}"
            table = gen.inventory_events(ctx.seed * 1_000 + done, DRAIN_EVENTS, DRAIN_KEYS)
            gen.write_split(table, DRAIN_FILES, f"{ctx.work}/{tag}/inventory.parquet")
            try:
                with ctx.spans.span("workload.drain", trace=tag):
                    dt, commit_s, progress, final, changelog = _drain_once(ctx, tag, listener, done)
            except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
                out.record(False, f"{tag}: {type(exc).__name__}: {exc}")
                break
            done += 1
            measured += dt
            out.events_per_s.append(DRAIN_EVENTS / dt)
            batches = tr.data_batches(progress)
            out.latencies_ms += [float(p["durationMs"]["triggerExecution"]) for p in batches]
            attributed = tr.attribute_files([per_file] * DRAIN_FILES, progress)
            out.record(
                fold_matches(final, table, ctx.spans) and len(attributed) == DRAIN_FILES,
                f"{tag}: final state differs from python_fold_oracle",
            )
            if ctx.spans.enabled:
                tr.batch_spans(ctx.spans, progress, None, tag)
                progress_all += progress
                out_rows += changelog.count()
                busy = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0
                readback.append(commit_s - busy)
        out.units = done - 1
        _batch_fold(ctx, out)
        if ctx.spans.enabled:
            out.layers.update(tr.stream_layer_metrics(progress_all, out_rows))
            out.layers["sources.commit_readback_s"] = tr.median(readback)
    finally:
        listener.close()
    return out


# -- fold_live -------------------------------------------------------------------


def _sink_for(out_dir: str):
    """The update-mode sink of ``run_stream_committed``: each changelog
    batch written as JSON under its batch id, then an atomic manifest.

    ``run_stream_committed`` drains a bounded source and returns, so it
    cannot drive an open loop; this is a copy of its sink and must be
    kept in step with it, or a change to that sink will not show here."""

    def _sink(batch_df, bid):
        data_dir = f"{out_dir}/data/{bid}"
        batch_df.write.mode("overwrite").json(data_dir)
        os.makedirs(f"{out_dir}/manifest", exist_ok=True)
        tmp = f"{out_dir}/manifest/.{bid}.json.tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch": bid, "dir": data_dir}, fh)
        os.replace(tmp, f"{out_dir}/manifest/{bid}.json")

    return _sink


def read_changelog(out_dir: str) -> list[tuple[int, str, int | None]]:
    """``(batch, product_code, count)`` rows of every committed batch."""
    rows = []
    for mf in glob.glob(f"{out_dir}/manifest/*.json"):
        with open(mf) as fh:
            meta = json.load(fh)
        for part in glob.glob(f"{meta['dir']}/part-*"):
            with open(part) as fh:
                for line in fh:
                    r = json.loads(line)
                    rows.append((meta["batch"], r["product_code"], r.get("count")))
    return rows


def latest_wins(rows: list[tuple[int, str, int | None]]) -> dict[str, int | None]:
    """Reduce a changelog to each key's value in its latest batch."""
    final: dict[str, tuple[int, int | None]] = {}
    for batch, key, count in rows:
        if key not in final or batch > final[key][0]:
            final[key] = (batch, count)
    return {k: v for k, (_, v) in final.items()}


def backlog_grew(backlog: list[int], slack: float) -> bool:
    """A backlog grows when its mean over the last third of the window
    exceeds that over the first third by half, plus ``slack`` files for
    batch-to-batch jitter."""
    third = len(backlog) // 3
    if third == 0:
        return False
    first, last = np.mean(backlog[:third]), np.mean(backlog[-third:])
    return last > 1.5 * first + slack


def _wait_folded(q, rows: int, timeout: float) -> None:
    """Wait until the query's micro-batches have read ``rows`` rows."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in tr.data_batches(_progress(q))) >= rows:
            return
        time.sleep(0.25)


def fold_live(ctx: Ctx) -> Outcome:
    out = Outcome()
    spark, work = ctx.spark, ctx.work
    per_file = int(LIVE_RATE * LIVE_INTERVAL_S)
    # File 0 is folded alone before the schedule starts, so the cold first
    # batch (Python workers, state store, codegen) leaves no backlog; then
    # ``n_warm`` scheduled files run off the clock before the window.
    n_warm = 1 + int(LIVE_WARMUP_S / LIVE_INTERVAL_S)
    n_files = n_warm + int(round(ctx.seconds / LIVE_INTERVAL_S))
    table = gen.inventory_events(ctx.seed, n_files * per_file, LIVE_KEYS, zipf_s=LIVE_ZIPF)
    staged = gen.write_split(table, n_files, f"{work}/live/staging")
    src = f"{work}/live/src"
    os.makedirs(src)
    sdf = spark.readStream.schema(gen.EVENT_DDL).parquet(src)
    q = (
        streaming_inventory_fold(sdf).writeStream.foreachBatch(_sink_for(f"{work}/live/out"))
        .outputMode("update")
        .option("checkpointLocation", f"{work}/live/ckpt")
        .start()
    )
    published = [0.0] * n_files
    sched = [0.0] * n_files

    def publish(i: int) -> None:
        delay = sched[i] - time.time()
        if delay > 0:
            time.sleep(delay)
        os.replace(staged[i], os.path.join(src, os.path.basename(staged[i])))
        published[i] = time.time()

    pub = threading.Thread(
        target=lambda: [publish(i) for i in range(1, n_files)], name="perfbench-publisher"
    )
    try:
        with ctx.spans.span("workload.live", trace="live"):
            sched[0] = time.time()
            publish(0)
            _wait_folded(q, per_file, 60)
            t0 = time.time() + LIVE_INTERVAL_S
            sched[1:] = [t0 + i * LIVE_INTERVAL_S for i in range(n_files - 1)]
            pub.start()
            pub.join()
            _wait_folded(q, table.num_rows, 60)
        progress = _progress(q)
    finally:
        q.stop()
    attributed = tr.attribute_files([per_file] * n_files, progress)
    window_start, window_end = sched[n_warm], sched[-1] + LIVE_INTERVAL_S
    lat = [(c - sched[i]) * 1000.0 for i, (_, c) in enumerate(attributed) if i >= n_warm]
    out.latencies_ms = lat
    out.units = 1
    inside = [p for p in tr.data_batches(progress) if window_start <= tr.commit_epoch(p) <= window_end]
    # Sustained throughput: the events folded by the batches committed in
    # the window, over the time from the commit before the first of them to
    # the last of them (the offered rate while the fold keeps up, less once
    # it falls behind).
    out.events_per_s.append(tr.folded_rate(tr.data_batches(progress), inside))
    # Backlog at each in-window commit: files published but not yet folded.
    folded_by = {}
    for i, (bid, _) in enumerate(attributed):
        folded_by[bid] = i + 1
    backlog = [
        sum(1 for t in published if t <= tr.commit_epoch(p)) - folded_by.get(p["batchId"], 0)
        for p in inside
    ]
    late_ms = [(p - s) * 1000.0 for p, s in zip(published, sched)]
    changelog = read_changelog(f"{work}/live/out")
    out.record(len(attributed) == n_files, "live: not every published file was folded")
    out.record(fold_matches(latest_wins(changelog), table, ctx.spans), "live: final state differs from python_fold_oracle")
    # One second of input as slack: a batch takes about that long.
    out.record(not backlog_grew(backlog, 1 / LIVE_INTERVAL_S), f"live: backlog grew {backlog}")
    if ctx.spans.enabled:
        tr.batch_spans(ctx.spans, progress, None, "live")
        # Layer numbers from the measured window only, as the latencies.
        in_window = {p["batchId"] for p in inside}
        changelog_rows = sum(1 for bid, _, _ in changelog if bid in in_window)
        out.layers.update(tr.stream_layer_metrics(inside, changelog_rows))
        out.layers["sources.backlog_files_max"] = max(backlog, default=0)
        out.layers["gen.late_p95_ms"] = tr.nearest_rank(late_ms, 0.95)
    return out


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


WORKLOADS = {"fold_drain": fold_drain, "fold_live": fold_live}
