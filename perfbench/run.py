"""Benchmark entry point.

    python3 perfbench/run.py --workload fold_drain --seed 1 --seconds 6 --trace 0

Runs one workload (see ``workloads.py`` and ``NOTES.md``) on
``local[<cores>]`` and prints, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer ones, from a run that records
spans, a Spark event log and the streaming progress feed, plus
``trace.overhead_frac`` against an untraced run of the same seed.

``setup_s`` is the median of ``--setups`` set-ups: this process's own
(process start until the session from ``get_spark`` has run one trivial
job) and, after the workload, the same measured in fresh processes.

Run it from the repository root. Everything it writes goes under
``.perfbench/`` there; the work directory of a run is removed when the
run ends, the span dump of a traced run is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

END_TO_END = {"setup_s": "s", "events_per_s": "events/s", "latency_p50_ms": "ms", "latency_tail_ms": "ms"}
# Which end-to-end metric a workload's gain shows in, for trace.overhead_frac.
PRIMARY = {"fold_drain": "events_per_s", "fold_live": "latency_p50_ms"}
# JVM options: temporary files go under the run's work directory, and no
# hsperfdata file is written to the system temporary directory, so a run
# writes only inside the checkout.
JAVA_OPTIONS = "-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and its JVM, and wait until every process the
    run started (the JVM, its Python workers) has exited. The JVM exits
    when its standard input closes; its workers may outlive it briefly."""
    import measure as tr
    from pyspark import SparkContext

    started = tr.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout)
    deadline = time.time() + timeout
    while any(tr.alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def untraced_reference(args) -> dict:
    """Run the same workload and seed untraced, in a child process
    before this one starts Spark, for ``trace.overhead_frac``."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--cores", str(args.cores), "--setups", "1"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=170, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def fresh_setup_s(cores: int) -> float:
    """``setup_s`` of a fresh process that only sets up and stops."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "fold_drain", "--seed", "0",
           "--seconds", "0", "--cores", str(cores), "--setup-only"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=120, check=True)
    return float(res.stdout.strip().splitlines()[-1])


def event_log_layers(log_dir: str) -> dict[str, float]:
    import measure as tr
    import workloads

    tm = tr.TaskMetrics(tr.read_event_log(log_dir))
    fold = tm.labelled("fold:batch")
    n = workloads.BATCH_FOLD_CALLS
    return {
        "sources.scan_bytes": sum(t["input"] for t in fold) / n,
        "operators.fold_shuffle_bytes": sum(t["shuffle_write"] for t in fold) / n,
        "operators.fold_task_skew": tm.skew(fold),
        "operators.spill_bytes": sum(t["spill"] for t in tm.tasks),
        "operators.gc_ms": sum(t["gc_ms"] for t in tm.tasks),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark task threads (default: the CPUs this process may run on)")
    ap.add_argument("--setups", type=int, default=3, help="set-ups setup_s is the median of")
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    reference = untraced_reference(args) if args.trace else None

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(args.cores),
        SPARK_GRAFT_MASTER=f"local[{args.cores}]",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    sys.path.insert(0, HERE)
    try:
        if args.setup_only:
            return setup_only(work)
        return run(args, work, reference)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def start_spark(work: str, app: str, spans, extra_conf: dict | None = None):
    """Build the session and run one trivial job on it. Returns the
    session, the set-up time (process start until that job is done) and
    the time of the ``get_spark`` call alone."""
    from kafka_streams_aggregate_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": JAVA_OPTIONS.format(work=work),
        **(extra_conf or {}),
    }
    t = time.perf_counter()
    with spans.span("session.get_spark"):
        spark = get_spark(app_name=app, extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    spark.range(1).count()
    return spark, seconds_since_process_start(), get_spark_s


def setup_only(work: str) -> int:
    import measure as tr

    spark, setup_s, _ = start_spark(work, "perfbench-setup", tr.Spans(False))
    stop_spark(spark)
    print(setup_s)
    return 0


def run(args, work: str, reference: dict | None) -> int:
    import measure as tr
    import workloads

    log_dir = os.path.join(work, "eventlog")
    event_log = {}
    if args.trace:
        os.makedirs(log_dir)
        event_log = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        }
    spans = tr.Spans(bool(args.trace))
    with tr.RssSampler() as rss:
        spark, setup_s, get_spark_s = start_spark(work, f"perfbench-{args.workload}", spans, event_log)
        steal0, ticks0 = tr.cpu_ticks()
        try:
            ctx = workloads.Ctx(spark, work, args.seed, args.seconds, spans)
            with spans.span(f"workload.{args.workload}"):
                out = workloads.WORKLOADS[args.workload](ctx)
        finally:
            steal1, ticks1 = tr.cpu_ticks()
            stop_spark(spark)
    peak_rss_mb = rss.peak / 2**20
    steal_frac = (steal1 - steal0) / max(1, ticks1 - ticks0)
    # A traced run reports no setup_s, so it sets up once.
    n_setups = 1 if args.trace else args.setups
    setups = [setup_s] + [fresh_setup_s(args.cores) for _ in range(n_setups - 1)]

    for note in out.notes:
        print(note, file=sys.stderr)
    lat = out.latencies_ms
    tail_ms, tail_q = tr.tail(lat)
    e2e = {
        "setup_s": tr.median(setups),
        "events_per_s": tr.median(out.events_per_s),
        "latency_p50_ms": tr.median(lat),
        "latency_tail_ms": tail_ms,
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "units": out.units,
        "setups_s": [round(x, 3) for x in setups],
        "latency_samples": len(lat), "tail_percentile": round(100 * tail_q, 1),
        "ops_failed_frac": out.failed / max(1, out.attempted),
        "peak_rss_mb": round(peak_rss_mb, 1),
        "host_steal_frac": round(steal_frac, 4),
    }
    if args.trace:
        units = per_layer_units()
        layers = dict.fromkeys(units, 0.0)
        layers["session.get_spark_s"] = get_spark_s
        layers["process.peak_rss_mb"] = peak_rss_mb
        layers["host.steal_frac"] = steal_frac
        layers.update(out.layers)
        layers.update(event_log_layers(log_dir))
        key = PRIMARY[args.workload]
        ref, now = reference["metrics"][key]["value"], e2e[key]
        layers["trace.overhead_frac"] = ref / now - 1 if key == "events_per_s" else now / ref - 1
        unknown = set(layers) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        spans.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        summary.update({k: round(v, 4) for k, v in e2e.items()})
    print(json.dumps(summary))
    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
