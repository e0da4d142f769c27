"""Tests of the benchmark harness itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402
from kafka_streams_aggregate_spark.operators.inventory_fold import python_fold_oracle  # noqa: E402
from kafka_streams_aggregate_spark.oracle import compare_frames  # noqa: E402


def _bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as fh:
            out.append(fh.read())
    return out


# -- generator -------------------------------------------------------------------


@pytest.mark.parametrize("zipf_s", [None, 1.3])
def test_same_seed_gives_byte_identical_files(tmp_path, zipf_s):
    a = gen.write_split(gen.inventory_events(5, 4_000, 300, zipf_s), 4, str(tmp_path / "a"))
    b = gen.write_split(gen.inventory_events(5, 4_000, 300, zipf_s), 4, str(tmp_path / "b"))
    c = gen.write_split(gen.inventory_events(6, 4_000, 300, zipf_s), 4, str(tmp_path / "c"))
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)


def test_files_have_increasing_mtimes_and_no_staging_leftovers(tmp_path):
    paths = gen.write_split(gen.inventory_events(1, 1_000, 50), 5, str(tmp_path))
    mtimes_ms = [os.stat(p).st_mtime_ns // 1_000_000 for p in paths]
    assert mtimes_ms == sorted(set(mtimes_ms))
    assert sorted(os.listdir(tmp_path)) == [os.path.basename(p) for p in paths]


def test_events_exercise_the_drop_rules():
    t = gen.inventory_events(3, 50_000, 1_000).to_pandas()
    assert t["seq"].is_monotonic_increasing and t["seq"].is_unique
    unknown = (~t["action"].isin(["INC", "DEC", "REP"])).mean()
    assert 0.04 < unknown < 0.06
    assert 0.015 < t["delta"].isna().mean() < 0.025
    assert set(t["action"]) == {"INC", "DEC", "REP", "ADJ"}


def test_zipf_keys_are_skewed_and_uniform_keys_are_not():
    z = gen.inventory_events(3, 20_000, 1_000, zipf_s=1.3).to_pandas()["product_code"]
    u = gen.inventory_events(3, 20_000, 1_000).to_pandas()["product_code"]
    assert z.value_counts().iloc[0] > 10 * u.value_counts().iloc[0]


# -- latency attribution ---------------------------------------------------------


def _progress(batch_id, start_s, trigger_ms, rows):
    ts = pd.Timestamp(start_s, unit="s", tz="UTC").strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return {
        "batchId": batch_id, "timestamp": ts, "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms // 2},
    }


def test_files_map_to_the_batch_that_covers_their_last_row():
    base = 1_700_000_000.0
    feed = [
        _progress(0, base, 1_000, 300),        # files 0-2
        _progress(1, base + 1, 500, 0),        # idle heartbeat: ignored
        _progress(1, base + 2, 2_000, 100),    # file 3
        _progress(2, base + 5, 250, 200),      # files 4-5
    ]
    got = measure.attribute_files([100] * 7, feed)
    assert [b for b, _ in got] == [0, 0, 0, 1, 2, 2]  # file 6 not folded yet
    assert got[0][1] == pytest.approx(base + 1.0)
    assert got[3][1] == pytest.approx(base + 4.0)
    assert got[5][1] == pytest.approx(base + 5.25)


def test_out_of_order_progress_rows_are_put_in_batch_order():
    base = 1_700_000_000.0
    feed = [_progress(1, base + 2, 100, 50), _progress(0, base, 100, 50)]
    assert [b for b, _ in measure.attribute_files([50, 50], feed)] == [0, 1]


def test_folded_rate_spans_from_the_commit_before_the_window():
    base = 1_700_000_000.0
    feed = [_progress(i, base + i, 1_000, 500) for i in range(5)]  # commits at base + i + 1
    batches = measure.data_batches(feed)
    assert measure.folded_rate(batches, batches[2:4]) == pytest.approx(1_000 / 2.0)
    assert measure.folded_rate(batches, batches[:2]) == pytest.approx(1_000 / 2.0)
    assert measure.folded_rate(batches, []) == 0.0


def test_nearest_rank_percentile_and_support():
    values = list(range(1, 201))
    assert measure.nearest_rank(values, 0.95) == 190
    assert measure.tail(values) == (190, 0.95)
    assert measure.tail(list(range(120, 0, -1))) == (110, 110 / 120)
    assert measure.tail([4, 9, 1]) == (9, 1.0)
    assert measure.median([3, 1, 2]) == 2


def test_child_processes_are_seen_until_they_end():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in measure.descendants(os.getpid())
        assert measure.alive(child.pid)
    finally:
        child.kill()
        child.wait(timeout=10)
    assert not measure.alive(child.pid)
    assert child.pid not in measure.descendants(os.getpid())


def test_backlog_growth():
    assert not workloads.backlog_grew([10, 12, 9, 11, 10, 12, 11, 9, 10], slack=5)
    assert not workloads.backlog_grew([12, 25, 8, 20, 30, 14, 22, 9, 27], slack=20)
    assert workloads.backlog_grew([5, 6, 8, 12, 16, 20, 25, 30, 36], slack=5)
    assert workloads.backlog_grew([10, 20, 30, 40, 50, 60, 70, 80, 90], slack=20)


# -- correctness checks ----------------------------------------------------------


def test_fold_check_catches_a_planted_wrong_count():
    table = gen.inventory_events(9, 5_000, 200)
    final = python_fold_oracle(gen.event_rows(table))
    assert workloads.fold_matches(dict(final), table)
    key = sorted(final)[17]
    planted = dict(final, **{key: final[key] + 1})
    assert not workloads.fold_matches(planted, table)


def test_changelog_reduction_keeps_the_latest_batch():
    changelog = [(0, "a", 1), (2, "a", 3), (1, "a", 2), (0, "b", 5)]
    assert workloads.latest_wins(changelog) == {"a": 3, "b": 5}
    table = gen.inventory_events(4, 2_000, 100)
    final = python_fold_oracle(gen.event_rows(table))
    key = sorted(final)[0]
    rows = [(0, k, v) for k, v in final.items()] + [(1, key, final[key] - 7)]
    assert not workloads.fold_matches(workloads.latest_wins(rows), table)


def test_query_check_catches_a_planted_wrong_count():
    oracle = pd.DataFrame({"product_code": ["a", "b"], "count": [3, 4]})
    assert compare_frames("q", oracle.copy(), oracle).ok
    planted = oracle.assign(count=[3, 5])
    assert not compare_frames("q", planted, oracle).ok
