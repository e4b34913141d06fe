"""Tests of the benchmark's own logic.

    python -m pytest perfbench -q                       # fast tier
    python -m pytest perfbench -q -m "slow or not slow"  # plus one Spark run
"""

from __future__ import annotations

import collections
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import live  # noqa: E402
import replay  # noqa: E402
import run as run_mod  # noqa: E402
from spans import Span, Tracer, covered, median, percentile, self_time_by_name, self_times  # noqa: E402


# -- percentiles -------------------------------------------------------------

def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 50) == 2


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])
    with pytest.raises(ValueError):
        percentile([], 50)


# -- spans and self time -----------------------------------------------------

def test_covered_merges_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(1, 2), (4, 6)], 0, 10) == 3
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([(3, 3)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "trigger", 0.0, 10.0),
        Span(1, "add", 1.0, 6.0, parent=0),
        Span(2, "wal", 5.0, 7.0, parent=0),  # overlaps add by 1 s
        Span(3, "dispatch", 2.0, 4.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 6)
    assert st[1] == pytest.approx(5 - 2)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(2)
    assert self_time_by_name(spans)["trigger"] == pytest.approx(4)


def test_tracer_nests_and_disables():
    t = Tracer(enabled=True)
    with t.span("outer", iteration=1):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.iteration == 1
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(enabled=False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []


# -- digest and emission comparison ------------------------------------------

def test_corrupted_digest_fails_every_pass():
    good = (100, 12345, -678)
    assert replay.count_failed([good, good, good], good) == 0
    corrupted = (good[0], good[1] + 1, good[2])
    assert replay.count_failed([good, good, good], corrupted) == 3
    assert replay.count_failed([good, None], good) == 1  # a pass that raised


def test_emission_mismatch_counts_both_sides():
    a = collections.Counter({("r", "1", 0, 2): 1, ("r", "2", 5, 9): 1})
    assert live._mismatch(a, a.copy()) == 0
    b = collections.Counter({("r", "1", 0, 2): 1, ("r", "2", 5, 8): 1})
    assert live._mismatch(a, b) == 2
    assert live._mismatch(a, collections.Counter()) == 2


def test_comparable_keeps_completions_and_passed_timeouts():
    rows = [
        ("r", "1", "completed", 900, 0, 2),
        ("r", "1", "timeout", 400, 3, 3),
        ("r", "2", "timeout", 1000, 5, 5),  # not yet past the watermark
        ("r", "2", "final", 100, 6, 6),
    ]
    got = live.comparable(rows, cutoff_us=1000)
    assert sorted(got) == sorted(rows[:2])
    prog = [{"eventTime": {"watermark": "1970-01-01T00:00:05.000Z"}},
            {"eventTime": {"watermark": "1970-01-01T00:00:07.000Z"}}]
    assert live._cutoff_us(prog) == 7_000_000 - live.TIMEOUT_MARGIN_US


def test_sql_timing_metric_parse():
    import sparkstats

    assert sparkstats.parse_duration_metric("1.2 s") == pytest.approx(1.2)
    assert sparkstats.parse_duration_metric("500 ms") == pytest.approx(0.5)
    total = "total (min, med, max (stageId: taskId))\n3.0 m (1.0 s, 1.0 s, 1.0 s (stage 1.0: task 2))"
    assert sparkstats.parse_duration_metric(total) == pytest.approx(180.0)


# -- seeded inputs -----------------------------------------------------------

def test_live_ticks_are_a_function_of_seed_and_tick():
    a = inputs.live_tick(7, 3, 50, 100, 1_700_000_000.0)
    assert a == inputs.live_tick(7, 3, 50, 100, 1_700_000_000.0)
    assert [e["event_id"] for e in a] == list(range(150, 200))
    assert a != inputs.live_tick(8, 3, 50, 100, 1_700_000_000.0)
    assert a != inputs.live_tick(7, 4, 50, 100, 1_700_000_000.0)
    ts = [e["ts"] for e in a]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    assert {e["event_type"] for e in a} <= set(inputs.EVENT_TYPES)
    assert all(1 <= e["user_id"] <= 100 for e in a)


def test_backlog_files_are_deterministic(tmp_path):
    dirs = [tmp_path / f"b{i}" for i in range(3)]
    for d, seed in zip(dirs, (5, 5, 6)):
        d.mkdir()
        inputs.write_backlog(str(d), seed, 1500, 300, 3, 1_700_000_000.0, 0.005, stream=2)
    files = sorted(os.listdir(dirs[0]))
    assert len(files) == 3
    read = lambda d: b"".join((d / f).read_bytes() for f in files)  # noqa: E731
    assert read(dirs[0]) == read(dirs[1])
    assert read(dirs[0]) != read(dirs[2])
    rows = [json.loads(line) for line in read(dirs[0]).decode().splitlines()]
    assert len(rows) == 1500
    assert [r["ts"] for r in rows] == sorted(r["ts"] for r in rows)


def test_replay_table_is_deterministic():
    a = inputs.replay_table(3, 6000, 2)
    assert a.equals(inputs.replay_table(3, 6000, 2))
    assert not a.equals(inputs.replay_table(4, 6000, 2))
    ts = a.column("ts").cast("int64").to_pylist()
    assert ts == sorted(ts)
    # the sf0.1 ratio: 6000 events over 90 users
    assert max(a.column("user_id").to_pylist()) == 90


def test_generator_process_writes_its_schedule(tmp_path):
    import subprocess
    import time

    out = tmp_path / "src"
    out.mkdir()
    report = tmp_path / "gen.json"
    subprocess.run([
        sys.executable, os.path.join(HERE, "inputs.py"), "--dir", str(out), "--seed", "1",
        "--rate", "200", "--tick", "0.05", "--start-at", repr(time.time()), "--ticks", "4",
        "--keys", "50", "--report", str(report),
    ], check=True, timeout=30)
    files = sorted(os.listdir(out))
    assert files == [f"ev-{k:06d}.json" for k in range(4)]
    rows = [json.loads(line) for f in files for line in (out / f).read_text().splitlines()]
    assert [r["event_id"] for r in rows] == list(range(40))
    assert json.loads(report.read_text())["late_s_max"] >= 0


# -- result block ------------------------------------------------------------

def test_metrics_block_lists_every_declared_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    result = {
        "e2e": {"setup_s": 1.0, "latency_p50_s": 2.0, "latency_p90_s": 3.0, "events_per_s": 4.0},
        "layer": {"session.start_s": 0.5},
    }
    t = Tracer(enabled=True)
    t.add("trigger", 0.0, 2.0)
    e2e = run_mod.metrics(result, spec, t, trace=False)
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    assert all(v["value"] > 0 for v in e2e.values())
    layer = run_mod.metrics(result, spec, t, trace=True)
    assert list(layer) == [m["name"] for m in spec["per_layer"]]
    assert layer["session.start_s"]["value"] == 0.5
    assert layer["trace.latency_p50_s"]["value"] == 2.0
    assert layer["self.trigger_s"]["value"] == 2.0
    assert layer["replay.jobs"]["value"] == 0.0


# -- one real replay over Spark ----------------------------------------------

@pytest.mark.slow
def test_replay_digest_check_end_to_end(tmp_path, monkeypatch):
    """A corrupted expected digest fails every pass; the real one none."""
    import sparkstats

    monkeypatch.setattr(replay, "N_EVENTS", 3000)
    monkeypatch.setattr(replay, "SETUP_PASSES", 1)
    monkeypatch.setattr(replay, "MIN_PASSES", 1)
    try:
        ok = replay.run(1, 0.0, Tracer(False), str(tmp_path), ROOT)
        assert ok["failed"] == 0 and ok["attempted"] == 2
        table = os.path.join(str(tmp_path), "replay-cache")
        (cache,) = os.listdir(table)
        with open(os.path.join(table, cache, "oracle.json")) as f:
            expected = json.load(f)
        bad = replay.run(1, 0.0, Tracer(False), str(tmp_path), ROOT,
                         expected=(expected[0], expected[1] + 1, expected[2]))
        assert bad["failed"] == bad["attempted"] == 2
    finally:
        sparkstats.shutdown()
