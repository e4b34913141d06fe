"""``live_feed``: open-loop event stream → live correlation → actions.

A separate generator process (``inputs.py``) writes NDJSON files on a fixed
tick into a directory that ``ndjson_dir_source`` tails. ``start_correlation``
runs the rules with the default trigger, a ``MemoryHub`` and a driver-side
action that records when it is called. Latency is the time from an event's
creation (its tick's due time) to the action call for the ``completed``
emission it closes, for events created inside the measured window. A
catch-up phase then drains a fixed pre-written backlog with
``trigger_once=True``, one file per trigger; its throughput is the rows over
the summed trigger time of that query's progress events.

Correctness: the live and catch-up emissions of every rule (completions,
and timeouts the watermark has passed) must equal those of a batch
``correlate()`` over the same files.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime, timedelta

from spans import Tracer, median, percentile
import sparkstats

#: offered rate: about a seventh of the catch-up rate this workload drains
#: at on 4 cores, so triggers stay short and do not feed on each other
RATE = 250
TICK_S = 0.1
#: the user population of the sf0.01 test data: each user sends ~1.7
#: events/s, so the 3-step sequence completes within seconds and a run
#: samples a few hundred completions (the sf0.1 population of 1,500 gave
#: 11-41 per run, too few for a p90)
KEYS = 150
WARMUP_S = 5.0  # generated but not sampled: the new query's first triggers run slow
SETUP_EVENTS = 200
BACKLOG_EVENTS = 8_000
BACKLOG_FILES = 2  # one catch-up trigger each
DRAIN_TIMEOUT_S = 60.0
SEQ_RULE = "signup_click_purchase"
#: timeouts this close to a query's last watermark may or may not have
#: fired yet; they are left out of the comparison on both sides
TIMEOUT_MARGIN_US = 1_000_000
#: offset between the keys and event ids of the sources in the reference job
STRIDE = 1 << 40
_EPOCH = datetime(1970, 1, 1)


def rules():
    from php_ec_spark.rules import match_single_continuously, sequence_rule

    return [
        sequence_rule(SEQ_RULE, ["signup", "click", "purchase"], key="user_id",
                      timeout="PT20S"),
        match_single_continuously(
            "activity", ["view", "click", "purchase"], key="user_id",
            timeout="PT10S", chain_limit=4,
        ),
    ]


def _micros(naive_utc: datetime) -> int:
    return (naive_utc - _EPOCH) // timedelta(microseconds=1)


class Recorder:
    """The action: remembers when it was called and what it was given."""

    def __init__(self):
        self.calls: list[tuple[float, list[tuple]]] = []

    def __call__(self, rows: list[dict]) -> None:
        now = time.time()
        self.calls.append((now, [
            (r["rule"], r["key"], r["outcome"], _micros(r["fire_ts"]),
             r["start_event_id"], r["last_event_id"])
            for r in rows
        ]))

    def emissions(self) -> list[tuple]:
        return [row for _, rows in self.calls for row in rows]


def comparable(emissions, cutoff_us: int) -> collections.Counter:
    """The emissions both engines must agree on: every completion, and
    every timeout that fired before ``cutoff_us``."""
    return collections.Counter(
        (rule, key, outcome, fire_us, start, last)
        for rule, key, outcome, fire_us, start, last in emissions
        if outcome == "completed" or (outcome == "timeout" and fire_us < cutoff_us)
    )


def _cutoff_us(prog: list[dict]) -> int:
    """The watermark of the query's last trigger, less the margin."""
    wm = max((p.get("eventTime", {}).get("watermark", "1970-01-01T00:00:00.000Z")
              for p in prog), default="1970-01-01T00:00:00.000Z")
    return round(_epoch(wm) * 1e6) - TIMEOUT_MARGIN_US


def _sink(tracer: Tracer, recorder: Recorder):
    """Dispatcher and memory hub; traced subclasses when tracing."""
    from php_ec_spark.memory import MemoryHub
    from php_ec_spark.streaming import ActionDispatcher

    hub_writes: list[int] = []
    if tracer.enabled:
        class Dispatcher(ActionDispatcher):
            def __call__(self, df, batch_id=-1, pre_materialized=False):
                with tracer.span("ActionDispatcher.__call__", iteration=batch_id):
                    return super().__call__(df, batch_id, pre_materialized)

        class Hub(MemoryHub):
            def absorb(self, emissions):
                with tracer.span("MemoryHub.absorb"):
                    n = super().absorb(emissions)
                hub_writes.append(n)
                return n
    else:
        Dispatcher, Hub = ActionDispatcher, MemoryHub
    d = Dispatcher()
    d.register("record", fn=recorder)
    return d, Hub(), hub_writes


def _start(spark, tracer, src, ckpt, recorder, trigger_once, files_per_trigger=None):
    from php_ec_spark.streaming import ndjson_dir_source, start_correlation

    dispatcher, hub, writes = _sink(tracer, recorder)
    with tracer.span("streaming.start_correlation"):
        q = start_correlation(
            ndjson_dir_source(spark, src, max_files_per_trigger=files_per_trigger),
            rules(), ckpt, dispatcher=dispatcher, memory=hub, trigger_once=trigger_once,
            query_name=f"perfbench_{os.path.basename(ckpt)}",
        )
    return q, dispatcher, writes


def _drain_once(spark, tracer, src, ckpt,
                files_per_trigger=None) -> tuple[float, Recorder, list, object]:
    """Start a query over pre-written files, run it to completion."""
    rec = Recorder()
    t0 = time.perf_counter()
    q, dispatcher, _ = _start(spark, tracer, src, ckpt, rec, trigger_once=True,
                              files_per_trigger=files_per_trigger)
    q.awaitTermination(DRAIN_TIMEOUT_S)
    elapsed = time.perf_counter() - t0
    if q.isActive:
        q.stop()
        raise RuntimeError(f"query over {src} did not finish")
    if q.exception() is not None:
        raise RuntimeError(f"query died: {q.exception()}")
    return elapsed, rec, sparkstats.progress(q), dispatcher


def _stop_idle(q, timeout_s: float = 10.0) -> None:
    """Stop between triggers: interrupting a running trigger makes Spark
    log a spurious error while it classifies the interruption."""
    deadline = time.time() + timeout_s
    while q.isActive and q.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.05)
    q.stop()


def _expected(spark, srcs: list[str]) -> list[list[tuple]]:
    """The reference answer for each source directory: one batch
    ``correlate()`` over all of them, read with the streaming source's
    schema. Source ``i`` has ``i * STRIDE`` added to its keys and event ids,
    so the sources share no key and cannot interact."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from php_ec_spark.engine import correlate
    from php_ec_spark.model import EVENT_SCHEMA

    events = reduce(DataFrame.unionByName, [
        spark.read.schema(EVENT_SCHEMA).json(src)
        .withColumn("event_id", F.col("event_id") + i * STRIDE)
        .withColumn("user_id", F.col("user_id") + i * STRIDE)
        for i, src in enumerate(srcs)
    ])
    out: list[list[tuple]] = [[] for _ in srcs]
    for rule, key, outcome, fire_us, start, last in correlate(events, rules()).select(
        "rule", F.col("key").cast("long"), "outcome", F.unix_micros("fire_ts"),
        "start_event_id", "last_event_id",
    ).collect():
        i = key // STRIDE
        off = i * STRIDE
        out[i].append((rule, str(key - off), outcome, fire_us,
                       None if start is None else start - off, last - off))
    return out


def _mismatch(actual: collections.Counter, expected: collections.Counter) -> int:
    return sum(((actual - expected) + (expected - actual)).values())


def _log(msg: str) -> None:
    print(f"# live_feed: {msg}", file=sys.stderr, flush=True)


def _p50(xs):
    return median(xs) if xs else 0.0


def _check(rec: Recorder, prog: list[dict], expected: list[tuple]) -> int:
    cutoff = _cutoff_us(prog)
    return _mismatch(comparable(rec.emissions(), cutoff), comparable(expected, cutoff))


def run(seed: int, seconds: float, tracer: Tracer, work: str, root: str) -> dict:
    from inputs import write_backlog

    dirs = {n: os.path.join(work, n) for n in ("setup_src", "live_src", "backlog_src", "ckpt")}
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    write_backlog(dirs["setup_src"], seed, SETUP_EVENTS, KEYS, 1,
                  base_s=1_700_000_000.0, step_s=0.005, stream=1)
    write_backlog(dirs["backlog_src"], seed, BACKLOG_EVENTS, KEYS, BACKLOG_FILES,
                  base_s=1_700_000_000.0, step_s=0.005, stream=2)

    layer: dict[str, float] = {}
    if tracer.enabled:
        layer["core.eps_single"] = _core_eps(seed)

    with tracer.span("session.get_spark"):
        spark, start_s = sparkstats.start_session(work, root)
    layer["session.start_s"] = start_s
    info = sparkstats.describe(spark)

    # set-up: the first query of the process, from start until it has
    # drained a small file; it also warms the JVM and the Python workers
    with tracer.span("setup"):
        warm_s, _, _, _ = _drain_once(
            spark, tracer, dirs["setup_src"], os.path.join(dirs["ckpt"], "setup"))
    layer["session.warm_s"] = warm_s
    _log(f"session {start_s:.2f}s, first query {warm_s:.2f}s")

    # the live phase
    per_tick = round(RATE * TICK_S)
    ticks = round((WARMUP_S + seconds) / TICK_S)
    rec = Recorder()
    live_t0 = time.time()
    q, dispatcher, writes = _start(spark, tracer, dirs["live_src"],
                                   os.path.join(dirs["ckpt"], "live"), rec, trigger_once=False)
    start_at = time.time() + 1.0
    report = os.path.join(work, "gen.json")
    gen = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(__file__), "inputs.py"),
        "--dir", dirs["live_src"], "--seed", str(seed), "--rate", str(RATE),
        "--tick", str(TICK_S), "--start-at", repr(start_at), "--ticks", str(ticks),
        "--keys", str(KEYS), "--report", report,
    ])
    total = ticks * per_tick
    processed = 0
    try:
        gen.wait(timeout=WARMUP_S + seconds + 30)
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline and q.exception() is None and q.isActive:
            processed = sum(p["numInputRows"] for p in sparkstats.progress(q))
            if processed >= total:
                break
            time.sleep(0.2)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        died = q.exception()
        _stop_idle(q)
        live_progress = sparkstats.progress(q)
        live_t1 = time.time()
    with open(report) as f:
        gen_report = json.load(f)
    _log(f"live: {processed}/{total} events processed, query error: {died}")
    _log("live triggers " + str([
        (round(_epoch(p["timestamp"]) - start_at, 2), p["numInputRows"], p["durationMs"]["triggerExecution"])
        for p in live_progress]))

    lo, hi = start_at + WARMUP_S, start_at + WARMUP_S + seconds
    latencies = []
    for t, rows in rec.calls:
        for rule, _, outcome, _, _, last in rows:
            if rule != SEQ_RULE or outcome != "completed":
                continue
            created = start_at + (last // per_tick) * TICK_S
            if lo <= created < hi:
                latencies.append(t - created)

    # catch-up: drain the pre-written backlog, one file per trigger
    catchup_s, crec, cprog, cdisp = _drain_once(
        spark, tracer, dirs["backlog_src"], os.path.join(dirs["ckpt"], "catchup"),
        files_per_trigger=1)
    cdata = [p for p in cprog if p["numInputRows"] > 0]
    catchup_eps = (sum(p["numInputRows"] for p in cdata)
                   / sum(p["durationMs"]["triggerExecution"] / 1e3 for p in cdata))
    _log(f"catch-up {catchup_s:.2f}s, triggers "
         + str([(p["numInputRows"], p["durationMs"]["triggerExecution"]) for p in cprog]))

    # correctness, outside every timed window
    failed = total - processed if died is not None or processed < total else 0
    live_expected, catchup_expected = _expected(spark, [dirs["live_src"], dirs["backlog_src"]])
    failed += _check(rec, live_progress, live_expected)
    failed += _check(crec, cprog, catchup_expected)
    failed += sum(n for d in (dispatcher, cdisp) for _, _, n, _ in d.failed)
    attempted = total + BACKLOG_EVENTS
    _log(f"checked: {failed} failed of {attempted}")
    if not latencies:
        failed = max(failed, 1)

    e2e = {
        "setup_s": start_s + warm_s,
        "latency_p50_s": _p50(latencies),
        "latency_p90_s": percentile(latencies, 90) if latencies else 0.0,
        "events_per_s": catchup_eps,
    }
    if tracer.enabled:
        layer.update(_live_layers(tracer, live_progress, (live_t0, live_t1), cprog, gen_report,
                                  dispatcher, writes))
        layer["proc.peak_rss_mb"] = sparkstats.peak_rss_mb(spark)
    return {
        "attempted": attempted,
        "failed": min(failed, attempted),
        "e2e": e2e,
        "layer": layer,
        "info": dict(info, samples=len(latencies), catchup_wall_s=round(catchup_s, 2),
                     gen_late_s_max=gen_report["late_s_max"]),
    }


def _core_eps(seed: int) -> float:
    """``EngineCore`` fed in-process on one thread, before the JVM starts."""
    from inputs import live_tick

    return sparkstats.core_eps(rules(), [
        (e["user_id"], (e["event_id"], e["event_id"] * 500_000, e["event_type"], e["value"]))
        for k in range(100)
        for e in live_tick(seed, k, 1000, KEYS, 0.0)
    ])


def _live_layers(tracer, prog, live_span, catchup_prog, gen_report, dispatcher, writes) -> dict:
    """Per-layer metrics of the live query (``live_span`` is its start and
    stop time) and of the catch-up query, from progress events and spans."""
    data = [p for p in prog if p.get("numInputRows", 0) > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in data]  # noqa: E731
    state = [(p.get("stateOperators") or [{}])[0] for p in data]
    st = lambda k: [s.get(k, 0) for s in state]  # noqa: E731
    last_state = (prog[-1].get("stateOperators") or [{}])[0] if prog else {}

    # one span per trigger, its durationMs parts laid out as children
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    for p in prog:
        start = _epoch(p["timestamp"])
        d = p["durationMs"]
        tid = tracer.add("trigger", start, start + d.get("triggerExecution", 0) / 1e3,
                         iteration=p["batchId"])
        t = start
        for part in order:
            ms = d.get(part)
            if ms is None:
                continue
            tracer.add(f"trigger.{part}", t, t + ms / 1e3, parent=tid, iteration=p["batchId"])
            t += ms / 1e3
    # the sink runs inside addBatch: parent each sink span by containment
    adds = tracer.by_name("trigger.addBatch")
    sink = [s for s in tracer.spans if s.name in ("ActionDispatcher.__call__", "MemoryHub.absorb")]
    for s in sink:
        s.parent = next((a.id for a in adds if a.start <= s.start <= a.end), None)
    lo, hi = live_span
    dispatch = [s.duration * 1e3 for s in sink
                if s.name == "ActionDispatcher.__call__" and lo <= s.start <= hi]
    absorb = [s.duration * 1e3 for s in sink if s.name == "MemoryHub.absorb" and lo <= s.start <= hi]
    catch_prog = [p for p in catchup_prog if p.get("numInputRows", 0) > 0]
    return {
        "gen.late_s_max": gen_report["late_s_max"],
        "sources.latest_offset_ms_p50": _p50(dur("latestOffset")),
        "sources.get_batch_ms_p50": _p50(dur("getBatch")),
        "sources.backlog_rows_max": max((p["numInputRows"] for p in data), default=0),
        "streaming.triggers": len(prog),
        "streaming.rows_per_trigger_p50": _p50([p["numInputRows"] for p in data]),
        "streaming.trigger_ms_p50": _p50(dur("triggerExecution")),
        "streaming.trigger_ms_max": max(dur("triggerExecution"), default=0),
        "streaming.add_batch_ms_p50": _p50(dur("addBatch")),
        "streaming.planning_ms_p50": _p50(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": _p50(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": _p50(dur("commitOffsets")),
        "streaming.catchup_trigger_ms": median(
            [p["durationMs"]["triggerExecution"] for p in catch_prog]) if catch_prog else 0,
        "state.all_updates_ms_p50": _p50(st("allUpdatesTimeMs")),
        "state.commit_ms_p50": _p50(st("commitTimeMs")),
        "state.rows_updated_p50": _p50(st("numRowsUpdated")),
        "state.rows_total": last_state.get("numRowsTotal", 0),
        "state.memory_bytes": last_state.get("memoryUsedBytes", 0),
        "state.rows_dropped_by_watermark": sum(st("numRowsDroppedByWatermark")),
        "sinks.dispatch_ms_p50": _p50(dispatch),
        "sinks.actions": sum(n for _, _, n in dispatcher.completed),
        "sinks.actions_failed": sum(n for _, _, n, _ in dispatcher.failed),
        "memory.absorb_ms_p50": _p50(absorb),
        "memory.writes": sum(writes),
    }


def _epoch(iso_ts: str) -> float:
    return datetime.fromisoformat(iso_ts.replace("Z", "+00:00")).timestamp()
