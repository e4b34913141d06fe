"""``replay_history``: closed loop, one client, batch ``correlate()`` over a
seeded history table.

Five rules on ``user_id``: two sequence-window rules, a single-match rule
and a gap-sessions rule (relational compilers), plus a chained continuous
rule (state machine). Each pass constructs the plan and materializes every
column of the output through an order-insensitive digest. The digest must
equal the digest of ``correlate_state_machine()`` over the same input,
computed once per (seed, size) outside the timed window.

Set-up is the session start plus the first, cold pass; the next passes up
to ``SETUP_PASSES`` are untimed warm-up, and the passes after them are
measured for ``--seconds``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from spans import Tracer, median, percentile
import sparkstats

N_EVENTS = 400_000  # four times the sf0.1 events table, so 6,000 users
DAYS = 30
SETUP_PASSES = 3  # the cold pass and two warm ones; pass times are level after them
MIN_PASSES = 3


def rules():
    from php_ec_spark.rules import match_single, match_single_continuously, sequence_rule

    return [
        sequence_rule("signup_purchase", ["signup", "purchase"], key="user_id", timeout="PT12H"),
        sequence_rule("view_click_purchase", ["view", "click", "purchase"], key="user_id",
                      timeout="P1D"),
        match_single("error", ["error"], key="user_id"),
        match_single_continuously(
            "sessions", ["signup", "click", "view", "purchase", "error"], key="user_id",
            timeout="PT6H",
        ),
        match_single_continuously(
            "browse_chain", ["view", "click"], key="user_id", timeout="P1D", chain_limit=8,
        ),
    ]


def _table(work: str, seed: int) -> str:
    """Write the seeded table once per (seed, size); return its directory."""
    import pyarrow.parquet as pq

    from inputs import replay_table

    d = os.path.join(work, "replay-cache", f"seed{seed}-n{N_EVENTS}-d{DAYS}")
    path = os.path.join(d, "events.parquet")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        tmp = path + ".tmp"
        pq.write_table(replay_table(seed, N_EVENTS, DAYS), tmp)
        os.rename(tmp, path)
    return d


def _oracle(spark, events, d: str) -> tuple:
    """Digest of ``correlate_state_machine()``, cached beside the table."""
    from php_ec_spark.engine import correlate_state_machine

    path = os.path.join(d, "oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    dg = sparkstats.digest(correlate_state_machine(events, rules()))
    with open(path, "w") as f:
        json.dump(dg, f)
    return dg


def count_failed(digests: list, expected) -> int:
    """Passes that raised (``None``) or whose digest differs from ``expected``."""
    return sum(1 for dg in digests if dg is None or tuple(dg) != tuple(expected))


def run(seed: int, seconds: float, tracer: Tracer, work: str, root: str,
        expected: tuple | None = None) -> dict:
    """``expected`` overrides the oracle digest (the tests corrupt it)."""
    from php_ec_spark.engine import correlate
    from php_ec_spark.model import load_events

    d = _table(work, seed)
    layer: dict[str, float] = {}
    if tracer.enabled:
        layer["core.eps_single"] = _core_eps(d)

    with tracer.span("session.get_spark"):
        spark, start_s = sparkstats.start_session(work, root)
    layer["session.start_s"] = start_s
    info = sparkstats.describe(spark)
    events = load_events(spark, d)
    window = sparkstats.StatusWindow(spark) if tracer.enabled else None
    python = sparkstats.SqlWindow(spark, "time to run Python workers") if tracer.enabled else None

    passes = []  # (construct_s, action_s, digest | None, status delta | None)

    def one_pass(i: int) -> None:
        try:
            if window is not None:
                window.mark()
                python.mark()
            with tracer.span("replay.pass", iteration=i):
                t0 = time.perf_counter()
                with tracer.span("engine.correlate", iteration=i):
                    df = correlate(events, rules())
                t1 = time.perf_counter()
                with tracer.span("action", iteration=i):
                    dg = sparkstats.digest(df)
                t2 = time.perf_counter()
            delta = window.delta() if window is not None else None
            if delta is not None:
                delta["exchanges"] = sparkstats.count_exchanges(df)
                delta["python_s"] = python.delta()
            passes.append((t1 - t0, t2 - t1, dg, delta))
            print(f"# pass {i}: construct {t1 - t0:.3f}s action {t2 - t1:.3f}s", file=sys.stderr)
        except Exception:  # a failed run counts against failed, the loop goes on
            traceback.print_exc(file=sys.stderr)
            passes.append((0.0, 0.0, None, None))

    for i in range(SETUP_PASSES):
        one_pass(i)
    cold = passes[0][0] + passes[0][1]
    t_end = time.perf_counter() + seconds
    i = SETUP_PASSES
    while time.perf_counter() < t_end or i < SETUP_PASSES + MIN_PASSES:
        one_pass(i)
        i += 1
    measured = passes[SETUP_PASSES:]

    if expected is None:
        expected = _oracle(spark, events, d)
    failed = count_failed([dg for _, _, dg, _ in passes], expected)
    ok = [(c, a, delta) for c, a, dg, delta in measured if dg is not None]
    times = [c + a for c, a, _ in ok]
    p50 = median(times) if times else 0.0  # 0 only when every pass raised

    e2e = {
        "setup_s": start_s + cold,
        "latency_p50_s": p50,
        "latency_p90_s": percentile(times, 90) if times else 0.0,
        "events_per_s": N_EVENTS / p50 if p50 else 0.0,
    }
    if tracer.enabled and ok:
        layer["session.warm_s"] = cold
        deltas = [delta for _, _, delta in ok]
        layer.update({
            "replay.construct_s": median([c for c, _, _ in ok]),
            "replay.materialize_s": median([a for _, a, _ in ok]),
            "replay.emissions": expected[0],
        })
        for k in ("exchanges", "shuffle_bytes", "exec_run_s", "jvm_cpu_s", "python_s",
                  "jobs", "stages", "tasks"):
            layer[f"replay.{k}"] = median([dl[k] for dl in deltas])
        layer["proc.peak_rss_mb"] = sparkstats.peak_rss_mb(spark)
    return {
        "attempted": len(passes),
        "failed": failed,
        "e2e": e2e,
        "layer": layer,
        "info": dict(info, passes=len(measured), events=N_EVENTS),
    }


def _core_eps(d: str) -> float:
    """``EngineCore`` fed in-process on one thread, before the JVM starts:
    the whole table, keyed by user."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(d, "events.parquet"))
    ids = t.column("event_id").to_pylist()
    ts = t.column("ts").cast("int64").to_pylist()
    types = t.column("event_type").to_pylist()
    values = t.column("value").to_pylist()
    return sparkstats.core_eps(rules(), [
        (key, (ids[i], ts[i] * 1000, types[i], values[i]))
        for i, key in enumerate(t.column("user_id").to_pylist())
    ])
