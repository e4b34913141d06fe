"""spark-ec benchmark entry point.

    python3 perfbench/run.py --workload live_feed --seed 1 --seconds 10 --trace 0

Runs one workload against the public ``php_ec_spark`` API on
``local[nproc]``, checks its output, and prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` records spans around each layer call and reports the
per-layer metrics instead (including the traced run's own end-to-end
numbers, ``trace.*``, so the tracing overhead shows against an untraced
run). Scratch files live in ``.perfbench/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: span name → per-layer self-time metric
SELF_TIMES = {
    "trigger": "self.trigger_s",
    "trigger.addBatch": "self.add_batch_s",
    "ActionDispatcher.__call__": "self.dispatch_s",
    "MemoryHub.absorb": "self.absorb_s",
    "engine.correlate": "self.correlate_s",
    "action": "self.action_s",
}


def metrics(result: dict, spec: dict, tracer, trace: bool) -> dict:
    """The metrics block: every end-to-end metric, or every per-layer one.
    A layer the workload does not reach reads 0."""
    from spans import self_time_by_name

    if not trace:
        values = result["e2e"]
        names = spec["end_to_end"]
    else:
        values = dict(result["layer"])
        values.update({f"trace.{k}": v for k, v in result["e2e"].items()})
        self_s = self_time_by_name(tracer.spans)
        for span, name in SELF_TIMES.items():
            values[name] = self_s.get(span, 0.0)
        names = spec["per_layer"]
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-ec benchmark")
    ap.add_argument("--workload", required=True, choices=("live_feed", "replay_history"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "php_ec_spark")):
        print(f"perfbench: no php_ec_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]

    import sparkstats
    from spans import Tracer

    work = os.path.join(ROOT, ".perfbench")
    for scratch in ("spark-local", "tmp"):  # left behind by a killed run
        shutil.rmtree(os.path.join(work, scratch), ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    tracer = Tracer(enabled=bool(a.trace))
    if a.workload == "live_feed":
        import live as workload
    else:
        import replay as workload
    t0 = time.perf_counter()
    try:
        result = workload.run(a.seed, a.seconds, tracer, work, ROOT)
    finally:
        sparkstats.shutdown()
    if tracer.enabled:
        tracer.dump(os.path.join(work, f"trace-{a.workload}-seed{a.seed}.json"))
    info = dict(result["info"], workload=a.workload, seed=a.seed,
                wall_s=round(time.perf_counter() - t0, 2))
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics(result, spec, tracer, bool(a.trace)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
