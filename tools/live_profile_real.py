"""Profile the REAL correlate_stream handler per-partition cost.

Wraps engine.streaming._make_stateful_handler with in-worker timing
(first-call-in-task vs later calls) to separate per-task setup
(closure unpickle, module import) from per-key handler work.

Run from the repo root (workers import the package, so it must be on
PYTHONPATH): ``PYTHONPATH=. SPARK_GRAFT_CPUS=4 python
tools/live_profile_real.py <events> <partitions>...``
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402

from php_ec_spark.engine.batch import EMISSION_SCHEMA  # noqa: E402
from php_ec_spark.engine.streaming import (  # noqa: E402
    STATE_SCHEMA,
    _key_projection,
    _make_stateful_handler,
)
from php_ec_spark.rules import sequence_rule  # noqa: E402
from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: E402

from live_profile import make_events_file, summarize  # noqa: E402


def timed(handler, spool):
    state = {"first": True, "t_task": None}

    def wrapped(key, pdfs, gs):
        t0 = time.perf_counter()
        out = list(handler(key, pdfs, gs))
        dt = time.perf_counter() - t0
        tag = "F" if state["first"] else "c"
        state["first"] = False
        with open(os.path.join(
                spool, f"{os.getpid()}_{time.monotonic_ns()}_{tag}"), "w") as f:
            f.write(f"{dt}\n")
        yield from out
    return wrapped


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    parts_list = [int(x) for x in sys.argv[2:]] or [8, 32]

    work = tempfile.mkdtemp(prefix="liveprofr_")
    src = os.path.join(work, "src")
    make_events_file(src, n)

    spark = (
        SparkSession.builder.appName("live-profile-real")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    rules = [sequence_rule("seq", ["signup", "click", "purchase"],
                           key="user_id", timeout="PT12H")]

    for parts in parts_list:
        for rep in range(2):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            ck = os.path.join(work, f"ck_{parts}_{rep}")
            spool = os.path.join(work, f"spool_{parts}_{rep}")
            os.makedirs(spool, exist_ok=True)
            handler = timed(
                _make_stateful_handler(rules, clock="event"), spool)
            df = _key_projection(
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, "
                    "event_type string, value double, props string")
                .json(src)
                .withWatermark("ts", "1 hour"),
                "user_id",
            )
            out = df.groupBy("__key").applyInPandasWithState(
                handler, outputStructType=EMISSION_SCHEMA,
                stateStructType=STATE_SCHEMA, outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout)
            t0 = time.perf_counter()
            q = (out.writeStream.option("checkpointLocation", ck)
                 .foreachBatch(lambda bdf, bid: bdf.write.format("noop")
                               .mode("overwrite").save())
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            wall = time.perf_counter() - t0
            if q.exception():
                raise q.exception()
            first, cont = [], []
            for fn in os.listdir(spool):
                with open(os.path.join(spool, fn)) as f:
                    v = float(f.read().strip())
                (first if fn.endswith("_F") else cont).append(v)
            print(json.dumps({
                "tag": f"real p={parts} rep={rep}",
                "first_call_count": len(first),
                "first_call_total_s": round(sum(first), 2),
                "first_call_max_s": round(max(first), 3) if first else None,
                "cont_call_count": len(cont),
                "cont_call_total_s": round(sum(cont), 2),
            }))
            summarize(f"real p={parts} rep={rep}", wall,
                      q.recentProgress or [], first + cont, n)

    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
