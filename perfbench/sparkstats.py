"""Session start and the Spark-side counters the benchmark reads from
outside the program: the AppStatusStore (jobs, stages, tasks, executor
time, shuffle bytes), streaming query progress, plan exchanges, the
peak RSS of the driver and its JVM, and the single-thread rate of the
per-key engine."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, root: str):
    """``get_spark`` on ``local[nproc]`` with every scratch path inside
    ``work``. Returns ``(spark, seconds)``."""
    # Python workers are started by the JVM and must import the package
    # from the checkout; without this they fail and a streaming query dies
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # SPARK_LOCAL_DIRS beats spark.local.dir; keep shuffle files in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from php_ec_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=nproc(),
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).collect()
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def describe(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": nproc(),
        "spark": spark.version,
    }


def digest(df: DataFrame) -> tuple[int, int, int]:
    """Order-insensitive digest of every row and column: (rows, sum of the
    low 32 bits, sum of the high 32 bits) of each row's xxhash64. Doubles
    are rounded to 6 decimals so summation order cannot flip a digest.
    Reading every column is what materializes the whole output."""
    cols = [
        F.round(F.col(f.name), 6) if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        else F.col(f.name)
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols)
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftright(F.col("h"), 32)), F.lit(0)).alias("hi"),
    ).collect()[0]
    return int(row["n"]), int(row["lo"]), int(row["hi"])


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the physical plan (broadcasts excluded)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1 for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


class StatusWindow:
    """Jobs, stages, tasks and executor metrics of everything Spark ran
    between :meth:`mark` and :meth:`delta`, from the AppStatusStore."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm = sc._jvm
        self._empty = jvm.java.util.ArrayList
        self._quantiles = sc._gateway.new_array(jvm.double, 0)
        self._stage0 = self._job0 = -1

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self):
        st = self._store.stageList(
            self._empty(), False, False, self._quantiles, self._empty()
        )
        return [st.apply(i) for i in range(st.size())]

    def _jobs(self):
        js = self._store.jobsList(self._empty())
        return [js.apply(i) for i in range(js.size())]

    def mark(self) -> None:
        self._drain()
        self._stage0 = max((s.stageId() for s in self._stages()), default=-1)
        self._job0 = max((j.jobId() for j in self._jobs()), default=-1)

    def delta(self) -> dict:
        self._drain()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "exec_run_s": 0.0,
               "jvm_cpu_s": 0.0, "shuffle_bytes": 0}
        for s in self._stages():
            if s.stageId() <= self._stage0:
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["exec_run_s"] += s.executorRunTime() / 1e3
            out["jvm_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_bytes"] += s.shuffleWriteBytes()
        out["jobs"] = sum(1 for j in self._jobs() if j.jobId() > self._job0)
        return out


def progress(query) -> list[dict]:
    """The query's retained ``StreamingQueryProgress`` events as dicts."""
    out = []
    for p in query.recentProgress or []:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def _vm_hwm_mb(pid: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM."""
    jvm_pid = str(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)


def shutdown(timeout_s: float = 30.0) -> None:
    """Stop the session and wait until its JVM has exited; the Python
    workers exit with it. A no-op without a JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None


def core_eps(rules, events) -> float:
    """Events per second of ``EngineCore`` fed in-process on one thread:
    ``events`` are ``(key, (event_id, ts_ns, event_type, value))`` pairs in
    time order."""
    from php_ec_spark.engine.core import EngineCore

    cores: dict = {}
    t0 = time.perf_counter()
    for key, ev in events:
        core = cores.get(key)
        if core is None:
            core = cores[key] = EngineCore(rules, key)
        core.handle(ev)
    return len(events) / (time.perf_counter() - t0)


_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration_metric(text: str) -> float:
    """Seconds from a formatted SQL timing metric: either ``"1.2 s"`` or
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (0.1 s, ...)"``."""
    value, unit = text.strip().splitlines()[-1].split()[:2]
    return float(value) * _DURATION_UNITS[unit]


class SqlWindow:
    """Sums one SQL metric by display name over the SQL executions that
    started after :meth:`mark` (SQLAppStatusStore, the SQL tab's source)."""

    def __init__(self, spark, metric: str):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._asjava = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._metric = metric
        self._exec0 = -1

    def _executions(self):
        xs = self._store.executionsList()
        return [xs.apply(i) for i in range(xs.size())]

    def mark(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        self._exec0 = max((e.executionId() for e in self._executions()), default=-1)

    def delta(self) -> float:
        self._jsc.listenerBus().waitUntilEmpty()
        total = 0.0
        for e in self._executions():
            if e.executionId() <= self._exec0:
                continue
            ms = e.metrics()
            accs = {
                ms.apply(i).accumulatorId() for i in range(ms.size())
                if ms.apply(i).name() == self._metric
            }
            if not accs:
                continue
            values = self._asjava(self._store.executionMetrics(e.executionId()))
            for acc, text in values.items():
                if acc in accs and text:
                    total += parse_duration_metric(text)
        return total
