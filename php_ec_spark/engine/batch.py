"""Batch correlation engine.

Faithful re-expression of the reference's event loop
(CorrelationEngine.php:171-328) as a Spark job:

- Events are partitioned by the rule's correlation key (``groupBy(key)``)
  and processed in event-time order inside each partition — this preserves
  the reference's per-key serial semantics while giving data parallelism
  the single-threaded reference never had.
- Batch-clock timeout replay: before an event at time *t* is applied, every
  pending timeout with deadline ≤ *t* − 1 ms fires
  (CorrelationEngine.php:191-202) — deterministic, oracle-checkable.
- Rule priority and EVENT_SUPPRESS short-circuiting follow rule-list order
  (CorrelationEngine.php:231-236); per-class dedup: an event consumed by an
  existing instance of rule R does not start a new R instance
  (CorrelationEngine.php:252-254).

Two physical strategies:

1. ``compile_sequence`` (relational.py) — pure window-function plan
   for sequence+timeout rules. No Python in the hot path;
   one shuffle on the key; scales to arbitrary data.
2. ``correlate_state_machine`` — general path: ``applyInPandas`` running the
   state machine per key. Python, but Arrow-batched and embarrassingly
   parallel across keys (key cardinality grows with data scale — see
   TESTDATA: 150 users @ sf0.01 → 1 500 @ sf0.1). Skewed keys are handled
   by AQE; a pathological single hot key degrades to one task, same as the
   reference's single thread.

The engine picks strategy 1 automatically when semantics allow.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..rules.base import EVENT_MATCH_ANY, Rule
from .core import EngineCore

#: Output schema shared by every strategy (and the streaming engine).
EMISSION_SCHEMA = T.StructType(
    [
        T.StructField("rule", T.StringType()),
        T.StructField("key", T.StringType()),
        # completed|timeout|progress|final|error ('error' = quarantined
        # rule callback/accept failure — see core.py)
        T.StructField("outcome", T.StringType()),
        T.StructField("fire_ts", T.TimestampType()),
        T.StructField("start_event_id", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("payload", T.StringType()),
    ]
)


_OUT_COLS = [
    "rule", "key", "outcome", "fire_ts", "start_event_id",
    "last_event_id", "n_events", "value_sum", "payload",
]


def check_unique_rule_names(rules: Sequence[Rule]) -> None:
    """Emissions (and EngineCore's live-instance lists) are keyed by rule
    name — duplicates would silently merge state across rules. The
    reference throws on duplicate rule registration too
    (EngineTest::testEngineThrowsOnDuplicateRuleClassString); every
    public entry point calls this."""
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate rule names: {dupes}")


def _rows_to_pdf(rows: list) -> pd.DataFrame:
    out = pd.DataFrame(rows, columns=_OUT_COLS)
    if len(out):
        out["fire_ts"] = pd.to_datetime(out["fire_ts"], unit="ns")
    else:
        out["fire_ts"] = pd.Series([], dtype="datetime64[ns]")
    return out


def _make_partition_runner(rules: Sequence[Rule], historical: bool):
    """mapInPandas runner over a key-partitioned, (key, ts, event_id)-sorted
    partition: consecutive rows of one key feed one EngineCore; a key
    change finishes the previous core. ONE Python/Arrow boundary per
    partition instead of one per correlation key — per-group pandas
    overhead was the dominant cost of the stateful path (measured ~3×)."""

    def run(batches):
        core: Optional[EngineCore] = None
        cur_key = None
        last_ts = 0
        pending: list = []

        for pdf in batches:
            ts_ns = pdf["ts"].astype("int64").to_numpy()
            eids = pdf["event_id"].to_numpy()
            etypes = pdf["event_type"].to_numpy()
            values = pdf["value"].to_numpy()
            keys = pdf["__key"].to_numpy(dtype=object)
            for i in range(len(pdf)):
                k = keys[i]
                if core is None or k != cur_key:
                    if core is not None:
                        core.finish(last_ts)
                        pending.extend(core.take_rows())
                    core = EngineCore(rules, k, historical=historical)
                    cur_key = k
                t = int(ts_ns[i])
                last_ts = t
                v = values[i]
                core.handle(
                    (int(eids[i]), t, etypes[i], None if v != v else v)
                )
            if pending:
                yield _rows_to_pdf(pending)
                pending = []
        if core is not None:
            core.finish(last_ts)
            pending.extend(core.take_rows())
        if pending or core is None:
            yield _rows_to_pdf(pending)

    return run


def correlate_state_machine(
    events: DataFrame,
    rules: Sequence[Rule],
    historical: bool = False,
    skew_warn_ratio: Optional[float] = None,
) -> DataFrame:
    """General path: partition by correlation key, run the state machine
    over each key's time-ordered rows.

    ``skew_warn_ratio`` (opt-in; costs one extra aggregation job) runs
    :func:`php_ec_spark.metrics.warn_if_skewed` per key column before
    compiling — a key holding that fraction of rows degrades this path
    toward one task (keys never split), and the warning names the
    mitigations (finer key; ``layout.with_salt``/``salted_agg`` for
    keyless commutative aggregates).

    Physical shape: ``repartition(key) → sortWithinPartitions(key, ts,
    event_id) → mapInPandas`` — one shuffle (same as groupBy) but the
    Python boundary is per PARTITION, not per key, so millions of small
    correlation keys cost ~zero marginal overhead. Keys never span
    partitions (hash partitioning), and consecutive-key iteration inside
    the runner reproduces per-key serial, time-ordered processing exactly.

    Rules sharing a key column run in ONE pass so suppression / rule-order
    semantics hold across them. Rules with different keys run in separate
    passes (suppression across differently-keyed rules is rejected — it
    would require a global serial order that does not scale).
    """
    if not rules:
        return events.sparkSession.createDataFrame([], EMISSION_SCHEMA)
    check_unique_rule_names(rules)
    by_key: dict[Optional[str], list[Rule]] = {}
    for r in rules:
        by_key.setdefault(r.key, []).append(r)
    if len(by_key) > 1 and any(r.suppress for r in rules):
        raise ValueError("suppressing rules must share one correlation key column")

    from ..session import shuffle_partitions

    spark = events.sparkSession
    n_parts = shuffle_partitions(spark)

    outs = []
    for key_col, group_rules in by_key.items():
        needed_types = set()
        unrestricted = False
        for r in group_rules:
            for g in r.events:
                if EVENT_MATCH_ANY in g:
                    unrestricted = True
                needed_types.update(g)
        src = events
        if not unrestricted:
            # prune the scan: only event types any rule can consume
            src = src.filter(F.col("event_type").isin(sorted(needed_types)))
        if skew_warn_ratio is not None and key_col is not None:
            # measure the stream this path actually shuffles — the
            # type-FILTERED rows; the raw table's hot key may be cold here
            # (and vice versa)
            from ..metrics import warn_if_skewed

            warn_if_skewed(src, key_col, warn_ratio=skew_warn_ratio)
        key_expr = (
            F.col(key_col).cast("string") if key_col is not None else F.lit(None).cast("string")
        )
        src = src.select(
            key_expr.alias("__key"), "event_id", "ts", "event_type", "value"
        )
        part = src.repartition(n_parts, "__key").sortWithinPartitions(
            "__key", "ts", "event_id"
        )
        runner = _make_partition_runner(list(group_rules), historical)
        outs.append(part.mapInPandas(runner, schema=EMISSION_SCHEMA))

    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def correlate(events: DataFrame, rules: Sequence[Rule], historical: bool = False) -> DataFrame:
    """Run rules over a batch event stream, choosing the best physical plan
    per rule: relational window plan for simple 2-step sequences, state
    machine otherwise. Emissions share EMISSION_SCHEMA across strategies."""
    from .relational import (
        compile_gap_sessions,
        compile_keyed_counter,
        compile_keyless_counter,
        compile_sequence,
        compile_single_match,
        is_gap_sessions,
        is_keyed_counter,
        is_keyless_counter,
        is_relational_compilable,
        is_single_match,
    )

    if not rules:
        return events.sparkSession.createDataFrame([], EMISSION_SCHEMA)
    check_unique_rule_names(rules)
    if any(r.suppress for r in rules):
        # suppression makes rule-list order semantic across ALL rules
        # (CorrelationEngine.php:231-236). Stateless rule sets compile to
        # priority routing; anything stateful needs one serial pass.
        from .relational import compile_priority_suppress, is_priority_suppress_set

        if is_priority_suppress_set(rules):
            return compile_priority_suppress(events, rules)
        return correlate_state_machine(events, rules, historical=historical)

    def _fast(r: Rule) -> bool:
        # historical replay with HISTORICAL_IGNORE_TIMEOUT keeps instances
        # alive past their deadline (AEventProcessor.php:377-383) — the
        # window plan can't express that, so route to the state machine.
        if historical and r.historical_ignore_timeout and r.timeout_s is not None:
            return False
        return is_relational_compilable(r)

    relational = [r for r in rules if _fast(r)]
    general = [r for r in rules if not _fast(r)]
    outs = [
        compile_keyless_counter(events, r) if is_keyless_counter(r)
        else compile_keyed_counter(events, r) if is_keyed_counter(r)
        else compile_single_match(events, r) if is_single_match(r)
        else compile_gap_sessions(events, r) if is_gap_sessions(r)
        else compile_sequence(events, r)
        for r in relational
    ]
    if general:
        outs.append(correlate_state_machine(events, general, historical=historical))
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result
