"""Relational fast path: compile simple sequence rules to window plans.

A 2-group sequence rule with timeout — the reference's canonical
CheckOrderPayment pattern (examples/online_shop/rules/CheckOrderPayment.php:
EVENTS [['shop:order:placed'],['shop:order:paid']], TIMEOUT 'PT20S', keyed by
orderid) — has fully relational semantics:

    for every A event e:  let f = first B event after e (same key)
        f exists and f.ts ≤ e.ts + timeout  → completed, fired at f.ts
        otherwise                            → timeout,   fired at e.ts + timeout

("first B after e" uses stream order (ts, event_id); the acceptEventTime
check (AEventProcessor.php:357-396) rejects any B after the deadline, and
since the FIRST B is the earliest one, later Bs can never complete an
instance the first B couldn't.)

This compiles to ONE window function over ONE shuffle on the key — no join,
no Python, whole-stage codegen throughout. At 100 TB this is the plan you
want: shuffle is proportional to the A/B event subset (type filter is pushed
to the parquet scan), and the per-key window is streamed, not materialized.

Requires group types to be distinct: for A→A sequences the reference's
per-class dedup (CorrelationEngine.php:252-254) pairs events disjointly,
which a window cannot express — those fall back to the state machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules.base import EVENT_MATCH_ANY, Rule


def is_relational_compilable(rule: Rule) -> bool:
    if is_keyless_counter(rule) or is_keyed_counter(rule):
        return True
    if rule.emit_progress or rule.emit_final or rule.on_complete or rule.on_timeout:
        return False
    if is_single_match(rule):
        return True
    if is_gap_sessions(rule):
        return True
    # chain trimming (trimEventChain, AEventProcessor.php:321-332) changes
    # n_events/start/value_sum of emissions — state-machine only.
    if rule.chain_limit is not None:
        return False
    if not rule.is_simple_sequence or len(rule.events) < 2:
        return False
    # repeated types re-enter per-class dedup (CorrelationEngine.php:252-254):
    # an event consumed mid-chain must not seed a new instance — only the
    # state machine models that.
    types = [g[0] for g in rule.events]
    return len(set(types)) == len(types)


def is_gap_sessions(rule: Rule) -> bool:
    """Keyed continuous matcher with a timeout = session-gap detection (J4/
    W6): one timeout emission per session whose chain is the whole session.
    Relational form: lag-gap → running session id → per-session aggregate."""
    return (
        rule.continuous
        and rule.timeout_s is not None
        and rule.key is not None
        and len(rule.events) == 1
        and rule.chain_limit is None
        and rule.accept is None
        and not rule.suppress
        and not rule.emit_progress
        and not rule.emit_final
        and rule.on_complete is None
        and rule.on_timeout is None
    )


def is_single_match(rule: Rule) -> bool:
    """MatchSingle (Rule/MatchSingle.php:22-33): one group, completes on the
    first accepted event — pure stateless filter, one emission per event.
    Keyless ('*'-style LogEverything) rules compile here too: no state means
    no partitioning requirement, so they stay an embarrassingly parallel
    scan instead of a single-partition state machine."""
    return (
        len(rule.events) == 1
        and not rule.continuous
        and not rule.suppress
        and rule.accept is None
    )


def _is_counter_shape(rule: Rule) -> bool:
    """Continuous counter — the incrStat shape: an instance consuming
    every matching event forever, reported once at end-of-stream. ONE
    predicate for both the keyed and keyless variants so the admission
    criteria can never drift apart."""
    return (
        rule.continuous
        and rule.timeout_s is None
        and rule.chain_limit is None
        and len(rule.events) == 1
        and rule.accept is None
        and not rule.suppress
        and rule.emit_final
        and not rule.emit_progress
        and rule.on_complete is None
        and rule.on_timeout is None
    )


def is_keyless_counter(rule: Rule) -> bool:
    """Keyless counter (LogEverything): compiles to a plain
    ``agg()`` (map-side partial aggregation), NOT the single-partition
    ordered state machine — the scale fix for un-keyed wildcard rules."""
    return rule.key is None and _is_counter_shape(rule)


def is_keyed_counter(rule: Rule) -> bool:
    """Keyed counter — per-key incrStat, ``groupBy(key).agg(...)``
    instead of the per-key state machine. The skew story is the point:
    every aggregate here (count, sum, min_by, max_by, max) supports
    MAP-SIDE PARTIAL AGGREGATION, so a 50% hot key shuffles one partial
    row per input partition, not 50% of the data to one straggler task —
    Catalyst's two-stage HashAggregate is the salted_agg pattern built in
    (pinned by tests/test_plans.py::TestCounterSkewPlans). Rules that
    need ordered per-event state (chain trims, timeouts, callbacks) keep
    the state machine, where a hot key genuinely serializes and
    ``metrics.warn_if_skewed`` flags it."""
    return rule.key is not None and _is_counter_shape(rule)


def _key_expr(rule: Rule):
    if rule.key is None:
        return F.lit(None).cast("string").alias("key")
    return F.col(rule.key).cast("string").alias("key")


# --- SQL-string expression builders (round 17) -----------------------------
#
# Every pyspark Column operation is ONE blocking py4j round-trip; the
# sequence/emission compilers built CASE trees out of dozens of them, and a
# profiled correlate() construction spent >80% of its driver wall in ~1,600
# socket round-trips (guide §1.2: the driver must not be the bottleneck).
# Building each output column as a single SQL string and parsing it JVM-side
# with one F.expr/selectExpr call produces the SAME analyzed expressions —
# the Column API and the SQL parser meet in the identical unresolved tree —
# at ~1 round-trip per column instead of one per tree node. Oracle parity
# re-proves result identity for every compiled shape.


def _sql_lit(s: str) -> str:
    """SQL single-quoted string literal (default Spark escape rules)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_key(rule: Rule) -> str:
    if rule.key is None:
        return "CAST(NULL AS STRING) AS key"
    return f"CAST(`{rule.key}` AS STRING) AS key"


def _type_filter(events: DataFrame, group) -> DataFrame:
    if EVENT_MATCH_ANY in group:
        return events
    in_list = ", ".join(_sql_lit(t) for t in sorted(group))
    return events.filter(F.expr(f"event_type IN ({in_list})"))


def compile_single_match(events: DataFrame, rule: Rule) -> DataFrame:
    """MatchSingle compiles to filter+project — stays fully in codegen."""
    src = _type_filter(events, rule.events[0])
    return src.selectExpr(
        f"{_sql_lit(rule.name)} AS rule",
        _sql_key(rule),
        "'completed' AS outcome",
        "ts AS fire_ts",
        "event_id AS start_event_id",
        "event_id AS last_event_id",
        "CAST(1 AS BIGINT) AS n_events",
        "value AS value_sum",
        "CAST(NULL AS STRING) AS payload",
    )


def _compile_counter(events: DataFrame, rule: Rule) -> DataFrame:
    """Shared counter plan (keyed AND keyless — one implementation so the
    emission semantics can never diverge between the two).

    Matches the state machine's final emission exactly: chain length /
    value sum / first & last consumed event in stream order (ts,
    event_id), fired at the last consumed event's timestamp. Keyless
    emits nothing on an empty input (no instance was ever started);
    keyed groups only ever contain matching rows, so no filter needed."""
    src = _type_filter(events, rule.events[0])
    aggs = [
        F.expr("count(1)").alias("n_events"),
        F.expr("sum(value)").alias("value_sum"),
        F.expr("min_by(event_id, struct(ts, event_id))").alias("start_event_id"),
        F.expr("max_by(event_id, struct(ts, event_id))").alias("last_event_id"),
        F.expr("max(ts)").alias("fire_ts"),
    ]
    if rule.key is None:
        agg = src.agg(*aggs).filter(F.expr("n_events > 0"))
    else:
        agg = src.groupBy(
            F.expr(f"CAST(`{rule.key}` AS STRING)").alias("key")
        ).agg(*aggs)
    return agg.selectExpr(
        f"{_sql_lit(rule.name)} AS rule",
        "CAST(NULL AS STRING) AS key" if rule.key is None else "key",
        "'final' AS outcome",
        "fire_ts",
        "start_event_id",
        "last_event_id",
        "CAST(n_events AS BIGINT) AS n_events",
        "CAST(value_sum AS DOUBLE) AS value_sum",
        "CAST(NULL AS STRING) AS payload",
    )


def compile_keyless_counter(events: DataFrame, rule: Rule) -> DataFrame:
    """Keyless continuous counter → global aggregate with partial combine."""
    return _compile_counter(events, rule)


def compile_keyed_counter(events: DataFrame, rule: Rule) -> DataFrame:
    """Keyed continuous counter → two-stage hash aggregate (partial merge
    map-side). One 'final' emission per key."""
    return _compile_counter(events, rule)


def compile_sequence(events: DataFrame, rule: Rule) -> DataFrame:
    """Window plan for an N-step sequence A→B→…→Z with per-step timeout.

    ONE shuffle on the key, NO joins, any N: each starter row gets the
    per-key sorted array of each successor type's (ts, id, value) structs
    (whole-partition window aggregates — the same single exchange), and the
    chain is chased with JVM array HOFs: step i+1 = first element of its
    type's array strictly after step i in (ts, event_id) stream order.
    The n² successor space never materializes as rows; per-key arrays are
    bounded by that key's own event count (funnel keys are users/sessions,
    so small — a hot key degrades this scan exactly as it degrades the
    window sort it replaced). No Python anywhere; per-step timeout
    semantics are exactly acceptEventTime (AEventProcessor.php:357-396):
    step i+1 accepted iff its ts ≤ step_i.ts + timeout; the first failing
    step times the instance out at step_i.ts + timeout (fired there even
    past end-of-stream, matching the batch drain).
    """
    # guard against MISUSE of this public export, not just the umbrella
    # predicate: counter/single-match/gap shapes pass
    # is_relational_compilable but compile to DIFFERENT plans — feeding
    # one here would silently emit wrong results (e.g. a gap rule's n=1
    # makes every event 'completed')
    if not is_relational_compilable(rule) or any(
        p(rule)
        for p in (is_keyless_counter, is_keyed_counter, is_single_match,
                  is_gap_sessions)
    ):
        raise ValueError(
            f"rule {rule.name!r} is not a sequence shape — use "
            "correlate(), which dispatches every rule to its strategy"
        )
    types = [g[0] for g in rule.events]
    n = len(types)
    succ_types = sorted(set(types[1:]))  # bound ONCE: three uses below
    key = rule.key
    timeout_s = rule.timeout_s

    # Every column below is built as ONE SQL string parsed JVM-side
    # (round 17): the Column-API formulation of these CASE/HOF trees cost
    # one blocking py4j round-trip per tree NODE -- ~1,600 socket round
    # trips per correlate() construction, >80% of the driver build wall
    # in profiles (guide §1.2: the driver must not be the bottleneck).
    # The SQL parser and the Column API meet in the same unresolved
    # expression tree, so the analyzed plan -- and the results -- are
    # identical; oracle parity re-proves it per compiled shape.
    in_list = ", ".join(_sql_lit(t) for t in types)
    relevant = events.filter(F.expr(f"event_type IN ({in_list})")).select(
        key, "event_id", "ts", "event_type", "value"
    )
    # per-key successor arrays: one unordered whole-partition window frame
    # per distinct successor type, all in the same exchange; ONE batched
    # withColumns call for all of them (each withColumn is an eager JVM
    # analysis pass over the whole plan)
    base = relevant.withColumns(
        {
            f"__arr_{t}": F.expr(
                f"sort_array(collect_list(CASE WHEN event_type = {_sql_lit(t)} "
                f"THEN struct(ts, event_id, value) END) "
                f"OVER (PARTITION BY `{key}`))"
            )
            for t in succ_types
        }
    )

    cur = base.filter(F.expr(f"event_type = {_sql_lit(types[0])}")).selectExpr(
        f"CAST(`{key}` AS STRING) AS key",
        "event_id AS e0_id",
        "ts AS e0_ts",
        "value AS e0_val",
        *[f"`__arr_{t}`" for t in succ_types],
    )

    if timeout_s is not None:
        # mirrors F.make_interval(secs=F.lit(float(timeout_s))): the D
        # suffix pins a DOUBLE literal, exactly what F.lit(float) binds
        interval = f"make_interval(0, 0, 0, 0, 0, 0, {float(timeout_s)!r}D)"

    for i in range(1, n):
        # first array element strictly after (ts, id) in stream order; the
        # array is sorted, get() returns null past the end (ANSI-safe)
        succ = (
            f"get(filter(`__arr_{types[i]}`, x -> x.ts > e{i-1}_ts OR "
            f"(x.ts = e{i-1}_ts AND x.event_id > e{i-1}_id)), 0)"
        )
        # step acceptance folded into a SECOND batched withColumns pass
        # (it references the just-bound e{i}_ts): a failed step nulls the
        # rest of the chain
        cur = cur.withColumns(
            {
                f"e{i}_ts": F.expr(f"{succ}.ts"),
                f"e{i}_id": F.expr(f"{succ}.event_id"),
                f"e{i}_val": F.expr(f"{succ}.value"),
            }
        )
        if timeout_s is not None:
            ok = f"e{i}_ts IS NOT NULL AND e{i}_ts <= e{i-1}_ts + {interval}"
        else:
            ok = f"e{i}_ts IS NOT NULL"
        cur = cur.withColumns(
            {
                c: F.expr(f"CASE WHEN {ok} THEN {c} END")
                for c in (f"e{i}_ts", f"e{i}_id", f"e{i}_val")
            }
        )
    cur = cur.drop(*[f"__arr_{t}" for t in succ_types])

    # consumed = 1 + number of non-null chain steps
    consumed = "(1" + "".join(
        f" + (CASE WHEN e{i}_id IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(1, n)
    ) + ")"
    completed = f"e{n-1}_id IS NOT NULL"

    def per_fail(expr_fn) -> str:
        """CASE over the failing step: value when `consumed == i` events."""
        whens = "".join(
            f" WHEN {consumed} = {i} THEN {expr_fn(i)}" for i in range(1, n)
        )
        return f"(CASE{whens} ELSE {expr_fn(n)} END)"

    if timeout_s is not None:
        fire_timeout = per_fail(lambda i: f"e{i-1}_ts + {interval}")
    else:
        fire_timeout = "CAST(NULL AS TIMESTAMP)"

    def chain_sum(i: int) -> str:
        s = " + ".join(f"coalesce(e{j}_val, 0.0D)" for j in range(i))
        any_val = " OR ".join(f"e{j}_val IS NOT NULL" for j in range(i))
        # null only when every value is null
        return f"(CASE WHEN {any_val} THEN {s} END)"

    out = cur.selectExpr(
        f"{_sql_lit(rule.name)} AS rule",
        "key",
        f"CASE WHEN {completed} THEN 'completed' ELSE 'timeout' END AS outcome",
        f"CAST(CASE WHEN {completed} THEN e{n-1}_ts ELSE {fire_timeout} END "
        "AS TIMESTAMP) AS fire_ts",
        "e0_id AS start_event_id",
        per_fail(lambda i: f"e{i-1}_id") + " AS last_event_id",
        f"CAST({consumed} AS BIGINT) AS n_events",
        f"CAST({per_fail(chain_sum)} AS DOUBLE) AS value_sum",
        "CAST(NULL AS STRING) AS payload",
    )
    if timeout_s is None:
        # never-times-out: incomplete instances wait forever, emit nothing
        out = out.filter(F.expr("outcome = 'completed'"))
    return out


def plan_report(rules, historical: bool = False) -> dict[str, str]:
    """Which physical strategy each rule compiles to — the ``.explain()``
    of the rule compiler. Keys are rule names; values are one of
    ``priority-suppress | keyless-counter | keyed-counter | single-match |
    gap-sessions | sequence-window | state-machine``."""
    from .batch import check_unique_rule_names

    # same rejection as correlate(): a name-keyed report would otherwise
    # silently collapse duplicates and hide one rule's strategy
    check_unique_rule_names(rules)
    out: dict[str, str] = {}
    if any(r.suppress for r in rules):
        strat = (
            "priority-suppress" if is_priority_suppress_set(rules) else "state-machine"
        )
        return {r.name: strat for r in rules}
    for r in rules:
        if historical and r.historical_ignore_timeout and r.timeout_s is not None:
            out[r.name] = "state-machine"
        elif is_keyless_counter(r):
            out[r.name] = "keyless-counter"
        elif is_keyed_counter(r):
            out[r.name] = "keyed-counter"
        elif not is_relational_compilable(r):
            out[r.name] = "state-machine"
        elif is_single_match(r):
            out[r.name] = "single-match"
        elif is_gap_sessions(r):
            out[r.name] = "gap-sessions"
        else:
            out[r.name] = "sequence-window"
    return out


def is_priority_suppress_set(rules) -> bool:
    """A rule list where suppression can be compiled relationally: every
    rule is a stateless single match (possibly suppressing). Suppression
    order then reduces to per-event priority routing — an event is handled
    by each matching rule up to and including the FIRST matching suppressor
    (CorrelationEngine.php:231-236) — no state machine required."""
    return len(rules) > 0 and all(
        len(r.events) == 1
        and not r.continuous
        and r.accept is None
        and not r.emit_progress
        and not r.emit_final
        and r.on_complete is None
        and r.on_timeout is None
        for r in rules
    )


def compile_priority_suppress(events: DataFrame, rules) -> DataFrame:
    """Relational plan for suppressing single-match rule sets.

    For each rule i: emit iff the event matches rule i AND no
    earlier-or-equal suppressing rule j < i matched. One scan, N filtered
    projections unioned, zero shuffles, codegen throughout — the
    LogEverything-behind-a-suppressor pattern at full scan speed."""

    def matches(rule: Rule):
        group = rule.events[0]
        if EVENT_MATCH_ANY in group:
            return F.lit(True)
        return F.col("event_type").isin(list(group))

    outs = []
    for i, rule in enumerate(rules):
        cond = F.lit(True)
        for earlier in rules[:i]:
            if earlier.suppress:
                cond = cond & ~matches(earlier)
        # delegate the emission projection to compile_single_match — the
        # only difference here is the suppressor-exclusion pre-filter, and
        # a duplicated projection would let the two stateless paths'
        # schemas drift apart silently
        outs.append(compile_single_match(events.filter(cond), rule))
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def compile_gap_sessions(events: DataFrame, rule: Rule) -> DataFrame:
    """Sessionization plan for continuous-with-timeout rules (J4/W6).

    lag-gap flags a session start strictly after the gap exceeds the
    timeout (state machine: accepted iff ts ≤ last + T), a running sum
    numbers sessions, and one aggregate per (key, session) emits the
    timeout row at last_ts + T — including the final drain session
    (CorrelationEngine batch drain at end of stream). Two shuffles total
    (window on key, agg on key+session), no Python.
    """
    assert is_gap_sessions(rule), rule
    key = rule.key
    # SQL-string columns, same rationale as compile_sequence (round 17):
    # one py4j round-trip per column instead of one per expression node
    interval = f"make_interval(0, 0, 0, 0, 0, 0, {float(rule.timeout_s)!r}D)"
    # event_type deliberately dropped: nothing downstream reads it, and
    # it would otherwise ride the shuffle + window sort on every row
    src = _type_filter(events, rule.events[0]).select(
        key, "event_id", "ts", "value"
    )
    w = f"OVER (PARTITION BY `{key}` ORDER BY ts, event_id)"
    # the two lag(ts) references are expression-equal, so the analyzer
    # computes ONE lag in the window stage (same as binding it to a
    # variable in the Column API)
    new_sess = (
        f"CASE WHEN lag(ts) {w} IS NULL OR ts > lag(ts) {w} + {interval} "
        "THEN 1 ELSE 0 END"
    )
    sess = (
        f"sum({new_sess}) OVER (PARTITION BY `{key}` ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        src.withColumn("__sess", F.expr(sess))
        .groupBy(key, "__sess")
        .agg(
            F.expr(f"max(ts) + {interval}").alias("fire_ts"),
            F.expr("min_by(event_id, struct(ts, event_id))").alias(
                "start_event_id"
            ),
            F.expr("max_by(event_id, struct(ts, event_id))").alias(
                "last_event_id"
            ),
            F.expr("count(1)").alias("n_events"),
            F.expr("sum(value)").alias("value_sum"),
        )
        .selectExpr(
            f"{_sql_lit(rule.name)} AS rule",
            f"CAST(`{key}` AS STRING) AS key",
            "'timeout' AS outcome",
            "CAST(fire_ts AS TIMESTAMP) AS fire_ts",
            "start_event_id",
            "last_event_id",
            "CAST(n_events AS BIGINT) AS n_events",
            "CAST(value_sum AS DOUBLE) AS value_sum",
            "CAST(NULL AS STRING) AS payload",
        )
    )
