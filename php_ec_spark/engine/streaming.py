"""Live-mode correlation engine — Structured Streaming.

The batch engine replays history deterministically; this module runs the
SAME `EngineCore` semantics continuously via ``applyInPandasWithState``:

- per-key instance state persists in Spark's state store across
  micro-batches (replacing the reference's entire SaveHandler/restore
  subsystem, SaveHandler/FileAdapter.php:73-233, CorrelationEngine.php:
  644-766 — checkpointLocation gives crash recovery for free, W11/S9);
- event-time timers replace the reference's single earliest-deadline loop
  timer (CorrelationEngine.php:530-563, W3): each key arms its earliest
  pending deadline; when the watermark passes it, Spark calls the handler
  with ``hasTimedOut`` and due instances fire (W4 semantics at watermark
  granularity);
- the watermark is the BatchClock analog (Clocks/BatchClock.php:8-27):
  max-seen event time minus the allowed disorder.

Scale: state is partitioned by correlation key exactly like the batch
path; a micro-batch shuffles only its own rows. Keep the default
HDFS-backed state store provider for live CEP: at CEP-sized state
(hundreds of keys, KB blobs) RocksDB measured ~2x the commit cost and
~15% lower catch-up eps (tools/live_profile.py's ``rocksdb`` row); it
pays off only once key cardinality reaches millions.

Live-path cost model (re-profiled round 6, tools/live_profile*.py —
this CORRECTS round 5's "~0.5 s per state partition per batch"):

- the apparent 0.5 s/partition linear tax was NOT Spark-internal: it
  was ``ActionDispatcher`` consuming the emission batch with
  ``toLocalIterator`` on the raw stateful plan, which executes state
  partitions one job at a time (serially). Fixed by an eager
  ``localCheckpoint`` in the dispatcher (streaming/sinks.py) — the
  stateful op itself parallelizes normally;
- the true per-partition slope is ~40 ms/batch (state store
  load/commit + task overhead; 100k-event batch addBatch: ~1.3 s at
  8 partitions, ~1.9 s at 32, trivial-handler floor ~1.4/1.7 s);
- the dominant per-batch cost is PER-KEY Python handler overhead —
  profiled ~1.9 ms/key fixed before the round-6 rewrite, ~0.6 ms
  after (numpy lexsort replaces pandas sort_values, shared
  empty-emission frame replaces per-call DataFrame construction,
  one-shot ``tolist`` replaces per-element numpy boxing). Measured
  catch-up: ~85k events/s end-to-end at 8 partitions for a 400k
  batch, floor-pinned in tests/test_engine_perf.py.

``spark.sql.shuffle.partitions`` still sizes the stateful op: size it
to live key volume (keys/partition × 0.6 ms bounds addBatch), not the
batch-path default — and note Spark PINS the state partition count at
the query's FIRST start; changing it later needs a fresh checkpoint
(warm-start via snapshot/import to keep state).
"""

from __future__ import annotations

from typing import Any, Iterator, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..rules.base import Rule
from .batch import EMISSION_SCHEMA, check_unique_rule_names
from .batch import _OUT_COLS as _OUT_COLS_LIST
from .core import EngineCore

#: State persisted per correlation key: the serialized EngineCore.
STATE_SCHEMA = T.StructType([T.StructField("blob", T.StringType())])

#: Schema of a warm-start snapshot row (what :func:`snapshot_state` emits
#: and what ``correlate_stream(initial_state=...)`` expects).
SNAPSHOT_SCHEMA = "__key STRING, blob STRING"

# one source of truth with the batch engine (both must track
# EMISSION_SCHEMA's field order)
_OUT_COLS = tuple(_OUT_COLS_LIST)
_DT64NS = np.dtype("datetime64[ns]")


def _group_rules(
    rules: Sequence[Rule], clock: str = "event"
) -> dict[Optional[str], list[Rule]]:
    """Validate a live rule set and group it by correlation key column.

    Every live entry point calls this before its first side effect
    (memory bind, snapshot job, kick spool write), so a bad argument
    fails before anything is anchored to the wrong checkpoint."""
    if not rules:
        raise ValueError("correlate_stream needs at least one rule")
    if clock not in ("event", "processing"):
        # a typo must not silently pick one of the two timer semantics
        raise ValueError(
            f"clock must be 'event' or 'processing', got {clock!r}"
        )
    check_unique_rule_names(rules)
    by_key: dict[Optional[str], list[Rule]] = {}
    for r in rules:
        by_key.setdefault(r.key, []).append(r)
    return by_key


def _single_key_group(
    rules: Sequence[Rule], clock: str = "event"
) -> Tuple[Optional[str], list[Rule]]:
    """(key column, rules) of a rule set that one streaming query runs."""
    by_key = _group_rules(rules, clock)
    if len(by_key) > 1:
        # Spark allows only ONE applyInPandasWithState per streaming query
        # (UnsupportedOperationChecker: "Multiple applyInPandasWithStates
        # are not supported") — a union of stateful ops would fail at
        # query.start(). Run one streaming query per key column instead.
        raise ValueError(
            "streaming rules must share one correlation key column per "
            f"query (got {sorted(map(str, by_key))}); start a separate "
            "correlate_stream/start_correlation per key column"
        )
    (key_col, group_rules), = by_key.items()
    return key_col, group_rules


def _key_projection(events: DataFrame, key_col: Optional[str]) -> DataFrame:
    """``__key`` plus the engine columns — the ONE place the state key is
    built, shared by the live stream and :func:`snapshot_state` so restore
    blobs always find their live key.

    The key is the SPARK-cast string (what the batch engine uses too), so
    restore-blob lookup, emission keys and payload callbacks agree for
    every key type — str(True) is "True" but CAST(true AS STRING) is
    "true", and bool/decimal/timestamp keys would otherwise skip their
    restore silently. Keyless rules group on the literal ``"__all__"``.
    Aliasing also means a key that IS an engine column (e.g. event_type)
    never selects twice."""
    key_expr = (
        F.col(key_col).cast("string")
        if key_col is not None
        else F.lit("__all__")
    )
    return events.select(
        key_expr.alias("__key"), "event_id", "ts", "event_type", "value"
    )


def _make_stateful_handler(
    rules: Sequence[Rule],
    clock: str,
    keyless: bool = False,
    restore_bc=None,
    memory_path: Optional[str] = None,
):
    # Built once per task: most keys in a micro-batch emit nothing, so the
    # no-emission return is a shared pre-built frame (the Arrow serializer
    # only reads it). Fixed per-KEY pandas overhead is the live path's real
    # cost at scale — a micro-batch calls this handler once per key, and
    # profiling showed ~1.9 ms/key of it was sort_values/DataFrame.__init__/
    # to_datetime, dwarfing the actual event loop. Everything per-key below
    # is numpy-or-plain-Python on purpose.
    empty_out = pd.DataFrame({
        c: pd.Series([], dtype="datetime64[ns]" if c == "fire_ts" else "object")
        for c in _OUT_COLS
    })

    def handle(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # the projection groups on the Spark-cast string key (keyless rules
        # on the literal "__all__"), so key[0] IS the snapshot __key —
        # including None for null-key groups; no Python str() re-encoding
        if memory_path is not None:
            # point rule callbacks at the hub's latest snapshot (memory.
            # live_memory); one os.stat per call, re-parse only on change
            from ..memory import set_live_memory_path

            set_live_memory_path(memory_path)
        restore_key = key[0]
        in_restore = restore_bc is not None and restore_key in restore_bc.value
        if state.exists:
            blob = state.get[0]
        else:
            # warm start (restore-then-go-live, Scheduler.php:695-947): first
            # touch of a key whose state was snapshotted resumes its in-flight
            # instances. Only consulted while the key has NO store state —
            # once touched, restorable keys always persist at least an
            # empty-marker blob (below) so drained instances cannot
            # resurrect on a later batch.
            blob = restore_bc.value.get(restore_key) if in_restore else None
        # keyless rules group on a synthetic constant — their emissions must
        # carry key=NULL exactly like the batch engine, not the constant
        core = EngineCore.from_state(
            rules, None if keyless else key[0], blob
        )

        if state.hasTimedOut:
            # the clock passed this key's earliest deadline → alarm path
            # (CorrelationEngine.php:600-638)
            if clock == "processing":
                # TickClock (live mode): compare deadlines to wall time
                now_ns = state.getCurrentProcessingTimeMs() * 1_000_000
                core.fire_due(now_ns)
            else:
                wm_ns = state.getCurrentWatermarkMs() * 1_000_000
                core.fire_due(wm_ns if wm_ns > 0 else None)
        else:
            frames = [pdf for pdf in pdfs if len(pdf)]
            if frames:
                batch = frames[0] if len(frames) == 1 else pd.concat(frames)
                ts_col = batch["ts"].to_numpy()
                if ts_col.dtype != _DT64NS:
                    ts_col = ts_col.astype(_DT64NS)
                ts_ns = ts_col.view("i8")
                eids = batch["event_id"].to_numpy()
                etypes = batch["event_type"].to_numpy()
                values = batch["value"].to_numpy()
                # (ts, event_id) order via lexsort on the i8 views — never
                # a pandas sort_values (it lexsorts the payload columns
                # too). Arrow delivers each key's rows in shuffle order,
                # which is usually already sorted: skip the take then.
                order = np.lexsort((eids, ts_ns))
                if not np.array_equal(order, np.arange(len(order))):
                    ts_ns = ts_ns[order]
                    eids = eids[order]
                    etypes = etypes[order]
                    values = values[order]
                # one C-loop conversion to Python scalars; the event loop
                # then never pays numpy per-element boxing
                ts_l = ts_ns.tolist()
                eid_l = eids.tolist()
                et_l = etypes.tolist()
                val_l = values.tolist()
                ch = core.handle
                for i in range(len(ts_l)):
                    v = val_l[i]
                    ch((eid_l[i], ts_l[i], et_l[i],
                        None if v is not None and v != v else v))

        # re-arm the single earliest-deadline timer for this key
        nxt = core.next_deadline()
        if core.has_live():
            state.update((core.to_state(),))
            if nxt is not None:
                if clock == "processing":
                    now_ms = state.getCurrentProcessingTimeMs()
                    state.setTimeoutDuration(max(nxt // 1_000_000 - now_ms, 1))
                else:
                    wm_ms = state.getCurrentWatermarkMs()
                    # event-time timers must be > watermark; clamp forward
                    state.setTimeoutTimestamp(max(nxt // 1_000_000, wm_ms + 1))
        elif in_restore:
            # tombstone: restorable key with nothing live — keep an
            # empty-state marker (O(|snapshot|) store entries) so the
            # broadcast snapshot is never re-applied after a drain
            state.update(("",))
        elif state.exists:
            state.remove()

        rows = core.take_rows()
        if not rows:
            yield empty_out
            return
        cols = list(zip(*rows))
        data = dict(zip(_OUT_COLS, cols))
        data["fire_ts"] = np.asarray(cols[3], dtype="int64").view(_DT64NS)
        yield pd.DataFrame(data)

    return handle


def correlate_stream(
    events: DataFrame,
    rules: Sequence[Rule],
    watermark_delay: str = "0 seconds",
    clock: str = "event",
    initial_state: Optional[DataFrame] = None,
    memory_path: Optional[str] = None,
) -> DataFrame:
    """Run rules over a STREAMING events DataFrame; returns the emission
    stream (append mode).

    ``memory_path`` (set by ``start_correlation(memory=...)``) points rule
    callbacks at a :class:`php_ec_spark.memory.MemoryHub` snapshot via
    ``live_memory()`` — the reference's central memory loop
    (Scheduler.php:820): batch N's writes are readable from batch N+1.

    ``clock`` picks the reference's dual clock (CorrelationEngine.php:
    569-585, W1/W2): ``"event"`` = BatchClock semantics, timers fire on
    watermark advance (deterministic, replay-safe); ``"processing"`` =
    TickClock semantics, timers fire on wall time — php-ec live mode, for
    deployments where absence must be detected even when the stream goes
    completely quiet. LIVE-INGEST ONLY: deadlines are still event-ts +
    timeout, but compared against wall clock — replaying or backfilling
    historical data under ``"processing"`` makes every pending instance
    look already-expired and it times out immediately (the same trap
    php-ec live mode has when fed old data). Replay/backfill must use
    ``clock="event"``.

    Rules are grouped by correlation key exactly like the batch engine;
    suppression across differently-keyed rules is rejected. The caller
    starts the query (see :func:`php_ec_spark.streaming.start_correlation`)
    with a checkpointLocation — that checkpoint IS the reference's
    save-state file, done properly.

    ``initial_state`` warm-starts the state store from a batch snapshot
    (:func:`snapshot_state` output: ``__key string, blob string``): the
    reference's restore-savefile-then-go-live boot sequence
    (Scheduler.php:695-947). The snapshot is collected and broadcast —
    driver-sized, exactly like the reference's single gzip-JSON save file
    (FileAdapter.php:73-233); a restored key's instances resume on its
    first incoming event. CAVEAT (applyInPandasWithState has no initial
    timer registration): a restored key that never receives another event
    never fires its pending timeouts — touch every restored key by
    injecting one in-band ``CONTROL_MSG_RESTORED`` kick row per key into
    the source (the reference does the same at boot, Scheduler.php:730-737;
    '*'-rules see it, other rules ignore it).

    Every event goes through the watermark and the state op, including
    types no rule consumes: php-ec's clock advances on EVERY event
    (CorrelationEngine.php:199), and each event also replays due timeouts
    at t−1 ms, exactly the batch clock.
    """
    key_col, group_rules = _single_key_group(rules, clock)
    unbounded = [
        r.name for r in group_rules
        if r.continuous and r.chain_limit is None and r.timeout_s is None
    ]
    if unbounded:
        import warnings

        # a continuous matcher keeps its whole consumed chain in per-key
        # state; with no timeout (which would rotate instances) and no
        # trim, a long-lived streaming key accumulates state forever —
        # the same leak a never-trimming php-ec rule has
        # (AEventProcessor::trimEventChain exists exactly for this,
        # AEventProcessor.php:321-332), but in the state store where it
        # also bloats every checkpoint. Batch runs are immune (state dies
        # at end-of-stream).
        warnings.warn(
            f"continuous rule(s) {unbounded} have no chain_limit and no "
            "timeout: per-key state grows unboundedly for long-lived "
            "streaming keys. Set chain_limit (trimEventChain) to bound "
            "the rolling buffer; for pure live counting use the metrics "
            "path (observe_stream/EngineMetrics) or batch keyed-counter "
            "snapshots instead of chain state",
            UserWarning,
            stacklevel=2,
        )

    restore_bc = None
    if initial_state is not None:
        snap = {
            r["__key"]: r["blob"]
            for r in initial_state.select("__key", "blob").collect()
            if r["blob"]
        }
        restore_bc = events.sparkSession.sparkContext.broadcast(snap)

    part = _key_projection(events.withWatermark("ts", watermark_delay), key_col)
    return part.groupBy("__key").applyInPandasWithState(
        _make_stateful_handler(
            group_rules,
            clock,
            keyless=key_col is None,
            restore_bc=restore_bc,
            memory_path=memory_path,
        ),
        outputStructType=EMISSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if clock == "processing"
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


def snapshot_state(events: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Batch-replay history and return per-key serialized engine state
    (``__key string, blob string``) WITHOUT the end-of-stream drain.

    This is the save file of the reference's SaveHandler (FileAdapter.php:
    73-233) computed from history: every in-flight instance (chain, group
    index, pending deadline) survives, so feeding the result to
    :func:`correlate_stream` as ``initial_state`` continues matching
    exactly where the replay stopped — sequences half-matched in history
    complete on live events; deadlines armed in history still fire.

    Same physical shape as the batch engine: one shuffle on the key,
    per-partition consecutive-key iteration, Arrow-batched. Keys come
    from the same projection as the live stream's.

    Replays every event, consumed type or not — the engine's clock
    advances on EVERY event (CorrelationEngine.php:199). Dropping
    unconsumed-type history would keep alive an instance whose deadline
    expired after the key's last consumed-type event; the uninterrupted
    engine fires-and-discards it during replay, so the snapshot must too —
    otherwise the warm-started query re-emits a timeout history already
    reported.
    """
    from ..session import shuffle_partitions

    key_col, rules_list = _single_key_group(rules)
    n_parts = shuffle_partitions(events.sparkSession)
    part = _key_projection(events, key_col).repartition(
        n_parts, "__key"
    ).sortWithinPartitions("__key", "ts", "event_id")
    keyless = key_col is None

    def run(batches):
        core: Optional[EngineCore] = None
        cur_key = None
        out_keys: list = []
        out_blobs: list = []

        def flush(c: EngineCore, k) -> None:
            if c.has_live():
                out_keys.append(k)
                out_blobs.append(c.to_state())

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
                        flush(core, cur_key)
                    core = EngineCore(rules_list, None if keyless else k)
                    cur_key = k
                v = values[i]
                core.handle(
                    (int(eids[i]), int(ts_ns[i]), etypes[i], None if v != v else v)
                )
                core.take_rows()  # snapshot wants state, not emissions
        if core is not None:
            flush(core, cur_key)
        yield pd.DataFrame({"__key": out_keys, "blob": out_blobs})

    return part.mapInPandas(run, schema=SNAPSHOT_SCHEMA)
