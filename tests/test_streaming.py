"""Live-mode engine: state across micro-batches, event-time timeouts,
action dispatch, checkpointing."""

from __future__ import annotations

import json
import time

import pytest

from php_ec_spark.rules import match_single_continuously, sequence_rule
from php_ec_spark.streaming import (
    ActionDispatcher,
    ndjson_dir_source,
    start_correlation,
)


def _write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    time.sleep(0.05)  # distinct mtimes → deterministic file order


def _ev(eid, ts, user, etype, value=1.0):
    return {
        "event_id": eid,
        "ts": ts,
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": None,
    }


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    return src, ckpt


def test_stream_matches_batch_with_state_carryover(spark, stream_dirs):
    """An instance opened in micro-batch 1 completes in micro-batch 2
    (state store carry-over), and a deadline passed by the watermark fires
    as a timeout on a later trigger — php-ec live semantics (W2/W3/W11)."""
    src, ckpt = stream_dirs
    # batch 1: two signups, one purchase (user 1 completes immediately)
    _write_ndjson(
        src / "01.json",
        [
            _ev(0, "2024-01-01T00:00:00Z", 1, "signup"),
            _ev(1, "2024-01-01T00:00:01Z", 2, "signup"),
            _ev(2, "2024-01-01T00:00:05Z", 1, "purchase"),
        ],
    )
    # batch 2: user 2's purchase arrives LATE (after its 10 s deadline) and
    # far-future traffic advances the watermark past the deadline
    _write_ndjson(
        src / "02.json",
        [
            _ev(3, "2024-01-01T00:01:40Z", 3, "view"),
        ],
    )
    # batch 3: more traffic so the armed timer for user 2 fires
    _write_ndjson(
        src / "03.json",
        [
            _ev(4, "2024-01-01T00:03:20Z", 3, "view"),
        ],
    )

    rule = sequence_rule("pay", ["signup", "purchase"], key="user_id", timeout="PT10S")
    events = ndjson_dir_source(spark, str(src), max_files_per_trigger=1)
    dispatcher = ActionDispatcher()
    seen: list[dict] = []
    dispatcher.register("collect", fn=lambda rows: seen.extend(rows))

    q = start_correlation(
        events, [rule], str(ckpt), dispatcher=dispatcher, trigger_once=True
    )
    q.awaitTermination(timeout=120)

    by = {(r["key"], r["outcome"]): r for r in seen}
    assert ("1", "completed") in by, seen
    done = by[("1", "completed")]
    assert done["start_event_id"] == 0 and done["last_event_id"] == 2
    assert done["n_events"] == 2
    # user 2 timed out at 00:00:01 + 10 s once the watermark passed it
    assert ("2", "timeout") in by, seen
    tout = by[("2", "timeout")]
    assert tout["start_event_id"] == 1 and tout["n_events"] == 1
    assert str(tout["fire_ts"]).startswith("2024-01-01 00:00:11")
    assert dispatcher.completed and not dispatcher.failed


def test_checkpoint_restart_resumes(spark, stream_dirs):
    """Restarting with the same checkpoint neither reprocesses nor loses
    state — the SaveHandler/RECOVERY replacement (S9/W11/W12)."""
    src, ckpt = stream_dirs
    _write_ndjson(src / "01.json", [_ev(0, "2024-01-01T00:00:00Z", 1, "signup")])

    rule = sequence_rule("pay", ["signup", "purchase"], key="user_id", timeout="PT1H")
    seen: list[dict] = []
    d1 = ActionDispatcher().register("collect", fn=lambda rows: seen.extend(rows))
    q = start_correlation(
        ndjson_dir_source(spark, str(src)), [rule], str(ckpt),
        dispatcher=d1, trigger_once=True,
    )
    q.awaitTermination(timeout=120)
    assert seen == []  # instance open, nothing emitted

    # run 2: the purchase arrives; the restored instance must complete
    _write_ndjson(src / "02.json", [_ev(1, "2024-01-01T00:10:00Z", 1, "purchase")])
    seen2: list[dict] = []
    d2 = ActionDispatcher().register("collect", fn=lambda rows: seen2.extend(rows))
    q = start_correlation(
        ndjson_dir_source(spark, str(src)), [rule], str(ckpt),
        dispatcher=d2, trigger_once=True,
    )
    q.awaitTermination(timeout=120)
    assert [(r["key"], r["outcome"]) for r in seen2] == [("1", "completed")]
    assert seen2[0]["start_event_id"] == 0 and seen2[0]["last_event_id"] == 1


def test_processing_time_clock_fires_on_quiet_stream(spark, stream_dirs):
    """TickClock mode (W2): a deadline fires on WALL time even when no
    further events arrive — absence detection on a quiet stream, which the
    event-time clock cannot do."""
    src, ckpt = stream_dirs
    _write_ndjson(src / "01.json", [_ev(0, "2024-01-01T00:00:00Z", 1, "signup")])
    rule = sequence_rule("pay", ["signup", "purchase"], key="user_id", timeout="PT1S")
    seen: list[dict] = []
    d = ActionDispatcher().register("collect", fn=lambda rows: seen.extend(rows))
    from php_ec_spark.engine.streaming import correlate_stream

    emissions = correlate_stream(
        ndjson_dir_source(spark, str(src)), [rule], clock="processing"
    )
    q = (
        emissions.writeStream.option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .foreachBatch(d)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not seen:
            time.sleep(1)
    finally:
        q.stop()
    assert [(r["key"], r["outcome"]) for r in seen] == [("1", "timeout")]


def test_memory_loop_across_microbatches(spark, stream_dirs):
    """The php-ec collective-memory loop: rules write memory centrally,
    later events read it (MemoryEngine.php:63-79 + knowledge.md). Inside
    foreachBatch: enrich with current memory → correlate → apply emitted
    writes; batch N's learned value is visible to batch N+1."""
    from pyspark.sql import functions as F

    from php_ec_spark.engine import correlate
    from php_ec_spark.memory import MemoryEngine, writes_from_emissions
    from php_ec_spark.rules import match_single

    src, ckpt = stream_dirs
    _write_ndjson(src / "01.json", [_ev(0, "2024-01-01T00:00:00Z", 1, "purchase", 42.0)])
    _write_ndjson(src / "02.json", [_ev(1, "2024-01-01T00:10:00Z", 1, "click", 1.0)])

    rule = match_single("last_buy", ["purchase"], key="user_id")
    holder = {"mem": MemoryEngine(spark)}
    enriched_rows: list = []

    def process(df, batch_id):
        mem = holder["mem"]
        enriched = mem.enrich(
            df, "last_buy", on=F.col("user_id").cast("string"), value_alias="last_value"
        )
        enriched_rows.extend(
            (r["event_id"], r["last_value"]) for r in enriched.collect()
        )
        em = correlate(df, [rule])
        holder["mem"] = mem.apply_writes(writes_from_emissions(em))

    q = (
        ndjson_dir_source(spark, str(src), max_files_per_trigger=1)
        .writeStream.option("checkpointLocation", str(ckpt))
        .foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)

    by_event = dict(enriched_rows)
    assert by_event[0] is None          # batch 1: nothing learned yet
    assert by_event[1] == "42.0"        # batch 2 sees batch 1's write


def test_memory_hub_auto_wiring_round_trip(spark, stream_dirs):
    """Auto-wired central memory loop (Scheduler.php:820 +
    MemoryEngine.php:63-79 parity, round-6 VERDICT item 2): rule A's
    on_complete writes a learned threshold via its emission payload; rule
    B's callback reads it through live_memory() on a LATER trigger — no
    user-written foreachBatch glue, just start_correlation(memory=hub)."""
    from php_ec_spark.memory import MemoryHub, live_memory, set_live_memory_path
    from php_ec_spark.rules import match_single

    src, ckpt = stream_dirs

    def learn(chain, key):
        return {"threshold": chain[-1]["value"] * 2}

    def check(chain, key):
        mem = live_memory().get("learn", key)
        return {"learned": None if mem is None else mem["threshold"]}

    rules = [
        match_single("learn", ["purchase"], key="user_id", on_complete=learn),
        match_single("check", ["click"], key="user_id", on_complete=check),
    ]

    # batch 1: user 1 purchases (A learns 84.0); user 2 clicks (B reads
    # nothing — the write isn't visible until the NEXT batch)
    _write_ndjson(src / "01.json", [
        _ev(0, "2024-01-01T00:00:00Z", 1, "purchase", 42.0),
        _ev(1, "2024-01-01T00:00:01Z", 2, "click"),
    ])
    # batch 2: user 1 clicks — B must see A's batch-1 threshold
    _write_ndjson(src / "02.json", [
        _ev(2, "2024-01-01T00:10:00Z", 1, "click"),
    ])

    hub = MemoryHub()
    emitted: list = []
    d = ActionDispatcher()
    d.register("cap", fn=lambda rows: emitted.extend(rows))
    q = start_correlation(
        ndjson_dir_source(spark, str(src), max_files_per_trigger=1),
        rules, str(ckpt), dispatcher=d, trigger_once=True, memory=hub,
    )
    q.awaitTermination(timeout=120)
    assert q.exception() is None

    payloads = {
        (r["rule"], r["key"]): json.loads(r["payload"])
        for r in emitted if r["payload"]
    }
    assert payloads[("learn", "1")] == {"threshold": 84.0}
    assert payloads[("check", "2")] == {"learned": None}   # same-batch: unseen
    assert payloads[("check", "1")] == {"learned": 84.0}   # next batch: seen
    # the hub itself holds the learned entries driver-side too
    assert hub.get("learn", "1") == {"threshold": 84.0}
    # and the published snapshot serves the executor-side reader directly
    set_live_memory_path(hub.snapshot_path)
    try:
        assert live_memory().get("learn", "1") == {"threshold": 84.0}
    finally:
        set_live_memory_path(None)


def test_memory_hub_ttl_and_purge(tmp_path):
    """Hub TTL semantics without Spark: expired entries are invisible at
    read time (MemoryEntry.php:19-57) and physically dropped by the purge
    sweep (Scheduler.php:913-915)."""
    from php_ec_spark.memory import MemoryHub, live_memory, set_live_memory_path

    hub = MemoryHub(str(tmp_path), purge_every_s=0.0)
    hub.write("ns", "short", {"x": 1}, ttl_seconds=0)
    hub.write("ns", "long", {"x": 2}, ttl_seconds=3600)
    hub.write("ns", "forever", {"x": 3})
    time.sleep(0.02)
    assert hub.get("ns", "short") is None
    assert hub.get("ns", "long") == {"x": 2}
    assert len(hub._entries) == 3  # expired entry still resident pre-purge
    hub.purge()
    assert len(hub._entries) == 2  # swept
    # deletes propagate through the snapshot
    hub.write("ns", "long", None)
    set_live_memory_path(hub.snapshot_path)
    try:
        view = live_memory()
        assert view.get("ns", "long") is None
        assert view.get("ns", "forever") == {"x": 3}
        assert view.all("ns") == {"forever": {"x": 3}}
        assert view.has("ns", "forever") and not view.has("ns", "long")
    finally:
        set_live_memory_path(None)


def test_memory_hub_same_size_same_second_rewrite_is_picked_up(tmp_path):
    """Snapshot staleness keying must be content/generation based: on
    storage with coarse mtime granularity a same-size rewrite inside one
    timestamp tick aliases an (mtime, size) signature and serves a stale
    memory view. The hub publishes write-once generation files behind a
    symlink, so the reader's key (the link target name) always changes."""
    import os

    from php_ec_spark.memory import MemoryHub, live_memory, set_live_memory_path

    hub = MemoryHub(str(tmp_path))
    hub.write("ns", "k", {"v": 1})
    set_live_memory_path(hub.snapshot_path)
    try:
        assert live_memory().get("ns", "k") == {"v": 1}
        old_target = os.readlink(hub.snapshot_path)
        old_stat = os.stat(hub.snapshot_path)
        hub.write("ns", "k", {"v": 2})  # same byte length as {"v": 1}
        new_target = os.readlink(hub.snapshot_path)
        assert new_target != old_target  # fresh generation file
        # force the worst case: make the new snapshot stat-identical to
        # the old one (same size, same mtime) — the reader must STILL
        # see the new value because it keys on the target name
        os.utime(
            os.path.join(str(tmp_path), "memory", new_target),
            ns=(old_stat.st_atime_ns, old_stat.st_mtime_ns),
        )
        st = os.stat(hub.snapshot_path)
        assert (st.st_mtime_ns, st.st_size) == (
            old_stat.st_mtime_ns, old_stat.st_size,
        )
        assert live_memory().get("ns", "k") == {"v": 2}
    finally:
        set_live_memory_path(None)
    # old generations are retired (current + previous kept at most)
    gen_files = [
        f for f in os.listdir(os.path.join(str(tmp_path), "memory"))
        if ".json.g" in f
    ]
    assert len(gen_files) <= 2


def test_on_demand_source_feeds_back(spark, stream_dirs, tmp_path):
    """S4: a rule emission launches a producer command whose NDJSON output
    lands in the source dir; a second run ingests the produced events."""
    src, ckpt = stream_dirs
    _write_ndjson(src / "01.json", [_ev(0, "2024-01-01T00:00:00Z", 1, "error")])

    from php_ec_spark.rules import match_single
    from php_ec_spark.streaming.sources import register_on_demand_source

    producer = tmp_path / "producer.sh"
    out_file = src / "99_produced.json"
    producer.write_text(
        "#!/bin/sh\n"
        f"echo '{json.dumps(_ev(100, '2024-01-01T00:00:30Z', 1, 'diagnostic'))}' > {out_file}\n"
    )
    producer.chmod(0o755)

    rule = match_single("err", ["error"], key="user_id")
    d = ActionDispatcher()
    register_on_demand_source(d, ["err"], [str(producer)])
    q = start_correlation(
        ndjson_dir_source(spark, str(src)), [rule], str(ckpt),
        dispatcher=d, trigger_once=True,
    )
    q.awaitTermination(timeout=120)
    assert d.completed and not d.failed
    assert out_file.exists()  # producer ran and wrote events

    # second trigger: the produced event flows through the engine
    seen: list[dict] = []
    d2 = ActionDispatcher().register("c", fn=lambda rows: seen.extend(rows))
    rule2 = match_single("diag", ["diagnostic"], key="user_id")
    q = start_correlation(
        ndjson_dir_source(spark, str(src)), [rule, rule2], str(tmp_path / "ckpt2"),
        dispatcher=d2, trigger_once=True,
    )
    q.awaitTermination(timeout=120)
    assert {(r["rule"], r["key"]) for r in seen} == {("err", "1"), ("diag", "1")}


def test_continuous_gap_rule_in_streaming(spark, stream_dirs):
    """J4/W6 live: a continuous matcher's session closes (timeout fires)
    once the watermark passes the gap; the chain spans micro-batches."""
    src, ckpt = stream_dirs
    _write_ndjson(src / "01.json", [
        _ev(0, "2024-01-01T00:00:00Z", 1, "click", 1.0),
        _ev(1, "2024-01-01T00:00:30Z", 1, "click", 2.0),
    ])
    # far-future traffic: advances watermark past 00:00:30 + 60 s
    _write_ndjson(src / "02.json", [_ev(2, "2024-01-01T01:00:00Z", 2, "view")])
    _write_ndjson(src / "03.json", [_ev(3, "2024-01-01T02:00:00Z", 2, "view")])

    rule = match_single_continuously("sess", ["click"], key="user_id", timeout="PT60S")
    seen: list[dict] = []
    d = ActionDispatcher().register("c", fn=lambda rows: seen.extend(rows))
    q = start_correlation(
        ndjson_dir_source(spark, str(src), max_files_per_trigger=1),
        [rule], str(ckpt), dispatcher=d, trigger_once=True,
    )
    q.awaitTermination(timeout=120)
    sess = [r for r in seen if r["rule"] == "sess"]
    assert [(r["key"], r["outcome"], r["n_events"], r["value_sum"]) for r in sess] == [
        ("1", "timeout", 2, 3.0)
    ]
    assert str(sess[0]["fire_ts"]).startswith("2024-01-01 00:01:30")


def test_late_event_within_watermark_completes(spark, stream_dirs):
    """W8: an out-of-order event arriving in a later micro-batch (but within
    the watermark delay) still reaches its waiting instance — the
    reference's no-reorder-buffer behavior: process as-is on arrival."""
    src, ckpt = stream_dirs
    _write_ndjson(src / "01.json", [
        _ev(0, "2024-01-01T01:00:00Z", 1, "signup"),
        _ev(2, "2024-01-01T01:30:00Z", 2, "view"),  # advances max event time
    ])
    # purchase with ts BEFORE the already-seen view row → late arrival
    _write_ndjson(src / "02.json", [_ev(1, "2024-01-01T01:10:00Z", 1, "purchase")])

    rule = sequence_rule("pay", ["signup", "purchase"], key="user_id", timeout="PT1H")
    seen: list[dict] = []
    d = ActionDispatcher().register("c", fn=lambda rows: seen.extend(rows))
    events = ndjson_dir_source(spark, str(src), max_files_per_trigger=1)
    q = start_correlation(
        events, [rule], str(ckpt), dispatcher=d,
        watermark_delay="2 hours", trigger_once=True,
    )
    q.awaitTermination(timeout=120)
    assert [(r["key"], r["outcome"], r["last_event_id"]) for r in seen] == [
        ("1", "completed", 1)
    ]


def test_action_validation_quarantines_bad_rows(spark, stream_dirs):
    src, ckpt = stream_dirs
    _write_ndjson(src / "01.json", [_ev(0, "2024-01-01T00:00:00Z", 1, "signup"),
                                    _ev(1, "2024-01-01T00:00:02Z", 1, "purchase")])
    rule = sequence_rule("pay", ["signup", "purchase"], key="user_id", timeout="PT1H")
    d = ActionDispatcher()
    d.register("strict", schema={"nonexistent_param": str}, rules=["pay"])
    q = start_correlation(
        ndjson_dir_source(spark, str(src)), [rule], str(ckpt),
        dispatcher=d, trigger_once=True,
    )
    q.awaitTermination(timeout=120)
    assert d.failed and not d.completed  # validation failed, engine survived


def test_multi_key_orchestration_two_concurrent_queries(spark, stream_dirs):
    """Rules keyed on DIFFERENT columns run as one query per key column
    (Spark's one-applyInPandasWithState limit), orchestrated by
    start_correlations with combined bookkeeping."""
    from php_ec_spark.streaming import start_correlations

    src, ckpt = stream_dirs
    _write_ndjson(
        src / "01.json",
        [
            _ev(0, "2024-01-01T00:00:00Z", 1, "signup"),
            _ev(1, "2024-01-01T00:00:05Z", 1, "purchase"),
            _ev(2, "2024-01-01T00:00:06Z", 2, "signup"),
            _ev(3, "2024-01-01T00:00:09Z", 2, "purchase"),
        ],
    )
    from php_ec_spark.rules import match_single

    rules = [
        # keyed on user_id: classic per-user funnel
        sequence_rule("pay", ["signup", "purchase"], key="user_id", timeout="PT1H"),
        # keyed on event_type: one single-match instance per type
        match_single("per_type", ["*"], key="event_type"),
    ]
    per_user: list[dict] = []
    per_type: list[dict] = []
    sinks = {"user_id": per_user, "event_type": per_type}

    def factory(key_col):
        d = ActionDispatcher()
        d.register("collect", fn=sinks[key_col].extend)
        return d

    group = start_correlations(
        ndjson_dir_source(spark, str(src)), rules, str(ckpt),
        dispatcher_factory=factory, trigger_once=True,
    )
    assert sorted(group.queries) == ["event_type", "user_id"]
    group.await_all(timeout=120)

    assert {(r["rule"], r["key"]) for r in per_user} == {("pay", "1"), ("pay", "2")}
    assert all(r["outcome"] == "completed" for r in per_user)
    # per_type single-matches once per event_type key
    assert {r["key"] for r in per_type} == {"signup", "purchase"}
    assert all(r["rule"] == "per_type" and r["n_events"] == 1 for r in per_type)
    # combined views carry the key-column tag
    assert {k for k, *_ in group.completed} == {"user_id", "event_type"}
    assert group.failed == []


def test_warm_start_quiet_stream_fires_restored_deadlines(spark, stream_dirs):
    """start_correlations(history=...) must inject its own
    CONTROL_MSG_RESTORED kick rows: restored keys on a COMPLETELY quiet
    stream (the source dir stays empty forever) still fire their
    history-armed timeouts, exactly as the docstring promises."""
    import datetime as dt

    from php_ec_spark.streaming import start_correlations

    src, ckpt = stream_dirs  # src stays EMPTY — the live stream is quiet
    base = dt.datetime(2024, 1, 1)
    history = spark.createDataFrame(
        [(1, base, 1, "signup", 1.0, None), (2, base, 2, "signup", 2.0, None),
         # NULL correlation key: snapshot emits __key NULL; the kick spool
         # must carry a NULL-key row and sorting must not choke on None
         (3, base, None, "signup", 3.0, None)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    seen: list = []

    def factory(_key_col):
        d = ActionDispatcher()
        d.register("capture", fn=seen.extend)
        return d

    rules = [
        sequence_rule("pay", ["signup", "purchase"], key="user_id", timeout="PT20S")
    ]
    # processing clock: deadlines (2024 + 20 s) are long past wall time, so
    # the auto-kick's first touch arms and the next tick fires
    group = start_correlations(
        ndjson_dir_source(spark, str(src)), rules, str(ckpt),
        dispatcher_factory=factory, clock="processing", history=history,
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and len(seen) < 3:
            time.sleep(0.3)
    finally:
        group.stop_all()

    got = sorted(
        ((r["rule"], r["key"], r["outcome"], str(r["fire_ts"])) for r in seen),
        key=lambda t: (t[1] is not None, str(t[1])),
    )
    assert got == [
        ("pay", None, "timeout", "2024-01-01 00:00:20"),
        ("pay", "1", "timeout", "2024-01-01 00:00:20"),
        ("pay", "2", "timeout", "2024-01-01 00:00:20"),
    ]


def test_duplicate_rule_names_rejected(spark, stream_dirs):
    """EngineTest::testEngineThrowsOnDuplicateRuleClassString parity:
    emissions are keyed by rule name, so duplicates must be rejected in
    both engines, not silently merged."""
    from php_ec_spark.engine import correlate
    from php_ec_spark.engine.streaming import correlate_stream

    src, _ckpt = stream_dirs
    rules = [
        sequence_rule("pay", ["signup", "purchase"], key="user_id", timeout="PT1H"),
        sequence_rule("pay", ["click", "purchase"], key="user_id", timeout="PT1H"),
    ]
    batch_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
    )
    with pytest.raises(ValueError, match="duplicate rule names.*pay"):
        correlate(batch_events, rules)
    _write_ndjson(src / "01.json", [_ev(0, "2024-01-01T00:00:00Z", 1, "signup")])
    with pytest.raises(ValueError, match="duplicate rule names.*pay"):
        correlate_stream(ndjson_dir_source(spark, str(src)), rules)


def test_heartbeat_source_pulses_in_band(spark, stream_dirs):
    """W10: heartbeat rows arrive as in-band control events on the rate
    schedule (HeartbeatTest::testHeartbeatPulseOnSchedule...)."""
    from php_ec_spark.model import CONTROL_MSG_HEARTBEAT
    from php_ec_spark.streaming import heartbeat_source

    _src, ckpt = stream_dirs
    hb = heartbeat_source(spark, every_seconds=1)
    q = (
        hb.writeStream.queryName("hb_test").format("memory")
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT * FROM hb_test").count() >= 2:
                break
            time.sleep(0.3)
        rows = spark.sql("SELECT * FROM hb_test ORDER BY value").collect()
    finally:
        q.stop()
    assert len(rows) >= 2
    assert all(r.event_type == CONTROL_MSG_HEARTBEAT for r in rows)
    assert all(r.event_id <= -1000 for r in rows)  # negative id space
    seqs = [r.value for r in rows]
    assert seqs == sorted(seqs)


def test_unbounded_continuous_rule_warns(spark, tmp_path):
    """A continuous rule with neither chain_limit nor timeout accumulates
    per-key state forever on a live stream — construction must warn."""
    import warnings

    from php_ec_spark.engine.streaming import correlate_stream
    from php_ec_spark.rules import match_single_continuously
    from php_ec_spark.streaming import ndjson_dir_source

    src = tmp_path / "src"
    src.mkdir()
    stream = ndjson_dir_source(spark, str(src))
    rule = match_single_continuously("acc", ["*"], key="user_id", emit_final=True)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        correlate_stream(stream, [rule])
    assert any("chain_limit" in str(x.message) for x in w)
    # trimmed variant stays quiet
    trimmed = match_single_continuously(
        "roll", ["*"], key="user_id", chain_limit=5, emit_final=True
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        correlate_stream(stream, [trimmed])
    assert not [x for x in w if "chain_limit" in str(x.message)]


def test_state_partitions_knob_pins_store_width(spark, tmp_path):
    """state_partitions sizes the stateful op (the ~0.5s/partition/batch
    live-path tax) and restores the session conf after start."""
    import json as _json
    import os as _os

    from php_ec_spark.rules import sequence_rule
    from php_ec_spark.streaming import ndjson_dir_source, start_correlation

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i in range(100):
            f.write(_json.dumps({
                "event_id": i, "ts": "2024-01-01T00:00:00Z",
                "user_id": i % 10, "event_type": "order_placed",
                "value": 1.0, "props": None,
            }) + "\n")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    ck = str(tmp_path / "ck")
    q = start_correlation(
        ndjson_dir_source(spark, str(src)),
        [sequence_rule("r", ["order_placed", "payment"],
                       key="user_id", timeout="PT10S")],
        ck, trigger_once=True, state_partitions=2,
    )
    q.awaitTermination()
    assert q.exception() is None
    parts = [p for p in _os.listdir(_os.path.join(ck, "state", "0"))
             if p.isdigit()]
    assert sorted(parts) == ["0", "1"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_restart_with_different_shuffle_conf_resumes_pinned_state(spark, tmp_path):
    """Spark pins the state partition count in the checkpoint at first
    start; a restart under a DIFFERENT session conf (here: without the
    state_partitions knob) must resume cleanly on the pinned width and
    complete a cross-run sequence."""
    import json as _json

    from php_ec_spark.rules import sequence_rule
    from php_ec_spark.streaming import (
        ActionDispatcher,
        ndjson_dir_source,
        start_correlation,
    )

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(_json.dumps({
            "event_id": 1, "ts": "2024-01-01T00:00:00Z", "user_id": 42,
            "event_type": "order_placed", "value": 1.0, "props": None,
        }) + "\n")
    ck = str(tmp_path / "ck")
    rules = [sequence_rule("r", ["order_placed", "payment"],
                           key="user_id", timeout="PT1H")]
    seen: list = []
    d = ActionDispatcher()
    d.register("cap", fn=seen.extend)
    q = start_correlation(ndjson_dir_source(spark, str(src)), rules, ck,
                          dispatcher=d, trigger_once=True, state_partitions=2)
    q.awaitTermination()
    assert q.exception() is None and seen == []

    # second run: same checkpoint, knob omitted (session conf differs)
    with open(src / "b.json", "w") as f:
        f.write(_json.dumps({
            "event_id": 2, "ts": "2024-01-01T00:10:00Z", "user_id": 42,
            "event_type": "payment", "value": 2.0, "props": None,
        }) + "\n")
    q2 = start_correlation(ndjson_dir_source(spark, str(src)), rules, ck,
                           dispatcher=d, trigger_once=True)
    q2.awaitTermination()
    assert q2.exception() is None
    assert [(r["rule"], r["outcome"], r["key"]) for r in seen] == [
        ("r", "completed", "42")
    ]


def test_distributed_only_actions_on_stateful_query(spark, tmp_path):
    """Third configuration of the consume-hazard class: when ONLY
    distributed actions are registered, the batch is consumed via the
    filtered executor frame — the stateful partitions upstream of the
    filter must all execute (no commit-validation failure) and the
    action must run executor-side."""
    import json as _json

    from php_ec_spark.rules import match_single
    from php_ec_spark.streaming import (
        ActionDispatcher,
        ndjson_dir_source,
        start_correlation,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = tmp_path / "out"
    out.mkdir()
    with open(src / "a.json", "w") as f:
        for i in range(20):
            f.write(_json.dumps({
                "event_id": i, "ts": "2024-01-01T00:00:00Z",
                "user_id": i % 4, "event_type": "click",
                "value": 1.0, "props": None,
            }) + "\n")

    marker = str(out / "hits.txt")

    def record(rows):
        with open(marker, "a") as fh:
            fh.write(f"{len(rows)}\n")

    d = ActionDispatcher()
    d.register("cap", fn=record, distributed=True)
    q = start_correlation(
        ndjson_dir_source(spark, str(src)),
        [match_single("m", ["click"], key="user_id")],
        str(tmp_path / "ck"), dispatcher=d, trigger_once=True,
    )
    q.awaitTermination()
    assert q.exception() is None
    import os as _os

    assert _os.path.exists(marker)
    assert sum(int(x) for x in open(marker).read().split()) == 20


def test_memory_hub_restart_reloads_snapshot(tmp_path):
    """A query restart re-creates the hub; binding to the same checkpoint
    must RELOAD the published snapshot (learned memory survives), with a
    fresh hub's explicit pre-bind writes winning on key collisions —
    previously bind() clobbered the snapshot with an empty one."""
    from php_ec_spark.memory import MemoryHub

    hub = MemoryHub(str(tmp_path))
    hub.write("ns", "learned", {"thr": 42}, ttl_seconds=3600)
    hub.write("ns", "other", 7, persistent=True)
    gen_before = hub._gen

    hub2 = MemoryHub()  # the restart: fresh hub, same checkpoint
    hub2.write("ns", "learned", {"thr": 99})  # pre-bind seed wins
    hub2.bind(str(tmp_path))
    assert hub2.get("ns", "learned") == {"thr": 99}
    assert hub2.get("ns", "other") == 7
    assert hub2._entries[("ns", "other")][2] is True  # persistent survives
    assert hub2._gen >= gen_before  # generation monotonic across restarts

    hub3 = MemoryHub(str(tmp_path))  # plain restart, no pre-bind writes
    assert hub3.get("ns", "learned") == {"thr": 99}


def test_memory_hub_concurrent_writers_never_rewrite_a_generation(tmp_path):
    """Two hubs bound to the same checkpoint dir keep independent _gen
    counters. The generation files must stay write-once ACROSS writers:
    a colliding writer O_EXCL-detects the existing .gN, leapfrogs past
    every generation on disk, and claims a fresh immutable name — so a
    reader keyed on the symlink target name always sees a name change
    exactly when content changed (never an in-place rewrite it would
    silently skip)."""
    import os as _os

    from php_ec_spark.memory import MemoryHub

    hub_a = MemoryHub(str(tmp_path))
    hub_a.write("ns", "a", 1)
    hub_a.write("ns", "a", 2)  # A is now a few generations ahead
    link = _os.path.join(str(tmp_path), "memory", "current.json")
    target_a = _os.readlink(link)
    content_a = open(link).read()

    # B: independent hub, same dir, counter behind A's. Its bind() loads
    # A's snapshot (gen catches up via the doc), so push the collision
    # directly: force B's counter back below A's published generations.
    hub_b = MemoryHub(str(tmp_path))
    hub_b._gen = hub_a._gen - 1  # out-of-sync writer: next write targets
    hub_b.write("ns", "b", 99)   # A's CURRENT .gN — must NOT rewrite it

    target_b = _os.readlink(link)
    assert target_b != target_a  # name changed <=> content changed
    # A's old generation file, if still present, was never rewritten
    old = _os.path.join(str(tmp_path), "memory", target_a)
    if _os.path.exists(old):
        assert open(old).read() == content_a
    # and the new snapshot carries BOTH writers' state forward
    doc = json.load(open(link))
    got = {(ns, k): json.loads(v) for ns, k, v, _e, _p in doc["entries"]}
    assert got[("ns", "b")] == 99


def test_memory_hub_stale_writer_keeps_its_own_target_alive(tmp_path):
    """A writer whose counter sits BELOW the generation numbers already
    on disk (possible after a restart race: it bound before the other
    writer's last publishes) claims an unused low number — .g1 next to
    .g3/.g4. The retirement sweep must not treat 'highest numbers win'
    as ground truth and delete the file the link was just swung to: the
    keep-set is the new target + previous target, by name."""
    import os as _os

    from php_ec_spark.memory import MemoryHub

    hub_a = MemoryHub(str(tmp_path))
    hub_a.write("ns", "a", 1)
    hub_a.write("ns", "a", 2)
    hub_a.write("ns", "a", 3)  # disk now holds only high-numbered gens
    link = _os.path.join(str(tmp_path), "memory", "current.json")

    hub_b = MemoryHub(str(tmp_path))
    hub_b._gen = 0  # stale counter: next publish claims .g1 (no collision)
    hub_b.write("ns", "b", 99)

    target = _os.readlink(link)
    assert _os.path.exists(_os.path.join(str(tmp_path), "memory", target))
    doc = json.load(open(link))  # link must resolve, not ENOENT
    got = {(ns, k): json.loads(v) for ns, k, v, _e, _p in doc["entries"]}
    assert got[("ns", "b")] == 99


def test_memory_hub_rejects_uri_checkpoint(tmp_path):
    """The snapshot needs a POSIX path shared with executors; a URI
    checkpoint would silently give every executor an empty view, so the
    hub fails loud instead."""
    from php_ec_spark.memory import MemoryHub

    with pytest.raises(ValueError, match="POSIX path"):
        MemoryHub("hdfs://nn/ckpt")


def test_memory_hub_snapshot_engine_ttl_tz_invariant(spark, tmp_path):
    """snapshot_engine must round-trip expiry epochs exactly whatever the
    driver's OS timezone: createDataFrame interprets naive datetimes in
    LOCAL time, so the bridge uses local-naive (the absorb() convention);
    a naive-UTC value would shift TTLs by the UTC offset."""
    import os as _os
    import time as _time

    from php_ec_spark.memory import MemoryHub

    hub = MemoryHub(str(tmp_path))
    expires = _time.time() + 3600
    hub._entries[("ns", "k")] = [json.dumps({"v": 1}), expires, False]

    old_tz = _os.environ.get("TZ")
    _os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        eng = hub.snapshot_engine(spark)
        row = eng.entries.filter("key = 'k'").collect()[0]
        got = row["expires_at"].timestamp()  # naive local -> epoch
        assert abs(got - expires) < 2, (got, expires)
    finally:
        if old_tz is None:
            _os.environ.pop("TZ", None)
        else:
            _os.environ["TZ"] = old_tz
        _time.tzset()


def test_restore_kicks_written_once_across_restarts(spark, stream_dirs):
    """Boot code calls start_correlations on EVERY restart; the kick
    spool is content-addressed and write-once, so the same restore set
    never re-injects (kicks are real events — a second copy would open
    spurious instances) and the spool directory stays bounded."""
    import datetime as dt
    import glob as g
    import os

    from php_ec_spark.streaming import start_correlations

    src, ckpt = stream_dirs
    base = dt.datetime(2024, 1, 1)
    history = spark.createDataFrame(
        [(1, base, 1, "signup", 1.0, None)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    rules = [
        sequence_rule("pay", ["signup", "purchase"], key="user_id",
                      timeout="PT20S")
    ]
    for _boot in range(2):
        group = start_correlations(
            ndjson_dir_source(spark, str(src)), rules, str(ckpt),
            clock="event", history=history, trigger_once=True,
        )
        group.await_all()
    kick_files = g.glob(os.path.join(str(ckpt), "kicks_*", "*.json"))
    assert len(kick_files) == 1, kick_files


def test_state_partitions_restores_unset_conf(spark, stream_dirs):
    """On a session where spark.sql.shuffle.partitions was never
    explicitly set, the state_partitions override must be UNSET after
    start — leaving it set would silently re-plan every later query in
    the session with the streaming state width."""
    src, ckpt = stream_dirs
    _write_ndjson(src / "01.json", [_ev(0, "2024-01-01T00:00:00Z", 1, "signup")])
    rule = sequence_rule("pay", ["signup", "purchase"], key="user_id",
                         timeout="PT1H")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.unset("spark.sql.shuffle.partitions")
    try:
        q = start_correlation(
            ndjson_dir_source(spark, str(src)), [rule], str(ckpt),
            trigger_once=True, state_partitions=2,
        )
        q.awaitTermination(timeout=120)
        assert spark.conf.get("spark.sql.shuffle.partitions", None) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_bad_clock_rejected_before_memory_bind(spark, tmp_path):
    """A mistyped clock fails before any side effect. MemoryHub.bind keeps
    its first directory, so binding before the check would anchor learned
    memory under the dead query's checkpoint: the corrected retry would
    write there and its restart would start cold. start_correlations must
    also fail before its snapshot jobs and kick spool writes."""
    import datetime as dt
    import os

    from php_ec_spark.memory import MemoryHub
    from php_ec_spark.streaming import start_correlations

    src = tmp_path / "events"
    src.mkdir()
    _write_ndjson(src / "01.json", [_ev(0, "2024-01-01T00:00:00Z", 1, "signup")])
    rules = [sequence_rule("pay", ["signup", "purchase"], key="user_id",
                           timeout="PT1H")]
    history = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "signup", 1.0, None)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    hub = MemoryHub()
    with pytest.raises(ValueError, match="clock must be"):
        start_correlation(ndjson_dir_source(spark, str(src)), rules,
                          str(tmp_path / "dead"), memory=hub, clock="Event")
    with pytest.raises(ValueError, match="clock must be"):
        start_correlations(ndjson_dir_source(spark, str(src)), rules,
                           str(tmp_path / "dead_root"), memory=hub,
                           clock="Event", history=history)
    assert hub.snapshot_path is None
    assert not (tmp_path / "dead_root").exists()

    ckpt = tmp_path / "ckpt"
    q = start_correlation(ndjson_dir_source(spark, str(src)), rules,
                          str(ckpt), memory=hub, trigger_once=True)
    q.awaitTermination(timeout=120)
    assert hub.snapshot_path.startswith(str(ckpt) + os.sep)
