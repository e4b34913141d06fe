"""Correlation-engine semantics tests.

The hand-built stream mirrors the reference's online-shop example
(examples/online_shop/sources/webstore_events.php, FIXTURES.md F4):
placed→paid within a timeout, late payment after a timeout starts a NEW
matcher, never-paid fires a timeout. Expected outputs are hand-derived from
the reference's documented semantics (batch-clock timeout at t−1ms,
CorrelationEngine.php:191-202).
"""

import datetime as dt

import pytest

from php_ec_spark.engine import compile_sequence, correlate, correlate_state_machine
from php_ec_spark.rules import Rule, match_single_continuously, sequence_rule


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)


def _mk_events(spark, rows):
    """rows: (event_id, sec_offset, user_id, event_type, value)"""
    data = [(eid, _ts(sec), uid, et, val, None) for eid, sec, uid, et, val in rows]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )


ORDER_RULE = sequence_rule(
    "check_order_payment", ["placed", "paid"], key="user_id", timeout="PT20S"
)


class TestSequenceTimeout:
    def _run(self, spark, rows, runner):
        df = runner(_mk_events(spark, rows), [ORDER_RULE]) if runner is correlate \
            else runner(_mk_events(spark, rows), ORDER_RULE)
        got = {
            (r.key, r.start_event_id): (r.outcome, r.fire_ts)
            for r in df.collect()
        }
        return got

    @pytest.mark.parametrize("runner", [correlate, compile_sequence])
    def test_paid_within_timeout(self, spark, runner):
        rows = [(1, 0, 10, "placed", 5.0), (2, 10, 10, "paid", 7.0)]
        got = self._run(spark, rows, runner)
        assert got == {("10", 1): ("completed", _ts(10))}

    @pytest.mark.parametrize("runner", [correlate, compile_sequence])
    def test_never_paid_times_out(self, spark, runner):
        rows = [(1, 0, 10, "placed", 5.0), (2, 100, 10, "other", 1.0)]
        got = self._run(spark, rows, runner)
        assert got == {("10", 1): ("timeout", _ts(20))}

    @pytest.mark.parametrize("runner", [correlate, compile_sequence])
    def test_late_payment_is_timeout(self, spark, runner):
        # paid arrives 360s later (> PT20S): timeout fires at placed+20s;
        # the late 'paid' does NOT start a new matcher (not an initial event)
        rows = [(1, 0, 10, "placed", 5.0), (2, 360, 10, "paid", 7.0)]
        got = self._run(spark, rows, runner)
        assert got == {("10", 1): ("timeout", _ts(20))}

    @pytest.mark.parametrize("runner", [correlate, compile_sequence])
    def test_keys_are_independent(self, spark, runner):
        rows = [
            (1, 0, 10, "placed", 1.0),
            (2, 1, 11, "placed", 2.0),
            (3, 5, 11, "paid", 3.0),
        ]
        got = self._run(spark, rows, runner)
        assert got == {
            ("10", 1): ("timeout", _ts(20)),
            ("11", 2): ("completed", _ts(5)),
        }

    @pytest.mark.parametrize("runner", [correlate, compile_sequence])
    def test_one_paid_completes_all_waiting_instances(self, spark, runner):
        # two placed for same key -> two instances; the single paid completes both
        rows = [
            (1, 0, 10, "placed", 1.0),
            (2, 5, 10, "placed", 2.0),
            (3, 10, 10, "paid", 4.0),
        ]
        got = self._run(spark, rows, runner)
        assert got == {
            ("10", 1): ("completed", _ts(10)),
            ("10", 2): ("completed", _ts(10)),
        }

    @pytest.mark.parametrize("runner", [correlate, compile_sequence])
    def test_boundary_exact_deadline_completes(self, spark, runner):
        # f.ts == deadline: acceptEventTime uses <= (AEventProcessor.php:357-396)
        rows = [(1, 0, 10, "placed", 1.0), (2, 20, 10, "paid", 2.0)]
        got = self._run(spark, rows, runner)
        assert got == {("10", 1): ("completed", _ts(20))}


class TestStateMachineSpecifics:
    def test_same_type_sequence_pairs_disjointly(self, spark):
        # A->A: per-class dedup (CorrelationEngine.php:252-254) pairs 1-2, 3-4
        rule = sequence_rule("pair", ["click", "click"], key="user_id", timeout=None)
        rows = [(i, i * 10, 10, "click", float(i)) for i in range(1, 5)]
        df = correlate_state_machine(_mk_events(spark, rows), [rule])
        got = sorted((r.start_event_id, r.last_event_id) for r in df.collect())
        assert got == [(1, 2), (3, 4)]

    def test_continuous_gap_detection(self, spark):
        # MatchContinuouslyTillTimeout: deadline resets per event; fires when quiet
        rule = match_single_continuously("gap", ["ping"], key="user_id", timeout="PT15S")
        rows = [(1, 0, 10, "ping", 1.0), (2, 10, 10, "ping", 1.0), (3, 60, 10, "ping", 1.0)]
        df = correlate_state_machine(_mk_events(spark, rows), [rule])
        got = sorted((r.outcome, r.fire_ts, r.n_events) for r in df.collect())
        # first instance consumed events 1,2 then timed out at 10+15=25s;
        # event 3 starts a new instance that times out at 60+15=75s (end of stream)
        assert got == [("timeout", _ts(25), 2), ("timeout", _ts(75), 1)]

    def test_chain_limit_trims(self, spark):
        rule = match_single_continuously(
            "trim", ["ping"], key="user_id", timeout=None, chain_limit=2, emit_final=True
        )
        rows = [(i, i, 10, "ping", float(i)) for i in range(1, 6)]
        df = correlate_state_machine(_mk_events(spark, rows), [rule])
        rows_out = df.collect()
        assert len(rows_out) == 1
        r = rows_out[0]
        assert (r.outcome, r.n_events, r.start_event_id, r.last_event_id) == ("final", 2, 4, 5)
        assert r.value_sum == 9.0

    def test_suppression_order(self, spark):
        # rule1 suppresses 'error' events; rule2 ('*') must never see them
        r1 = Rule("alert", [["error"]], key="user_id", suppress=True, continuous=True)
        r2 = match_single_continuously("count_all", ["*"], key="user_id", emit_final=True)
        rows = [
            (1, 0, 10, "error", 1.0),
            (2, 1, 10, "click", 1.0),
            (3, 2, 10, "error", 1.0),
            (4, 3, 10, "view", 1.0),
        ]
        df = correlate_state_machine(_mk_events(spark, rows), [r1, r2])
        finals = [r for r in df.collect() if r.rule == "count_all"]
        assert len(finals) == 1 and finals[0].n_events == 2  # only click + view

    def test_wildcard_sees_everything_without_suppression(self, spark):
        r2 = match_single_continuously("count_all", ["*"], key="user_id", emit_final=True)
        rows = [(i, i, 10, t, 1.0) for i, t in enumerate(["error", "click", "error", "view"], 1)]
        df = correlate_state_machine(_mk_events(spark, rows), [r2])
        finals = df.collect()
        assert len(finals) == 1 and finals[0].n_events == 4

    def test_three_step_sequence(self, spark):
        rule = sequence_rule("funnel", ["view", "click", "purchase"], key="user_id", timeout="PT1M")
        rows = [
            (1, 0, 10, "view", 1.0),
            (2, 30, 10, "click", 2.0),
            (3, 80, 10, "purchase", 3.0),  # 50s after click, within PT1M of click
            (4, 0, 11, "view", 1.0),
            (5, 90, 11, "click", 2.0),  # 90s after view > PT1M -> instance timed out first
        ]
        df = correlate_state_machine(_mk_events(spark, rows), [rule])
        got = {(r.key, r.outcome): (r.n_events, r.fire_ts) for r in df.collect()}
        assert got == {
            ("10", "completed"): (3, _ts(80)),
            ("11", "timeout"): (1, _ts(60)),
        }

    def test_timeout_fires_before_later_event_applies(self, spark):
        # batch clock: pending timeout (deadline 20) fires before event at t=100
        # even though that event could otherwise have been consumed
        rule = sequence_rule("seq", ["placed", "paid"], key="user_id", timeout="PT20S")
        rows = [(1, 0, 10, "placed", 1.0), (2, 100, 10, "paid", 1.0)]
        df = correlate_state_machine(_mk_events(spark, rows), [rule])
        got = [(r.outcome, r.fire_ts) for r in df.collect()]
        assert got == [("timeout", _ts(20))]


class TestStrategyParity:
    """Relational fast path ≡ state machine on the driver's real events table."""

    @pytest.mark.parametrize("timeout", ["PT30M", "PT6H", None])
    def test_paths_agree_on_real_data(self, spark, events, timeout):
        rule = sequence_rule("r", ["signup", "purchase"], key="user_id", timeout=timeout)
        fast = compile_sequence(events, rule)
        slow = correlate_state_machine(events, [rule])
        cols = ["key", "start_event_id", "outcome", "fire_ts", "last_event_id", "n_events"]
        a = sorted(map(tuple, fast.select(cols).collect()))
        b = sorted(map(tuple, slow.select(cols).collect()))
        assert a == b and len(a) > 0


class TestEngineGuards:
    def test_duplicate_rule_names_raise_on_every_entry_point(self, spark):
        """EngineCore keys live-instance lists by rule name — duplicates
        silently merged state in correlate_state_machine/snapshot_state
        while correlate raised; now every public entry rejects them."""
        import datetime as dtm

        from php_ec_spark.engine.streaming import snapshot_state

        rules = [
            match_single_continuously("x", ["a"], key="user_id"),
            match_single_continuously("x", ["b"], key="user_id"),
        ]
        ev = spark.createDataFrame(
            [(1, dtm.datetime(2024, 1, 1), 1, "a", 1.0, None)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        with pytest.raises(ValueError, match="duplicate rule names"):
            correlate_state_machine(ev, rules)
        with pytest.raises(ValueError, match="duplicate rule names"):
            snapshot_state(ev, rules)

    def test_clock_value_validated(self, spark):
        """An unrecognized clock value fails loud instead of silently
        picking one of the two timer semantics."""
        from php_ec_spark.engine.streaming import correlate_stream

        rules = [sequence_rule("s", ["a", "b"], key="user_id", timeout="PT1M")]
        stream = (
            spark.readStream.format("rate").load()
            .selectExpr(
                "value AS event_id", "timestamp AS ts", "value AS user_id",
                "'a' AS event_type", "CAST(1.0 AS DOUBLE) AS value",
                "CAST(NULL AS STRING) AS props",
            )
        )
        with pytest.raises(ValueError, match="clock must be"):
            correlate_stream(stream, rules, clock="Processing")


class TestDerivedEventIds:
    def test_zigzag_keeps_round2_ids_negative_and_distinct(self, spark):
        """Round >=2 chain triggers ARE derived events with negative ids;
        the pre-fix fold -(e*n*stride+code)-2 flipped POSITIVE for
        negative e, colliding with source-id space. The zig-zag fold must
        keep every derived id <= -2 and distinct across outcomes."""
        import datetime as dtm

        from php_ec_spark.engine.chain import OUTCOME_CODES, emissions_to_events

        t = dtm.datetime(2024, 1, 1)
        outcomes = sorted(OUTCOME_CODES) + ["someday-new"]
        rows = [
            ("r", "1", oc, t, eid, eid, 1, 1.0, None)
            for oc in outcomes
            for eid in (-7, -1, 0, 7)
        ]
        em = spark.createDataFrame(
            rows,
            "rule string, key string, outcome string, fire_ts timestamp, "
            "start_event_id long, last_event_id long, n_events long, "
            "value_sum double, payload string",
        )
        got = emissions_to_events(em, rule_index={"r": 0}).collect()
        ids = [r["event_id"] for r in got]
        assert all(i <= -2 for i in ids), ids
        assert len(set(ids)) == len(ids)  # injective incl. unknown outcome

    def test_final_and_error_outcomes_have_distinct_codes(self):
        from php_ec_spark.engine.chain import OUTCOME_CODES, _OUTCOME_STRIDE

        # every outcome the engine can emit must map to its own code
        assert set(OUTCOME_CODES) == {
            "completed", "timeout", "progress", "final", "error"
        }
        assert len(set(OUTCOME_CODES.values())) == len(OUTCOME_CODES)
        assert _OUTCOME_STRIDE == len(OUTCOME_CODES) + 1  # +1 = unknown


class TestDeadlineHeapStaleness:
    """The round-7 lazy deadline heap keeps every deadline ever armed;
    stale entries (instance re-armed, completed, or already fired) must
    be discarded at pop time, never fired."""

    def _ns(self, s: float) -> int:
        return int(s * 1_000_000_000)

    def test_rearmed_instance_does_not_fire_at_old_deadline(self):
        from php_ec_spark.engine.core import EngineCore

        r = match_single_continuously(
            "roll", ["ping"], key="user_id", timeout="PT10S"
        )
        core = EngineCore([r], "1")
        # arm at t=0 (deadline 10), re-arm at t=5 (deadline 15)
        core.handle((1, self._ns(0), "ping", 1.0))
        core.handle((2, self._ns(5), "ping", 1.0))
        # an event past the STALE deadline but before the live one: the
        # heap's (10s) entry must be discarded, not fired
        core.handle((3, self._ns(12), "ping", 1.0))
        rows = core.take_rows()
        assert [row[2] for row in rows] == []  # no timeout fired
        assert core.next_deadline() == self._ns(12) + self._ns(10)
        # and past the LIVE deadline the timeout fires exactly once,
        # stamped with the current deadline
        core.fire_due(self._ns(60))
        rows = core.take_rows()
        assert [(row[2], row[3]) for row in rows] == [
            ("timeout", self._ns(22))
        ]
        assert not core.has_live()

    def test_completed_instance_entry_is_stale(self):
        from php_ec_spark.engine.core import EngineCore

        r = sequence_rule(
            "seq", ["a", "b"], key="user_id", timeout="PT10S"
        )
        core = EngineCore([r], "1")
        core.handle((1, self._ns(0), "a", 1.0))   # arms deadline 10
        core.handle((2, self._ns(3), "b", 1.0))   # completes
        core.fire_due(None)                       # heap entry now stale
        rows = core.take_rows()
        assert [row[2] for row in rows] == ["completed"]
        assert core.next_deadline() is None
        assert not core.has_live()

    def test_dead_instances_purged_lazily_from_buckets(self):
        from php_ec_spark.engine.core import EngineCore

        r = sequence_rule("seq", ["a", "b"], key="user_id", timeout="PT10S")
        core = EngineCore([r], "1")
        for i in range(5):
            core.handle((i, self._ns(float(i)), "a", 1.0))
        core.fire_due(None)  # all five time out; buckets still hold them
        assert sum(len(v) for v in core.live.values()) == 0  # view filters
        core.handle((99, self._ns(100), "b", 1.0))  # scans + purges bucket
        assert sum(
            len(lst)
            for buckets in core._live.values()
            for lst in buckets.values()
        ) == 0
        rows = core.take_rows()
        assert [row[2] for row in rows] == ["timeout"] * 5

    def test_dead_instances_compact_in_unscanned_buckets(self):
        """A flood of armed sequences whose next step never arrives dies
        via the deadline heap while sitting in a bucket that is never
        rescanned — fire_due must compact periodically or a long replay
        accumulates every dead instance for the key."""
        from php_ec_spark.engine.core import _COMPACT_EVERY, EngineCore

        r = sequence_rule("seq", ["a", "b"], key="user_id", timeout="PT1S")
        core = EngineCore([r], "1")
        n = 3 * _COMPACT_EVERY
        for i in range(n):  # 2s spacing: each event times out predecessors
            core.handle((i, self._ns(2.0 * i), "a", 1.0))
        resident = sum(
            len(lst)
            for buckets in core._live.values()
            for lst in buckets.values()
        )
        assert resident <= _COMPACT_EVERY + 8, resident
        rows = core.take_rows()
        assert sum(1 for row in rows if row[2] == "timeout") == n - 1
