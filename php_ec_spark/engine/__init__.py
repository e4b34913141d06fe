from .batch import EMISSION_SCHEMA, correlate, correlate_state_machine
from .chain import chain_correlate, emissions_to_events
from .relational import compile_gap_sessions, compile_sequence, plan_report
from .streaming import snapshot_state

__all__ = [
    "EMISSION_SCHEMA",
    "correlate",
    "correlate_state_machine",
    "chain_correlate",
    "emissions_to_events",
    "compile_gap_sessions",
    "compile_sequence",
    "plan_report",
    "snapshot_state",
]
