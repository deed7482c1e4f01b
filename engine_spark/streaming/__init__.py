"""Structured Streaming path: the event-at-a-time semantics of the
reference engine on Spark's micro-batch runtime.

- ``harness``  — AppRunner-equivalent test harness (reference
  tests/common/mod.rs:31-83): send events → run query → collect outputs.
- ``windows``  — streaming window builders (tumbling/sliding/session with
  watermarks; count windows via keyed state).
- ``nfa``      — per-key pattern NFA over ``applyInPandasWithState``
  (reference stream_pre_state_processor.rs / state machine ~6k LoC):
  followed-by chains (with absence, groups and quantified steps), count
  quantifier, AND group.

Batch vs streaming: every operator in engine_spark.operators has declared-
equivalent batch semantics (verified by the DuckDB oracles); these modules
provide the incremental execution of the same semantics. Watermarks bound
state exactly where the reference's window buffers/timer wheel did.
"""
