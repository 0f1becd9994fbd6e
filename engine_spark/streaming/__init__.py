"""Structured Streaming path: the event-at-a-time semantics of the
reference engine on Spark's micro-batch runtime.

- ``harness``  — AppRunner-equivalent test harness (reference
  tests/common/mod.rs:31-83): send events → run query → collect outputs.
- ``windows``  — streaming window builders (tumbling/sliding/session with
  watermarks; length/lengthBatch/time windows via keyed state in
  ``sliding_stream``).
- ``nfa``      — per-key pattern NFA over ``applyInPandasWithState``
  (reference stream_pre_state_processor.rs / state machine ~6k LoC).
  ``chain_stream`` runs every followed-by and absent shape;
  ``count_quantifier_stream`` stays separate because it fires per event on
  a trailing ``[m, n]`` count and ``chain_stream`` rejects a quantified
  step 0; ``logical_and_stream_payload`` stays separate because
  ``chain_stream`` rejects a grouped step 0.

Batch vs streaming: every operator in engine_spark.operators has declared-
equivalent batch semantics (verified by the DuckDB oracles); these modules
provide the incremental execution of the same semantics. Watermarks bound
state exactly where the reference's window buffers/timer wheel did.
"""
