"""Streaming surface (SURVEY.md §2.12, §7.2 M4).

The reference has no streams — every DAG is a manual-trigger batch job
whose "freshness" is re-run + upsert idempotency. The engine adds a
real incremental surface over the ``events`` table:

- ``batch_windows``: tumbling / sliding / session windows as
  *batch* queries (``F.window`` / ``session_window`` work identically
  over static DataFrames), each with a DuckDB oracle — this is the
  correctness anchor for the streaming semantics.
- ``runtime``: the same aggregations as Structured Streaming plans
  (``readStream`` -> watermark -> windowed agg -> ``foreachBatch``
  upsert), exercised by tests with the availableNow trigger, plus the
  crawl-ingest and monitor sinks.
- ``store``: the batch-scoped store those sinks keep their state in,
  and the one statement of its exactly-once, crash and provenance
  contract.
"""
