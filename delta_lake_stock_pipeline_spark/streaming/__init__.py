"""Streaming extension (SURVEY.md §2.12 "Streaming (events)").

Two layers:

* ``windows`` -- the registered ``s_`` keys. Each batch window key is its
  ``runtime`` stream transform applied to the batch ``events`` table (same
  Catalyst operators; a batch plan drops the watermark), so its DuckDB
  oracle checks the transform's window semantics; the replay keys run the
  same transforms incrementally against the same oracles.
* ``runtime`` -- Structured Streaming execution: file source -> watermark ->
  windowed agg / dedup-within-watermark / stateful per-key counts ->
  ``availableNow`` batch-equivalence. Exercised by ``tests/test_streaming.py``
  (timing-free: checkpointed micro-batch sequences, never wall-clock).
"""

from .windows import ORACLES, QUERIES  # noqa: F401
