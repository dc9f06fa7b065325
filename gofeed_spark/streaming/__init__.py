"""Structured Streaming surface (SURVEY §2.D): the change feed itself.

- ``replay``: file-based micro-batch replay of a batch table (the test
  stand-in for a CDC/JDBC incremental source; the reference polls its DB
  tables on a timer — watcher.go:89-122 — which IS micro-batching).
- ``gate_stream``: the per-partition gate state machine as a keyed stateful
  operator (applyInPandasWithState), the streaming twin of
  watcher.go:147-161, and the only streaming form of it.
- ``sinks.ParquetUpsertSink``: idempotent keyed MERGE sink for
  foreachBatch — a keyed table over TxLog (feedstate/keyed.py): each
  batch's buckets and its id, keyed by the streaming query id, land in
  one manifest commit, so checkpoint + that id give exactly-once effect
  on restart and concurrent writers arbitrate optimistically (the OCC
  save, repo.go:125-138); a micro-batch rewrites only the buckets
  holding its keys.
- ``windows``: watermarked tumbling/session window twins of Q31/Q32.
"""

from gofeed_spark.streaming.feed_stream import (
    gate_stream,
    replay_stream,
)
from gofeed_spark.streaming.sinks import ParquetUpsertSink
from gofeed_spark.streaming.windows import (
    streaming_session_counts,
    streaming_tumbling_counts,
)
