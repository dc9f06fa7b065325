"""Streaming change feed: replay source + keyed gate state machine.

The reference's feed is a poll loop over DB tables (watcher.go:89-122) —
already micro-batch semantics.  Here the source is a file stream
(``maxFilesPerTrigger=1`` → one deterministic micro-batch per staged file;
a CDC/JDBC incremental source slots in without touching the rest), and the
gate machine is ``applyInPandasWithState`` keyed by partition_id — state is
the per-partition item map, the decision ladder is re-evaluated on every
update batch, exactly the semantics of watcher.go:147-161 with the timer
replaced by data arrival.  ``gate_stream`` is the only streaming form of
the ladder.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gofeed_spark.feedstate.model import AVAILABLE, COMPLETE, FAILED

ITEM_EVENT_DDL = "id string, partition_id string, gate int, status int"

GATE_OUT_DDL = (
    "partition_id string, gate int, status int, n_items int, "
    "failed_n int, avail_n int"
)
GATE_STATE_DDL = (
    "gate int, status int, item_ids array<string>, "
    "item_gates array<int>, item_statuses array<int>"
)


def replay_stream(spark: SparkSession, stage_dir: str, schema_ddl: str) -> DataFrame:
    """File-replay micro-batch source: every parquet file staged into
    ``stage_dir`` becomes one micro-batch.  Tests stage the batch fixture
    in slices to drive deterministic trigger sequences."""
    return (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )


def one_slice_df(spark: SparkSession, rows: list, schema_ddl: str) -> DataFrame:
    """Single-partition DataFrame from driver-side fixture rows.

    ``createDataFrame`` spreads even a 3-row list over defaultParallelism
    partitions; writing that as one file via ``coalesce(1)`` costs one
    Python evaluation per parent partition inside a single task (~4 s on
    local[32]).  Parallelizing with one slice writes the same file in
    ~0.1 s."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema_ddl)


def _decide(items: dict[str, tuple[int, int]], gate: int, status: int,
            manual_checkpoint: bool, auto_close: bool) -> tuple[int, int, int, int]:
    """The decision ladder (watcher.go:147-161) over the in-state item map
    → (gate, status, failed_n, avail_n); the counts come from one pass over
    the map and also feed the output row and the eviction check."""
    failed_n = avail_n = at_gate_n = 0
    for g, s in items.values():
        if s == FAILED:
            failed_n += 1
        elif s == AVAILABLE:
            avail_n += 1
            if g == gate:
                at_gate_n += 1
    if status != COMPLETE:
        if failed_n > 0:
            status = FAILED
        elif avail_n > 0:
            if at_gate_n == 0 and not manual_checkpoint:
                gate += 1
            status = AVAILABLE
        elif auto_close:
            status = COMPLETE
    return gate, status, failed_n, avail_n


def gate_stream(
    item_events: DataFrame,
    manual_checkpoint: bool = False,
    auto_close: bool = True,
) -> DataFrame:
    """Keyed stateful gate machine: a stream of item state changes
    (ITEM_EVENT_DDL) → one decision row per partition per trigger.

    State per partition_id = (gate, status, item→(gate,status) map); item
    updates fold into the map, then the ladder re-evaluates.  State size is
    O(items per partition) — the same bound the reference carries in its
    DB; at 100 TB the state store (RocksDB provider) spills per key group.

    TERMINAL EVICTION: a partition that reaches Complete — or Failed with
    no Available items left to retry — has its state REMOVED after the
    decision row is emitted, the twin of the reference dropping the
    watcher on ``InActive()`` (watcher.go:170-173).  Without it the state
    store grows monotonically with every partition ever seen; with it,
    steady-state store size is O(in-flight partitions).  A late event for
    an evicted partition re-creates it from scratch (gate 0, Available) —
    exactly what a re-registered reference watcher would see."""

    def update(key, pdfs, state: GroupState):
        (partition_id,) = key
        if state.exists:
            gate, status, ids, gates, statuses = state.get
            items = dict(zip(ids, zip(gates, statuses)))
        else:
            gate, status = 0, AVAILABLE
            items = {}
        for pdf in pdfs:
            # Vectorized fold: zip over columns (tolist() → Python ints for
            # state serialization); later rows overwrite earlier ones, same
            # as the row-at-a-time loop.
            items.update(
                zip(pdf["id"].tolist(), zip(pdf["gate"].tolist(), pdf["status"].tolist()))
            )
        gate, status, failed_n, avail_n = _decide(
            items, gate, status, manual_checkpoint, auto_close
        )
        if status == COMPLETE or (status == FAILED and avail_n == 0):
            state.remove()  # terminal: evict (watcher.go:170-173)
        else:
            ids = list(items.keys())
            state.update((
                gate, status, ids,
                [items[i][0] for i in ids],
                [items[i][1] for i in ids],
            ))
        yield pd.DataFrame(
            {
                "partition_id": [partition_id],
                "gate": [gate],
                "status": [status],
                "n_items": [len(items)],
                "failed_n": [failed_n],
                "avail_n": [avail_n],
            }
        )

    return item_events.groupBy("partition_id").applyInPandasWithState(
        update,
        outputStructType=GATE_OUT_DDL,
        stateStructType=GATE_STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
