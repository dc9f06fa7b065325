"""The feed workload: backlog drains through ``FeedRunner.run_available``
on the two transactional state stores.

- ``drain`` (txlog store): 3000 items over 300 Zipf-sized partitions,
  arrivals spread over ``updated_at``.  The engine tick, processor map,
  CDC poll and bucketed snapshot commit do the work.
- ``settled`` (dbapi store over sqlite3, the reference's Gorm-over-SQL
  deployment): 1000 active items beside 5000 Complete items in Complete
  partitions.  The store claims batch cost tracks ready work, not table
  size; the settled rows are what that claim is about.

Every item needs one processor pass; 2% carry ``fail`` and, with
``MAX_RETRIES`` = 0, end Failed on that pass and fail their partitions.
A drain is then two micro-batches (process; decide the partitions) in
three streaming rounds — the smallest drain that still re-queues work,
which is what the benchmark's time budget allows.

Each part builds its store fixture ``setup_reps`` times (the last copy is
drained), drains it once, and checks every active item and partition
against the state the generator's parameters imply: non-failing items
Complete after exactly ``times`` passes, failing items Failed with
``MAX_RETRIES + 1`` attempts, partitions Failed when they hold a failing
item and Complete otherwise, settled rows untouched.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

from perfbench import datagen

ITEMS_DDL = (
    "id string, version int, retry_count int, partition_id string, gate int, "
    "status int, error_messages string, data string, updated_at long"
)
PARTS_DDL = "id string, version int, gate int, status int"
AVAILABLE, COMPLETE, FAILED = 1, 2, 3
# Every item needs one processor pass and a failing item is not retried;
# passes and retries come back with the gate fan-in, once a partition's
# gate advance re-queues the items waiting behind it.
MAX_RETRIES = 0
FAIL_SHARE = 0.02


@dataclass(frozen=True)
class FeedSize:
    drain_items: int
    drain_parts: int
    settled_active: int
    settled_active_parts: int
    settled_rows: int


SIZES = {
    "full": FeedSize(3000, 300, 1000, 100, 5000),
    "tiny": FeedSize(200, 20, 100, 10, 500),
}


class StreamLog:
    """Collects Structured Streaming events (progress per micro-batch,
    query starts and terminations) through Spark's public listener API."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list = []
        self.started = 0
        self.terminated: list = []
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                log.started += 1

            def onQueryProgress(self, event):
                log.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log.terminated.append(event.exception)

        spark.streams.addListener(_Listener())

    def mark(self) -> tuple[int, int]:
        return len(self.progress), len(self.terminated)

    def settle(self, timeout_s: float = 5.0) -> None:
        """Listener events arrive asynchronously: wait until every started
        query has reported its termination."""
        deadline = time.monotonic() + timeout_s
        while len(self.terminated) < self.started and time.monotonic() < deadline:
            time.sleep(0.05)

    def since(self, mark: tuple[int, int]) -> tuple[list, list]:
        return self.progress[mark[0]:], self.terminated[mark[1]:]


def _expected(items: list[tuple]):
    exp_items, failing_parts, parts = {}, set(), set()
    for row in items:
        d = json.loads(row[7])
        parts.add(row[3])
        if d.get("fail"):
            failing_parts.add(row[3])
            exp_items[row[0]] = (FAILED, MAX_RETRIES + 1, None)
        else:
            exp_items[row[0]] = (COMPLETE, 0, d["times"])
    exp_parts = {p: FAILED if p in failing_parts else COMPLETE for p in parts}
    return exp_items, exp_parts


def check_state(runner, items: list[tuple], n_settled: int) -> tuple[int, int]:
    """(attempted, failed): one operation per active item and per active
    partition, failed when its final state differs from the expected, and
    one more for the settled rows, which must come out as seeded
    (Complete, version 1)."""
    exp_items, exp_parts = _expected(items)
    rows = runner.items().select("id", "version", "status", "retry_count", "data").collect()
    got_items = {r.id: r for r in rows}
    got_parts = {r.id: r.status for r in runner.partitions().collect()}
    failed = 0
    for iid, (status, retries, times) in exp_items.items():
        r = got_items.get(iid)
        if r is None or r.status != status or r.retry_count != retries:
            failed += 1
        elif times is not None and json.loads(r.data).get("processed") != times:
            failed += 1
    for pid, status in exp_parts.items():
        if got_parts.get(pid) != status:
            failed += 1
    attempted = len(exp_items) + len(exp_parts)
    if n_settled:
        untouched = sum(
            1 for r in rows
            if r.id.startswith(datagen.SETTLED_PREFIX) and r.status == COMPLETE and r.version == 1
        )
        attempted += 1
        failed += int(untouched != n_settled)
    return attempted, failed


@dataclass
class PartResult:
    name: str
    n_items: int
    wall_s: float
    setup_s: list[float]
    batch_ms: list[float]
    progress: list
    terminated: list
    attempted: int
    failed: int
    write_history: list


def _build(spark, store: str, base: str, items, parts, settled, size: FeedSize):
    from gofeed_spark.feedstate.processors import json_times_processor
    from gofeed_spark.streaming.feed_runner import FeedRunner

    shutil.rmtree(base, ignore_errors=True)
    runner = FeedRunner(
        spark, base, json_times_processor, max_retries=MAX_RETRIES, storage=store,
    )
    if store == "txlog":
        runner.log.commit({
            runner.t_items: spark.createDataFrame(items, ITEMS_DDL),
            runner.t_parts: spark.createDataFrame(parts, PARTS_DDL),
        })
    else:
        s_items, s_parts = settled
        runner.db.seed(
            items_rows=items + s_items,
            parts_rows=parts + s_parts,
        )
    return runner


def run_part(
    spark, stream: StreamLog, name: str, store: str, work: str, seed: int,
    size: FeedSize, setup_reps: int,
) -> PartResult:
    if store == "txlog":
        items, parts = datagen.feed_items(
            seed, size.drain_items, size.drain_parts, FAIL_SHARE, prefix="a",
        )
        settled = None
    else:
        items, parts = datagen.feed_items(
            seed + 1, size.settled_active, size.settled_active_parts, FAIL_SHARE,
            prefix="s",
        )
        settled = datagen.settled_items(size.settled_rows, size.settled_active_parts)
    setups = []
    for rep in range(setup_reps):
        t0 = time.perf_counter()
        runner = _build(spark, store, os.path.join(work, f"{name}{rep}"), items, parts, settled, size)
        setups.append(time.perf_counter() - t0)
    for rep in range(setup_reps - 1):
        shutil.rmtree(os.path.join(work, f"{name}{rep}"), ignore_errors=True)

    mark = stream.mark()
    t0 = time.perf_counter()
    try:
        runner.run_available(timeout_s=170)
        wall = time.perf_counter() - t0
    except Exception as exc:  # noqa: BLE001 — a failed drain fails all its operations
        print(f"perfbench: {name} drain raised {exc!r}", file=sys.stderr, flush=True)
        n_ops = len(items) + len(parts)
        return PartResult(name, len(items), time.perf_counter() - t0, setups, [], [], [],
                          n_ops, n_ops, [])
    stream.settle()
    progress, terminated = stream.since(mark)
    attempted, failed = check_state(
        runner, items, size.settled_rows if settled else 0,
    )
    batch_ms = [
        float(p.durationMs["triggerExecution"])
        for p in progress
        if "addBatch" in p.durationMs
    ]
    return PartResult(
        name, len(items), wall, setups, batch_ms, progress, terminated,
        attempted, failed, list(runner.write_history),
    )


def run(spark, stream: StreamLog, work: str, seed: int, size: FeedSize,
        setup_reps: int) -> list[PartResult]:
    """The txlog drain runs first, then the settled dbapi drain.  Both are
    timed from a fresh store; the process is as cold for the first as a
    ``--drain`` invocation of the feed CLI is."""
    return [
        run_part(spark, stream, "drain", "txlog", work, seed, size, setup_reps),
        run_part(spark, stream, "settled", "dbapi", work, seed, size, setup_reps),
    ]


def summarize(parts: list[PartResult]) -> dict[str, float]:
    out = {}
    for p in parts:
        out[f"{p.name}.items_per_s"] = p.n_items / p.wall_s
        out[f"{p.name}.batch_latency_p50_s"] = (
            statistics.median(p.batch_ms) / 1000.0 if p.batch_ms else 0.0
        )
    return out
