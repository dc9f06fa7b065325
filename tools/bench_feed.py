"""Feed-loop throughput bench: items/sec through the FULL FeedRunner
drain (CDC source → one-pass gate decision + processor map → state
upsert) at the reference's load profile — the number the reference's
actual job is judged by, measured per storage backend.

    python tools/bench_feed.py [n_items] [n_parts] [store ...]
        [--settled N] [--target-bytes B]

Defaults: 200000 items x 1000 partitions, stores txlog dbapi (the two
FeedRunner stores).  Every item completes in one processor pass; the
drain is one streaming query that stops at the first trigger finding no
new data, so items/sec ~= n_items / wall(run_available).

``--settled N`` switches to the settled-state profile: N extra COMPLETE
items (in complete partitions, never touched by the drain) sit alongside
the active ones, and the active items take TWO processor passes — so the
write trail shows [conversion, growth conversion if scheduled, delta,
delta] and the LAST delta is the steady-state per-batch write volume for
that table size.  Sweeping N across 1x/10x with a fixed --target-bytes
(sets feed_runner.BUCKET_TARGET_BYTES) is the evidence that size-tiered bucket
growth keeps delta writes ~flat as the table grows.

Spark runs on ``local[$SPARK_GRAFT_CPUS]`` (or ``$SPARK_GRAFT_MASTER``).
Prints ONE JSON line:
    {"metric": "feed_throughput", "n_items": N, "n_parts": P,
     "items_per_sec": {store: rate}, "wall_sec": {store: s},
     "write_bytes_per_batch": {store: [b0, b1, ...]},
     "load": [1/5/15-min load before, then after], "cpus": C,
     "master": M}

``write_bytes_per_batch`` (txlog only) is the bucketed state store's
staged parquet bytes per committed micro-batch: the first batch converts +
writes the full state, later batches write only buckets containing touched
rows — the per-batch trail is the evidence that write volume tracks work
done, not table size.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gofeed_spark.feedstate.model import AVAILABLE
from gofeed_spark.feedstate.processors import json_times_processor
from gofeed_spark.session import get_spark
from gofeed_spark.streaming import feed_runner
from gofeed_spark.streaming.feed_runner import FeedRunner


def _frames(spark, n_items: int, n_parts: int, n_settled: int = 0):
    COMPLETE = 2
    parts = spark.range(n_parts).select(
        F.concat(F.lit("p"), "id").alias("id"),
        F.lit(0).alias("version"),
        F.lit(0).alias("gate"),
        F.lit(AVAILABLE).alias("status"),
    )
    times = 2 if n_settled else 1  # settled profile: two passes per item
    items = spark.range(n_items).select(
        F.concat(F.lit("i"), "id").alias("id"),
        F.lit(0).alias("version"),
        F.lit(0).alias("retry_count"),
        F.concat(F.lit("p"), (F.col("id") % n_parts)).alias("partition_id"),
        F.lit(0).alias("gate"),
        F.lit(AVAILABLE).alias("status"),
        F.lit("").alias("error_messages"),
        F.lit('{"times": %d}' % times).alias("data"),
        F.lit(0).cast("long").alias("updated_at"),
    )
    if n_settled:
        done_parts = spark.range(n_parts).select(
            F.concat(F.lit("dp"), "id").alias("id"),
            F.lit(0).alias("version"),
            F.lit(0).alias("gate"),
            F.lit(COMPLETE).alias("status"),
        )
        done = spark.range(n_settled).select(
            F.concat(F.lit("d"), "id").alias("id"),
            F.lit(0).alias("version"),
            F.lit(0).alias("retry_count"),
            F.concat(F.lit("dp"), (F.col("id") % n_parts)).alias("partition_id"),
            F.lit(0).alias("gate"),
            F.lit(COMPLETE).alias("status"),
            F.lit("").alias("error_messages"),
            F.lit('{"times": 1}').alias("data"),
            F.lit(0).cast("long").alias("updated_at"),
        )
        parts = parts.unionByName(done_parts)
        items = items.unionByName(done)
    return parts, items


def _seed(
    spark, runner: FeedRunner, store: str, n_items: int, n_parts: int,
    n_settled: int = 0,
):
    parts, items = _frames(spark, n_items, n_parts, n_settled)
    if store == "txlog":
        runner.log.commit({runner.t_items: items, runner.t_parts: parts})
    else:  # dbapi: executemany through the store's own upsert SQL
        runner.db.seed(
            items_rows=[tuple(r) for r in items.collect()],
            parts_rows=[tuple(r) for r in parts.drop("updated_at").collect()],
        )


def bench_store(
    spark, store: str, n_items: int, n_parts: int, n_settled: int = 0,
) -> tuple[float, list[int], int]:
    base = tempfile.mkdtemp(prefix=f"feed_bench_{store}_")
    try:
        runner = FeedRunner(
            spark, base, json_times_processor, max_retries=3,
            auto_close=True, storage=store,
        )
        _seed(spark, runner, store, n_items, n_parts, n_settled)
        t0 = time.perf_counter()
        runner.run_available(timeout_s=600)
        wall = time.perf_counter() - t0
        n_done = runner.items().filter(F.col("status") == 2).count()
        if n_done != n_items + n_settled:
            raise RuntimeError(
                f"{store}: {n_done}/{n_items + n_settled} items completed"
            )
        per_batch = [
            sum(v for k, v in h.items() if k != "batch_id")
            for h in runner.write_history
        ]
        return wall, per_batch, runner.state_buckets
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main():
    args = [a for a in sys.argv[1:]]
    n_settled, target_bytes = 0, None
    if "--settled" in args:
        i = args.index("--settled")
        n_settled = int(args[i + 1])
        del args[i : i + 2]
    if "--target-bytes" in args:
        i = args.index("--target-bytes")
        target_bytes = int(args[i + 1])
        feed_runner.BUCKET_TARGET_BYTES = target_bytes
        del args[i : i + 2]
    n_items = int(args[0]) if len(args) > 0 else 200_000
    n_parts = int(args[1]) if len(args) > 1 else 1_000
    stores = args[2:] or ["txlog", "dbapi"]
    spark = get_spark("feed-bench")
    load_start = os.getloadavg()
    walls, rates, write_bytes, buckets = {}, {}, {}, {}
    for store in stores:
        wall, per_batch, n_buckets = bench_store(
            spark, store, n_items, n_parts, n_settled
        )
        walls[store] = round(wall, 2)
        rates[store] = round(n_items / wall)
        if per_batch:
            write_bytes[store] = per_batch
            buckets[store] = n_buckets
    out = {
        "metric": "feed_throughput",
        "n_items": n_items,
        "n_parts": n_parts,
        "items_per_sec": rates,
        "wall_sec": walls,
        "write_bytes_per_batch": write_bytes,
        # the box the numbers were taken on
        "load": [round(x, 2) for x in (*load_start, *os.getloadavg())],
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    if n_settled:
        out["n_settled"] = n_settled
        out["state_buckets_final"] = buckets
        if target_bytes is not None:
            out["bucket_target_bytes"] = target_bytes
    print(json.dumps(out))


if __name__ == "__main__":
    main()
