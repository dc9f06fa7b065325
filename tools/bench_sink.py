"""Write-volume evidence for the bucketed ParquetUpsertSink.

Settles a large state table through the sink, then commits small
touched-key micro-batches and reports bytes written per batch vs the
settled table size — the streaming twin of the round-8 feedstate
measurement (full-snapshot 1.47 MB -> 25 KB touched-bucket).  Prints ONE
JSON line; pipe it into BENCH_SCALE.md verbatim (hand transcription
introduces digit errors).

Runs on ``get_spark`` (``local[$SPARK_GRAFT_CPUS]``) and records the
load averages before and after and the ``cpus``/``master`` it ran on.

Usage: python tools/bench_sink.py [n_settled=50000] [batch_keys=16] [--spread]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_settled = int(sys.argv[1]) if len(sys.argv) > 1 else 50000
    batch_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    # third arg: also run the SPREAD-KEY profile (keys hitting every
    # bucket — the q120 pattern) in both modes, the merge-vs-lsm evidence
    spread = len(sys.argv) > 3 and sys.argv[3] == "--spread"

    from gofeed_spark.session import get_spark
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    spark = get_spark("bench-sink", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    load_start = os.getloadavg()
    # the box the numbers were taken on
    host = {
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }
    base = tempfile.mkdtemp(prefix="gofeed_bench_sink_")
    try:
        sink = ParquetUpsertSink(f"{base}/state", key="k", n_buckets=64)
        settle = spark.range(n_settled).selectExpr(
            "concat('key', lpad(cast(id as string), 8, '0')) as k",
            "cast(id as int) as v",
            "repeat('x', 64) as payload",
        )
        t0 = time.time()
        sink(settle, 0)
        settle_s = time.time() - t0
        settled_bytes = sink.last_write_bytes
        per_batch = []
        for b in range(1, 6):
            delta = spark.range(batch_keys).selectExpr(
                f"concat('key', lpad(cast(id * {b} as string), 8, '0')) as k",
                f"cast(-{b} as int) as v",
                "repeat('y', 64) as payload",
            )
            t0 = time.time()
            sink(delta, b)
            per_batch.append(
                {
                    "bytes": sink.last_write_bytes,
                    "buckets": sink.last_buckets_written,
                    "sec": round(time.time() - t0, 3),
                }
            )
        total_rows = sink.read(spark).count()
        print(
            json.dumps(
                {
                    "metric": "upsert_sink_write_volume",
                    "n_settled": n_settled,
                    "batch_keys": batch_keys,
                    "settled_bytes": settled_bytes,
                    "settle_sec": round(settle_s, 3),
                    "per_batch": per_batch,
                    "batch_over_settled": round(
                        per_batch[-1]["bytes"] / settled_bytes, 5
                    ),
                    "final_rows": total_rows,
                    "load": [round(x, 2) for x in (*load_start, *os.getloadavg())],
                    **host,
                }
            )
        )
        if spread:
            # spread-key profile: every batch's keys hash into EVERY
            # bucket (stride n_settled // batch_keys), so merge mode
            # rewrites ~all buckets per trigger while lsm appends O(batch)
            out = {}
            for mode in ("merge", "lsm"):
                s2 = ParquetUpsertSink(
                    f"{base}/{mode}_spread", key="k", n_buckets=64, mode=mode
                )
                s2(settle, 0)
                per = []
                stride = max(1, n_settled // batch_keys)
                for b in range(1, 6):
                    delta = spark.range(batch_keys).selectExpr(
                        f"concat('key', lpad(cast(id * {stride} + {b} as "
                        "string), 8, '0')) as k",
                        f"cast(-{b} as int) as v",
                        "repeat('y', 64) as payload",
                    )
                    t0 = time.time()
                    s2(delta, b)
                    per.append(
                        {
                            "bytes": s2.last_write_bytes,
                            "buckets": s2.last_buckets_written,
                            "compact_bytes": s2.last_compact_bytes,
                            "sec": round(time.time() - t0, 3),
                        }
                    )
                out[mode] = {
                    "per_batch": per,
                    "final_rows": s2.read(spark).count(),
                }
            print(
                json.dumps(
                    {
                        "metric": "upsert_sink_spread_key_modes",
                        "n_settled": n_settled,
                        "batch_keys": batch_keys,
                        "merge": out["merge"]["per_batch"],
                        "lsm": out["lsm"]["per_batch"],
                        "lsm_over_merge_bytes": round(
                            sum(p["bytes"] for p in out["lsm"]["per_batch"])
                            / max(1, sum(p["bytes"] for p in out["merge"]["per_batch"])),
                            5,
                        ),
                        "rows_equal": out["merge"]["final_rows"]
                        == out["lsm"]["final_rows"],
                        "load": [round(x, 2) for x in (*load_start, *os.getloadavg())],
                        **host,
                    }
                )
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
