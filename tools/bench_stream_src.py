"""Streaming-FROM-table data-plane bench (VERDICT r14 item 6).

Writes an N-row table (Delta + Iceberg) in several commits of several
files each — the streaming-landing shape — then times a full
``availableNow`` drain through delta_feed / iceberg_feed into a parquet
sink, two slots per leg (the FIRST slot pays JVM/codegen warmup; compare
the WARM slot only, per the bench-store rule).  Legs:

- ``wide``: all columns, per-file partitions (partition_bytes=1 — the
  r14 behavior)
- ``packed``: all columns, byte-packed partitions (32 MB default)
- ``pruned``: packed + ``columns`` pruning to the 2-column projection

Spark runs on ``local[$SPARK_GRAFT_CPUS]`` (or ``$SPARK_GRAFT_MASTER``).
Prints ONE JSON line, with the load averages before and after and the
``cpus``/``master`` it ran on.  Usage:

    python tools/bench_stream_src.py [n_rows] [n_commits]
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

from gofeed_spark.session import get_spark


def drain(stream_df, out, ck):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_commits = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("bench-stream-src")
    load_start = os.getloadavg()
    work = tempfile.mkdtemp(prefix="bench_stream_src_")
    from gofeed_spark.sources import delta as D
    from gofeed_spark.sources import iceberg as I
    from gofeed_spark.sources.tablestream import read_delta_stream, read_iceberg_stream

    df = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 8).cast("string")).alias("source"),
        (F.col("id") * 7 % 1000).alias("n_chars"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
    )
    per = n_rows // n_commits
    dt, it = f"{work}/delta", f"{work}/ice"
    for c in range(n_commits):
        part = df.filter(
            (F.col("doc_id") >= c * per) & (F.col("doc_id") < (c + 1) * per)
        ).repartition(8)
        D.write_delta(part, dt)
        I.write_iceberg(part, it)

    legs = {}
    for fmt, opener in (("delta", read_delta_stream), ("iceberg", read_iceberg_stream)):
        tbl = dt if fmt == "delta" else it
        for leg, kw in (
            ("wide", {"partition_bytes": 1}),
            ("packed", {}),
            ("pruned", {"columns": ["doc_id", "n_chars"]}),
        ):
            times = []
            for slot in range(2):
                out = f"{work}/out_{fmt}_{leg}_{slot}"
                ck = f"{work}/ck_{fmt}_{leg}_{slot}"
                t0 = time.time()
                drain(opener(spark, tbl, **kw), out, ck)
                times.append(round(time.time() - t0, 3))
                got = spark.read.parquet(out).count()
                assert got == n_rows, (fmt, leg, got)
            legs[f"{fmt}_{leg}"] = {"cold": times[0], "warm": times[1]}
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "stream_src_drain",
                "n_rows": n_rows,
                "n_commits": n_commits,
                "files_per_commit": 8,
                "legs": legs,
                "load": [round(x, 2) for x in (*load_start, *os.getloadavg())],
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
            }
        )
    )


if __name__ == "__main__":
    main()
