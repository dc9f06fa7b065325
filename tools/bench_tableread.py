"""Fixture-build vs READ-path split for the table-format layer (VERDICT
r15 item 8): the eager-at-construction gate queries (q156/q158/q167...)
time fixture COMMITS and reads together, so a read-path regression can
hide inside commit noise (q171 at sf1.0 is ~all fixture).  This tool
builds ONE fixture per format (appends + update + delete + merge), then
times each read operation separately against the settled table.

Prints ONE JSON line: {"build_sec": {...}, "queries": {...}} — append to
BENCH_SCALE.md via tee/pipe.  Usage:

    python tools/bench_tableread.py [n_rows] [n_commits]
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


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_commits = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("bench-tableread", shuffle_partitions=32)
    load_start = os.getloadavg()
    from gofeed_spark.sources import delta as D
    from gofeed_spark.sources import iceberg as I

    work = tempfile.mkdtemp(prefix="bench_tableread_")
    dt, it = f"{work}/delta", f"{work}/ice"
    per = n_rows // n_commits
    build_sec: dict[str, float] = {}
    queries: dict[str, float] = {}

    def timed(d, name, fn):
        t0 = time.time()
        out = fn()
        d[name] = round(time.time() - t0, 3)
        return out

    def mk(lo):
        return spark.range(lo, lo + per).select(
            F.col("id").alias("doc_id"),
            F.sha2(F.col("id").cast("string"), 256).alias("text"),
            (F.col("id") % 97).alias("val"),
        )

    def build_delta():
        for c in range(n_commits):
            D.write_delta(mk(c * per), dt)
        D.update_delta(spark, dt, "doc_id % 1000 = 1", {"val": "val + 1"})
        D.delete_delta_rows(spark, dt, "doc_id % 1000 = 2", dv=True)
        D.merge_delta(
            spark, dt,
            mk(0).filter("doc_id % 1000 = 3").withColumn("val", F.lit(7).cast("long")),
            on=["doc_id"],
        )

    def build_ice():
        for c in range(n_commits):
            I.write_iceberg(mk(c * per), it)
        I.delete_iceberg_rows(spark, it, "doc_id % 1000 = 2")
        I.merge_iceberg(
            spark, it,
            mk(0).filter("doc_id % 1000 = 3").withColumn("val", F.lit(7).cast("long")),
            on=["doc_id"],
        )

    timed(build_sec, "delta", build_delta)
    timed(build_sec, "iceberg", build_ice)

    dv = D.latest_version(dt)
    timed(queries, "delta_head", lambda: D.read_delta(spark, dt).count())
    timed(queries, "delta_time_travel",
          lambda: D.read_delta(spark, dt, version=n_commits - 1).count())
    timed(queries, "delta_cdf",
          lambda: D.read_delta_changes(spark, dt, n_commits - 1, cdf=True).count())
    timed(queries, "delta_history", lambda: D.delta_history(dt))
    sid = I.latest_snapshot(it)
    timed(queries, "iceberg_head", lambda: I.read_iceberg(spark, it).count())
    timed(queries, "iceberg_time_travel",
          lambda: I.read_iceberg(spark, it, snapshot_id=n_commits - 1).count())
    timed(queries, "iceberg_changelog",
          lambda: I.read_iceberg_changes(spark, it, n_commits - 1, cdf=True).count())
    # second reads: the metadata-plane parse cache (r17) makes repeat
    # reads of a settled table skip the driver-side manifest/checkpoint
    # parse entirely — this is the line that should sit well under the
    # first read
    timed(queries, "delta_head2", lambda: D.read_delta(spark, dt).count())
    timed(queries, "iceberg_head2", lambda: I.read_iceberg(spark, it).count())
    timed(queries, "iceberg_changelog2",
          lambda: I.read_iceberg_changes(spark, it, n_commits - 1, cdf=True).count())
    assert dv >= n_commits and sid >= n_commits
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "table_read_split",
                "n_rows": n_rows,
                "n_commits": n_commits,
                "build_sec": build_sec,
                "queries": queries,
                # the box the numbers were taken on
                "load": [round(x, 2) for x in (*load_start, *os.getloadavg())],
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
            }
        )
    )


if __name__ == "__main__":
    main()
