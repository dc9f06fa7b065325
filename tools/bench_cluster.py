"""Clustering-effectiveness evidence line (r17 sort-order rewrites):
build an UNORDERED table per format (every commit spans the full key
range), measure a where= point lookup (files opened + seconds), then
``optimize_delta(zorder_by=)`` / ``rewrite_iceberg(sort_by=)`` and
measure the same lookup against the clustered layout.

Prints ONE JSON line — append to BENCH_SCALE.md via tee/pipe.

    python tools/bench_cluster.py [n_rows] [n_commits]
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


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_commits = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark("bench-cluster", shuffle_partitions=32)
    load_start = os.getloadavg()
    from gofeed_spark.sources import delta as D
    from gofeed_spark.sources import iceberg as I

    work = tempfile.mkdtemp(prefix="bench_cluster_")
    dt, it = f"{work}/delta", f"{work}/ice"
    probe = str(n_rows // 2)

    def mk(r):
        # residue-class commits: every file spans the full key range
        return (
            spark.range(n_rows)
            .filter(F.col("id") % n_commits == r)
            .select(
                F.col("id").alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("text"),
            )
            .coalesce(1)
        )

    for r in range(n_commits):
        D.write_delta(mk(r), dt)
        I.write_iceberg(mk(r), it)

    out: dict = {}

    def lookup(tag, fn):
        t0 = time.time()
        df = fn()
        n = df.count()
        out[tag] = {
            "sec": round(time.time() - t0, 3),
            "files": len(df.inputFiles()),
            "rows": n,
        }

    lookup("delta_unordered", lambda: D.read_delta(spark, dt, where={"k": probe}))
    lookup("iceberg_unordered", lambda: I.read_iceberg(spark, it, where={"k": probe}))
    size = sum(
        a.get("size", 0)
        for a in D._snapshot(D.get_filesystem(dt), dt).adds.values()
    )
    t0 = time.time()
    D.optimize_delta(spark, dt, target_file_bytes=max(1, size // 8), zorder_by=["k"])
    d_rw = round(time.time() - t0, 3)
    t0 = time.time()
    I.rewrite_iceberg(spark, it, target_file_bytes=max(1, size // 8), sort_by=["k"])
    i_rw = round(time.time() - t0, 3)
    lookup("delta_clustered", lambda: D.read_delta(spark, dt, where={"k": probe}))
    lookup("iceberg_clustered", lambda: I.read_iceberg(spark, it, where={"k": probe}))
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "cluster_rewrite",
                "n_rows": n_rows,
                "n_commits": n_commits,
                "rewrite_sec": {"delta": d_rw, "iceberg": i_rw},
                "lookups": out,
                # the box the numbers were taken on
                "load": [round(x, 2) for x in (*load_start, *os.getloadavg())],
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
            }
        )
    )


if __name__ == "__main__":
    main()
