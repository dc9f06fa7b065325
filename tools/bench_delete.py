"""Row-level delete cost evidence: DELETION VECTORS vs rewrite (Delta)
and position/equality deletes vs nothing-at-all (Iceberg).

Builds an N-row table in several files, deletes a small fraction of
rows spread across EVERY file (the worst case for rewrite: all files
touched), and reports wall time + bytes newly written per mode — the
merge-on-read trade made concrete.  Prints ONE JSON line.

Usage: python tools/bench_delete.py [n_rows] [files]
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


def tree_bytes(root: str) -> int:
    total = 0
    for r, _d, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(r, f))
    return total


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("bench-delete", shuffle_partitions=32)
    load_start = os.getloadavg()
    from gofeed_spark.sources import delta as D
    from gofeed_spark.sources import iceberg as I
    from gofeed_spark.sources import tablecore

    work = tempfile.mkdtemp(prefix="bench_delete_")
    df = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
        (F.col("id") % 97).alias("val"),
    ).repartition(n_files)
    pred = "doc_id % 100 = 0"  # 1% of rows, present in every file

    legs = {}

    def leg(name, build, run):
        root = f"{work}/{name}"
        build(root)
        before = tree_bytes(root)
        t0 = time.time()
        run(root)
        legs[name] = {
            "wall_sec": round(time.time() - t0, 3),
            "bytes_written": tree_bytes(root) - before,
        }

    leg(
        "delta_rewrite",
        lambda r: D.write_delta(df, r),
        lambda r: D.delete_delta_rows(spark, r, pred),
    )
    leg(
        "delta_dv",
        lambda r: D.write_delta(df, r),
        lambda r: D.delete_delta_rows(spark, r, pred, dv=True),
    )
    leg(
        "iceberg_position",
        lambda r: I.write_iceberg(df, r),
        lambda r: I.delete_iceberg_rows(spark, r, pred),
    )
    leg(
        "iceberg_equality",
        lambda r: I.write_iceberg(df, r),
        lambda r: I.delete_iceberg_equality(
            spark, r, df.filter(pred).select("doc_id")
        ),
    )
    # read-back cost of the merge-on-read state (count of live rows)
    for name, root in (
        ("delta_dv", f"{work}/delta_dv"),
        ("iceberg_position", f"{work}/iceberg_position"),
        ("iceberg_equality", f"{work}/iceberg_equality"),
        ("delta_rewrite", f"{work}/delta_rewrite"),
    ):
        t0 = time.time()
        n = (
            D.read_delta(spark, root)
            if name.startswith("delta")
            else I.read_iceberg(spark, root)
        ).count()
        legs[name]["read_sec"] = round(time.time() - t0, 3)
        assert n == n_rows - n_rows // 100, (name, n)
    # the r16 gated-broadcast fallback: a delete set the manifests cannot
    # prove small must NOT broadcast — force the bound to 0 and time the
    # planner-chosen join path (counts must match the broadcast path)
    orig = tablecore.DELETE_BROADCAST_MAX
    tablecore.DELETE_BROADCAST_MAX = 0
    try:
        for name in ("iceberg_position", "iceberg_equality"):
            t0 = time.time()
            n = I.read_iceberg(spark, f"{work}/{name}").count()
            legs[name]["read_fallback_sec"] = round(time.time() - t0, 3)
            assert n == n_rows - n_rows // 100, (name, n)
    finally:
        tablecore.DELETE_BROADCAST_MAX = orig
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "delete_modes",
                "n_rows": n_rows,
                "n_files": n_files,
                "deleted_pct": 1,
                "legs": legs,
                # the box the numbers were taken on
                "load": [round(x, 2) for x in (*load_start, *os.getloadavg())],
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
            }
        )
    )


if __name__ == "__main__":
    main()
