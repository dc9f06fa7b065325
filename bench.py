"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"q06_groupby_multiagg": <sec>, ...}, "sf": <float>,
     "oracle_total": <sec>, "ratio": <value/oracle_total>,
     "cpus": <sc.defaultParallelism>, "master": <spark master>}

Methodology (r17): the Spark and DuckDB legs INTERLEAVE per run within
each query — spark, oracle, spark, oracle ... back-to-back in the same
process — so a host-load transient lands on BOTH engines' samples
instead of skewing whichever leg it happened to overlap (the r16
artifact breached the 2x gate purely through a loaded box: all-spark-
then-all-oracle phases sampled different minutes).  Each leg's headline
number is the per-query median over the paired runs.

Each query executes end-to-end (parquet scan -> plan -> noop sink) so the
timing covers the real distributed execution path without driver-side
collect of large results.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gofeed_spark.queries import QUERIES  # noqa: E402
from gofeed_spark.session import get_spark  # noqa: E402

# Representative mix: scans, aggs, joins, windows, sessionization, as-of,
# dedup/LSH, similarity — the shapes whose plans matter at 100 TB.
HEADLINE = [
    "q01_scan_project",
    "q04_sort_limit",
    "q06_groupby_multiagg",
    "q08_having",
    "q10_inner_join",
    "q11_join3_agg",
    "q15_theta_join",
    "q16_window_rank",
    "q17_topk_per_group",
    "q19_window_running",
    "q24_math_conditional",
    "q31_sessionization",
    "q32_tumbling_window",
    "q33_asof_join",
    "q36_token_count",
    "q38_quality_score",
    "q40_ngram_jaccard_pairs",
    "q41_minhash_lsh_pairs",
    "q34_knn_brute",
    "q35_label_centroids",
    "q58_topk_pairs_lsh",
]


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _spark_once(spark, name: str, sf_dir: str) -> float:
    t0 = time.time()
    df = QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--runs", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")),
        help="paired executions per query; headline = per-leg median "
        "(steady state), cold also reported",
    )
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="directory of *.parquet tables to benchmark against",
    )
    args = ap.parse_args()
    sf_dir = args.sf_dir
    spark = get_spark("bench")

    # DuckDB oracle connection up-front so its leg can interleave with
    # Spark's below.  Fail-safe: a broken oracle side must never take
    # down the Spark bench line.
    con = None
    oracles: dict[str, str] = {}
    try:
        import duckdb

        from gofeed_spark.catalog import TABLES
        from gofeed_spark.queries import ORACLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        oracles = dict(ORACLES)
    except Exception as exc:  # noqa: BLE001
        print(f"bench: oracle leg skipped: {exc!r}", file=sys.stderr)

    # Warm-up sweep, off the clock: one execution of EVERY headline plan
    # shape on BOTH engines.  This amortizes the per-session one-time
    # costs — JVM/parquet footer cache, Python UDF worker daemons, and
    # crucially janino whole-stage-codegen compilation + JIT for each
    # plan — which at bench SF are 3-5x the steady-state execution and
    # are exactly what the declared steady-state methodology excludes
    # (they are per-session, not per-query, and amortize to zero at the
    # 100 TB target scale).  The sweep IS the cold pass: its per-query
    # times are reported as cold_total so both semantics stay visible.
    colds: dict[str, float] = {}
    for name in HEADLINE:
        if name in QUERIES:
            try:
                colds[name] = round(_spark_once(spark, name, sf_dir), 3)
            except Exception:  # noqa: BLE001 — the timed loop reports it
                pass
        if con is not None and name in oracles:
            try:
                con.execute(oracles[name]).fetchall()
            except Exception:  # noqa: BLE001
                pass

    # Timed loop: per query, `runs` PAIRS of (spark, oracle) executions
    # back-to-back; each leg's number is its median across the pairs.
    la_start = os.getloadavg()
    timings: dict[str, float] = {}
    bests: dict[str, float] = {}
    oracle_t: dict[str, float] = {}
    oracle_best: dict[str, float] = {}
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        svals: list[float] = []
        ovals: list[float] = []
        sql = oracles.get(name) if con is not None else None
        try:
            for _ in range(args.runs):
                # Honest warm runs (r18): drop every persisted frame left by
                # the previous execution so a within-query persist (e.g.
                # q41's signature subtree) pays its materialization on EVERY
                # timed run instead of riding the session CacheManager
                # across runs.  The clear itself is untimed — it is not part
                # of the query's cost.
                spark.catalog.clearCache()
                svals.append(_spark_once(spark, name, sf_dir))
                if sql is not None:
                    t0 = time.time()
                    con.execute(sql).fetchall()
                    ovals.append(time.time() - t0)
        except Exception as exc:  # noqa: BLE001 — a broken query must not kill the bench
            print(f"bench: {name} failed: {exc!r}", file=sys.stderr)
            timings[name] = -1.0
            continue
        timings[name] = round(statistics.median(svals), 3)
        bests[name] = round(min(svals), 3)
        if ovals:
            oracle_t[name] = statistics.median(ovals)
            oracle_best[name] = min(ovals)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    cold_total = round(sum(t for t in colds.values() if t >= 0), 3)
    best_total = round(sum(t for t in bests.values() if t >= 0), 3)
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        "runs": args.runs,
        "cold_total": cold_total,
        # best-of-N, the pre-round-7 headline semantics: kept so
        # cross-round deltas stay apples-to-apples
        "best_total": best_total,
    }
    if oracle_t:
        paired_total = sum(
            timings[n] for n in oracle_t if timings.get(n, -1.0) >= 0
        )
        oracle_total = sum(oracle_t.values())
        out["oracle_total"] = round(oracle_total, 3)
        out["ratio"] = round(paired_total / oracle_total, 3)
        # best-of-pairs ratio: robust to a transient load window hitting
        # some runs of both legs — adjudication data, not the headline
        pb = sum(bests[n] for n in oracle_best if n in bests)
        ob = sum(oracle_best.values())
        if ob > 0:
            out["ratio_best"] = round(pb / ob, 3)
    # load averages around the timed loop: a contended window (external
    # CPU steal hits Spark's many-small-tasks scheduling harder than the
    # oracle) is visible in the artifact itself
    out["load"] = [round(x, 2) for x in (*la_start, *os.getloadavg())]
    # the cores the numbers were taken on: the line describes its own box
    out["cpus"] = spark.sparkContext.defaultParallelism
    out["master"] = spark.sparkContext.master
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
