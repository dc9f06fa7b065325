"""The analytics workload: the headline query mix and the table-format
chain, over tables generated from the seed.

- query mix: six of the 21 queries of ``bench.py``'s ``HEADLINE`` list,
  one per operator family, each built and collected after
  ``clearCache()``: aggregation, join, window, as-of join, n-gram
  dedup and k-NN similarity.
- table chain: ``q191_lineage_through_rewrites``, on Delta and on
  Iceberg: append, MERGE, optimize/rewrite, deletion-vector DELETE and a
  row-lineage read.  The query does its table writes when called.

Every execution collects its result and compares it with the DuckDB
oracle on the same tables, by the driver-style hash: ``repr`` of each
value, columns sorted by name, rows sorted.
"""

from __future__ import annotations

import hashlib
import statistics
import time
from dataclasses import dataclass, field

CHAIN = ["q191_lineage_through_rewrites"]
# One query per operator family of bench.py's HEADLINE list, six
# families.  More does not fit the benchmark's time budget: at scale 0.1
# a query costs 1-6 s in a fresh session, and a feed run already takes
# 65-85 s of the budget's 71 s a run (3420 s for 48 runs).
QUERY_MIX = [
    "q06_groupby_multiagg",
    "q11_join3_agg",
    "q16_window_rank",
    "q33_asof_join",
    "q40_ngram_jaccard_pairs",
    "q34_knn_brute",
]


def headline() -> list[str]:
    """The query mix, checked against ``bench.HEADLINE``."""
    import bench

    missing = [q for q in QUERY_MIX if q not in bench.HEADLINE]
    if missing:
        raise ValueError(f"not in bench.HEADLINE: {missing}")
    return list(QUERY_MIX)


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(repr(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_connection(sf_dir: str):
    import duckdb

    from gofeed_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@dataclass
class AnalyticsResult:
    times: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)

    def medians(self) -> dict[str, float]:
        return {q: statistics.median(v) for q, v in self.times.items() if v}


def oracle_hashes(sf_dir: str, names: list[str]) -> dict[str, str]:
    """Driver-style hash of each query's DuckDB oracle result; queries
    registered without an oracle (rows-only) are absent."""
    from gofeed_spark.queries import ORACLES

    con = oracle_connection(sf_dir)
    try:
        out = {}
        for name in names:
            if name in ORACLES:
                cur = con.execute(ORACLES[name])
                out[name] = result_hash([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def _run_one(spark, name: str, sf_dir: str, expect: str | None,
             res: AnalyticsResult, tracer) -> None:
    """Run ``name`` end to end, collecting its rows, and check them: the
    oracle's hash when there is one, else at least the query's declared
    minimum of rows.  The result is checked off the clock."""
    from gofeed_spark.queries import MIN_ROWS, QUERIES

    res.attempted += 1
    spark.catalog.clearCache()
    span = tracer.begin(f"query.{name}") if tracer else None
    t0 = time.perf_counter()
    try:
        df = QUERIES[name](spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        elapsed = time.perf_counter() - t0
    except Exception as exc:  # noqa: BLE001 — counted as a failed operation
        res.failed += 1
        res.mismatches.append(f"{name}: {exc!r}"[:300])
        return
    finally:
        if span is not None:
            tracer.end(span)
    res.times.setdefault(name, []).append(elapsed)
    if len(rows) < MIN_ROWS.get(name, 1):
        res.failed += 1
        res.mismatches.append(f"{name}: vacuous ({len(rows)} rows)")
    elif expect is not None and result_hash(df.columns, rows) != expect:
        res.failed += 1
        res.mismatches.append(f"{name}: hash differs from oracle ({len(rows)} rows)")


def run(spark, sf_dir: str, seconds: float, tracer=None) -> AnalyticsResult:
    """Passes over every query, each result checked, until ``seconds``
    have elapsed (at least one pass).  The first pass runs in a fresh
    session, as a driver that opens a session and runs each query once
    sees it."""
    names = headline() + CHAIN
    expect = oracle_hashes(sf_dir, names)
    res = AnalyticsResult()
    t_end = time.perf_counter() + seconds
    passes = 0
    while passes < 1 or time.perf_counter() < t_end:
        for name in names:
            _run_one(spark, name, sf_dir, expect.get(name), res, tracer)
        passes += 1
    return res
