"""sparkfeed benchmark: runs, checks and times one workload per invocation.

    python3 perfbench/run.py --workload {feed,analytics} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root.  Spark runs in this process on
``local[N]``, N = the CPUs this process may use.  Inputs are generated
from ``--seed``; every run checks the program's outputs (``correct``,
``attempted``, ``failed``).  ``--trace 0`` reports the end-to-end metrics
with no instrumentation installed, scaled to a nominal host speed
(``perfbench/reference.py``); ``--trace 1`` wraps the program's
public entry points, turns on the Spark event log and reports the
per-layer metrics instead (see ``perfbench/LAYERS.md``).

Standard output ends with two JSON lines: the run's context (cores,
master, load averages, commit, seed, scale), then the result object.
Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_out/`` in the repository root; the work directory is
removed at exit, the span dump of a traced run is kept in the output
directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sqlite3
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("feed", "analytics")
# scale factor of the generated analytics tables, per --size; 0.1 is the
# scale of bench.py's headline, where the operators outweigh Spark's
# per-job floor
ANALYTICS_SF = {"full": 0.1, "tiny": 0.002}
SETUP_REPS = 3

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s"}

DELTA_OPS = {
    "write": "write_delta",
    "merge": "merge_delta",
    "optimize": "optimize_delta",
    "delete": "delete_delta_rows",
    "read": "read_delta",
}
ICEBERG_OPS = {
    "write": "write_iceberg",
    "merge": "merge_iceberg",
    "rewrite": "rewrite_iceberg",
    "delete": "delete_iceberg_rows",
    "read": "read_iceberg",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def _commit() -> str:
    """The git commit when there is one, else a digest of the program's
    source files (an exported source tree has no git metadata)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, "gofeed_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def _prepare_env(work: str, trace_dir: str | None) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work``; must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    args = [
        # -XX:-UsePerfData: no JVM counters file under the system /tmp
        f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp} '
        f'-Dderby.system.home={work}"',
        f"--conf spark.sql.warehouse.dir=file://{os.path.join(work, 'warehouse')}",
    ]
    if trace_dir is not None:
        from perfbench.trace import eventlog_submit_args

        args.append(eventlog_submit_args(trace_dir))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None


def _version_sum(table_attr: str):
    """Counter for a ``DbApiStore`` upsert: the sum of ``version`` over
    the store's table.  Every row the store's CAS upsert accepts carries
    its old version + 1, so the sum grows by exactly the rows written."""

    def count(store, *args, **kwargs) -> int:
        con = sqlite3.connect(store.path)
        try:
            table = getattr(store, table_attr)
            return con.execute(f"SELECT COALESCE(SUM(version), 0) FROM {table}").fetchone()[0]
        finally:
            con.close()

    return count


def _install_tracing(tracer) -> None:
    from gofeed_spark.feedstate.dbstore import DbApiStore
    from gofeed_spark.feedstate.txlog import TxLog
    from gofeed_spark.sources import delta, iceberg
    from gofeed_spark.streaming.feed_runner import FeedRunner

    tracer.wrap(FeedRunner, "run_available", "feed_runner.run_available")
    tracer.wrap(TxLog, "commit", "txlog.commit")
    for attr in ("read_items", "read_partitions", "read_decision_counts",
                 "read_status_counts", "count_items", "max_updated_at"):
        tracer.wrap(DbApiStore, attr, "dbstore.read")
    for attr, table in (("upsert_items", "items_table"), ("upsert_partitions", "parts_table")):
        tracer.wrap(DbApiStore, attr, f"dbstore.{attr}", counter=_version_sum(table))
    for op, fn in DELTA_OPS.items():
        tracer.wrap(delta, fn, f"delta.{op}")
    for op, fn in ICEBERG_OPS.items():
        tracer.wrap(iceberg, fn, f"iceberg.{op}")


def _ms(progress, key: str) -> float:
    return sum(float(p.durationMs.get(key, 0)) for p in progress) / 1000.0


def _feed_layers(parts, tracer) -> dict[str, float]:
    progress = [p for part in parts for p in part.progress]
    terminated = [t for part in parts for t in part.terminated]
    batches = [p for p in progress if "addBatch" in p.durationMs]
    drain_wall = sum(p.wall_s for p in parts)
    drains = tracer.named("feed_runner.run_available")

    def in_drain(span) -> bool:
        return any(d.start <= span.start <= d.end for d in drains)

    # the stores are also read by the fixture builds and the checks: count
    # only the calls the drains made, each once even when one calls another
    commits = [s for s in tracer.named("txlog.commit") if in_drain(s)]
    store = [s for s in tracer.outermost("dbstore.") if in_drain(s)]
    reads = [s for s in store if s.name == "dbstore.read"]
    upserts = [s for s in store if s.name != "dbstore.read"]
    history = [h for p in parts for h in p.write_history]
    hist_bytes = [sum(v for k, v in h.items() if k != "batch_id") for h in history]
    # a batch is useful when it changed stored rows: on txlog its commit
    # wrote bucket bytes, on dbapi its two upserts (items, then
    # partitions, once per batch) wrote at least one row between them
    items_up = [s for s in upserts if s.name == "dbstore.upsert_items"]
    parts_up = [s for s in upserts if s.name == "dbstore.upsert_partitions"]
    useful = sum(1 for b in hist_bytes if b > 0) + sum(
        1 for i, p in zip(items_up, parts_up) if i.rows + p.rows > 0
    )
    out = {
        "feed_cdc.poll_s": _ms(progress, "latestOffset") + _ms(progress, "getBatch"),
        "feed_runner.rounds": float(len(terminated)),
        "feed_runner.batches": float(len(batches)),
        "feed_runner.useful_batch_ratio": useful / len(batches) if batches else 0.0,
        "feed_runner.retried_rounds": float(sum(1 for t in terminated if t)),
        "feed_runner.start_stop_s": drain_wall - _ms(progress, "triggerExecution"),
        "stream.checkpoint_s": _ms(progress, "walCommit") + _ms(progress, "commitOffsets"),
        "engine.add_batch_s": _ms(progress, "addBatch"),
        "txlog.commit_s": sum(s.duration for s in commits),
        "txlog.commits": float(len(commits)),
        "txlog.conflicts": float(sum(1 for s in commits if s.error == "CommitConflict")),
        "store.bytes_per_batch": statistics.mean(hist_bytes) if hist_bytes else 0.0,
        "dbstore.read_s": sum(s.duration for s in reads),
        "dbstore.upsert_s": sum(s.duration for s in upserts),
        "dbstore.calls": float(len(reads) + len(upserts)),
    }
    return out


def _job_layers(tracer) -> dict[str, float]:
    """Analytics metrics that need the Spark jobs attributed to spans:
    median jobs per execution of each query, and the table-format ops per
    chain execution."""
    from perfbench.analytics import CHAIN, headline

    out = {}
    for q in headline() + CHAIN:
        spans = tracer.named(f"query.{q}")
        out[f"query.{q}.jobs"] = float(statistics.median(s.jobs for s in spans)) if spans else 0.0
    runs = max(1, len(tracer.named(f"query.{CHAIN[0]}")))
    for fmt, ops in (("delta", DELTA_OPS), ("iceberg", ICEBERG_OPS)):
        spans = tracer.outermost(f"{fmt}.")
        for op in ops:
            mine = [s for s in spans if s.name == f"{fmt}.{op}"]
            out[f"{fmt}.{op}_s"] = sum(s.duration for s in mine) / runs
            out[f"{fmt}.{op}.jobs"] = sum(s.jobs for s in mine) / runs
            out[f"{fmt}.{op}.driver_s"] = sum(s.duration - s.job_busy_s for s in mine) / runs
    return out


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    from perfbench.analytics import CHAIN, headline

    names = [("session.start_s", "s"), ("feed_cdc.poll_s", "s")]
    names += [
        ("feed_runner.rounds", "count"), ("feed_runner.batches", "count"),
        ("feed_runner.useful_batch_ratio", "ratio"),
        ("feed_runner.retried_rounds", "count"), ("feed_runner.start_stop_s", "s"),
        ("stream.checkpoint_s", "s"), ("engine.add_batch_s", "s"),
        ("txlog.commit_s", "s"), ("txlog.commits", "count"),
        ("txlog.conflicts", "count"), ("store.bytes_per_batch", "B"),
        ("dbstore.read_s", "s"), ("dbstore.upsert_s", "s"), ("dbstore.calls", "count"),
        ("drain.items_per_s", "1/s"), ("drain.batch_latency_p50_s", "s"),
        ("settled.items_per_s", "1/s"), ("settled.batch_latency_p50_s", "s"),
        ("query_total_s", "s"), ("chain_s", "s"),
    ]
    for q in headline() + CHAIN:
        names += [(f"query.{q}_s", "s"), (f"query.{q}.jobs", "count")]
    for fmt, ops in (("delta", DELTA_OPS), ("iceberg", ICEBERG_OPS)):
        for op in ops:
            names += [(f"{fmt}.{op}_s", "s"), (f"{fmt}.{op}.jobs", "count"),
                      (f"{fmt}.{op}.driver_s", "s")]
    names += [("trace.pass_s", "s")]
    return names


def _run_feed(spark, args, work, session_s, tracer):
    from perfbench import feed

    size = feed.SIZES[args.size]
    stream = feed.StreamLog(spark)
    passes = []
    t_end = time.perf_counter() + args.seconds
    # a traced run drains once: the per-layer numbers describe one pass
    while not passes or (tracer is None and time.perf_counter() < t_end):
        passes.append(feed.run(spark, stream, os.path.join(work, f"feed{len(passes)}"),
                               args.seed, size, SETUP_REPS))
    attempted = sum(p.attempted for ps in passes for p in ps)
    failed = sum(p.failed for ps in passes for p in ps)
    setup = statistics.median(
        sum(statistics.median(p.setup_s) for p in ps) for ps in passes
    )
    pass_s = statistics.median(sum(p.wall_s for p in ps) for ps in passes)
    e2e = {"setup_s": session_s + setup, "pass_s": pass_s}
    layers = {}
    if tracer is not None:
        layers = _feed_layers(passes[0], tracer)
        layers.update(feed.summarize(passes[0]))
    info = {"feed_size": size.__dict__, "passes": len(passes),
            "parts": {p.name: {"wall_s": round(p.wall_s, 3),
                               "setup_s": [round(x, 3) for x in p.setup_s],
                               "batch_ms": p.batch_ms} for p in passes[0]}}
    return e2e, layers, attempted, failed, info


def _run_analytics(spark, args, work, session_s, tracer):
    from perfbench import analytics, datagen

    from gofeed_spark.catalog import register_views

    sf = ANALYTICS_SF[args.size]
    # The tables are the benchmark's input: made once, off the clock.
    # Set-up times the program's own work on them, the catalog's schema
    # inference and file listing of every table; the catalog caches per
    # directory, so each repetition registers a fresh copy.
    base = os.path.join(work, "sf")
    datagen.write_tables(base, args.seed, sf)
    setups = []
    for rep in range(SETUP_REPS):
        sf_dir = f"{base}{rep}"
        shutil.copytree(base, sf_dir)
        t0 = time.perf_counter()
        register_views(spark, sf_dir)
        setups.append(time.perf_counter() - t0)
    res = analytics.run(spark, sf_dir, args.seconds, tracer=tracer)
    med = res.medians()
    e2e = {"setup_s": session_s + statistics.median(setups), "pass_s": sum(med.values())}
    layers = {}
    if tracer is not None:
        for q in analytics.headline() + analytics.CHAIN:
            layers[f"query.{q}_s"] = med.get(q, 0.0)
        layers["query_total_s"] = sum(med.get(q, 0.0) for q in analytics.headline())
        layers["chain_s"] = sum(med.get(q, 0.0) for q in analytics.CHAIN)
    info = {"sf": sf, "mismatches": res.mismatches,
            "median_s": {q: round(v, 3) for q, v in med.items()},
            "passes": min((len(v) for v in res.times.values()), default=0)}
    return e2e, layers, res.attempted, res.failed, info


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "gofeed_spark")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: no gofeed_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work, trace_dir)
    load_before = os.getloadavg()
    try:
        return _main(args, work, trace_dir, out_dir, load_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM to
    exit (it would otherwise outlive this process by a moment)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _main(args, work, trace_dir, out_dir, load_before) -> int:
    from perfbench.trace import Tracer, attribute_jobs, jobs_from_eventlog

    nproc = len(os.sched_getaffinity(0))
    tracer = None
    if args.trace:
        tracer = Tracer()
        _install_tracing(tracer)
    from gofeed_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc}]")
    session_s = time.perf_counter() - t0
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size,
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master, "nproc": nproc,
        "load_before": [round(x, 2) for x in load_before],
        "commit": _commit(),
    }
    from perfbench import reference

    ref_samples = reference.samples()
    t0 = time.perf_counter()
    try:
        run = _run_feed if args.workload == "feed" else _run_analytics
        e2e, layers, attempted, failed, info = run(spark, args, work, session_s, tracer)
    finally:
        _stop(spark)
    context["work_s"] = time.perf_counter() - t0
    ref_samples += reference.samples()
    context["load_after"] = [round(x, 2) for x in os.getloadavg()]
    context.update(info)
    context["failed_op_ratio"] = failed / attempted if attempted else 1.0
    host_ref_s = statistics.median(ref_samples)
    scale = reference.NOMINAL_S / host_ref_s
    context["host_ref_s"] = host_ref_s
    context["host_ref_samples"] = [round(x, 4) for x in ref_samples]
    context["raw"] = e2e

    if args.trace:
        attribute_jobs(tracer, jobs_from_eventlog(trace_dir))
        if args.workload == "analytics":
            layers.update(_job_layers(tracer))
        layers["session.start_s"] = session_s
        layers["trace.pass_s"] = e2e["pass_s"]
        context["spans"] = len(tracer.spans)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
        units = per_layer_names()
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in units}
    else:
        metrics = {n: {"value": float(v) * scale, "unit": END_TO_END_UNITS[n]}
                   for n, v in e2e.items()}
    print(json.dumps({"context": context}), flush=True)
    result = {
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
