"""Runnable service entry point — ``python -m gofeed_spark``.

The Spark twin of the reference's shipped binary
(examples/state_processor/main.go:22-112): wire flags → state store +
processor → the long-running feed service with a served healthcheck.

Flag parity (main.go:23-30):

    --target               POST target for the HTTP map processor
    --sql-connection       DSN for the PEP-249 state store (dbapi storage)
    --local                use a local SQLite file (``test.db`` under
                           --base-path), the reference's sqlite.Open path
    --poll-interval        seconds between CDC polls (default 10, main.go:26)
    --batch-size           poll LIMIT per micro-batch (default 50,
                           main.go:27; 0 = unbounded)
    --table-prefix         namespace the state tables (main.go:28)
    --healthcheck-address  [host]:port to serve GET /healthcheck
                           (default :8080, main.go:30)

Spark-side extensions (no reference analog):

    --storage {txlog,dbapi}  state store: the txlog manifest log under
                             --base-path (default), or a PEP-249 database
                             (implied by --sql-connection/--local)
    --base-path            state directory for txlog (and the --local
                           SQLite file)
    --dbapi-module         PEP-249 driver module (default sqlite3; e.g.
                           pyodbc for the reference's SQL Server store)
    --max-retries          retry budget before dead-lettering (default 5)
    --drain                drain available work once and exit instead of
                           running forever (ops/cron mode)
    --master               Spark master (default local[$SPARK_GRAFT_CPUS])

Without --target the processor is the built-in JSON ``times`` processor
(items whose ``data`` carries ``{"times": N}`` complete after N passes) —
useful for smoke runs; a real deployment passes --target exactly like the
reference's binary.

Shutdown: SIGTERM/SIGINT stop the streaming query, stop the healthcheck
server, and exit 0 — the service is safe to kill at any point (state
commits are atomic; the CDC checkpoint + batch manifest make replay
idempotent).
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import threading


def _parse_hc_address(addr: str) -> tuple[str, int]:
    """'[host]:port' → (host, port); bare ':8080' binds all interfaces
    (the reference's http.ListenAndServe default)."""
    host, _, port = addr.rpartition(":")
    if not port.isdigit():
        raise ValueError(f"invalid --healthcheck-address {addr!r}")
    return host or "", int(port)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m gofeed_spark",
        description="Run the feed-processing service (reference main.go parity).",
    )
    p.add_argument("--target", default="", help="POST target for the HTTP processor")
    p.add_argument("--sql-connection", default="", help="PEP-249 DSN (dbapi storage)")
    p.add_argument("--local", action="store_true", help="local SQLite state store")
    p.add_argument("--poll-interval", type=float, default=10.0)
    p.add_argument("--batch-size", type=int, default=50, help="poll LIMIT; 0 = unbounded")
    p.add_argument("--table-prefix", default="")
    p.add_argument("--healthcheck-address", default=":8080")
    p.add_argument("--storage", choices=("txlog", "dbapi"), default=None)
    p.add_argument("--base-path", default="./feed_state")
    p.add_argument("--dbapi-module", default="sqlite3")
    p.add_argument("--max-retries", type=int, default=5)
    p.add_argument("--drain", action="store_true", help="drain once and exit")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--db-log-level",
        choices=("silent", "error", "warn", "info"),
        default=None,
        help="database/engine log level (main.go:35 db_log_level parity; "
        "maps gorm's levels onto the Spark driver's JVM log level)",
    )
    return p


#: gorm logger.LogLevel names → JVM log4j levels (main.go:40-57 parses the
#: same four names; 'silent' is gorm's discard level → OFF)
_DB_LOG_LEVELS = {
    "silent": "OFF",
    "error": "ERROR",
    "warn": "WARN",
    "info": "INFO",
}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    storage = args.storage
    if storage is None:
        storage = "dbapi" if (args.local or args.sql_connection) else "txlog"
    if storage == "dbapi" and not (args.local or args.sql_connection):
        print("--storage dbapi needs --sql-connection or --local", file=sys.stderr)
        return 2

    from gofeed_spark.feedstate.admin import (
        auto_migrate,
        http_healthcheck,
        serve_healthcheck,
    )
    from gofeed_spark.feedstate.processors import http_processor, json_times_processor
    from gofeed_spark.session import get_spark
    from gofeed_spark.streaming.feed_runner import FeedRunner

    spark = get_spark("gofeed-service", master=args.master)
    if args.db_log_level:
        spark.sparkContext.setLogLevel(_DB_LOG_LEVELS[args.db_log_level])

    processor = http_processor(args.target) if args.target else json_times_processor
    os.makedirs(args.base_path, exist_ok=True)
    db_path = None
    if storage == "dbapi":
        db_path = (
            os.path.join(args.base_path, "test.db")  # main.go:77 sqlite.Open
            if args.local
            else args.sql_connection
        )
    runner = FeedRunner(
        spark,
        args.base_path,
        processor,
        max_retries=args.max_retries,
        storage=storage,
        dbapi_module=args.dbapi_module,
        db_path=db_path,
        table_prefix=args.table_prefix,
        poll_limit=args.batch_size if args.batch_size > 0 else None,
    )
    # AutoMigrate before starting (main.go:106-108): dbapi DDL ran in the
    # runner's constructor; txlog commits whichever tables it lacks here
    if storage == "txlog":
        auto_migrate(spark, args.base_path, table_prefix=args.table_prefix)

    # served healthcheck (main.go:99-104): engine ping + processor probe
    host, port = _parse_hc_address(args.healthcheck_address)
    probe = http_healthcheck(args.target) if args.target else None
    server = serve_healthcheck(spark, port=port, processor_check=probe, host=host)
    bound = server.server_address[1]
    print(f"healthcheck serving on {host or '0.0.0.0'}:{bound}", flush=True)

    stop = threading.Event()

    def on_signal(signum, frame):
        stop.set()

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    try:
        if args.drain:
            runner.run_available()
            print("drained", flush=True)
            return 0
        query = runner.run_forever(poll_interval_s=args.poll_interval)
        print("service started", flush=True)
        # main.go blocks on ListenAndServe; we block on the query, waking
        # to honor signals (Spark's awaitTermination ignores them mid-wait)
        while not stop.is_set():
            if query.awaitTermination(1.0):
                exc = query.exception()
                if exc is not None:
                    print(f"streaming query failed: {exc}", file=sys.stderr)
                    return 1
                break
        if stop.is_set():
            query.stop()
            print("stopped on signal", flush=True)
        return 0
    finally:
        server.shutdown()
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
