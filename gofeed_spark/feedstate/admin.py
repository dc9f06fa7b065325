"""Operational surface of the feed engine: table DDL/migration and
healthcheck — the Spark twins of AutoMigrate (repo.go:102-104, invoked
main.go:106-108) and Watcher.Healthcheck (watcher.go:214-239).  Table
creation is one txlog commit (feedstate/txlog.py).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from gofeed_spark.feedstate.model import ITEM_DDL, PARTITION_DDL
from gofeed_spark.feedstate.txlog import TxLog, table_snapshots

# the txlog items table carries the CDC offset column beside the item DDL
FEED_TABLES = {"partitions": PARTITION_DDL, "items": ITEM_DDL + ", updated_at long"}


def auto_migrate(spark: SparkSession, base_path: str, table_prefix: str = "") -> int:
    """Create the feed-state tables a txlog store lacks: each of
    ``{prefix}items`` / ``{prefix}partitions`` that the latest manifest
    does not name (plain or bucketed) lands as an empty typed table, all
    in ONE commit that carries every other entry by name.  Existing tables
    are left as they are.

    ``table_prefix`` namespaces the table names (``{prefix}items`` ...) so
    several feed instances can cohabit one manifest log — the reference's
    Gorm TablePrefix knob (main.go:29, README.md:131-135); the dbapi store
    applies the same prefix to its SQL tables (dbstore.py).

    Returns the log version afterwards — unchanged when nothing was
    missing.
    """
    wanted = {f"{table_prefix}{bare}": ddl for bare, ddl in FEED_TABLES.items()}

    def writes(_version, tables):
        return {
            **tables,
            **{
                name: spark.createDataFrame([], ddl)
                for name, ddl in wanted.items()
                if not table_snapshots(tables, name)
            },
        }

    log = TxLog(base_path)
    version, tables = log.latest()
    if all(table_snapshots(tables, name) for name in wanted):
        return version
    return log.commit_retry(writes)


def healthcheck(
    spark: SparkSession,
    processor_check: Callable[[], None] | None = None,
    timeout: float = 10.0,
) -> list[str]:
    """Run the engine and processor health probes concurrently and join
    their failures (the fan-in of watcher.go:214-239).  Returns a list of
    error strings — empty means healthy.

    Engine probe = a trivial distributed job (the JVM/scheduler round-trip
    the reference's DB ping approximates); processor probe = the injectable
    callable (e.g. an HTTP GET against the processor's health endpoint,
    httprocessor/processor.go:88-95).
    """
    errors: list[str] = []

    def spark_ping() -> None:
        assert spark.range(1).count() == 1

    probes = {"spark": spark_ping}
    if processor_check is not None:
        probes["processor"] = processor_check
    with ThreadPoolExecutor(max_workers=len(probes)) as pool:
        futures = {name: pool.submit(fn) for name, fn in probes.items()}
        for name, fut in futures.items():
            try:
                fut.result(timeout=timeout)
            except Exception as e:  # noqa: BLE001 — join ALL failures
                errors.append(f"{name}: {e!r}")
    return errors


def serve_healthcheck(
    spark: SparkSession,
    port: int = 0,
    processor_check: Callable[[], None] | None = None,
    host: str = "127.0.0.1",
):
    """Serve ``GET /healthcheck`` over HTTP — the reference's served
    endpoint (main.go:99-104: 200 when Watcher.Healthcheck returns no
    error, 503 with the joined error text otherwise), stdlib-only.

    Returns the started ``http.server.ThreadingHTTPServer`` (daemon
    thread); ``server.server_address[1]`` is the bound port (pass
    ``port=0`` for an ephemeral one), ``server.shutdown()`` stops it.
    ``host=""`` binds all interfaces (the CLI's ``:8080`` form).
    """
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — stdlib contract
            if self.path.rstrip("/") != "/healthcheck":
                self.send_error(404)
                return
            errors = healthcheck(spark, processor_check=processor_check)
            body = ("ok" if not errors else "; ".join(errors)).encode()
            self.send_response(200 if not errors else 503)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet test output
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def http_healthcheck(
    target: str,
    endpoint: str = "healthcheck",
    transport: Callable[[str], int] | None = None,
    timeout: float = 10.0,
) -> Callable[[], None]:
    """Processor health probe: GET target/endpoint, raise on failure
    (httprocessor/processor.go:88-95).  ``transport(url) -> status`` is
    injectable for tests."""

    def default_transport(url: str) -> int:
        import urllib.request

        with urllib.request.urlopen(url, timeout=timeout) as resp:
            return resp.status

    tx = transport or default_transport

    def check() -> None:
        url = target.rstrip("/") + "/" + endpoint
        status = tx(url)
        if not (200 <= status < 300):
            raise RuntimeError(f"healthcheck HTTP status {status}")

    return check
