"""Operational surface of the feed engine: table DDL/migration and
healthcheck — the Spark twins of AutoMigrate (repo.go:102-104, invoked
main.go:106-108) and Watcher.Healthcheck (watcher.go:214-239).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from gofeed_spark.feedstate.model import ITEM_DDL, PARTITION_DDL

FEED_TABLES = {"partitions": PARTITION_DDL, "items": ITEM_DDL}


def auto_migrate(
    spark: SparkSession, base_path: str, table_prefix: str = ""
) -> dict[str, str]:
    """Create the feed-state tables (empty parquet with the declared schema)
    when absent; existing tables are evolved in-place by reading with
    mergeSchema and rewriting any missing columns as typed NULLs — the
    additive half of Gorm's AutoMigrate, which also never drops columns.

    ``table_prefix`` namespaces the table names (``{prefix}items`` ...) so
    several feed instances can cohabit one warehouse dir — the reference's
    Gorm TablePrefix knob (main.go:29, README.md:131-135); the dbapi store
    applies the same prefix to its SQL tables (dbstore.py).

    Returns {prefixed table: path}.  On a real deployment this maps to
    ``CREATE TABLE ... USING delta`` + ``mergeSchema`` evolution.
    """
    out = {}
    for bare, ddl in FEED_TABLES.items():
        name = f"{table_prefix}{bare}"
        path = os.path.join(base_path, name)
        want = spark.createDataFrame([], ddl)
        if not os.path.exists(path):
            want.write.mode("overwrite").parquet(path)
        else:
            have = spark.read.option("mergeSchema", "true").parquet(path)
            # bucketed runner layout (FeedRunner state_buckets): `b` is a
            # partition directory, not data — preserve it through evolution
            bucketed = any(e.startswith("b=") for e in os.listdir(path))
            missing = [f for f in want.schema.fields if f.name not in have.columns]
            if missing:
                from pyspark.sql import functions as F

                for f in missing:
                    have = have.withColumn(f.name, F.lit(None).cast(f.dataType))
                import shutil

                tmp = path + "_migrating"
                cols = [f.name for f in want.schema.fields] + (
                    ["b"] if bucketed else []
                )
                writer = have.select(cols).write.mode("overwrite")
                if bucketed:
                    writer = writer.partitionBy("b")
                writer.parquet(tmp)
                old = path + "_old"
                shutil.rmtree(old, ignore_errors=True)  # stale from a crashed run
                os.replace(path, old)
                os.replace(tmp, path)
                shutil.rmtree(old, ignore_errors=True)
        out[name] = path
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


BUCKET_MARKER = "_n_buckets"


def read_bucket_marker(table_path: str) -> int | None:
    """The bucket modulus a bucketed parquet state table was laid out
    under — recorded INSIDE the table dir (underscore-prefixed, so Spark's
    readers ignore it) and therefore flipped atomically with the data on
    every whole-table conversion.  None for legacy tables that predate the
    marker (their modulus is unknowable from the layout; FeedRunner claims
    them with its configured value on first contact)."""
    try:
        with open(os.path.join(table_path, BUCKET_MARKER)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def write_bucket_marker(table_path: str, n_buckets: int) -> None:
    tmp = os.path.join(table_path, BUCKET_MARKER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(n_buckets))
    os.replace(tmp, os.path.join(table_path, BUCKET_MARKER))


def flip_buckets(base_path: str, table: str, whole: bool) -> None:
    """Parquet publish tail: move the bucket dirs staged at
    ``{table}_txn_staging`` into the live table (the reference's
    Transaction wrapper, repo.go:164-170, re-expressed for immutable
    storage).  ``whole`` flips the entire table dir — a layout conversion,
    whose staging carries the ``_n_buckets`` marker so the modulus travels
    atomically with the data; otherwise each staged bucket replaces its live
    twin and untouched buckets stay as they are.

    Every flip renames the live dir aside first — ``{table}_txn_old`` for
    a whole table, ``{table}_txn_old_b=XX`` for a bucket, both at the BASE,
    never inside the table dir, where a stale dir would be discovered as a
    partition — then its replacement in.  A crash mid-flip leaves a prefix
    of buckets flipped: the uncommitted batch replays and recomputes
    (at-least-once), and ``recover_bucketed`` restores a dir caught
    between its two renames.  Stale aside dirs from an earlier crash are
    removed first, so a flip never wedges on a non-empty rename target."""
    import shutil

    target = os.path.join(base_path, table)
    staging = target + "_txn_staging"
    if whole:
        moves = [(staging, target, target + "_txn_old")]
    else:
        os.makedirs(target, exist_ok=True)
        moves = [
            (os.path.join(staging, b), os.path.join(target, b), f"{target}_txn_old_{b}")
            for b in os.listdir(staging)
            if b.startswith("b=")
        ]
    for src, dst, old in moves:
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(dst):
            os.replace(dst, old)
        os.replace(src, dst)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)


def recover_bucketed(base_path: str, tables: list[str]) -> None:
    """Crash recovery for ``flip_buckets``: a crash between renaming a live
    dir aside and renaming its replacement in leaves ``{table}_txn_old``
    (whole table) or ``{table}_txn_old_b=XX`` (one bucket) at the base with
    the dir missing from its place — restore it (the staged replacement is
    re-derived by the batch replay).  An aside dir whose original IS
    present is leftover cleanup — remove it.  Run before reading bucketed
    state."""
    import shutil

    try:
        entries = os.listdir(base_path)
    except OSError:
        return
    for name in tables:
        prefix = f"{name}_txn_old"
        target = os.path.join(base_path, name)
        for entry in entries:
            if not entry.startswith(prefix):
                continue
            bdir = entry[len(prefix):]
            if bdir and not bdir.startswith("_b="):
                continue
            src = os.path.join(base_path, entry)
            dst = os.path.join(target, bdir[1:]) if bdir else target
            if os.path.exists(dst):
                shutil.rmtree(src, ignore_errors=True)
            else:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(src, dst)


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
