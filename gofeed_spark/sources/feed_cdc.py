"""Incremental change-feed source (Python DataSource API, Spark 4).

The reference discovers work by re-running ``SELECT ... WHERE status != 2
AND until < now()`` / ``... ORDER BY updated_at`` on a timer
(watcher.go:89-122, repo.go:106-120) — processing-time polling with the
table itself as the offset store.  This source formalizes that as a
Structured Streaming offset: the high-water mark of ``updated_at`` (a
monotone microsecond timestamp; ties are re-read and deduplicated
downstream by the idempotent sink, matching the reference's at-least-once
posture).

Interchangeable backing stores (option ``backend``):

- ``parquet`` (default): a parquet directory polled through pyarrow
  predicate-filtered reads,
- ``dbapi``: ANY PEP-249 driver, named by option ``dbapi_module`` (e.g.
  ``pyodbc`` for SQL Server, ``psycopg2``, ``sqlite3``); ``path`` is
  passed to the module's ``connect()``.  A real SQL cursor runs
  ``SELECT ... WHERE updated_at > ? ORDER BY updated_at, id`` with the
  placeholder style adapted from the module's declared ``paramstyle`` —
  this is the portable form of the reference's production store (Gorm
  over SQL Server, examples/state_processor/main.go:74-80),
- ``sqlite``: the ``dbapi`` poll over stdlib ``sqlite3`` with ``path`` a
  database file — the same store family the reference uses (Gorm over
  SQLite, go.mod:11-12); a file that does not exist yet polls as empty,
- ``txlog``: a TxLog-managed snapshot table — FeedRunner's default
  store; its manifest rules (newest complete manifest, a table's
  snapshot dirs) come from feedstate/txlog.py.

FeedRunner drains through ``txlog`` or ``dbapi``; ``parquet`` and
``sqlite`` serve standalone streams over a plain directory or file.
"""

from __future__ import annotations

import ast
import os

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from gofeed_spark.feedstate.txlog import head, table_snapshots

CDC_SCHEMA = (
    "id string, version int, retry_count int, partition_id string, "
    "gate int, status int, error_messages string, data string, updated_at long"
)
_COLS = [
    "id", "version", "retry_count", "partition_id",
    "gate", "status", "error_messages", "data", "updated_at",
]


def _cap_at_boundary(rows: list[tuple], limit: int | None) -> list[tuple]:
    """Cap a (updated_at, id)-sorted poll at ``limit`` rows, then EXTEND to
    every row sharing the boundary timestamp: the stream offset is the
    updated_at high-water mark, so cutting inside one timestamp would
    advance the offset past rows never delivered."""
    if limit is None or len(rows) <= limit or limit < 1:
        return rows
    boundary = rows[limit - 1][-1]
    i = limit
    while i < len(rows) and rows[i][-1] == boundary:
        i += 1
    return rows[:i]


def _scan_parquet(
    path: "str | list[str]",
    after: int,
    table: str = "items",
    limit: int | None = None,
) -> list[tuple]:
    """Poll a parquet directory (or a LIST of directories — e.g. the
    bucket snapshots of one txlog table, scanned as ONE dataset rather
    than one open per dir) for rows with updated_at > after — the
    predicate-pushdown twin of the reference's poll (repo.go:118)."""
    import pyarrow.dataset as ds

    paths = [path] if isinstance(path, str) else list(path)
    paths = [p for p in paths if os.path.exists(p)]
    if not paths:
        return []
    if len(paths) == 1:
        dataset = ds.dataset(paths[0], format="parquet")
    else:
        # pyarrow accepts a list of FILES, not directories — expand
        files = [
            os.path.join(root, f)
            for p in paths
            for root, _dirs, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        ]
        if not files:
            return []
        dataset = ds.dataset(files, format="parquet")
    tbl = dataset.to_table(filter=ds.field("updated_at") > after)
    rows = sorted(
        zip(*[tbl.column(c).to_pylist() for c in _COLS]),
        key=lambda r: (r[-1], r[0]),
    )
    return _cap_at_boundary(rows, limit)


def _make_scan_dbapi(module_name: str, path_is_file: bool = False):
    """Build a poll function over any PEP-249 driver: connect with the
    source's ``path`` option as the DSN, run the reference's literal query
    shape (``WHERE updated_at > ? ORDER BY updated_at, id``,
    repo.go:106-120) with the driver's own ``paramstyle``, fetch, close.
    ``path_is_file``: the DSN is a database file (the ``sqlite`` backend);
    a file that does not exist yet polls as empty instead of letting
    ``connect`` create it.  One connection per poll —
    a poll runs once per trigger (back to back in a drain, which stops at
    the first empty one; once per interval in service mode), next to a
    micro-batch that costs far more than a connect, and per-poll
    connections keep the reader fork-safe across Spark's Python workers (a
    pooled handle would not survive the pickling boundary)."""
    import importlib

    mod = importlib.import_module(module_name)
    placeholder = {
        "qmark": "?",
        "numeric": ":1",
        "format": "%s",
        "pyformat": "%(after)s",
    }.get(getattr(mod, "paramstyle", "qmark"), "?")

    # Drivers whose engines accept `LIMIT n`: push the bound into the SQL
    # so the SERVER stops producing rows.  Other drivers (e.g. pyodbc to
    # SQL Server, whose TOP/FETCH syntax differs) fall back to fetchmany —
    # which bounds what this process MATERIALIZES, but a client-buffering
    # driver may still stage the full result set internally; production
    # deployments on such drivers should use a server-side cursor.
    limit_in_sql = module_name in {
        "sqlite3", "psycopg2", "psycopg", "duckdb", "pymysql", "MySQLdb",
        "mariadb", "gofeed_spark.vendor.minipg",
    }

    def scan(
        path: str, after: int, table: str = "items", limit: int | None = None
    ) -> list[tuple]:
        if path_is_file and not os.path.exists(path):
            return []
        con = mod.connect(path)
        try:
            cur = con.cursor()
            sql = (
                f"SELECT {', '.join(_COLS)} FROM {table} "
                f"WHERE updated_at > {placeholder} ORDER BY updated_at, id"
            )
            params = {"after": after} if placeholder == "%(after)s" else (after,)
            if limit is not None and limit_in_sql:
                cur.execute(sql + f" LIMIT {int(limit)}", params)
                rows = [tuple(r) for r in cur.fetchall()]
                if len(rows) == limit and rows:
                    # boundary-timestamp extension (see _cap_at_boundary): one
                    # follow-up query drains the rest of the boundary ts
                    bcur = con.cursor()
                    ph2 = {
                        "qmark": ("?", "?"),
                        "numeric": (":1", ":2"),
                        "format": ("%s", "%s"),
                        "pyformat": ("%(b)s", "%(i)s"),
                    }.get(getattr(mod, "paramstyle", "qmark"), ("?", "?"))
                    bsql = (
                        f"SELECT {', '.join(_COLS)} FROM {table} "
                        f"WHERE updated_at = {ph2[0]} AND id > {ph2[1]} "
                        "ORDER BY id"
                    )
                    bparams = (
                        {"b": rows[-1][-1], "i": rows[-1][0]}
                        if ph2[0] == "%(b)s"
                        else (rows[-1][-1], rows[-1][0])
                    )
                    bcur.execute(bsql, bparams)
                    rows.extend(tuple(r) for r in bcur.fetchall())
                return rows
            cur.execute(sql, params)
            if limit is None:
                return [tuple(r) for r in cur.fetchall()]
            # bounded poll + boundary-timestamp extension: fetchmany keeps
            # what this process materializes at ~limit rows, then drains
            # every row sharing the boundary ts so the offset never skips
            rows = [tuple(r) for r in cur.fetchmany(limit)]
            if rows and len(rows) == limit:
                boundary = rows[-1][-1]
                while True:
                    nxt = cur.fetchone()
                    if nxt is None or nxt[-1] != boundary:
                        break
                    rows.append(tuple(nxt))
            return rows
        finally:
            con.close()

    return scan


def _scan_txlog(
    path: str, after: int, table: str = "items", limit: int | None = None
) -> list[tuple]:
    """Poll a TxLog-managed table (feedstate/txlog.py): resolve the latest
    complete manifest (pure JSON — no Spark on the poll path) and
    predicate-read the table's snapshot dirs as ONE dataset, so the
    boundary cap applies to the merged rows.  Snapshots are immutable, so
    this poll is consistent even while a writer is staging the next
    commit."""
    rels = list(table_snapshots(head(path)[1]["tables"], table).values())
    if not rels:
        return []
    return _scan_parquet([os.path.join(path, rel) for rel in rels], after, table, limit)


_BACKENDS = {"parquet": _scan_parquet, "txlog": _scan_txlog}


class FeedCDCReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("feed_cdc requires option 'path'")
        backend = options.get("backend", "parquet")
        if backend == "dbapi":
            module = options.get("dbapi_module")
            if not module:
                raise ValueError("feed_cdc backend=dbapi requires option 'dbapi_module'")
            self._scan = _make_scan_dbapi(module)
        elif backend == "sqlite":
            self._scan = _make_scan_dbapi("sqlite3", path_is_file=True)
        elif backend in _BACKENDS:
            self._scan = _BACKENDS[backend]
        else:
            raise ValueError(
                f"feed_cdc backend must be one of {sorted([*_BACKENDS, 'dbapi', 'sqlite'])}"
            )
        self.table = options.get("table", "items")
        # bounded poll (the reference's LIMIT, repo.go:114-120): caps one
        # micro-batch's backlog so driver memory stays bounded under a hot
        # producer; undelivered backlog re-polls next trigger.  The cap
        # extends to the boundary timestamp (see _cap_at_boundary).
        raw_limit = options.get("poll_limit")
        self.limit = int(raw_limit) if raw_limit is not None else None
        if self.limit is not None and self.limit < 1:
            raise ValueError("feed_cdc poll_limit must be >= 1")

    def initialOffset(self) -> dict:
        return {"last_ts": -1}

    def read(self, start: dict):
        last = int(start["last_ts"])
        rows = self._scan(self.path, last, self.table, self.limit)
        new_last = max((r[-1] for r in rows), default=last)
        return iter(rows), {"last_ts": new_last}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay for recovery: rows in (start, end]."""
        lo, hi = int(start["last_ts"]), int(end["last_ts"])
        return iter([r for r in self._scan(self.path, lo, self.table) if r[-1] <= hi])


class FeedCDCDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "feed_cdc"

    def schema(self) -> str:
        return CDC_SCHEMA

    def simpleStreamReader(self, schema):
        return FeedCDCReader(self.options)


def register_feed_cdc(spark) -> None:
    """Idempotent registration: the Python data-source registry is shared
    across session clones (one per FeedRunner), and Spark 4 raises
    DATA_SOURCE_ALREADY_EXISTS on a cross-session re-register instead of
    replacing — an already-present feed_cdc is exactly what we want."""
    try:
        spark.dataSource.register(FeedCDCDataSource)
    except Exception as exc:  # AnalysisException on Spark 4 clones
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
