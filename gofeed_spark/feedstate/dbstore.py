"""PEP-249 database state store for the feed engine.

The reference's literal deployment keeps items/partitions in a SQL
database behind Gorm (go.mod:11-12, repo.go:106-138).  This store puts
the SAME tables behind the same ``FeedRunner``: the CDC source polls the
database with a real cursor (sources/feed_cdc.py backend='dbapi'), the
micro-batch decision reads the current state through predicate-pushed
SELECTs, and state writes go back as per-row OCC upserts.

Scale + concurrency shape:

- READS push the reference's poll predicates into the database
  (repo.go:114-120: equi-predicates on status/partition/gate + ORDER BY
  updated_at + LIMIT, over the covering index item.go:17-21): the driver
  only ever fetches rows matching the decision predicates — never the
  full table — and hands them to Spark as one typed Arrow table (a
  ``LocalRelation``, which every action reuses without a Python
  worker).  For state too large for one driver fetch,
  ``num_partitions>1`` fans the SELECT out to executors as range
  predicates on ``updated_at`` (the ``spark.read.jdbc``
  partitionColumn pattern re-expressed over PEP-249).
- Aggregates the decision needs (the CDC high-water mark, the
  reference's GetStatusCounts) are pushed down as SQL aggregates
  (``max_updated_at``, ``read_status_counts``), not computed by
  fetching rows.
- WRITES run ``foreachPartition`` with one connection and one
  ``executemany`` per Spark partition — the standard Spark→JDBC sink
  pattern; nothing funnels through the driver.
- Every upserted row carries a strict per-row CAS
  (``... WHERE excluded.version > version``): runner-touched rows
  always carry version+1, so a stale write — or the loser of a
  two-writer race where both read version v — is dropped row-by-row in
  the database, exactly the reference's save semantics (repo.go:125-138:
  losing the version race drops the write and the loser re-reads).
- Rows the runner never touched this batch are absent from the
  upsert, so out-of-band INSERTS that land mid-batch survive untouched
  (a snapshot commit would rewrite the touched buckets around them and
  lose them — the database layout is what makes "items added while
  Available" safe, README.md:104-110).

Dialect portability (the reference's headline store is Gorm over SQL
Server, examples/state_processor/main.go:74-80): the upsert renders as
``INSERT ... ON CONFLICT`` for the sqlite/postgres family and as ANSI
``MERGE INTO ... WHEN MATCHED AND s.version > t.version`` for the SQL
Server/Oracle family, selected per driver module (overridable), with
parameter placeholders adapted from the module's declared
``paramstyle``.  ``table_prefix`` namespaces the tables so several feed
instances can cohabit one schema (reference ``main.go:29`` /
README.md:131-135).

SQLite specifics (the test face of the PEP-249 contract, like the
reference's sqlite driver): WAL journal mode so readers don't block
behind the single writer, and a generous busy timeout so concurrent
executors serialize instead of erroring.
"""

from __future__ import annotations

import importlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (re-exported for callers)

from gofeed_spark.sources.feed_cdc import CDC_SCHEMA, _COLS

PARTITION_COLS = ["id", "version", "gate", "status"]

COUNTS_SCHEMA = "partition_id string, status int, n long"

# Arrow type of each DDL type the store's frames use
_ARROW_TYPES = {"string": "string", "int": "int32", "long": "int64"}

# Upsert dialect by driver module: the sqlite/postgres family speaks
# INSERT ... ON CONFLICT; the SQL Server family (the reference's headline
# deployment) takes the T-SQL MERGE rendered below.  Oracle is
# deliberately NOT mapped: its MERGE dialect differs on four counts
# (no AS before aliases, FROM dual, WHERE-qualified UPDATE instead of
# AND-qualified WHEN MATCHED, no trailing semicolon) — an Oracle caller
# must pass an explicit dialect variant rather than get invalid SQL.
_DIALECT_BY_MODULE = {
    "sqlite3": "on_conflict",
    "psycopg2": "on_conflict",
    "psycopg": "on_conflict",
    "duckdb": "on_conflict",
    "pyodbc": "merge",
    "pymssql": "merge",
    # the vendored pure-stdlib PostgreSQL driver (no installs needed)
    "gofeed_spark.vendor.minipg": "on_conflict",
}


def _connect(module_name: str, path: str):
    mod = importlib.import_module(module_name)
    if module_name == "sqlite3":
        con = mod.connect(path, timeout=60)
        con.execute("PRAGMA busy_timeout=60000")
        return con
    return mod.connect(path)


def _frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-fetched ``rows`` as a DataFrame typed by ``ddl`` (flat
    ``name type, ...``): one ``pyarrow.Table`` built column by column with
    the DDL's types, which Spark takes whole as a ``LocalRelation`` — no
    Python RDD that every action (each of a micro-batch's
    localCheckpoints) re-runs through a Python worker.  Not through
    pandas, where an int column holding None turns float.  A value its
    column's type cannot hold (an int beyond int32) raises."""
    import pyarrow as pa

    fields = [f.split() for f in ddl.split(",")]
    cols = list(zip(*rows)) or [()] * len(fields)
    return spark.createDataFrame(
        pa.table(
            {
                name: pa.array(col, getattr(pa, _ARROW_TYPES[typ])())
                for (name, typ), col in zip(fields, cols)
            }
        ),
        ddl,
    )


def _placeholders(module_name: str, n: int) -> list[str]:
    """Positional parameter markers in the driver's declared paramstyle.
    pyformat drivers (psycopg2) accept format-style positional markers;
    named drivers (oracledb) accept numeric ones."""
    mod = importlib.import_module(module_name)
    style = getattr(mod, "paramstyle", "qmark")
    style = {"pyformat": "format", "named": "numeric"}.get(style, style)
    if style == "format":
        return ["%s"] * n
    if style == "numeric":
        return [f":{i + 1}" for i in range(n)]
    return ["?"] * n


class DbApiStore:
    """Feed state tables in any PEP-249 database (``module_name`` names the
    driver; ``path`` is its DSN — a file path for sqlite3).

    ``table_prefix`` namespaces the tables (``{prefix}items`` /
    ``{prefix}partitions``, and ``{prefix}txn``: each runner's last
    committed micro-batch id); ``dialect`` selects the upsert SQL family
    (``"on_conflict"`` or ``"merge"``, default inferred from the driver
    module, on_conflict when unknown).
    """

    def __init__(
        self,
        path: str,
        module_name: str = "sqlite3",
        table_prefix: str = "",
        dialect: str | None = None,
    ):
        self.path = path
        self.module = module_name
        self.prefix = table_prefix
        self.items_table = f"{table_prefix}items"
        self.parts_table = f"{table_prefix}partitions"
        self.txn_table = f"{table_prefix}txn"
        self.dialect = dialect or _DIALECT_BY_MODULE.get(module_name, "on_conflict")
        if self.dialect not in ("on_conflict", "merge"):
            raise ValueError("dialect must be 'on_conflict' or 'merge'")

    # -- SQL rendering ---------------------------------------------------
    def _table_bodies(self) -> dict[str, str]:
        # TEXT/INTEGER are the sqlite/postgres spellings; the merge family
        # (SQL Server) takes VARCHAR in the id columns (TEXT is deprecated
        # there and not indexable as a key)
        idt = "VARCHAR(255)" if self.dialect == "merge" else "TEXT"
        txt = "VARCHAR(MAX)" if self.dialect == "merge" else "TEXT"
        return {
            self.items_table: (
                f"id {idt} PRIMARY KEY, version INTEGER, retry_count INTEGER, "
                f"partition_id {idt}, gate INTEGER, status INTEGER, "
                f"error_messages {txt}, data {txt}, updated_at BIGINT"
            ),
            self.parts_table: (
                f"id {idt} PRIMARY KEY, version INTEGER, gate INTEGER, "
                "status INTEGER"
            ),
            # id = a runner's txn key, version = its last committed batch id
            self.txn_table: f"id {idt} PRIMARY KEY, version BIGINT",
        }

    def _index_ddl(self, if_not_exists: bool) -> list[str]:
        # the reference's covering poll index (item.go:17-21) + the CDC
        # offset index: the hot poll and the high-water-mark aggregate
        # are both index-only
        ine = "IF NOT EXISTS " if if_not_exists else ""
        return [
            f"CREATE INDEX {ine}idx_{self.items_table}_poll "
            f"ON {self.items_table} (status, partition_id, gate)",
            f"CREATE INDEX {ine}idx_{self.items_table}_updated "
            f"ON {self.items_table} (updated_at)",
        ]

    def _upsert_sql(self, table: str, cols: list[str]) -> str:
        ph = _placeholders(self.module, len(cols))
        if self.dialect == "merge":
            src = ", ".join(f"{p} AS {c}" for p, c in zip(ph, cols))
            sets = ", ".join(f"{c} = s.{c}" for c in cols if c != "id")
            ins = ", ".join(f"s.{c}" for c in cols)
            return (
                f"MERGE INTO {table} AS t USING (SELECT {src}) AS s "
                "ON t.id = s.id "
                "WHEN MATCHED AND s.version > t.version "
                f"THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED THEN INSERT ({', '.join(cols)}) "
                f"VALUES ({ins});"
            )
        sets = ", ".join(f"{c}=excluded.{c}" for c in cols if c != "id")
        return (
            f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({', '.join(ph)}) "
            f"ON CONFLICT(id) DO UPDATE SET {sets} "
            f"WHERE excluded.version > {table}.version"
        )

    def _items_upsert_sql(self) -> str:
        return self._upsert_sql(self.items_table, list(_COLS))

    def _parts_upsert_sql(self) -> str:
        return self._upsert_sql(self.parts_table, list(PARTITION_COLS))

    @staticmethod
    def _status_pred(statuses, exclude_statuses) -> list[str]:
        preds = []
        if statuses is not None:
            vals = ", ".join(str(int(s)) for s in statuses)
            preds.append(f"status IN ({vals})")
        if exclude_statuses is not None:
            vals = ", ".join(str(int(s)) for s in exclude_statuses)
            preds.append(f"status NOT IN ({vals})")
        return preds

    def _limit_clause(self, limit) -> str:
        if limit is None:
            return ""
        # LIMIT for the sqlite/postgres family; ANSI FETCH for SQL Server
        # (2012+) / Oracle (12c+), which reject LIMIT
        if self.dialect == "merge":
            return f" OFFSET 0 ROWS FETCH NEXT {int(limit)} ROWS ONLY"
        return f" LIMIT {int(limit)}"

    # -- DDL / seed ------------------------------------------------------
    def ensure_schema(self) -> None:
        """Create tables/indexes when absent — AutoMigrate's additive half.

        The sqlite/postgres family speaks ``IF NOT EXISTS`` directly.  The
        merge family (SQL Server) has no ``IF NOT EXISTS`` form, so each
        table is probed with a zero-row SELECT and created only when the
        probe errors; index creation there is advisory (attempted,
        failures swallowed) — on a production SQL Server the schema is
        typically provisioned, and the probe short-circuits to a no-op.
        """
        con = _connect(self.module, self.path)
        try:
            if self.module == "sqlite3":
                con.execute("PRAGMA journal_mode=WAL")
            cur = con.cursor()
            if self.dialect == "merge":
                for table, body in self._table_bodies().items():
                    try:
                        cur.execute(f"SELECT 1 FROM {table} WHERE 1 = 0")
                        continue  # probe succeeded: table exists
                    except Exception:
                        pass
                    cur.execute(f"CREATE TABLE {table} ({body})")
                for ddl in self._index_ddl(if_not_exists=False):
                    try:
                        cur.execute(ddl)
                    except Exception:
                        pass  # index exists / DBA-owned: advisory only
            else:
                for table, body in self._table_bodies().items():
                    cur.execute(f"CREATE TABLE IF NOT EXISTS {table} ({body})")
                for ddl in self._index_ddl(if_not_exists=True):
                    cur.execute(ddl)
            con.commit()
        finally:
            con.close()

    def seed(self, items_rows: list[tuple], parts_rows: list[tuple]) -> None:
        """Initial load (rows in _COLS / PARTITION_COLS order)."""
        self.ensure_schema()
        con = _connect(self.module, self.path)
        try:
            cur = con.cursor()
            cur.executemany(self._items_upsert_sql(), items_rows)
            cur.executemany(self._parts_upsert_sql(), parts_rows)
            con.commit()
        finally:
            con.close()

    # -- driver-side scalar/agg pushdown ---------------------------------
    def _fetchall(self, sql: str, *params) -> list[tuple]:
        con = _connect(self.module, self.path)
        try:
            cur = con.cursor()
            if params:
                cur.execute(sql, params)
            else:
                cur.execute(sql)
            return [tuple(r) for r in cur.fetchall()]
        finally:
            con.close()

    def last_batch(self, key: str) -> int:
        """The last micro-batch id recorded for ``key`` (-1 when none)."""
        ph = _placeholders(self.module, 1)[0]
        rows = self._fetchall(f"SELECT version FROM {self.txn_table} WHERE id = {ph}", key)
        return int(rows[0][0]) if rows else -1

    def record_batch(self, key: str, batch_id: int) -> None:
        """Record ``batch_id`` as ``key``'s last committed micro-batch.
        Monotone: the upsert's version rule never lets an older id
        replace a newer one."""
        con = _connect(self.module, self.path)
        try:
            con.cursor().execute(
                self._upsert_sql(self.txn_table, ["id", "version"]), (key, batch_id)
            )
            con.commit()
        finally:
            con.close()

    def max_updated_at(self) -> int:
        """The CDC high-water mark as a pushed-down aggregate (index-only
        over idx_*_updated) — never a row fetch."""
        rows = self._fetchall(f"SELECT MAX(updated_at) FROM {self.items_table}")
        return int(rows[0][0]) if rows and rows[0][0] is not None else 0

    def count_items(self, statuses=None, exclude_statuses=None) -> int:
        """Pushed-down COUNT over the status index — what the runner sizes
        its read fan-out with (rows never cross the driver)."""
        preds = self._status_pred(statuses, exclude_statuses)
        where = f" WHERE {' AND '.join(preds)}" if preds else ""
        rows = self._fetchall(f"SELECT COUNT(*) FROM {self.items_table}{where}")
        return int(rows[0][0]) if rows else 0

    def read_status_counts(self, spark: SparkSession) -> DataFrame:
        """Per-partition status counts pushed down as GROUP BY — the twin of
        the reference's GetStatusCounts (repo.go:141-162), which it runs per
        partition per tick; one grouped query covers every partition."""
        rows = self._fetchall(
            f"SELECT partition_id, status, COUNT(*) FROM {self.items_table} "
            "GROUP BY partition_id, status"
        )
        return _frame(spark, rows, COUNTS_SCHEMA)

    def read_decision_counts(self, spark: SparkSession) -> DataFrame:
        """The gate decision's complete input, as ONE pushed-down grouped
        query: per-(partition, status, gate) counts.  With this, a
        micro-batch only fetches AVAILABLE item rows — terminal Failed
        rows, which accumulate for a feed's lifetime, are counted in the
        database and never cross the driver again."""
        rows = self._fetchall(
            f"SELECT partition_id, status, gate, COUNT(*) FROM {self.items_table} "
            "GROUP BY partition_id, status, gate"
        )
        return _frame(spark, rows, "partition_id string, status int, gate int, n long")

    # -- reads -----------------------------------------------------------
    def read_items(
        self,
        spark: SparkSession,
        statuses=None,
        exclude_statuses=None,
        limit: int | None = None,
        num_partitions: int = 1,
    ) -> DataFrame:
        """Items with the poll predicates pushed into the database — the
        reference's indexed query shape (repo.go:114-120: status
        equi-predicate + ORDER BY updated_at + LIMIT).

        ``statuses``/``exclude_statuses`` push a ``status IN/NOT IN``;
        ``limit`` pushes ``ORDER BY updated_at, id`` + a row cap;
        ``num_partitions>1`` (exclusive with ``limit``) reads
        executor-side as ``updated_at`` range predicates so state larger
        than one driver fetch never funnels through the driver.
        """
        preds = self._status_pred(statuses, exclude_statuses)
        if num_partitions > 1 and limit is None:
            return self._read_items_fanout(spark, preds, num_partitions)
        where = f" WHERE {' AND '.join(preds)}" if preds else ""
        sql = (
            f"SELECT {', '.join(_COLS)} FROM {self.items_table}{where} "
            f"ORDER BY updated_at, id{self._limit_clause(limit)}"
        )
        return _frame(spark, self._fetchall(sql), CDC_SCHEMA)

    def _read_items_fanout(
        self, spark: SparkSession, preds: list[str], num_partitions: int
    ) -> DataFrame:
        """Executor-side partitioned read: split [min, max] of updated_at
        into ranges (driver runs ONE index-only MIN/MAX query), then each
        task SELECTs its own range — spark.read.jdbc's partitionColumn
        pattern over PEP-249."""
        where = f" WHERE {' AND '.join(preds)}" if preds else ""
        rows = self._fetchall(
            f"SELECT MIN(updated_at), MAX(updated_at) FROM {self.items_table}{where}"
        )
        if not rows or rows[0][0] is None:
            return _frame(spark, [], CDC_SCHEMA)
        lo, hi = int(rows[0][0]), int(rows[0][1])
        n = max(1, min(num_partitions, hi - lo + 1))
        step = (hi - lo + 1 + n - 1) // n
        bounds = [
            (lo + i * step, min(lo + (i + 1) * step - 1, hi)) for i in range(n)
        ]
        module, path, table = self.module, self.path, self.items_table
        cols, conj = list(_COLS), list(preds)

        def scan(iterator):
            import pandas as pd

            for pdf in iterator:
                for b_lo, b_hi in zip(pdf["lo"], pdf["hi"]):
                    range_preds = conj + [
                        f"updated_at >= {int(b_lo)}",
                        f"updated_at <= {int(b_hi)}",
                    ]
                    con = _connect(module, path)
                    try:
                        cur = con.cursor()
                        cur.execute(
                            f"SELECT {', '.join(cols)} FROM {table} "
                            f"WHERE {' AND '.join(range_preds)}"
                        )
                        got = cur.fetchall()
                    finally:
                        con.close()
                    if got:
                        yield pd.DataFrame(
                            [tuple(r) for r in got], columns=cols
                        )

        ranges = spark.createDataFrame(bounds, "lo long, hi long").repartition(n)
        return ranges.mapInPandas(scan, CDC_SCHEMA)

    def read_partitions(
        self, spark: SparkSession, statuses=None, exclude_statuses=None
    ) -> DataFrame:
        preds = self._status_pred(statuses, exclude_statuses)
        where = f" WHERE {' AND '.join(preds)}" if preds else ""
        rows = self._fetchall(
            f"SELECT {', '.join(PARTITION_COLS)} FROM {self.parts_table}{where} "
            "ORDER BY id"
        )
        from gofeed_spark.feedstate.model import PARTITION_DDL

        return _frame(spark, rows, PARTITION_DDL)

    # -- writes ----------------------------------------------------------
    def upsert_items(self, items: DataFrame) -> None:
        self._upsert(items.select(*_COLS), self._items_upsert_sql())

    def upsert_partitions(self, parts: DataFrame) -> None:
        self._upsert(parts.select(*PARTITION_COLS), self._parts_upsert_sql())

    def _upsert(self, df: DataFrame, sql: str) -> None:
        module_name, path = self.module, self.path

        def write_partition(rows_iter):
            rows = [tuple(r) for r in rows_iter]
            if not rows:
                return
            con = _connect(module_name, path)
            try:
                cur = con.cursor()
                cur.executemany(sql, rows)
                con.commit()
            finally:
                con.close()

        df.foreachPartition(write_partition)
