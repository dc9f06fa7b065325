"""CDC source tests: incremental offsets (no re-delivery across restarts),
and the full chain CDC source → gate state machine → idempotent sink."""

from __future__ import annotations

import os

import pytest

from gofeed_spark.feedstate.model import AVAILABLE, COMPLETE, FAILED
from gofeed_spark.sources.feed_cdc import CDC_SCHEMA, register_feed_cdc
from gofeed_spark.streaming.feed_stream import gate_stream
from gofeed_spark.streaming.sinks import ParquetUpsertSink


def _item(i, pid, gate, status, ts, version=0):
    return (i, version, 0, pid, gate, status, "", "{}", ts)


def _append(spark, path, rows):
    from gofeed_spark.streaming.feed_stream import one_slice_df

    one_slice_df(spark, rows, CDC_SCHEMA).write.mode("append").parquet(path)


def _drain(spark, table, ckpt, collector):
    q = (
        spark.readStream.format("feed_cdc")
        .option("path", table)
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: collector.extend(df.collect()))
        .start()
    )
    q.awaitTermination(120)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_feed_cdc(spark)


def test_cdc_incremental_offsets(spark, tmp_path):
    table, ckpt = str(tmp_path / "items"), str(tmp_path / "ckpt")
    _append(spark, table, [_item("a", "p", 0, AVAILABLE, 100), _item("b", "p", 0, AVAILABLE, 200)])
    got = []
    _drain(spark, table, ckpt, got)
    assert sorted(r.id for r in got) == ["a", "b"]

    # restart: only rows with updated_at beyond the checkpointed high-water
    # mark are delivered — the old rows are NOT re-read
    _append(spark, table, [_item("a", "p", 0, COMPLETE, 300, version=1), _item("c", "p", 0, AVAILABLE, 400)])
    got2 = []
    _drain(spark, table, ckpt, got2)
    assert sorted((r.id, r.updated_at) for r in got2) == [("a", 300), ("c", 400)]


def _append_sqlite(db_path, rows):
    import sqlite3

    con = sqlite3.connect(db_path)
    with con:
        con.execute(
            "CREATE TABLE IF NOT EXISTS items ("
            "id TEXT PRIMARY KEY, version INTEGER, retry_count INTEGER, "
            "partition_id TEXT, gate INTEGER, status INTEGER, "
            "error_messages TEXT, data TEXT, updated_at INTEGER)"
        )
        con.executemany(
            "INSERT OR REPLACE INTO items VALUES (?,?,?,?,?,?,?,?,?)",
            [(r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], r[8]) for r in rows],
        )
    con.close()


def test_cdc_sqlite_backend_incremental(spark, tmp_path):
    """Same incremental-offset contract against the DB-cursor backend —
    the reference's actual store family (Gorm/SQLite, main.go:74-80)."""
    db, ckpt = str(tmp_path / "feed.db"), str(tmp_path / "ckpt_sql")
    _append_sqlite(db, [_item("a", "p", 0, AVAILABLE, 100), _item("b", "p", 0, AVAILABLE, 200)])
    got = []
    q = (
        spark.readStream.format("feed_cdc")
        .option("path", db)
        .option("backend", "sqlite")
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.id for r in got) == ["a", "b"]

    # UPDATE in place (the DB shape — no append-only log): only rows whose
    # updated_at moved past the checkpointed mark are re-delivered.
    _append_sqlite(db, [_item("a", "p", 0, COMPLETE, 300, version=1), _item("c", "p", 0, AVAILABLE, 400)])
    got2 = []
    q = (
        spark.readStream.format("feed_cdc")
        .option("path", db)
        .option("backend", "sqlite")
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: got2.extend(df.collect()))
        .start()
    )
    q.awaitTermination(120)
    assert sorted((r.id, r.updated_at) for r in got2) == [("a", 300), ("c", 400)]


def test_cdc_dbapi_backend_incremental(spark, tmp_path):
    """The generic PEP-249 backend, driven here through sqlite3's DB-API
    face: the exact cursor contract a pyodbc/SQL Server deployment would
    use (connection string in via 'path', driver module named by option) —
    the portable proof of the reference's production-store claim."""
    db, ckpt = str(tmp_path / "feed_dbapi.db"), str(tmp_path / "ckpt_dbapi")
    _append_sqlite(db, [_item("a", "p", 0, AVAILABLE, 100), _item("b", "p", 0, AVAILABLE, 200)])

    def drain(into):
        q = (
            spark.readStream.format("feed_cdc")
            .option("path", db)
            .option("backend", "dbapi")
            .option("dbapi_module", "sqlite3")
            .load()
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(lambda df, bid: into.extend(df.collect()))
            .start()
        )
        q.awaitTermination(120)

    got = []
    drain(got)
    assert sorted(r.id for r in got) == ["a", "b"]
    # in-place UPDATE: only rows past the checkpointed mark re-deliver
    _append_sqlite(db, [_item("a", "p", 0, COMPLETE, 300, version=1), _item("c", "p", 0, AVAILABLE, 400)])
    got2 = []
    drain(got2)
    assert sorted((r.id, r.updated_at) for r in got2) == [("a", 300), ("c", 400)]


def test_cdc_to_gate_machine_end_to_end(spark, tmp_path):
    """The reference's whole loop: poll the items table → per-partition
    decision → idempotent state sink (watcher.go:89-184 as one pipeline)."""
    table = str(tmp_path / "items")
    ckpt = str(tmp_path / "ckpt")
    sink = ParquetUpsertSink(str(tmp_path / "state"), key="partition_id")

    def run():
        src = (
            spark.readStream.format("feed_cdc")
            .option("path", table)
            .load()
            .select("id", "partition_id", "gate", "status")
        )
        q = (
            gate_stream(src)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        q.awaitTermination(120)

    _append(spark, table, [_item("a", "p1", 0, AVAILABLE, 100), _item("b", "p2", 0, AVAILABLE, 100)])
    run()
    st = {r.partition_id: r.status for r in sink.read(spark).collect()}
    assert st == {"p1": AVAILABLE, "p2": AVAILABLE}

    # item updates arrive in the table (as the reference's processor would
    # write them): a completes -> p1 closes; b fails -> p2 fails
    _append(spark, table, [_item("a", "p1", 0, COMPLETE, 200, 1), _item("b", "p2", 0, FAILED, 200, 1)])
    run()
    st = {r.partition_id: r.status for r in sink.read(spark).collect()}
    assert st == {"p1": COMPLETE, "p2": FAILED}


def test_scan_poll_limit_extends_to_boundary_timestamp(tmp_path):
    """The poll LIMIT (repo.go:114-120 parity) must never split rows that
    share the boundary updated_at: the offset is the ts high-water mark, so
    a mid-timestamp cut would skip the rest of that timestamp forever."""
    import sqlite3

    from gofeed_spark.sources.feed_cdc import FeedCDCReader

    db = str(tmp_path / "poll.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE items (id TEXT PRIMARY KEY, version INTEGER, "
        "retry_count INTEGER, partition_id TEXT, gate INTEGER, status INTEGER, "
        "error_messages TEXT, data TEXT, updated_at INTEGER)"
    )
    # ts 1,2,3 then FIVE rows at ts=4, then ts 5
    rows = [(f"a{t}", 0, 0, "p", 0, 1, "", "{}", t) for t in (1, 2, 3)]
    rows += [(f"b{i}", 0, 0, "p", 0, 1, "", "{}", 4) for i in range(5)]
    rows += [("z9", 0, 0, "p", 0, 1, "", "{}", 5)]
    con.executemany("INSERT INTO items VALUES (?,?,?,?,?,?,?,?,?)", rows)
    con.commit()
    con.close()

    for opts in ({"backend": "sqlite"}, {"backend": "dbapi", "dbapi_module": "sqlite3"}):
        scan = FeedCDCReader({"path": db, **opts})._scan
        # limit 4 cuts inside the ts=4 group -> extends to all 5 of them
        got = scan(db, 0, "items", 4)
        assert [r[0] for r in got] == ["a1", "a2", "a3", "b0", "b1", "b2", "b3", "b4"]
        # next poll resumes past the boundary
        nxt = scan(db, got[-1][-1], "items", 4)
        assert [r[0] for r in nxt] == ["z9"]
        # no limit: everything
        assert len(scan(db, 0, "items")) == 9


def test_sqlite_poll_of_missing_file_is_empty_and_creates_nothing(tmp_path):
    """A sqlite feed whose database file does not exist yet polls as empty
    (the producer has not written it) and must not create the file as a
    side effect of connecting."""
    from gofeed_spark.sources.feed_cdc import FeedCDCReader

    db = tmp_path / "not_yet.db"
    reader = FeedCDCReader({"path": str(db), "backend": "sqlite"})
    rows, offset = reader.read(reader.initialOffset())
    assert list(rows) == []
    assert offset == {"last_ts": -1}
    assert list(reader.readBetweenOffsets({"last_ts": -1}, {"last_ts": 10})) == []
    assert not db.exists()


def test_feed_runner_poll_limit_drains_backlog(spark, tmp_path):
    """A backlog far above poll_limit drains to quiescence over multiple
    bounded polls, each item completing exactly once."""
    from gofeed_spark.feedstate.model import AVAILABLE, COMPLETE
    from gofeed_spark.feedstate.processors import json_times_processor
    from gofeed_spark.streaming.feed_runner import FeedRunner

    base = str(tmp_path / "feed_backlog")
    runner = FeedRunner(
        spark, base, json_times_processor, max_retries=3, auto_close=True,
        storage="dbapi", poll_limit=10,
    )
    runner.db.seed(
        items_rows=[
            (f"s{i:02d}", 0, 0, f"p{i % 2}", 0, AVAILABLE, "", '{"times": 1}', i + 1)
            for i in range(40)
        ],
        parts_rows=[(f"p{i}", 0, 0, AVAILABLE) for i in range(2)],
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available(timeout_s=300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    items = {r.id: (r.status, r.version) for r in runner.items().collect()}
    assert len(items) == 40
    assert all(s == COMPLETE for s, _v in items.values())
    # exactly once: one processor pass per item -> version exactly 1
    assert all(v == 1 for _s, v in items.values())
