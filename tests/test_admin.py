"""DDL/migration + healthcheck tests (AutoMigrate and Healthcheck twins)."""

from __future__ import annotations

from gofeed_spark.feedstate.admin import (
    auto_migrate,
    healthcheck,
    http_healthcheck,
)
from gofeed_spark.feedstate.txlog import TxLog


def test_auto_migrate_creates_and_evolves(spark, tmp_path):
    """AutoMigrate on the txlog store: ONE commit adds whichever feed
    tables the manifest lacks, empty and typed, and carries every other
    entry by name; a second call commits nothing."""
    base = str(tmp_path / "feed")
    log = TxLog(base)
    log.commit(
        {
            "other": spark.createDataFrame([(1,)], "x int"),
            # a bucketed table counts as present
            "partitions@m16b0003": spark.createDataFrame(
                [("p", 0, 0, 1)], "id string, version int, gate int, status int"
            ),
        }
    )
    _, before = log.latest()
    assert auto_migrate(spark, base) == 2
    version, tables = log.latest()
    assert version == 2 and set(tables) == {*before, "items"}
    assert all(tables[k] == v for k, v in before.items())
    items = log.read(spark, "items")
    assert {"retry_count", "updated_at"} <= set(items.columns) and items.count() == 0

    # fresh store: both tables, one commit; then a no-op
    fresh = str(tmp_path / "fresh")
    assert auto_migrate(spark, fresh) == 1
    assert set(TxLog(fresh).latest()[1]) == {"items", "partitions"}
    assert auto_migrate(spark, fresh) == 1
    assert TxLog(fresh).latest()[0] == 1


def test_healthcheck_all_green(spark):
    assert healthcheck(spark, processor_check=lambda: None) == []


def test_healthcheck_joins_failures(spark):
    def bad():
        raise RuntimeError("processor down")

    errs = healthcheck(spark, processor_check=bad)
    assert len(errs) == 1 and "processor down" in errs[0]


def test_http_healthcheck_status_mapping():
    ok = http_healthcheck("http://t", transport=lambda url: 200)
    ok()  # no raise
    bad = http_healthcheck("http://t", transport=lambda url: 503)
    try:
        bad()
        raise AssertionError("expected raise")
    except RuntimeError as e:
        assert "503" in str(e)


def test_served_healthcheck_endpoint(spark):
    """GET /healthcheck → 200 'ok' when healthy, 503 + error text when a
    probe fails (main.go:99-104's served endpoint)."""
    import urllib.error
    import urllib.request

    from gofeed_spark.feedstate.admin import serve_healthcheck

    srv = serve_healthcheck(spark, port=0, processor_check=lambda: None)
    try:
        port = srv.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/healthcheck", timeout=30) as r:
            assert r.status == 200 and r.read() == b"ok"
    finally:
        srv.shutdown()

    def bad():
        raise RuntimeError("processor down")

    srv = serve_healthcheck(spark, port=0, processor_check=bad)
    try:
        port = srv.server_address[1]
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/healthcheck", timeout=30)
            raise AssertionError("expected HTTP 503")
        except urllib.error.HTTPError as e:
            assert e.code == 503 and b"processor down" in e.read()
    finally:
        srv.shutdown()
