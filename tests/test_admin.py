"""DDL/migration + healthcheck tests (AutoMigrate and Healthcheck twins)."""

from __future__ import annotations

import os

from gofeed_spark.feedstate.admin import (
    auto_migrate,
    healthcheck,
    http_healthcheck,
)


def test_auto_migrate_creates_and_evolves(spark, tmp_path):
    base = str(tmp_path / "feed")
    paths = auto_migrate(spark, base)
    items = spark.read.parquet(paths["items"])
    assert "retry_count" in items.columns and items.count() == 0

    # simulate an OLD table missing two columns, with data
    old = spark.createDataFrame(
        [("x", 0, "p", 0, 1)], "id string, version int, partition_id string, gate int, status int"
    )
    old.write.mode("overwrite").parquet(paths["items"])
    auto_migrate(spark, base)
    evolved = spark.read.parquet(paths["items"])
    assert "error_messages" in evolved.columns and "retry_count" in evolved.columns
    row = evolved.collect()[0]
    assert row.id == "x" and row.retry_count is None  # data kept, new cols NULL


def _stage(spark, base, table, rows):
    """Stage ``rows`` (id, v, b) the way FeedRunner does: partitionBy b
    into ``{table}_txn_staging``."""
    df = spark.createDataFrame(rows, "id int, v string, b string")
    df.write.partitionBy("b").mode("overwrite").parquet(f"{base}/{table}_txn_staging")


def _rows(spark, path):
    return sorted((r.id, r.v, r.b) for r in spark.read.parquet(path).collect())


def test_flip_buckets_flips_every_staged_table(spark, tmp_path):
    """Whole-table flips carry the staged ``_n_buckets`` marker; a later
    per-bucket flip replaces only the staged buckets of each table."""
    from gofeed_spark.feedstate.admin import (
        flip_buckets,
        read_bucket_marker,
        write_bucket_marker,
    )

    base = str(tmp_path)
    for t in ("t1", "t2"):
        _stage(spark, base, t, [(1, f"{t}a", "b0000"), (2, f"{t}b", "b0001")])
        write_bucket_marker(f"{base}/{t}_txn_staging", 2)
    for t in ("t1", "t2"):
        flip_buckets(base, t, whole=True)
    assert read_bucket_marker(f"{base}/t1") == read_bucket_marker(f"{base}/t2") == 2
    for t in ("t1", "t2"):
        _stage(spark, base, t, [(2, f"{t}b2", "b0001")])
    for t in ("t1", "t2"):
        flip_buckets(base, t, whole=False)
    assert _rows(spark, f"{base}/t1") == [(1, "t1a", "b0000"), (2, "t1b2", "b0001")]
    assert _rows(spark, f"{base}/t2") == [(1, "t2a", "b0000"), (2, "t2b2", "b0001")]
    assert read_bucket_marker(f"{base}/t1") == 2
    assert sorted(os.listdir(base)) == ["t1", "t2"]


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


def test_flip_buckets_recovers_from_stale_dirs(spark, tmp_path):
    """A crash between a flip's rename and its cleanup leaves non-empty
    ``*_txn_old`` dirs behind; the next flip must go through instead of
    wedging on ENOTEMPTY, and leave no aside dir."""
    from gofeed_spark.feedstate.admin import flip_buckets

    base = str(tmp_path)
    _stage(spark, base, "t1", [(1, "a", "b0000"), (2, "b", "b0001")])
    flip_buckets(base, "t1", whole=True)
    for stale in ("t1_txn_old", "t1_txn_old_b=b0001"):
        os.makedirs(f"{base}/{stale}")
        open(f"{base}/{stale}/leftover", "w").write("x")
    _stage(spark, base, "t1", [(2, "b2", "b0001")])
    flip_buckets(base, "t1", whole=False)
    assert _rows(spark, f"{base}/t1") == [(1, "a", "b0000"), (2, "b2", "b0001")]
    _stage(spark, base, "t1", [(3, "c", "b0000")])
    flip_buckets(base, "t1", whole=True)
    assert _rows(spark, f"{base}/t1") == [(3, "c", "b0000")]
    assert sorted(os.listdir(base)) == ["t1"]


def test_recover_bucketed_crash_windows(spark, tmp_path):
    """Each crash window of a bucket flip, then ``recover_bucketed``: an
    aside dir whose bucket (or table) is missing is restored, one whose
    bucket is present is removed — a read then sees every row once."""
    import shutil

    from gofeed_spark.feedstate.admin import flip_buckets, recover_bucketed

    base = str(tmp_path)
    rows = [(1, "a", "b0000"), (2, "b", "b0001"), (3, "c", "b0001")]
    _stage(spark, base, "t", rows)
    flip_buckets(base, "t", whole=True)
    # case 1: the live bucket was renamed aside, its replacement never in
    os.replace(f"{base}/t/b=b0001", f"{base}/t_txn_old_b=b0001")
    recover_bucketed(base, ["t"])
    assert _rows(spark, f"{base}/t") == rows
    # case 2: the replacement is in, the aside dir was never removed
    shutil.copytree(f"{base}/t/b=b0000", f"{base}/t_txn_old_b=b0000")
    recover_bucketed(base, ["t"])
    assert _rows(spark, f"{base}/t") == rows
    # whole-table flip: the table was renamed aside, the staging never in
    os.replace(f"{base}/t", f"{base}/t_txn_old")
    recover_bucketed(base, ["t"])
    assert _rows(spark, f"{base}/t") == rows
    assert sorted(os.listdir(base)) == ["t"]


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
