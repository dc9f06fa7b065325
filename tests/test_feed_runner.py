"""End-to-end streaming feed engine: CDC source → feed_step micro-batches →
transactional state upsert, driven to quiescence — the reference's full
Watcher loop (golden outcomes of watcher_test.go:268-349) on the streaming
path, including crash-idempotency."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # r18: excluded from the default driver tier (see pytest.ini)

import os

from pyspark.sql import functions as F

from gofeed_spark.feedstate.model import (
    AVAILABLE,
    COMPLETE,
    FAILED,
    ITEM_FIXTURE,
    PARTITION_FIXTURE,
    seed_dataframes,
)
from gofeed_spark.feedstate.processors import json_times_processor
from gofeed_spark.feedstate.txlog import TxLog, head
from gofeed_spark.fs import (
    DirObjectStoreFileSystem,
    register_filesystem,
    unregister_filesystem,
)
from gofeed_spark.streaming import feed_runner
from gofeed_spark.streaming.feed_runner import FeedRunner


@pytest.fixture(params=["local", "fakefs"])
def feed_base(request, tmp_path):
    """A feed store base on each backend: a local path, and a
    ``fakefs://`` path on the object-store fake, whose logical paths do
    not exist locally (Spark and the CDC poll get ``spark_path``)."""
    if request.param == "local":
        yield str(tmp_path / "feed")
        return
    register_filesystem("fakefs", DirObjectStoreFileSystem("fakefs", str(tmp_path / "backing")))
    yield "fakefs://bucket/feed"
    unregister_filesystem("fakefs")


def _seed(spark, base):
    """The golden fixture committed as one plain txlog manifest."""
    parts, items = seed_dataframes(spark)
    log = TxLog(base)
    log.commit(
        {
            "items": items.withColumn("updated_at", F.lit(0).cast("long")),
            "partitions": parts,
        }
    )
    return log


def _assert_goldens(runner):
    """The reference's golden outcomes (watcher_test.go:268-349) over the
    fixture ``_seed`` commits: item and partition states, and the
    dead-letter log holding exactly the items that transitioned to Failed,
    once each."""
    items = {r.id: r for r in runner.items().collect()}
    assert items["s1_ready"].status == COMPLETE
    assert items["s2_fail"].status == FAILED
    assert items["s6_owned_should_fail"].status == FAILED
    assert items["s8_disabled"].status == AVAILABLE  # frozen partition
    assert items["s12_gate"].status == AVAILABLE and items["s12_gate"].gate == 1
    assert items["s14_gate"].status == COMPLETE
    parts = {r.id: (r.status, r.gate) for r in runner.partitions().collect()}
    assert parts["p1_gate"] == (COMPLETE, 1)
    assert parts["p2_gate"] == (FAILED, 0)
    assert all(s == COMPLETE for p, (s, g) in parts.items() if p.startswith("p1"))
    dl = sorted(r.id for r in runner.dead_letters().collect())
    assert dl == ["s10_ready_should_fail", "s13_gate_fail", "s6_owned_should_fail"]


def test_streaming_feed_reaches_reference_goldens(spark, feed_base):
    """The reference goldens on the streaming path, with state committed
    through the multi-writer TxLog: every micro-batch lands as one atomic
    two-table manifest commit, and the CDC source polls through the
    manifest (backend='txlog') — on a local store and on the object-store
    fake."""
    from gofeed_spark.feedstate.txlog import CommitConflict

    base = feed_base
    log = _seed(spark, base)
    runner = FeedRunner(
        spark, base, json_times_processor, max_retries=3, auto_close=True
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    _assert_goldens(runner)

    # one manifest version per committed micro-batch, atop the seed commit
    # (the legacy→bucketed layout conversion folds into the first batch
    # commit — it costs no extra version); the newest records the last
    # batch id under the runner's streaming query id
    version, m = head(base)
    tables = m["tables"]
    assert [h["batch_id"] for h in runner.write_history] == list(range(version - 1))
    assert m["txn"] == {runner.txn_key: version - 2}
    # dead letters ride in the SAME atomic commit as the state tables; the
    # state tables themselves are committed as hash-bucketed snapshots
    # (plain entries dropped by the conversion)
    assert any(k == "dead_letter" or k.startswith("dead_letter@d") for k in tables)
    assert "items" not in tables and "partitions" not in tables
    # bucket keys are modulus-stamped (@m{n}b{NNNN}) so a restart can
    # never misread the layout's bucket count
    assert any(k.startswith("items@m16b") for k in tables)
    assert any(k.startswith("partitions@m16b") for k in tables)

    # dead-letter log rows carry the final attempt's trail
    dead = runner.dead_letters()
    assert all(r.retry_count == 4 for r in dead.collect())  # MaxRetries=3 + 1
    assert all("moving to failed item" in r.error_messages for r in dead.collect())

    # crash-idempotency: re-delivering an already-committed batch is a no-op
    before = {tuple(r) for r in runner.items().collect()}
    poison = spark.createDataFrame([(1,)], "x int")
    runner._step(poison, m["txn"][runner.txn_key])
    after = {tuple(r) for r in runner.items().collect()}
    assert after == before
    assert log.latest()[0] == version

    # a stale-expected commit from "another writer" conflicts cleanly
    with pytest.raises(CommitConflict):
        log.commit({"items": runner._items_with_ts()}, expected_version=0)


def test_two_feed_runners_race_on_shared_txlog(spark, feed_base):
    """The reference's flagship scenario end-to-end: TWO full feed runners
    (each with its own poll cursor, like two watcher processes) racing on
    ONE shared state store.  The TxLog create-if-absent manifest publish
    arbitrates every micro-batch commit; a losing runner recomputes
    against the fresh snapshot.  Final items, partitions, AND dead letters
    must be identical to the single-runner goldens — no lost updates, no
    double transitions (watcher_test.go:233-266,381-390) — on a local
    store and on the object-store fake."""
    import threading

    base = feed_base
    parts, items = seed_dataframes(spark)
    log = TxLog(base)
    log.commit(
        {
            "items": items.withColumn("updated_at", F.lit(0).cast("long")),
            "partitions": parts,
        }
    )
    runners = [
        FeedRunner(
            spark, base, json_times_processor, max_retries=3, auto_close=True,
            storage="txlog", runner_id=rid,
        )
        for rid in ("r1", "r2")
    ]
    errors: list[Exception] = []
    barrier = threading.Barrier(2)

    def drive(runner):
        try:
            barrier.wait(timeout=60)
            runner.run_available(timeout_s=300)
        except Exception as e:  # pragma: no cover — surfaced below
            errors.append(e)

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        threads = [threading.Thread(target=drive, args=(r,)) for r in runners]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    assert not errors, errors

    # A runner may quiesce while the other's final commit re-queues
    # continuation work; one sequential drain settles any stragglers (the
    # reference keeps polling on a timer for exactly this reason).
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runners[0].run_available(timeout_s=300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    # items, partitions and dead letters: the SAME as the single-runner
    # run, each dead letter exactly once; each runner's last batch id sits
    # under its own streaming query id
    _assert_goldens(runners[0])
    keys = {r.txn_key for r in runners}
    assert len(keys) == 2 and set(head(base)[1]["txn"]) == keys


def _two_phase_fixture(spark, n_done=1900, n_work=10):
    """Mostly-settled state: ``n_done`` Complete items across Complete
    partitions (never touched again), plus ``n_work`` two-pass items in one
    Available partition — so the drain's post-conversion batches touch a
    tiny fraction of the table."""
    from pyspark.sql import Row

    parts = [Row(id=f"p{i}", version=0, gate=0, status=COMPLETE) for i in range(19)]
    parts.append(Row(id="pw", version=0, gate=0, status=AVAILABLE))
    items = [
        Row(
            id=f"d{i}", version=0, retry_count=0, partition_id=f"p{i % 19}",
            gate=0, status=COMPLETE, error_messages="", data='{"times": 1}',
            updated_at=0,
        )
        for i in range(n_done)
    ]
    items += [
        Row(
            id=f"w{i}", version=0, retry_count=0, partition_id="pw",
            gate=0, status=AVAILABLE, error_messages="", data='{"times": 2}',
            updated_at=0,
        )
        for i in range(n_work)
    ]
    pdf = spark.createDataFrame(parts, "id string, version int, gate int, status int")
    idf = spark.createDataFrame(
        items,
        "id string, version int, retry_count int, partition_id string, "
        "gate int, status int, error_messages string, data string, updated_at long",
    )
    return pdf, idf


def test_txlog_carries_untouched_buckets_by_name(spark, tmp_path, monkeypatch):
    """TxLog bucketed commits: buckets without touched rows ride into the
    next manifest as the SAME snapshot-dir names — zero bytes rewritten —
    while touched buckets get fresh dirs, so bytes written per batch track
    the touched-row count, not the table size."""
    monkeypatch.setattr(feed_runner, "STATE_BUCKETS", 64)
    base = str(tmp_path / "feed_bwtx")
    pdf, idf = _two_phase_fixture(spark)
    log = TxLog(base)
    log.commit({"items": idf, "partitions": pdf})
    runner = FeedRunner(
        spark, base, json_times_processor, max_retries=3, storage="txlog",
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    items = {r.id: r for r in runner.items().collect()}
    assert all(items[f"w{i}"].status == COMPLETE for i in range(10))
    # conversion manifest (v2 = seed + first batch) vs the final one: most
    # item buckets hold only never-touched Complete rows and must be the
    # IDENTICAL dir names in both
    conv = log._load(2)["tables"]
    _, final = log.latest()
    conv_items = {k: v for k, v in conv.items() if k.startswith("items@m64b")}
    shared = [k for k, v in conv_items.items() if final.get(k) == v]
    assert len(conv_items) >= 8
    assert len(shared) >= len(conv_items) // 2, (conv_items, final)
    # the first batch converts the legacy table wholesale (full write);
    # every later batch rewrites ONLY buckets containing touched rows
    hist = list(runner.write_history)
    assert len(hist) >= 2  # conversion batch + at least one delta batch
    full = hist[0]["items"]  # conversion: whole 1910-row table
    deltas = [h.get("items", 0) for h in hist[1:]]
    # later batches rewrite only the touched buckets (10 ids hash into at
    # most 10 of 64 buckets; the conversion wrote all of them)
    assert max(deltas) < full * 0.4, hist
    assert runner.last_write_bytes is not None


def test_txlog_bucket_growth_and_modulus_adoption(spark, tmp_path, monkeypatch):
    """Bucket keys carry their modulus (``@m{n}bNNNN``), a restarted
    runner adopts the stamped modulus over ``STATE_BUCKETS``, and
    size-tiered growth re-buckets in-commit up to ``MAX_STATE_BUCKETS`` —
    the final manifest holds exactly ONE modulus, never a mix, and no row
    is duplicated or stranded."""
    base = str(tmp_path / "feed_growtx")
    parts, items = seed_dataframes(spark)
    log = TxLog(base)
    log.commit(
        {
            "items": items.withColumn("updated_at", F.lit(0).cast("long")),
            "partitions": parts,
        }
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner = FeedRunner(
            spark, base, json_times_processor, max_retries=3, auto_close=True,
            storage="txlog",
        )
        runner.run_available()
        _, tables = log.latest()
        assert any(k.startswith("items@m16b") for k in tables)
        # restart asking for 64: the stamped layout (16) wins
        monkeypatch.setattr(feed_runner, "STATE_BUCKETS", 64)
        monkeypatch.setattr(feed_runner, "BUCKET_TARGET_BYTES", 1)
        monkeypatch.setattr(feed_runner, "MAX_STATE_BUCKETS", 64)
        runner2 = FeedRunner(
            spark, base, json_times_processor, max_retries=3, auto_close=True,
            storage="txlog",
        )
        assert runner2.state_buckets == 16 and runner2.bucket_count_adopted
        # requeue (rewrites only its touched buckets) + drain: the tiny
        # target forces growth 16 -> 64 in the next commit
        assert runner2.requeue_dead_letters() == 3
        runner2.run_available()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    _, final = log.latest()
    item_keys = [k for k in final if k.startswith("items@")]
    assert item_keys and all(k.startswith("items@m64b") for k in item_keys), (
        sorted(item_keys)
    )
    items_out = runner2.items()
    n = items.count()
    assert items_out.count() == n == items_out.select("id").distinct().count()
    st = {r.id: r.status for r in items_out.collect()}
    # the requeued items exhaust retries and fail again — goldens hold
    assert st["s10_ready_should_fail"] == FAILED
    assert st["s6_owned_should_fail"] == FAILED
    assert st["s1_ready"] == COMPLETE


def test_run_available_surfaces_persistent_failure(spark, tmp_path):
    """A processor bug that fails every micro-batch must NOT exhaust
    max_rounds and return as if the drain succeeded: the last streaming
    error is re-raised so the caller knows the run failed."""
    import pytest

    base = str(tmp_path / "feed_broken")
    _seed(spark, base)

    def broken(item_id: str, data: str):
        raise RuntimeError("processor bug: fails every batch")

    runner = FeedRunner(spark, base, broken, max_retries=3)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        with pytest.raises(Exception, match="processor bug|Streaming"):
            runner.run_available(timeout_s=120, max_rounds=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def test_feed_runner_dbapi_concurrent_inserts_soak(spark, tmp_path):
    """Real-database CDC round-trip, soaked 5×: the FULL FeedRunner drains
    a SQLite-backed state store through the PEP-249 cursor source while an
    out-of-band writer INSERTs new Available items (with their partitions)
    mid-stream — the reference's "items added while the feed is running"
    behavior (README.md:104-110).  Pins the incremental-offset contract
    under concurrent writes: every late insert must be picked up by a
    later poll (updated_at > high-water), survive the runner's per-row OCC
    upserts untouched until processed, and drain to COMPLETE."""
    import sqlite3
    import threading
    import time

    from gofeed_spark.feedstate.model import AVAILABLE as _AV

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for soak in range(5):
            base = str(tmp_path / f"feed_db_{soak}")
            runner = FeedRunner(
                spark, base, json_times_processor, max_retries=3,
                auto_close=True, storage="dbapi",
            )
            # seed: two partitions, items needing TWO processor passes so
            # continuation re-queues overlap the out-of-band inserts
            runner.db.seed(
                items_rows=[
                    (f"s{i}", 0, 0, f"p{i % 2}", 0, _AV, "", '{"times": 2}', i + 1)
                    for i in range(4)
                ],
                parts_rows=[(f"p{i}", 0, 0, _AV) for i in range(2)],
            )

            def inject(db_path):
                con = sqlite3.connect(db_path, timeout=60)
                try:
                    for i in range(4):
                        # widely spaced timestamps: the runner's re-queue
                        # tick (max+1) must never collide with a future
                        # out-of-band timestamp at the offset boundary
                        ts = 1_000_000 * (i + 1)
                        with con:
                            con.execute(
                                "INSERT OR REPLACE INTO items VALUES (?,?,?,?,?,?,?,?,?)",
                                (f"x{i}", 0, 0, f"px{i}", 0, _AV, "", '{"times": 1}', ts),
                            )
                            con.execute(
                                "INSERT OR REPLACE INTO partitions VALUES (?,?,?,?)",
                                (f"px{i}", 0, 0, _AV),
                            )
                        time.sleep(0.4)
                finally:
                    con.close()

            t = threading.Thread(target=inject, args=(runner.db_path,))
            t.start()
            try:
                runner.run_available(timeout_s=180)
            finally:
                t.join(timeout=60)
            assert not t.is_alive()
            # inserts that landed after the drain quiesced: one more pass
            runner.run_available(timeout_s=180)

            items = {r.id: r.status for r in runner.items().collect()}
            expected_ids = {f"s{i}" for i in range(4)} | {f"x{i}" for i in range(4)}
            assert set(items) == expected_ids, f"soak {soak}: lost rows"
            assert all(s == COMPLETE for s in items.values()), (
                f"soak {soak}: unprocessed items "
                f"{[i for i, s in items.items() if s != COMPLETE]}"
            )
            parts = {r.id: r.status for r in runner.partitions().collect()}
            assert all(s == COMPLETE for s in parts.values()), f"soak {soak}: {parts}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def test_feed_runner_releases_checkpoints(spark, tmp_path):
    """A full drain must not leave any of its per-micro-batch
    localCheckpoints registered in the block manager: a long-lived runner
    creates 4-5 per batch and they are dead weight the moment the storage
    commit lands."""
    base = str(tmp_path / "feed_ckpt")
    _seed(spark, base)
    runner = FeedRunner(spark, base, json_times_processor, max_retries=3)
    sc_java = spark.sparkContext._jsc.sc()
    baseline = sc_java.getPersistentRDDs().size()
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    assert sc_java.getPersistentRDDs().size() <= baseline


def test_run_forever_service_mode_processes_and_stops(spark, tmp_path):
    """The reference's long-running service mode (main.go poll_interval):
    run_forever ticks on an interval and drains the seeded work without a
    drain-mode call; stop() ends it cleanly, and a follow-up drain on the
    SAME checkpoint finds nothing new to do (shared exactly-once state)."""
    import time

    base = str(tmp_path / "feed_svc")
    _seed(spark, base)
    runner = FeedRunner(
        spark, base, json_times_processor, max_retries=3, auto_close=True
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    # run_forever flips AQE off for the service lifetime (it owns its
    # session in a real deployment); this shared test session restores it
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    q = runner.run_forever(poll_interval_s=1.0)
    try:
        deadline = time.time() + 180
        items = {}
        while time.time() < deadline:
            items = {r.id: r.status for r in runner.items().collect()}
            if items.get("s1_ready") == COMPLETE and items.get("s14_gate") == COMPLETE:
                break
            time.sleep(2)
        else:
            raise AssertionError(f"service mode never converged: {items}")
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    # the service loop may stop mid-continuation (the sentinel items only
    # prove progress, not quiescence): drain the remainder on the SAME
    # checkpoint, then assert a second drain is a pure no-op — cross-mode
    # exactly-once without racing the stop point
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        runner.run_available()
        before = {r.id: (r.status, r.version) for r in runner.items().collect()}
        runner.run_available()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    after = {r.id: (r.status, r.version) for r in runner.items().collect()}
    assert after == before  # nothing re-processed across modes


def test_requeue_dead_letters_recovers_after_fix(spark, tmp_path):
    """The ops recovery loop on every storage backend: a dependency outage
    dead-letters an item (retries exhausted, partition Failed); once the
    dependency is back (marker file), requeue_dead_letters flips the item
    to Available/retry 0, re-opens the partition, and the next drain
    completes it — the reference's manual "update the partition to
    Available" recovery (README.md:104-110) as one OCC-guarded call."""
    import os

    from gofeed_spark.feedstate.model import ITEM_DDL, PARTITION_DDL
    from gofeed_spark.feedstate.processors import ProcResult, json_times_processor

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for storage in ("txlog", "dbapi"):
            base = str(tmp_path / f"requeue_{storage}")
            os.makedirs(base, exist_ok=True)
            marker = os.path.join(base, "fixed.marker")

            def proc(item_id, data, _m=marker):
                import os as _os

                if not _os.path.exists(_m):
                    return ProcResult(error_msg="dependency down")
                return json_times_processor(item_id, data)

            item_row = ("i1", 0, 0, "p1", 0, AVAILABLE, "", '{"times": 1}')
            if storage == "dbapi":
                runner = FeedRunner(
                    spark, base, proc, max_retries=2, auto_close=True,
                    storage="dbapi",
                )
                runner.db.seed(
                    items_rows=[item_row + (1,)],
                    parts_rows=[("p1", 0, 0, AVAILABLE)],
                )
            else:
                items = spark.createDataFrame([item_row], ITEM_DDL).withColumn(
                    "updated_at", F.lit(0).cast("long")
                )
                parts = spark.createDataFrame(
                    [("p1", 0, 0, AVAILABLE)], PARTITION_DDL
                )
                TxLog(base).commit({"items": items, "partitions": parts})
                runner = FeedRunner(
                    spark, base, proc, max_retries=2, auto_close=True,
                    storage=storage,
                )
            runner.run_available(timeout_s=180)
            assert {r.id: r.status for r in runner.items().collect()}["i1"] == FAILED, storage
            dead = runner.dead_letters()
            assert dead is not None and dead.filter("id = 'i1'").count() >= 1, storage
            # filtered to an unrelated id: a no-op
            assert runner.requeue_dead_letters(ids=["other"]) == 0, storage
            with open(marker, "w") as f:
                f.write("ok")
            assert runner.requeue_dead_letters() == 1, storage
            st = {
                r.id: (r.status, r.retry_count) for r in runner.items().collect()
            }
            assert st["i1"] == (AVAILABLE, 0), (storage, st)
            runner.run_available(timeout_s=180)
            assert {r.id: r.status for r in runner.items().collect()}["i1"] == COMPLETE, storage
            assert {r.id: r.status for r in runner.partitions().collect()}["p1"] == COMPLETE, storage
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def test_maintain_compacts_dead_letters_and_vacuums_txlog(spark, tmp_path):
    """The off-hot-path maintenance job: dbapi mode compacts the
    accreting dead-letter appends without changing their contents; txlog
    mode reclaims snapshot dirs superseded beyond the retention window."""

    # dbapi: the golden fixture's failing items produce dead-letter
    # appends across batches (json_times_processor returns error results,
    # the retry budget exhausts, transitions land per batch)
    base = str(tmp_path / "mt")
    runner = _store(
        spark, base, "dbapi", ITEM_FIXTURE, PARTITION_FIXTURE, max_retries=1
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available(timeout_s=300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    dead_before = {tuple(r) for r in runner.dead_letters().drop("writer").collect()}
    assert dead_before
    root = os.path.join(base, "dead_letter")
    n_files_before = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(root)
    )
    out = runner.maintain()
    n_files_after = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(root)
    )
    assert out["compacted"]
    assert n_files_after <= n_files_before
    dead_after = {tuple(r) for r in runner.dead_letters().drop("writer").collect()}
    assert dead_after == dead_before  # compaction never changes contents

    # txlog: superseded state-bucket snapshots reclaim once aged out
    base2 = str(tmp_path / "mt_tx")
    _seed(spark, base2)
    r2 = FeedRunner(
        spark, base2, json_times_processor, max_retries=3, storage="txlog"
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        r2.run_available(timeout_s=300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    before_state = {tuple(x) for x in r2.items().collect()}
    removed = r2.maintain(vacuum_keep=1, vacuum_min_age_s=0.0)["vacuumed"]
    assert removed  # superseded snapshots reclaimed
    assert {tuple(x) for x in r2.items().collect()} == before_state


def _store(spark, base, storage, item_rows, part_rows, processor=json_times_processor, **kw):
    """A runner over a fresh ``storage`` store seeded with ``item_rows``
    (ITEM_DDL tuples) and ``part_rows``."""
    from gofeed_spark.feedstate.model import ITEM_DDL, PARTITION_DDL

    os.makedirs(base)
    if storage == "dbapi":
        runner = FeedRunner(spark, base, processor, storage="dbapi", **kw)
        runner.db.seed(
            items_rows=[r + (1,) for r in item_rows], parts_rows=part_rows
        )
        return runner
    items = spark.createDataFrame(item_rows, ITEM_DDL).withColumn(
        "updated_at", F.lit(0).cast("long")
    )
    parts = spark.createDataFrame(part_rows, PARTITION_DDL)
    TxLog(base).commit({"items": items, "partitions": parts})
    return FeedRunner(spark, base, processor, storage=storage, **kw)


@pytest.mark.parametrize("storage", ["txlog", "dbapi"])
def test_gate_advance_requeues_waiting_items(spark, tmp_path, storage):
    """The micro-batch that advances a partition's gate processes no item
    (none sits at the old gate), so it changes no item row; the items
    waiting at the new gate must still be re-queued, or the drain stops
    with them — and their partition — stranded Available at gate 1."""
    rows = [
        ("a", 0, 0, "p1", 0, AVAILABLE, "", '{"times":1}'),
        ("b", 0, 0, "p1", 0, AVAILABLE, "", '{"times":2,"gate":1}'),
    ]
    runner = _store(
        spark, str(tmp_path / storage), storage, rows, [("p1", 0, 0, AVAILABLE)]
    )
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available()
        runner.run_available()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    items = {r.id: (r.status, r.gate) for r in runner.items().collect()}
    assert items == {"a": (COMPLETE, 0), "b": (COMPLETE, 1)}, items
    parts = {r.id: (r.status, r.gate) for r in runner.partitions().collect()}
    assert parts == {"p1": (COMPLETE, 1)}, parts


def test_requeue_keeps_bucketed_layout(spark, tmp_path):
    """A requeue publishes like a micro-batch: it rewrites only the
    buckets its rows touch and keeps the layout's modulus record — the
    txlog manifest keeps only ``@m16b`` keys."""
    settled = [
        (f"d{i}", 1, 0, f"q{i % 8}", 0, COMPLETE, "", '{"times":1}')
        for i in range(400)
    ]
    rows = settled + [("x", 0, 0, "p1", 0, AVAILABLE, "", '{"times":1,"fail":true}')]
    parts = [(f"q{i}", 1, 0, COMPLETE) for i in range(8)] + [("p1", 0, 0, AVAILABLE)]
    base = str(tmp_path / "txlog")
    runner = _store(spark, base, "txlog", rows, parts, max_retries=0)
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    assert {r.id: r.status for r in runner.items().collect()}["x"] == FAILED

    def items_bytes():
        _, tables = runner.log.latest()
        return sum(
            runner.fs.tree_stats(os.path.join(base, v))[1]
            for k, v in tables.items()
            if k.startswith("items@")
        )

    full = items_bytes()
    assert runner.requeue_dead_letters() == 1
    last = runner.write_history[-1]
    assert last["batch_id"] is None and 0 < last["items"] < full / 2, (last, full)
    st = {r.id: (r.status, r.retry_count) for r in runner.items().collect()}
    assert st["x"] == (AVAILABLE, 0) and len(st) == 401
    _, tables = runner.log.latest()
    for t in ("items", "partitions"):
        keys = [k for k in tables if k == t or k.startswith(t + "@")]
        assert keys and all(k.startswith(f"{t}@m16b") for k in keys), keys


def _slow_processor(item_id: str, data: str):
    import time

    time.sleep(6)
    return json_times_processor(item_id, data)


def test_run_available_timeout_stops_and_raises(spark, tmp_path):
    """``timeout_s`` bounds how long a drain may go without committing a
    batch: a batch that outlasts it stops the query and raises, instead of
    returning with the query still running and the item untouched."""
    rows = [("a", 0, 0, "p1", 0, AVAILABLE, "", '{"times":1}')]
    runner = _store(
        spark, str(tmp_path / "slow"), "txlog", rows, [("p1", 0, 0, AVAILABLE)],
        processor=_slow_processor,
    )
    with pytest.raises(TimeoutError):
        runner.run_available(timeout_s=2)
    assert spark.streams.active == []


def test_run_available_raises_when_feed_never_quiesces(spark, tmp_path):
    """Every batch re-queues the item (it needs 1000 passes): the drain
    spends its ``max_rounds`` and raises, leaving no query running."""
    rows = [("a", 0, 0, "p1", 0, AVAILABLE, "", '{"times":1000}')]
    runner = _store(
        spark, str(tmp_path / "loop"), "txlog", rows, [("p1", 0, 0, AVAILABLE)]
    )
    with pytest.raises(RuntimeError, match="did not quiesce"):
        runner.run_available(max_rounds=3)
    assert spark.streams.active == []
    assert head(runner.base)[1]["txn"] == {runner.txn_key: 2}


def _counting_processor(calls_path):
    """``json_times_processor`` that appends one line per call (the item
    id) to ``calls_path`` — the processor's side effects, counted."""

    def proc(item_id, data):
        with open(calls_path, "a") as f:
            f.write(item_id + "\n")
        return json_times_processor(item_id, data)

    return proc


def _drain_fixture(spark, base, storage, calls_path, crash):
    """Drain the golden fixture on ``storage``; with ``crash``, the first
    delivery of every micro-batch raises right after its state commit
    landed, so the streaming query fails and Spark re-delivers the batch
    under the same id.  Returns (runner, batch ids of landed commits,
    processor calls per item)."""
    from collections import Counter

    runner = _store(
        spark, base, storage, ITEM_FIXTURE, PARTITION_FIXTURE,
        processor=_counting_processor(calls_path), max_retries=3, auto_close=True,
    )
    landed = []
    publish = runner._publish

    def crash_after_commit(snap, items, parts, dead, batch_id):
        done = publish(snap, items, parts, dead, batch_id)
        if done:
            landed.append(batch_id)
            if crash and landed.count(batch_id) == 1:
                raise RuntimeError(f"crash after committing batch {batch_id}")
        return done

    runner._publish = crash_after_commit
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runner.run_available(timeout_s=300, max_rounds=64)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    with open(calls_path) as f:
        calls = Counter(f.read().split())
    return runner, landed, calls


@pytest.mark.parametrize("storage", ["txlog", "dbapi"])
def test_crash_after_state_commit_replays_nothing(spark, tmp_path, storage):
    """A micro-batch whose state commit landed but whose delivery then
    failed is re-delivered by Spark under the same batch id; the id
    recorded in the state commit (the txlog manifest's ``txn`` entry,
    dbapi's last-id row) must make the replay a no-op: one commit per
    distinct batch id, processor calls per item equal to a run with no
    crash, and the goldens still hold."""
    _, _, clean_calls = _drain_fixture(
        spark, str(tmp_path / "clean"), storage, str(tmp_path / "clean.calls"), False
    )
    runner, landed, calls = _drain_fixture(
        spark, str(tmp_path / "crash"), storage, str(tmp_path / "crash.calls"), True
    )
    assert landed and len(landed) == len(set(landed)), landed
    assert calls == clean_calls
    _assert_goldens(runner)
    if storage == "txlog":
        version, m = head(runner.base)
        assert version == 1 + len(landed)  # atop the seed commit
        assert m["txn"] == {runner.txn_key: max(landed)}
    else:
        assert runner.db.last_batch(runner.txn_key) == max(landed)


def test_dbapi_runners_on_separate_bases_share_one_database(spark, tmp_path):
    """Two services on their own base paths (own checkpoints, own dead
    letters) sharing ONE database, the reference's multi-watcher
    deployment with the CLI's default runner id.  Each runner keys its
    last batch id by its own streaming query, so a runner never takes the
    other's batch ids, or those of a deleted checkpoint, for replays:
    after A drains, the store is reset to the fixture (new work arriving
    while A is down) and B, whose batch ids restart at 0, must reach the
    goldens; then A, restarted on a fresh checkpoint, must too."""
    import shutil
    import sqlite3

    db = str(tmp_path / "shared.db")

    def reset():
        con = sqlite3.connect(db)
        try:
            con.execute("DELETE FROM items")
            con.execute("DELETE FROM partitions")
            con.commit()
        finally:
            con.close()
        store.db.seed(
            items_rows=[r + (1,) for r in ITEM_FIXTURE], parts_rows=PARTITION_FIXTURE
        )

    def drain(base):
        runner = FeedRunner(
            spark, base, json_times_processor, max_retries=3, auto_close=True,
            storage="dbapi", db_path=db,
        )
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            runner.run_available()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        _assert_goldens(runner)
        return runner

    base_a, base_b = str(tmp_path / "host_a"), str(tmp_path / "host_b")
    store = FeedRunner(spark, base_a, json_times_processor, storage="dbapi", db_path=db)
    reset()
    a = drain(base_a)
    reset()
    b = drain(base_b)
    assert a.txn_key != b.txn_key
    assert a.db.last_batch(a.txn_key) >= 0 and b.db.last_batch(b.txn_key) >= 0
    shutil.rmtree(os.path.join(base_a, "_checkpoint"))
    shutil.rmtree(os.path.join(base_a, "dead_letter"))
    reset()
    assert drain(base_a).txn_key not in (a.txn_key, b.txn_key)
