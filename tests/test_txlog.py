"""TxLog tests: atomic multi-table visibility, crash (burned-version)
recovery, vacuum, the ``txn`` map, and the headline guarantee — two
committers racing one log through create-if-absent (the storage-layer
half of the reference's concurrent-watcher test,
watcher_test.go:233-266).  Every protocol test runs on both in-repo
backends: ``LocalFileSystem`` and the object-store fake
``DirObjectStoreFileSystem`` (``fakefs://``)."""

from __future__ import annotations

import json
import threading

import pytest

from gofeed_spark.feedstate.txlog import (
    CommitConflict,
    TxLog,
    head,
    table_snapshots,
)
from gofeed_spark.fs import (
    DirObjectStoreFileSystem,
    register_filesystem,
    unregister_filesystem,
)


@pytest.fixture()
def bases(tmp_path):
    """A fresh log base on each backend: a local path and ``fakefs://``."""
    register_filesystem("fakefs", DirObjectStoreFileSystem("fakefs", str(tmp_path / "backing")))
    yield [str(tmp_path / "log"), "fakefs://bucket/log"]
    unregister_filesystem("fakefs")


def _put_log_entry(log, name, data=b""):
    """Drop a raw object into the log dir (a crash artifact)."""
    log.fs.put_bytes(log.fs.join(log.logdir, name), data)


def df(spark, *pairs):
    return spark.createDataFrame(list(pairs), "id int, v string")


def rows(d):
    return sorted((r.id, r.v) for r in d.collect())


def test_commit_and_read_latest(spark, bases):
    for base in bases:
        log = TxLog(base)
        v1 = log.commit({"t1": df(spark, (1, "a")), "t2": df(spark, (1, "b"))})
        v2 = log.commit({"t1": df(spark, (2, "a2")), "t2": df(spark, (2, "b2"))})
        assert (v1, v2) == (1, 2)
        assert rows(log.read(spark, "t1")) == [(2, "a2")]
        assert rows(log.read(spark, "t2")) == [(2, "b2")]
        # pinned-version read (time travel over the kept snapshots)
        assert rows(log.read(spark, "t1", version=1)) == [(1, "a")]


def test_expected_version_occ_precheck(spark, bases):
    for base in bases:
        log = TxLog(base)
        log.commit({"t": df(spark, (1, "x"))})
        with pytest.raises(CommitConflict):
            log.commit({"t": df(spark, (2, "y"))}, expected_version=0)
        # nothing staged leaked and the log is unchanged
        assert log.latest()[0] == 1


def test_burned_version_is_skipped(spark, bases):
    """A crash mid-manifest-write leaves an unparseable claim: readers skip
    it, the next commit claims the NEXT number, no torn state ever shows."""
    for base in bases:
        log = TxLog(base)
        log.commit({"t": df(spark, (1, "x"))})
        _put_log_entry(log, "00000002.json")  # crash artifact
        assert log.latest()[0] == 1  # incomplete commit invisible
        v = log.commit({"t": df(spark, (2, "y"))})
        assert v == 3  # burned number never reused
        assert rows(log.read(spark, "t")) == [(2, "y")]


def test_vacuum_removes_orphans_keeps_live(spark, bases):
    for base in bases:
        log = TxLog(base)
        for i in range(4):
            log.commit({"t": df(spark, (i, "x"))})
        # retention window: young unreferenced dirs survive (they may be an
        # in-flight committer's staged-but-unclaimed snapshot)
        assert log.vacuum(keep=2) == []
        removed = log.vacuum(keep=2, min_age_s=0)
        assert any(rel.startswith("t__") for rel in removed)
        assert rows(log.read(spark, "t")) == [(3, "x")]
        assert rows(log.read(spark, "t", version=3)) == [(2, "x")]
        with pytest.raises(Exception):
            log.read(spark, "t", version=1).collect()  # vacuumed snapshot gone


def test_vacuum_keeps_referenced_children_of_a_staging_dir(spark, bases):
    """A manifest may name children of one staged dir (FeedRunner's
    ``b=bNNNN`` buckets): Spark reads such a child with no inferred ``b``
    column, and vacuum reclaims the unreferenced children of a partly live
    dir while keeping the referenced ones — then the whole dir once no
    retained manifest names any of it."""
    for base in bases:
        log = TxLog(base)
        stage = "t__vstage_ab12cd34"
        spark.createDataFrame(
            [(1, "x", "b0000"), (2, "y", "b0001")], "id int, v string, b string"
        ).write.partitionBy("b").parquet(log.spark_path(stage))
        log.commit({"t@b0000": f"{stage}/b=b0000"})
        assert log.read(spark, "t@b0000").columns == ["id", "v"]
        assert log.vacuum(keep=1) == []  # young: the retention window holds
        assert log.vacuum(keep=1, min_age_s=0) == [f"{stage}/b=b0001"]
        children = log.fs.listdir(log.fs.join(base, stage))
        assert "b=b0000" in children and "b=b0001" not in children
        assert rows(log.read(spark, "t@b0000")) == [(1, "x")]
        log.commit({"t@b0000": df(spark, (3, "z"))})
        assert stage in log.vacuum(keep=1, min_age_s=0)
        assert not log.fs.exists(log.fs.join(base, stage))
        assert rows(log.read(spark, "t@b0000")) == [(3, "z")]


def test_burned_version_does_not_wedge_occ_commits(spark, bases):
    """A burned (crashed, unparseable) newest manifest must not make every
    expected_version commit conflict forever: the OCC pre-check compares
    against the latest COMPLETE commit, while the claim skips the burned
    number."""
    for base in bases:
        log = TxLog(base)
        log.commit({"t": df(spark, (1, "x"))})
        _put_log_entry(log, "00000002.json")  # crash artifact
        v = log.commit({"t": df(spark, (2, "y"))}, expected_version=log.latest()[0])
        assert v == 3
        assert rows(log.read(spark, "t")) == [(2, "y")]
        # commit_retry converges too (it reads latest() for its expectation)
        v2 = log.commit_retry(lambda version, tables: {"t": df(spark, (3, "z"))})
        assert v2 == 4


def test_commit_carries_table_forward_by_name(spark, bases):
    """Passing a str re-references a prior snapshot dir without rewriting;
    vacuum keeps it alive as long as a retained manifest names it."""
    for base in bases:
        log = TxLog(base)
        log.commit({"a": df(spark, (1, "x")), "b": df(spark, (1, "y"))})
        _, tables = log.latest()
        log.commit({"a": df(spark, (2, "x2")), "b": tables["b"]})
        assert rows(log.read(spark, "a")) == [(2, "x2")]
        assert rows(log.read(spark, "b")) == [(1, "y")]
        log.vacuum(keep=1, min_age_s=0)
        assert rows(log.read(spark, "b")) == [(1, "y")]  # survived the vacuum


def test_commit_carries_txn_map(spark, bases):
    """``txn`` (Delta's txn action): a commit's entries merge over the
    map of the manifest it is based on, and commits that name none carry
    it unchanged."""
    for base in bases:
        log = TxLog(base)
        log.commit({"t": df(spark, (1, "x"))}, txn={"_checkpoint_a": 0})
        log.commit({"t": df(spark, (2, "x"))}, expected_version=1, txn={"_checkpoint_b": 4})
        log.commit({"t": df(spark, (3, "x"))}, txn={"_checkpoint_a": 1})
        log.commit_retry(lambda version, tables: tables)
        version, m = head(base)
        assert version == 4
        assert m["txn"] == {"_checkpoint_a": 1, "_checkpoint_b": 4}
        assert m["tables"] == log.latest()[1]


@pytest.mark.parametrize("backend", ["posix", "condput"])
def test_two_committers_race_no_lost_updates(spark, bases, backend):
    """Two writers each append their tag N times through commit_retry.
    Every attempt re-reads the latest snapshot and adds one row, so ANY
    lost update (a commit overwriting a concurrent commit's row) is
    visible in the final table.  The create-if-absent publish must
    serialize them into 2N clean commits with all 2N rows present — on
    both backends: the posix hard link and the object-store fake's
    conditional PUT."""
    base = bases[backend == "condput"]
    log = TxLog(base)
    log.commit({"t": df(spark, (0, "seed"))})
    N = 4
    errors: list[Exception] = []
    barrier = threading.Barrier(2)

    def writer(tag):
        try:
            barrier.wait(timeout=60)
            for i in range(N):
                def compute(version, tables, tag=tag, i=i):
                    cur = log.read(spark, "t", version=version)
                    add = df(spark, (1000 * (1 if tag == "A" else 2) + i, tag))
                    return {"t": cur.unionByName(add)}

                log.commit_retry(compute)
        except Exception as e:  # pragma: no cover — surfaced to pytest
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("A", "B")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    version, _ = log.latest()
    assert version == 1 + 2 * N  # every commit landed exactly once
    final = rows(log.read(spark, "t"))
    assert len(final) == 1 + 2 * N  # no lost updates, no duplicates
    assert sum(1 for _, v in final if v == "A") == N
    assert sum(1 for _, v in final if v == "B") == N
    # every manifest is internally consistent JSON naming existing dirs
    for f in log.fs.listdir(log.logdir):
        m = json.loads(log.fs.read_bytes(log.fs.join(log.logdir, f)))
        for rel in m["tables"].values():
            assert log.fs.isdir(log.fs.join(base, rel))


class _LosingPutFS(DirObjectStoreFileSystem):
    """The object-store fake with the failure unique to remote conditional
    PUTs: the PUT reaches the store, then its response is lost in transit
    (``lose`` times, as a ``ConnectionError``).  ``rival`` bytes, when set,
    land at the path just before the next PUT — a real competitor."""

    def __init__(self, scheme, root):
        super().__init__(scheme, root)
        self.lose, self.puts, self.rival = 1, 0, None

    def put_bytes_if_absent(self, path, data):
        if self.rival is not None:
            super().put_bytes_if_absent(path, self.rival)
            self.rival = None
        won = super().put_bytes_if_absent(path, data)
        self.puts += won
        if self.lose:
            self.lose -= 1
            raise ConnectionError("PUT response lost in transit")
        return won


def test_condput_lost_response_is_idempotent(spark, tmp_path):
    """The failure mode unique to object-store conditional PUTs, as a
    fault of the object-store fake: the PUT succeeds but its success response is lost; the commit
    retries, the retry sees precondition-failed, and TxLog must recognise
    its own earlier PUT (writer-unique manifest payload) — one commit, one
    manifest, no conflict, no duplicate version.  A genuine competitor
    still conflicts, also when its response is lost."""
    fs = _LosingPutFS("lossyfs", str(tmp_path / "backing"))
    register_filesystem("lossyfs", fs)
    try:
        base = "lossyfs://bucket/log"
        log = TxLog(base)
        v = log.commit({"t": df(spark, (1, "x"))})
        assert v == 1
        assert fs.puts == 1 and fs.lose == 0  # landed once, response lost once
        assert log.latest()[0] == 1
        assert rows(log.read(spark, "t")) == [(1, "x")]
        # a GENUINE competitor still conflicts cleanly on the same backend
        with pytest.raises(CommitConflict):
            log.commit({"t": df(spark, (2, "y"))}, expected_version=0)
        v2 = log.commit({"t": df(spark, (2, "y"))})
        assert v2 == 2 and rows(log.read(spark, "t")) == [(2, "y")]
        # only complete manifests in the log dir: no temp litter
        assert fs.listdir(log.logdir) == ["00000001.json", "00000002.json"]
        # a rival publishes version 3 first and this writer's response is
        # lost: the read-back shows the rival's bytes, so it conflicts and
        # removes its staged snapshot
        _, tables = log.latest()
        fs.rival = json.dumps({"version": 3, "tables": tables, "writer": "rival"}).encode()
        fs.lose = 1
        with pytest.raises(CommitConflict):
            log.commit({"t": df(spark, (3, "z"))})
        assert log.latest() == (3, tables)
        assert not [n for n in fs.listdir(base) if n.startswith("t__v00000003")]
    finally:
        unregister_filesystem("lossyfs")


def test_condput_crash_recovery_burned_version(spark, bases):
    """Crash recovery on the object-store backend: a competitor's torn
    artifact (unparseable manifest object) is skipped exactly like the
    posix path — next commit claims the next number, reads never see torn
    state — and a crash mid-PUT's temp is invisible to readers and
    reclaimed by vacuum after the retention window."""
    log = TxLog(bases[1])
    log.commit({"t": df(spark, (1, "x"))})
    _put_log_entry(log, "00000002.json")  # crash artifact
    assert log.latest()[0] == 1
    v = log.commit({"t": df(spark, (2, "y"))})
    assert v == 3
    assert rows(log.read(spark, "t")) == [(2, "y")]
    _put_log_entry(log, "00000004.json.0123abcd.tmp", b"{")
    assert log.latest()[0] == 3
    log.vacuum(keep=2, min_age_s=0)
    assert "00000004.json.0123abcd.tmp" not in log.fs.listdir(log.logdir)


def test_commit_leaves_no_temp_manifests(spark, bases):
    """The atomic publish must not litter the log dir: after a clean
    commit the only entries are complete manifests."""
    for base in bases:
        log = TxLog(base)
        log.commit({"t": df(spark, (1, "x"))})
        log.commit({"t": df(spark, (2, "y"))})
        assert log.fs.listdir(log.logdir) == ["00000001.json", "00000002.json"]


def test_vacuum_reclaims_stale_manifest_temp(spark, bases):
    """A crash mid-publish leaves a temp that readers never see (the
    fs layer's ``<name>.<hex>.tmp``; ``.tmp_…`` from older stores); vacuum
    reclaims it after the retention window."""
    for base in bases:
        log = TxLog(base)
        log.commit({"t": df(spark, (1, "x"))})
        stale = [".tmp_00000002_deadbeef.json", "00000002.json.0123abcd.tmp"]
        for name in stale:
            _put_log_entry(log, name, b"{")
        assert log.latest()[0] == 1
        assert log.vacuum(keep=2) == []  # young: retention window protects it
        removed = log.vacuum(keep=2, min_age_s=0)
        assert sorted(removed) == sorted(f"_txlog/{n}" for n in stale)
        assert log.fs.listdir(log.logdir) == ["00000001.json"]
        assert log.latest()[0] == 1  # published manifests untouched


def test_manifest_rules_name_each_tables_snapshots(spark, tmp_path):
    """The one manifest rule every reader shares (FeedRunner, its dead
    letters, the CDC poll): a table owns its plain entry and its
    ``{table}@…`` keys, never another feed's prefixed keys; and the newest
    complete manifest resolves without creating ``_txlog/``."""
    from gofeed_spark.sources.feed_cdc import _scan_txlog

    tables = {
        "items": "items__v00000001_aa",
        "items@b0003": "items@b0003__v_bb",
        "items@m16b0001": "items@m16b0001__v_cc",
        "partitions@m16b0000": "partitions@m16b0000__v_cc",
        "dead_letter@d_cc": "dead_letter@d_cc__v00000002_dd",
        "blue_items@m16b0001": "blue_items@m16b0001__v_ee",
        "items_archive": "items_archive__v00000001_ff",
    }
    assert list(table_snapshots(tables, "items").values()) == [
        "items__v00000001_aa", "items@b0003__v_bb", "items@m16b0001__v_cc",
    ]
    assert list(table_snapshots(tables, "partitions").values()) == [
        "partitions@m16b0000__v_cc",
    ]
    assert list(table_snapshots(tables, "dead_letter").values()) == [
        "dead_letter@d_cc__v00000002_dd",
    ]
    assert list(table_snapshots(tables, "blue_items")) == ["blue_items@m16b0001"]

    empty = tmp_path / "empty"
    empty.mkdir()
    assert head(str(empty)) == (0, {"tables": {}})
    assert _scan_txlog(str(empty), -1) == []
    assert not (empty / "_txlog").exists()

    base = str(tmp_path / "log")
    log = TxLog(base)
    log.commit({"t": df(spark, (1, "x"))})
    _put_log_entry(log, "00000002.json")  # burned
    assert head(base)[1]["tables"] == log.latest()[1] and log.latest()[0] == 1
