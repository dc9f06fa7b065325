"""TxLog tests: atomic multi-table visibility, crash (burned-version)
recovery, vacuum, and the headline guarantee — two committers racing one
log with O_EXCL arbitration (the storage-layer half of the reference's
concurrent-watcher test, watcher_test.go:233-266)."""

from __future__ import annotations

import json
import os
import threading

import pytest

from gofeed_spark.feedstate.txlog import (
    CommitConflict,
    ConditionalPutClaim,
    LinkClaim,
    TxLog,
    latest_manifest,
    table_snapshots,
)


def _backend(name):
    return LinkClaim() if name == "posix" else ConditionalPutClaim()


def df(spark, *pairs):
    return spark.createDataFrame(list(pairs), "id int, v string")


def rows(d):
    return sorted((r.id, r.v) for r in d.collect())


def test_commit_and_read_latest(spark, tmp_path):
    log = TxLog(str(tmp_path))
    v1 = log.commit({"t1": df(spark, (1, "a")), "t2": df(spark, (1, "b"))})
    v2 = log.commit({"t1": df(spark, (2, "a2")), "t2": df(spark, (2, "b2"))})
    assert (v1, v2) == (1, 2)
    assert rows(log.read(spark, "t1")) == [(2, "a2")]
    assert rows(log.read(spark, "t2")) == [(2, "b2")]
    # pinned-version read (time travel over the kept snapshots)
    assert rows(log.read(spark, "t1", version=1)) == [(1, "a")]


def test_expected_version_occ_precheck(spark, tmp_path):
    log = TxLog(str(tmp_path))
    log.commit({"t": df(spark, (1, "x"))})
    with pytest.raises(CommitConflict):
        log.commit({"t": df(spark, (2, "y"))}, expected_version=0)
    # nothing staged leaked and the log is unchanged
    assert log.latest()[0] == 1


def test_burned_version_is_skipped(spark, tmp_path):
    """A crash mid-manifest-write leaves an unparseable claim: readers skip
    it, the next commit claims the NEXT number, no torn state ever shows."""
    log = TxLog(str(tmp_path))
    log.commit({"t": df(spark, (1, "x"))})
    open(os.path.join(log.logdir, "00000002.json"), "w").close()  # crash artifact
    assert log.latest()[0] == 1  # incomplete commit invisible
    v = log.commit({"t": df(spark, (2, "y"))})
    assert v == 3  # burned number never reused
    assert rows(log.read(spark, "t")) == [(2, "y")]


def test_vacuum_removes_orphans_keeps_live(spark, tmp_path):
    log = TxLog(str(tmp_path))
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


def test_burned_version_does_not_wedge_occ_commits(spark, tmp_path):
    """A burned (crashed, unparseable) newest manifest must not make every
    expected_version commit conflict forever: the OCC pre-check compares
    against the latest COMPLETE commit, while the claim skips the burned
    number."""
    log = TxLog(str(tmp_path))
    log.commit({"t": df(spark, (1, "x"))})
    open(os.path.join(log.logdir, "00000002.json"), "w").close()  # crash artifact
    v = log.commit({"t": df(spark, (2, "y"))}, expected_version=log.latest()[0])
    assert v == 3
    assert rows(log.read(spark, "t")) == [(2, "y")]
    # commit_retry converges too (it reads latest() for its expectation)
    v2 = log.commit_retry(lambda version, tables: {"t": df(spark, (3, "z"))})
    assert v2 == 4


def test_commit_carries_table_forward_by_name(spark, tmp_path):
    """Passing a str re-references a prior snapshot dir without rewriting;
    vacuum keeps it alive as long as a retained manifest names it."""
    log = TxLog(str(tmp_path))
    log.commit({"a": df(spark, (1, "x")), "b": df(spark, (1, "y"))})
    _, tables = log.latest()
    log.commit({"a": df(spark, (2, "x2")), "b": tables["b"]})
    assert rows(log.read(spark, "a")) == [(2, "x2")]
    assert rows(log.read(spark, "b")) == [(1, "y")]
    log.vacuum(keep=1, min_age_s=0)
    assert rows(log.read(spark, "b")) == [(1, "y")]  # survived the vacuum


@pytest.mark.parametrize("backend", ["posix", "condput"])
def test_two_committers_race_no_lost_updates(spark, tmp_path, backend):
    """Two writers each append their tag N times through commit_retry.
    Every attempt re-reads the latest snapshot and adds one row, so ANY
    lost update (a commit overwriting a concurrent commit's row) is
    visible in the final table.  The claim primitive must serialize them
    into 2N clean commits with all 2N rows present — on BOTH backends:
    posix hard-link-exclusive and the object-store conditional PUT."""
    log = TxLog(str(tmp_path), claim_backend=_backend(backend))
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
    for f in os.listdir(log.logdir):
        m = json.load(open(os.path.join(log.logdir, f)))
        for rel in m["tables"].values():
            assert os.path.isdir(os.path.join(str(tmp_path), rel))


def test_condput_lost_response_is_idempotent(spark, tmp_path):
    """The failure mode unique to object-store conditional PUTs: the PUT
    succeeds but the success response is lost, the client retries, and the
    retry sees precondition-failed.  The backend must recognize its own
    earlier PUT (writer-unique manifest payload) and report success — one
    commit, one manifest, no conflict, no duplicate version."""
    be = ConditionalPutClaim(lose_responses=1)
    log = TxLog(str(tmp_path), claim_backend=be)
    v = log.commit({"t": df(spark, (1, "x"))})
    assert v == 1
    assert be.puts == 1 and be.recovered == 1
    assert log.latest()[0] == 1
    assert rows(log.read(spark, "t")) == [(1, "x")]
    # a GENUINE competitor still conflicts cleanly on the same backend
    with pytest.raises(CommitConflict):
        log.commit({"t": df(spark, (2, "y"))}, expected_version=0)
    v2 = log.commit({"t": df(spark, (2, "y"))})
    assert v2 == 2 and rows(log.read(spark, "t")) == [(2, "y")]
    # no .putting litter and only complete manifests in the log dir
    assert sorted(os.listdir(log.logdir)) == ["00000001.json", "00000002.json"]


def test_condput_crash_recovery_burned_version(spark, tmp_path):
    """Crash recovery on the object-store backend: a competitor's torn
    artifact (unparseable manifest object) is skipped exactly like the
    posix path — next commit claims the next number, reads never see torn
    state."""
    log = TxLog(str(tmp_path), claim_backend=ConditionalPutClaim())
    log.commit({"t": df(spark, (1, "x"))})
    open(os.path.join(log.logdir, "00000002.json"), "w").close()  # crash artifact
    assert log.latest()[0] == 1
    v = log.commit({"t": df(spark, (2, "y"))})
    assert v == 3
    assert rows(log.read(spark, "t")) == [(2, "y")]
    # a crash mid-PUT leaves a .putting partial: invisible to readers,
    # reclaimed by vacuum after the retention window
    stale = os.path.join(log.logdir, "00000004.json.putting")
    open(stale, "w").close()
    assert log.latest()[0] == 3
    log.vacuum(keep=2, min_age_s=0)
    assert not os.path.exists(stale)


def test_commit_leaves_no_temp_manifests(spark, tmp_path):
    """The atomic-link publish must not litter the log dir: after a clean
    commit the only entries are complete manifests."""
    log = TxLog(str(tmp_path))
    log.commit({"t": df(spark, (1, "x"))})
    log.commit({"t": df(spark, (2, "y"))})
    assert sorted(os.listdir(log.logdir)) == ["00000001.json", "00000002.json"]


def test_vacuum_reclaims_stale_manifest_temp(spark, tmp_path):
    """A crash between manifest write and publish leaves a .tmp_ file that
    readers never see; vacuum reclaims it after the retention window."""
    log = TxLog(str(tmp_path))
    log.commit({"t": df(spark, (1, "x"))})
    stale = os.path.join(log.logdir, ".tmp_00000002_deadbeef.json")
    open(stale, "w").close()
    assert log.vacuum(keep=2) == []  # young: retention window protects it
    removed = log.vacuum(keep=2, min_age_s=0)
    assert os.path.join("_txlog", ".tmp_00000002_deadbeef.json") in removed
    assert not os.path.exists(stale)
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
    assert latest_manifest(str(empty)) == (0, {})
    assert _scan_txlog(str(empty), -1) == []
    assert not (empty / "_txlog").exists()

    base = str(tmp_path / "log")
    log = TxLog(base)
    log.commit({"t": df(spark, (1, "x"))})
    open(os.path.join(log.logdir, "00000002.json"), "w").close()  # burned
    assert latest_manifest(base) == log.latest() and log.latest()[0] == 1
