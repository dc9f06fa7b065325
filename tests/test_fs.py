"""Filesystem-seam tests: the artifact lifecycle (index metas, pointer
flips, staging reclamation, WARC archives) must run entirely through
``gofeed_spark.fs`` — proven by running it against a fake REMOTE scheme
(``fakefs://``) whose logical paths do not exist on the local filesystem,
so any residual raw ``os.*`` / ``open()`` on an index/archive path fails
loudly (FileNotFoundError) instead of passing by accident.

The fake backend is ``DirObjectStoreFileSystem``: object-store semantics
enforced (whole-object PUT only, virtual directories, NO rename) over a
local backing directory that Spark's data plane reads via ``spark_path``
— the same split a real S3/GCS deployment has (SDK for artifacts, s3a://
for parquet)."""

from __future__ import annotations

import json
import os

import pytest

from gofeed_spark.fs import (
    DirObjectStoreFileSystem,
    FsUnsupported,
    LocalFileSystem,
    get_filesystem,
    register_filesystem,
    unregister_filesystem,
)

from tests.conftest import rows


@pytest.fixture()
def fakefs(tmp_path):
    fs = DirObjectStoreFileSystem("fakefs", str(tmp_path / "backing"))
    register_filesystem("fakefs", fs)
    yield fs
    unregister_filesystem("fakefs")


# --- backend semantics -------------------------------------------------------


def test_local_fs_roundtrip_and_atomic_put(tmp_path):
    fs = LocalFileSystem()
    p = str(tmp_path / "a" / "b.json")
    fs.put_bytes(p, b'{"x": 1}')
    assert fs.read_bytes(p) == b'{"x": 1}'
    assert os.listdir(tmp_path / "a") == ["b.json"]  # temp consumed by the replace
    assert fs.stat(p)[0] == len(b'{"x": 1}')
    assert fs.listdir(str(tmp_path)) == ["a"]
    assert fs.listdir(str(tmp_path / "missing")) == []
    fs.rename(p, str(tmp_path / "a" / "c.json"))
    assert fs.supports_rename()
    fs.delete_tree(str(tmp_path / "a"))
    assert not fs.exists(str(tmp_path / "a"))


def test_object_store_semantics(fakefs):
    fs = fakefs
    fs.put_bytes("fakefs://bucket/idx/_meta.json", b"{}")
    fs.put_bytes("fakefs://bucket/idx/sigs/part-0.parquet", b"pq" * 100)
    fs.put_bytes("fakefs://bucket/idx/sigs/part-1.parquet", b"pq" * 50)
    # virtual directories: exists/isdir/listdir from prefix listings
    assert fs.isdir("fakefs://bucket/idx")
    assert fs.isdir("fakefs://bucket/idx/sigs")
    assert not fs.isdir("fakefs://bucket/idx/_meta.json")
    assert fs.exists("fakefs://bucket/idx/_meta.json")
    assert fs.listdir("fakefs://bucket/idx") == ["_meta.json", "sigs"]
    # object stats + parquet tree stats
    assert fs.stat("fakefs://bucket/idx/_meta.json") == fs.stat(
        "fakefs://bucket/idx/_meta.json"
    )
    n, nbytes = fs.tree_stats("fakefs://bucket/idx")
    assert (n, nbytes) == (2, 300)
    # a virtual dir: its objects' total size and newest mtime, one listing
    parts = [fs.stat(f"fakefs://bucket/idx/sigs/part-{i}.parquet") for i in (0, 1)]
    assert fs.stat("fakefs://bucket/idx/sigs") == (300, max(mt for _, mt in parts))
    assert fs.stat("fakefs://bucket/idx/si") is None  # a key prefix is no dir
    # rename is a hard error — the pointer-flip publish exists because of this
    with pytest.raises(FsUnsupported):
        fs.rename("fakefs://bucket/idx/sigs", "fakefs://bucket/idx/sigs2")
    assert not fs.supports_rename()
    fs.delete_tree("fakefs://bucket/idx/sigs")
    assert not fs.isdir("fakefs://bucket/idx/sigs")
    assert fs.listdir("fakefs://bucket/idx") == ["_meta.json"]
    # the LOGICAL path never exists locally: raw os.* access would fail
    assert not os.path.exists("fakefs://bucket/idx/_meta.json")


def test_put_if_absent_publishes_whole(fakefs, tmp_path, monkeypatch):
    """Create-if-absent publishes WHOLE on both backends: a write that
    fails after the version is claimed leaves nothing at the path (a
    reader would otherwise see an empty or partial Delta commit, and the
    version would be burned) and the retry wins; a temp a crash leaves
    behind never lists as a Delta commit or Iceberg metadata version."""
    from gofeed_spark.sources import delta as D
    from gofeed_spark.sources import iceberg as I

    def full_disk(_fd):
        raise OSError(28, "No space left on device")

    for fs, root in ((LocalFileSystem(), str(tmp_path / "tbl")), (fakefs, "fakefs://tbl")):
        log, md = D._log_dir(root), I._meta_dir(root)
        v0 = fs.join(log, D._commit_name(0))
        with monkeypatch.context() as m:
            m.setattr(os, "fsync", full_disk)
            with pytest.raises(OSError, match="No space"):
                fs.put_bytes_if_absent(v0, b'{"commitInfo": {}}\n')
        assert not fs.exists(v0)
        assert fs.listdir(log) == []  # the temp is gone too
        assert fs.put_bytes_if_absent(v0, b"first\n")
        assert not fs.put_bytes_if_absent(v0, b"second\n")
        assert fs.read_bytes(v0) == b"first\n"
        with monkeypatch.context() as m:
            m.setattr(os, "unlink", lambda _p: None)  # crash before cleanup
            assert fs.put_bytes_if_absent(fs.join(log, D._commit_name(1)), b"x\n")
            assert fs.put_bytes_if_absent(fs.join(md, I._meta_name(1)), b"{}")
        assert any(n.endswith(".tmp") for n in fs.listdir(log))
        assert any(n.endswith(".tmp") for n in fs.listdir(md))
        assert D._list_log(fs, log) == ([0, 1], [])
        assert I._list_meta_versions(fs, md) == [(1, I._meta_name(1))]


def test_local_put_bytes_racing_writers(tmp_path, monkeypatch, fakefs):
    """Two writers replacing the same object (``version-hint.text``)
    each publish from their own temp: the slower one's replace must not
    find its temp taken by the faster one — on the POSIX backend and on
    the object-store fake, whose PUTs land through a local replace."""
    real_replace = os.replace
    for fs, root in ((LocalFileSystem(), str(tmp_path / "tbl")), (fakefs, "fakefs://tbl")):
        hint = fs.join(root, "version-hint.text")
        raced = []

        def replace(src, dst, fs=fs, hint=hint, raced=raced):
            if not raced:
                raced.append(src)
                fs.put_bytes(hint, b"2")  # a racing writer lands in between
            real_replace(src, dst)

        monkeypatch.setattr(os, "replace", replace)
        fs.put_bytes(hint, b"1")
        assert fs.read_bytes(hint) == b"1"
        assert fs.listdir(root) == ["version-hint.text"]


def test_scheme_resolution(fakefs):
    assert isinstance(get_filesystem("/tmp/x"), LocalFileSystem)
    assert isinstance(get_filesystem("file:/tmp/x"), LocalFileSystem)
    assert get_filesystem("fakefs://b/k") is fakefs
    with pytest.raises(ValueError, match="no filesystem registered"):
        get_filesystem("s3missing://b/k")


# --- MinHash index lifecycle on the fake remote ------------------------------

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),
    (3, "an entirely different document about spark shuffle partitions"),
    (4, "yet another unrelated text concerning parquet row groups"),
]


def test_minhash_index_lifecycle_on_object_store(spark, fakefs):
    """build → probe → append → probe → compact → probe, all at a
    fakefs:// path: every meta read/write, dir listing, and reclamation
    goes through the seam (a single surviving os.* call on the logical
    path would raise), while parquet relations land in the backing store
    via spark_path."""
    from gofeed_spark.operators.dedup import (
        append_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        probe_minhash_index,
        recover_minhash_index,
    )

    path = "fakefs://bucket/minhash_idx"
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_minhash_index(docs, path, df_cap=None)
    probe = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    got = rows(probe_minhash_index(spark, path, probe, threshold=1.0),
               "new_id", "dup_of")
    assert got == {(100, 1)}
    append_minhash_index(
        spark, path,
        spark.createDataFrame(
            [(200, "freshly appended corpus material rides the same lifecycle")],
            "doc_id long, text string",
        ),
    )
    probe2 = spark.createDataFrame(
        [(300, "freshly appended corpus material rides the same lifecycle")],
        "doc_id long, text string",
    )
    got2 = rows(probe_minhash_index(spark, path, probe2, threshold=1.0),
                "new_id", "dup_of")
    assert got2 == {(300, 200)}
    stats = compact_minhash_index(spark, path)
    assert set(stats) == {"sigs", "bands", "fps"}
    # pointer flip published: meta names version dirs, old dirs reclaimed
    meta = json.loads(fakefs.read_bytes(f"{path}/_index_meta.json"))
    assert meta["rels"]["sigs"] == "sigs_v0001"
    assert not fakefs.isdir(f"{path}/sigs")
    assert rows(probe_minhash_index(spark, path, probe, threshold=1.0),
                "new_id", "dup_of") == {(100, 1)}
    # recovery reclaims an unreferenced (crashed) version dir objectwise
    fakefs.put_bytes(f"{path}/sigs_v0099/part-0.parquet", b"junk")
    assert recover_minhash_index(path) is True
    assert not fakefs.isdir(f"{path}/sigs_v0099")


def test_staging_marker_protects_live_compaction(spark, fakefs, tmp_path):
    """A FRESH _staging.json marker (a live compactor's) protects its
    named dirs from entry-point reclamation; a STALE one is a crashed
    compaction and reclaims normally — the race ADVICE r10 flagged."""
    from gofeed_spark.operators.dedup import (
        build_minhash_index,
        recover_minhash_index,
    )

    path = "fakefs://bucket/race_idx"
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_minhash_index(docs, path, df_cap=None)
    # simulate a live compactor: marker down, staging dir being written
    fakefs.put_bytes(
        f"{path}/_staging.json", json.dumps({"dirs": ["sigs_v0001"]}).encode()
    )
    fakefs.put_bytes(f"{path}/sigs_v0001/part-0.parquet", b"inprogress")
    recover_minhash_index(path)  # a concurrent probe's entry recovery
    assert fakefs.isdir(f"{path}/sigs_v0001"), "live staging dir was reclaimed"
    assert fakefs.stat(f"{path}/_staging.json") is not None
    # now the marker goes stale (crashed compactor): TTL 0 ⇒ reclaim
    assert recover_minhash_index(path, staging_ttl_sec=0.0) is True
    assert not fakefs.isdir(f"{path}/sigs_v0001")
    assert fakefs.stat(f"{path}/_staging.json") is None


def test_compaction_lease_renewed_and_publish_verified(spark, tmp_path):
    """The _staging.json marker is a LEASE: renewed before each relation
    rewrite (so a long compaction stays protected past one TTL), and
    re-read before the meta flip — if a recovery reclaimed it mid-run,
    the publish ABORTS with the old relations still live instead of
    pointing the meta at deleted dirs (ADVICE r11, medium)."""
    from gofeed_spark.fs import register_filesystem, unregister_filesystem
    from gofeed_spark.operators.dedup import (
        build_minhash_index,
        compact_minhash_index,
        probe_minhash_index,
    )

    class LossyFS(DirObjectStoreFileSystem):
        """Drops the staging marker after ``drop_after`` marker PUTs —
        simulating a concurrent recovery reclaiming an expired lease
        while the compactor is mid-rewrite."""

        drop_after = None
        marker_puts = 0

        def put_bytes(self, path, data):
            if path.endswith("_staging.json"):
                type(self).marker_puts += 1
                if (
                    self.drop_after is not None
                    and type(self).marker_puts > self.drop_after
                ):
                    return  # swallowed: marker looks reclaimed from here on
            super().put_bytes(path, data)

        def read_bytes(self, path):
            if (
                path.endswith("_staging.json")
                and self.drop_after is not None
                and type(self).marker_puts > self.drop_after
            ):
                raise FileNotFoundError(path)
            return super().read_bytes(path)

    fs = LossyFS("lossyfs", str(tmp_path / "backing"))
    register_filesystem("lossyfs", fs)
    try:
        path = "lossyfs://bucket/lease_idx"
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        build_minhash_index(docs, path, df_cap=None)
        meta_before = json.loads(fs.read_bytes(f"{path}/_index_meta.json"))
        # healthy run: initial PUT + one renewal per relation (3) = 4
        compact_minhash_index(spark, path)
        assert LossyFS.marker_puts >= 4, "lease was not renewed per relation"
        # reclaimed-lease run: marker vanishes after the initial PUT
        LossyFS.marker_puts, LossyFS.drop_after = 0, 1
        meta_live = json.loads(fs.read_bytes(f"{path}/_index_meta.json"))
        with pytest.raises(RuntimeError, match="lease.*reclaimed"):
            compact_minhash_index(spark, path)
        meta_after = json.loads(fs.read_bytes(f"{path}/_index_meta.json"))
        assert meta_after["rels"] == meta_live["rels"], "meta flipped on abort"
        # the index still probes correctly through the surviving rels
        LossyFS.drop_after = None
        probe = spark.createDataFrame([DOCS[0]], "doc_id long, text string")
        assert probe_minhash_index(spark, path, probe, threshold=0.5).count() >= 1
        assert meta_before is not None
    finally:
        unregister_filesystem("lossyfs")


def test_staging_staleness_uses_store_clock(tmp_path):
    """Marker freshness is judged in the STORE's clock: a backend whose
    stat timestamps run behind the driver's clock must not make a live
    lease look expired (ADVICE r11, low).  Skew is observed via a probe
    PUT and subtracted from the naive age."""
    import time

    from gofeed_spark.fs import register_filesystem, unregister_filesystem
    from gofeed_spark.operators.dedup import _staging_protected

    SKEW_NS = int(3600 * 1e9)  # store clock 1h behind the driver

    class SkewFS(DirObjectStoreFileSystem):
        def stat(self, path):
            st = super().stat(path)
            return None if st is None else (st[0], st[1] - SKEW_NS)

    fs = SkewFS("skewfs", str(tmp_path / "backing"))
    register_filesystem("skewfs", fs)
    try:
        marker = "skewfs://bucket/idx/_staging.json"
        fs.put_bytes(marker, json.dumps({"dirs": ["sigs_v0001"]}).encode())
        # naive age ≈ 1h > ttl 60s, but the probe reveals the skew
        protected, stale = _staging_protected(
            fs, "skewfs://bucket/idx", marker, staging_ttl_sec=60.0
        )
        assert not stale and protected == {"sigs_v0001"}
        # a genuinely stale marker is still reclaimed under the same skew
        real_mtime = time.time_ns() - int(120 * 1e9)

        class OldMarkerFS(SkewFS):
            def stat(self, path):
                st = super().stat(path)
                if st is not None and path.endswith("_staging.json"):
                    return (st[0], real_mtime - SKEW_NS)
                return st

        fs2 = OldMarkerFS("skewfs", str(tmp_path / "backing"))
        register_filesystem("skewfs", fs2)
        protected, stale = _staging_protected(
            fs2, "skewfs://bucket/idx", marker, staging_ttl_sec=60.0
        )
        assert stale and protected == set()
    finally:
        unregister_filesystem("skewfs")


def test_compact_on_object_store_with_kill_windows(spark, fakefs):
    """io.compact on a rename-less backend publishes by marker +
    copy-publish (the dead-letter maintenance path through the fs seam):
    partitioned layout preserved, and every crash window in the publish
    redoes or rolls back cleanly via recover_compact."""
    from gofeed_spark.sources.io import compact, recover_compact

    fs = fakefs
    path = "fakefs://bucket/dead/writer=w1"
    rows_in = [(i, f"payload {i}", "w1") for i in range(40)]
    df = spark.createDataFrame(rows_in, "id long, payload string, writer string")
    # accrete small files the way per-batch appends do
    for lo in range(0, 40, 10):
        part = df.filter((df.id >= lo) & (df.id < lo + 10)).coalesce(1)
        part.write.mode("append").parquet(fs.spark_path(path))
    n_before, _ = fs.tree_stats(path)
    assert n_before >= 4
    n_files = compact(spark, path)
    assert n_files == 1
    n_after, _ = fs.tree_stats(path)
    assert n_after == 1
    back = spark.read.parquet(fs.spark_path(path))
    assert sorted(r["id"] for r in back.collect()) == list(range(40))
    assert not fs.exists(path + "_compact_staging")
    assert not fs.exists(path + "_compact_commit.json")

    # kill window 1: staging written, NO marker yet → recover deletes
    # staging, live table untouched
    fs.put_bytes(path + "_compact_staging/part-0.parquet", b"half")
    assert recover_compact(path) is True
    assert not fs.exists(path + "_compact_staging")
    assert spark.read.parquet(fs.spark_path(path)).count() == 40

    # kill window 2: marker PUT + live deleted mid-copy → recover REDOES
    # the copy from staging (idempotent)
    staging = path + "_compact_staging"
    for rel, _size in fs.walk_files(path):
        fs.put_bytes(fs.join(staging, rel), fs.read_bytes(fs.join(path, rel)))
    fs.put_bytes(
        path + "_compact_commit.json", json.dumps({"staging": staging}).encode()
    )
    fs.delete_tree(path)  # the crash point: live gone, copy not started
    assert recover_compact(path) is True
    assert sorted(
        r["id"] for r in spark.read.parquet(fs.spark_path(path)).collect()
    ) == list(range(40))
    assert not fs.exists(staging) and not fs.exists(path + "_compact_commit.json")

    # kill window 3: copy finished, staging gone, marker removal lost
    fs.put_bytes(
        path + "_compact_commit.json", json.dumps({"staging": staging}).encode()
    )
    assert recover_compact(path) is True
    assert not fs.exists(path + "_compact_commit.json")
    assert spark.read.parquet(fs.spark_path(path)).count() == 40


def test_compact_partitioned_layout_preserved_on_object_store(spark, fakefs):
    """Partition-directory discovery and re-application work through the
    seam: a writer=-partitioned dead-letter root compacts without
    flattening its pruning layout."""
    from gofeed_spark.sources.io import compact

    fs = fakefs
    path = "fakefs://bucket/dead_all"
    df = spark.createDataFrame(
        [(i, f"p{i}", f"w{i % 3}") for i in range(30)],
        "id long, payload string, writer string",
    )
    df.write.mode("overwrite").partitionBy("writer").parquet(fs.spark_path(path))
    compact(spark, path)
    assert {d for d in fs.listdir(path) if d.startswith("writer=")} == {
        "writer=w0", "writer=w1", "writer=w2"
    }
    back = spark.read.parquet(fs.spark_path(path))
    assert back.count() == 30
    assert {r["writer"] for r in back.collect()} == {"w0", "w1", "w2"}


def test_upsert_sink_on_object_store_with_crash_windows(spark, fakefs):
    """ParquetUpsertSink publishes through ONE TxLog manifest commit (the
    bucket entries and the batch id together) — so the streaming sink
    lands on a rename-less backend, re-delivered batches skip
    idempotently, a crash between the data write and the manifest leaves
    only an unreferenced staging dir (reclaimed by ``TxLog.vacuum``), and
    untouched buckets carry by NAME across commits (no rewrite)."""
    from gofeed_spark.feedstate.txlog import head
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    fs = fakefs
    path = "fakefs://bucket/sink"
    sink = ParquetUpsertSink(path, key="k")
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    sink(b0, 0)
    b1 = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v int")
    sink(b1, 1)
    got = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert got == {("a", 1), ("b", 20), ("c", 3)}
    assert head(path)[1]["txn"] == {"direct": 1}
    # idempotent re-delivery: same batch id, different rows -> skipped
    sink(spark.createDataFrame([("a", 999)], "k string, v int"), 1)
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == got
    # crash window: staging dir written but manifest never published ->
    # invisible to readers, and vacuum reclaims it
    fs.put_bytes(f"{path}/data__v00000009_deadbeef/pbkt=b0001/part-0.parquet", b"garbage")
    sink(spark.createDataFrame([("d", 4)], "k string, v int"), 2)
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == got | {("d", 4)}
    removed = sink.log.vacuum(keep=1, min_age_s=0)
    assert "data__v00000009_deadbeef" in removed
    assert not fs.isdir(f"{path}/data__v00000009_deadbeef")
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == got | {("d", 4)}
    # every manifest-referenced bucket dir exists, and nothing else
    # survives vacuum under the table (untouched buckets legitimately
    # point at OLD staging dirs — the manifest-by-name carry)
    version, m = head(path)
    assert version == 3 and m["txn"] == {"direct": 2}
    live = set(m["tables"].values())
    assert all(k.startswith("data@m32b") for k in m["tables"])
    assert all(fs.isdir(f"{path}/{rel}") for rel in live)
    for top in fs.listdir(path):
        if not top.startswith("data__v"):
            continue
        for sub in fs.listdir(f"{path}/{top}"):
            if sub.startswith("pbkt="):
                assert f"{top}/{sub}" in live


def test_upsert_sink_touched_buckets_write_volume(spark, tmp_path):
    """The scale contract: after settling a large state table, a 2-key
    micro-batch rewrites ONLY the ≤2 buckets holding those keys — write
    bytes per batch track the batch, not total state (the streaming twin
    of the round-8 feedstate measurement, 1.47 MB → 25 KB)."""
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    base = str(tmp_path / "bucketed_sink")
    sink = ParquetUpsertSink(base, key="k", n_buckets=16)
    settle = spark.createDataFrame(
        [(f"key{i:05d}", i) for i in range(5000)], "k string, v int"
    )
    sink(settle, 0)
    settled_bytes = sink.last_write_bytes
    assert sink.last_buckets_written == 16
    sink(spark.createDataFrame([("key00001", -1), ("key00002", -2)],
                               "k string, v int"), 1)
    assert sink.last_buckets_written <= 2
    assert sink.last_write_bytes < settled_bytes / 4
    # the merge is still correct and complete
    got = {r.k: r.v for r in sink.read(spark).collect()}
    assert len(got) == 5000
    assert got["key00001"] == -1 and got["key00002"] == -2 and got["key00003"] == 3


def test_upsert_sink_refuses_old_layout(spark, tmp_path):
    """A sink path holding the manifest of the older layout
    (``_committed_batches.json``) is refused by name instead of being
    read as an empty table."""
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    base = tmp_path / "old_sink"
    base.mkdir()
    (base / "_committed_batches.json").write_text('{"batches": [0], "data": "data_v000000"}')
    with pytest.raises(ValueError, match="_committed_batches.json"):
        ParquetUpsertSink(str(base), key="k")
    assert not (base / "_txlog").exists()


def test_upsert_sink_two_writers_both_land(spark, tmp_path):
    """Two writers (two streaming queries) on ONE sink table commit the
    same batch id concurrently: the create-if-absent manifest arbitrates,
    the loser re-reads and rebuilds, and both writers' rows and batch ids
    land."""
    import threading

    from gofeed_spark.feedstate.txlog import head
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    base = str(tmp_path / "two_writers")
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def write(qid, rows):
        try:
            spark.sparkContext.setLocalProperty("sql.streaming.queryId", qid)
            sink = ParquetUpsertSink(base, key="k", n_buckets=4)
            batch = spark.createDataFrame(rows, "k string, v int")
            barrier.wait(timeout=60)
            sink(batch, 0)
        except Exception as e:  # pragma: no cover — surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=write, args=("q-a", [("a1", 1), ("a2", 2)])),
        threading.Thread(target=write, args=("q-b", [("b1", 3), ("a2", 4)])),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    got = {(r.k, r.v) for r in ParquetUpsertSink(base, key="k").read(spark).collect()}
    assert {k for k, _ in got} == {"a1", "a2", "b1"} and len(got) == 3
    assert ("a1", 1) in got and ("b1", 3) in got
    version, m = head(base)
    assert version == 2 and m["txn"] == {"q-a": 0, "q-b": 0}


def test_upsert_sink_fresh_checkpoint_lands_batch_zero(spark, tmp_path):
    """A second stream on a FRESH checkpoint (batch ids restarting at 0)
    pointed at an existing sink table lands its batches: batch ids are
    keyed by each stream's query id, so the first stream's ids never
    shadow the second's."""
    from gofeed_spark.feedstate.txlog import head
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    base = str(tmp_path / "fresh_ckpt")

    def stream(name, batches):
        stage = str(tmp_path / f"{name}_stage")
        for rows in batches:  # one file, so one micro-batch, each
            spark.createDataFrame(rows, "k string, v int").coalesce(1).write.mode(
                "append"
            ).parquet(stage)
        q = (
            spark.readStream.schema("k string, v int")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .trigger(availableNow=True)
            .foreachBatch(ParquetUpsertSink(base, key="k"))
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()
        return str(q.id)

    first = stream("first", [[("a", 1)], [("b", 2)]])
    second = stream("second", [[("b", 20), ("c", 3)]])
    got = {(r.k, r.v) for r in ParquetUpsertSink(base, key="k").read(spark).collect()}
    assert got == {("a", 1), ("b", 20), ("c", 3)}
    assert head(base)[1]["txn"] == {first: 1, second: 0}


# --- ANN index + WARC export on the fake remote ------------------------------


def test_ann_index_lifecycle_on_object_store(spark, fakefs):
    from gofeed_spark.operators.similarity import (
        ensure_ann_index,
        probe_ann_index,
    )

    import numpy as np

    rng = np.random.default_rng(7)
    vecs = [(i, rng.normal(size=8).tolist()) for i in range(50)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = "fakefs://bucket/ann_idx"
    ensure_ann_index(emb, path, n_planes=3, dim=8)
    meta = json.loads(fakefs.read_bytes(f"{path}/_index_meta.json"))
    assert meta["kind"] == "srp"
    got = probe_ann_index(spark, path, vecs[5][1], k=3, n_planes=3, dim=8)
    hit = [r["neighbor_id"] for r in got.collect()]
    assert hit and hit[0] == 5  # the vector finds itself first
    # warm call short-circuits (meta matches) without error
    ensure_ann_index(emb, path, n_planes=3, dim=8)


def test_warc_export_read_roundtrip_on_object_store(spark, fakefs):
    from gofeed_spark.sources.warc import export_warc, read_warc

    docs = spark.createDataFrame(
        [(f"http://ex.com/{i}", f"document body {i}") for i in range(20)],
        "url string, body string",
    )
    out = "fakefs://bucket/warc_out"
    manifest = export_warc(docs, out, n_archives=3).collect()
    written = {r["archive"] for r in manifest if r["archive"] is not None}
    assert written and all(a.startswith("fakefs://") for a in written)
    assert sum(r["n_records"] for r in manifest if r["archive"]) == 20
    back = read_warc(spark, out + "/*")
    got = {(r["url"], bytes(r["body"]).decode()) for r in back.collect()}
    assert got == {(f"http://ex.com/{i}", f"document body {i}") for i in range(20)}


def test_upsert_sink_rejects_reserved_bucket_column(spark, tmp_path):
    """A data column named like the sink's bucket partition key would be
    silently overwritten by the bucketing expression — refuse it loudly."""
    import pytest as _pytest

    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    sink = ParquetUpsertSink(str(tmp_path / "clash"), key="k")
    df = spark.createDataFrame([("a", 1)], "k string, pbkt int")
    with _pytest.raises(ValueError, match="reserved"):
        sink(df, 0)


def test_upsert_sink_bounds_committed_id_retention(spark, tmp_path):
    """The manifest stays O(n_buckets + writers) on an arbitrarily long
    stream: a writer's committed ids are ONE ``txn`` entry, its last id
    (a writer's ids are monotone, so anything at or below it is
    committed), and idempotent skip holds for ancient, recent, and fresh
    ids."""
    from gofeed_spark.feedstate.txlog import head
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    base = str(tmp_path / "long_stream")
    sink = ParquetUpsertSink(base, key="k", n_buckets=4)
    for b in range(12):
        sink(spark.createDataFrame([(f"k{b}", b)], "k string, v int"), b)
    _, m = head(base)
    assert m["txn"] == {"direct": 11}
    assert len(m["tables"]) <= 4
    rows_before = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert len(rows_before) == 12
    # ancient id, newest id: both skip
    sink(spark.createDataFrame([("poison", 999)], "k string, v int"), 0)
    sink(spark.createDataFrame([("poison", 999)], "k string, v int"), 11)
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == rows_before
    # a fresh id still commits
    sink(spark.createDataFrame([("k12", 12)], "k string, v int"), 12)
    assert len({(r.k, r.v) for r in sink.read(spark).collect()}) == 13
    assert head(base)[1]["txn"] == {"direct": 12}


def test_upsert_sink_seq_col_pins_within_batch_winner(spark, tmp_path):
    """Multi-row-per-key batches: with seq_col the LARGEST seq wins
    (deterministic last-writer-wins, ADVICE r13); without seq_col the
    sink refuses the ambiguous batch loudly instead of picking an
    arbitrary winner."""
    import pytest as _pytest

    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    base = str(tmp_path / "seq_sink")
    sink = ParquetUpsertSink(base, key="k", seq_col="seq")
    b0 = spark.createDataFrame(
        [("a", 1, "v1"), ("a", 3, "v3"), ("a", 2, "v2"), ("b", 1, "w1")],
        "k string, seq int, v string",
    )
    sink(b0, 0)
    got = {(r.k, r.seq, r.v) for r in sink.read(spark).collect()}
    assert got == {("a", 3, "v3"), ("b", 1, "w1")}
    # seq ties break deterministically on the remaining columns (struct
    # ordering): the lexicographically largest payload wins
    sink(spark.createDataFrame(
        [("c", 5, "x1"), ("c", 5, "x9")], "k string, seq int, v string"), 1)
    got = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert ("c", "x9") in got
    # no seq_col + ambiguous batch -> loud refusal, not silent dedup
    strict = ParquetUpsertSink(str(tmp_path / "strict_sink"), key="k")
    dup = spark.createDataFrame(
        [("a", 1), ("a", 2)], "k string, v int")
    with _pytest.raises(ValueError, match="seq_col"):
        strict(dup, 0)


def test_upsert_sink_lsm_mode_delta_appends(spark, tmp_path, monkeypatch):
    """LSM mode (VERDICT r13 item 2): each trigger appends only its
    per-bucket DELTA — write bytes track the BATCH even when the batch's
    keys spread across every bucket (the q120 profile where merge mode
    rewrites ~O(total state) per trigger); reads merge last-writer-wins;
    compaction bounds every bucket's pointer-list depth."""
    from gofeed_spark.feedstate import keyed
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    monkeypatch.setattr(keyed, "COMPACT_THRESHOLD", 3)
    base = str(tmp_path / "lsm_sink")
    sink = ParquetUpsertSink(base, key="k", n_buckets=8, mode="lsm")
    n = 40000
    settle = spark.range(n).selectExpr(
        "concat('key', lpad(cast(id as string), 5, '0')) as k",
        "cast(id as int) as v",
        "repeat('x', 64) as payload",
    )
    sink(settle, 0)
    settled_bytes = sink.last_write_bytes
    # spread-key batches: 32 keys hitting ALL 8 buckets
    for b in range(1, 3):
        delta = spark.createDataFrame(
            [(f"key{i * 100:05d}", -b, "y" * 64) for i in range(32)],
            "k string, v int, payload string",
        )
        sink(delta, b)
        assert sink.last_buckets_written == 8          # all buckets touched
        assert sink.last_write_bytes < settled_bytes / 10  # ...but O(batch)
    got = {r.k: r.v for r in sink.read(spark).collect()}
    assert len(got) == n
    assert got["key00100"] == -2 and got["key00000"] == -2 and got["key00001"] == 1
    # depth now 3 per touched bucket; one more spread batch crosses the
    # threshold -> compaction folds those buckets back to ONE relation
    sink(spark.createDataFrame([("key00100", 77, "z")],
                               "k string, v int, payload string"), 3)
    assert sink.last_compact_bytes is not None
    tables = sink.log.latest()[1]
    lists = sink.table.lists(tables)
    assert sink.table.is_lsm(tables) and len(lists) == 8
    assert all(len(lst) <= 3 for lst in lists.values())
    assert sorted(len(lst) for lst in lists.values())[0] == 1  # compacted
    got = {r.k: r.v for r in sink.read(spark).collect()}
    assert len(got) == 40000 and got["key00100"] == 77 and got["key00200"] == -2
    # nothing unreferenced survives vacuum
    sink.log.vacuum(keep=1, min_age_s=0)
    live = {r for lst in lists.values() for r in lst}
    for top in os.listdir(base):
        if top.startswith("data__v"):
            for sub in os.listdir(f"{base}/{top}"):
                if sub.startswith("pbkt="):
                    assert f"{top}/{sub}" in live
    assert {r.k: r.v for r in sink.read(spark).collect()} == got


def test_upsert_sink_lsm_settled_read_is_plain_scan(spark, tmp_path):
    """After compaction settles every bucket to one relation, read()
    degrades to the plain scan — no merge shuffle in the plan."""
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    base = str(tmp_path / "lsm_settled")
    sink = ParquetUpsertSink(base, key="k", n_buckets=4, mode="lsm")
    sink(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), 0)
    plan = sink.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "max_by" not in plan and "Exchange" not in plan


def test_upsert_sink_lsm_converts_merge_table_and_refuses_reverse(spark, tmp_path):
    """A merge-layout table opened in lsm mode converts transparently
    (pointers become one-element lists); opening an lsm table in merge
    mode refuses loudly."""
    import pytest as _pytest

    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    base = str(tmp_path / "convert")
    m = ParquetUpsertSink(base, key="k")
    m(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), 0)
    lsm = ParquetUpsertSink(base, key="k", mode="lsm")
    lsm(spark.createDataFrame([("b", 20), ("c", 3)], "k string, v int"), 1)
    tables = lsm.log.latest()[1]
    assert lsm.table.is_lsm(tables)
    assert max(len(lst) for lst in lsm.table.lists(tables).values()) >= 2
    got = {(r.k, r.v) for r in lsm.read(spark).collect()}
    assert got == {("a", 1), ("b", 20), ("c", 3)}
    back = ParquetUpsertSink(base, key="k", mode="merge")
    with _pytest.raises(ValueError, match="LSM"):
        back(spark.createDataFrame([("d", 4)], "k string, v int"), 2)


def test_upsert_sink_lsm_seq_col_and_idempotency(spark, tmp_path):
    """LSM mode composes with seq_col (within-batch winner) and keeps the
    idempotent re-delivery skip."""
    from gofeed_spark.streaming.sinks import ParquetUpsertSink

    base = str(tmp_path / "lsm_seq")
    sink = ParquetUpsertSink(base, key="k", mode="lsm", seq_col="seq")
    sink(spark.createDataFrame(
        [("a", 1, "v1"), ("a", 2, "v2")], "k string, seq int, v string"), 0)
    sink(spark.createDataFrame(
        [("a", 9, "v9")], "k string, seq int, v string"), 1)
    sink(spark.createDataFrame(  # re-delivery of batch 1: skipped
        [("a", 99, "poison")], "k string, seq int, v string"), 1)
    got = {(r.k, r.seq, r.v) for r in sink.read(spark).collect()}
    assert got == {("a", 9, "v9")}
