"""Delta Lake interop: log replay, time travel, checkpoints, vacuum.

All log handling is pure-Python from the public delta.io protocol spec;
these tests pin the lifecycle end-to-end through the fs seam with Spark as
the data plane (no Delta jars in the sandbox, by design).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from gofeed_spark.sources import delta as D
from tests.conftest import rows


@pytest.fixture()
def work(tmp_path):
    return str(tmp_path / "tbl")


def _mk(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "concat('s', cast(id % 3 as string)) as source", "id * 2 as val"
    )


def test_round_trip_unpartitioned(spark, work):
    df = _mk(spark, 0, 10).drop("source")
    assert D.write_delta(df, work) == 0
    got = D.read_delta(spark, work)
    assert got.schema.simpleString() == df.schema.simpleString()
    assert rows(got) == rows(df)


def test_round_trip_partitioned_restores_types(spark, work):
    # integer partition column: values travel as strings in the log's
    # partitionValues and must come back as the declared LONG type.
    df = spark.range(20).selectExpr("id", "id % 4 as bucket", "id * 3 as val")
    D.write_delta(df, work, partition_by=["bucket"])
    got = D.read_delta(spark, work)
    assert got.schema.simpleString() == df.schema.simpleString()
    assert rows(got) == rows(df)


def test_append_and_time_travel(spark, work):
    D.write_delta(_mk(spark, 0, 10), work, partition_by=["source"])
    assert D.write_delta(_mk(spark, 10, 15), work) == 1
    assert D.read_delta(spark, work).count() == 15
    v0 = D.read_delta(spark, work, version=0)
    assert rows(v0) == rows(_mk(spark, 0, 10))
    assert D.latest_version(work) == 1


def test_overwrite_tombstones_previous_files(spark, work):
    D.write_delta(_mk(spark, 0, 10), work, partition_by=["source"])
    D.write_delta(_mk(spark, 100, 103), work, mode="overwrite")
    got = D.read_delta(spark, work)
    assert rows(got) == rows(_mk(spark, 100, 103))
    # the overwrite commit carries remove actions for every old file
    log = os.path.join(work, "_delta_log", f"{1:020d}.json")
    actions = [json.loads(x) for x in open(log).read().splitlines()]
    assert any("remove" in a for a in actions)
    # and time travel still reaches the pre-overwrite snapshot
    assert D.read_delta(spark, work, version=0).count() == 10


def test_schema_and_partition_drift_raise(spark, work):
    D.write_delta(_mk(spark, 0, 5), work, partition_by=["source"])
    with pytest.raises(D.DeltaSchemaMismatch):
        D.write_delta(_mk(spark, 5, 8).withColumnRenamed("val", "other"), work)
    with pytest.raises(D.DeltaSchemaMismatch):
        D.write_delta(
            _mk(spark, 5, 8).selectExpr("id", "source", "cast(val as int) as val"), work
        )
    with pytest.raises(D.DeltaSchemaMismatch):
        D.write_delta(_mk(spark, 5, 8), work, partition_by=["val"])


def test_checkpoint_equivalent_to_json_replay(spark, work, tmp_path):
    twin = str(tmp_path / "twin")
    for lo, hi in ((0, 10), (10, 15)):
        D.write_delta(_mk(spark, lo, hi), work, partition_by=["source"])
        D.write_delta(_mk(spark, lo, hi), twin, partition_by=["source"])
    assert D.checkpoint_delta(work) == 1
    D.write_delta(_mk(spark, 15, 17), work)
    D.write_delta(_mk(spark, 15, 17), twin)
    # checkpointed table == json-only twin, at HEAD and BELOW the checkpoint
    assert rows(D.read_delta(spark, work)) == rows(D.read_delta(spark, twin))
    assert rows(D.read_delta(spark, work, version=0)) == rows(
        D.read_delta(spark, twin, version=0)
    )


def test_log_level_partition_pruning(spark, work):
    D.write_delta(_mk(spark, 0, 30), work, partition_by=["source"])
    pruned = D.read_delta(spark, work, where={"source": "s1"})
    full = D.read_delta(spark, work)
    assert rows(pruned) == rows(full.filter("source = 's1'"))
    # pruning happens at the LOG: the pruned relation's file list is the
    # s1 subset, no other partition's file is even referenced
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    assert all("source=s1" in f for f in pruned.inputFiles())
    # a DATA column in where is a stats-pruned point lookup now (r16),
    # not a refusal — still value-exact
    assert [(r.id, r.val) for r in D.read_delta(
        spark, work, where={"val": "6"}
    ).collect()] == [(3, 6)]
    with pytest.raises(D.DeltaError, match="not table columns"):
        D.read_delta(spark, work, where={"nope": "6"})


def test_empty_prune_returns_typed_empty(spark, work):
    D.write_delta(_mk(spark, 0, 6), work, partition_by=["source"])
    got = D.read_delta(spark, work, where={"source": "nope"})
    assert got.count() == 0
    assert got.schema.simpleString() == _mk(spark, 0, 6).schema.simpleString()


def test_null_and_special_partition_values(spark, work):
    df = spark.createDataFrame(
        [(1, None, 1.0), (2, "a b/c", 2.0), (3, "k=v", 3.0)],
        "id long, source string, val double",
    )
    D.write_delta(df, work, partition_by=["source"])
    assert rows(D.read_delta(spark, work)) == rows(df)


def test_concurrent_commit_raises(spark, work, monkeypatch):
    # the race: another writer lands version 1 between THIS writer's
    # snapshot resolution and its commit PUT — simulated by hiding the
    # newest commit from the listing so the writer targets a taken slot.
    D.write_delta(_mk(spark, 0, 5), work, partition_by=["source"])
    D.write_delta(_mk(spark, 5, 8), work)
    real = D._list_log
    monkeypatch.setattr(
        D, "_list_log", lambda fs, log: ([v for v in real(fs, log)[0] if v < 1], [])
    )
    with pytest.raises(D.DeltaConcurrentWrite):
        D.write_delta(_mk(spark, 8, 11), work)


def test_vacuum_reclaims_tombstones_only(spark, work):
    D.write_delta(_mk(spark, 0, 10), work, partition_by=["source"])
    D.write_delta(_mk(spark, 100, 103), work, mode="overwrite")
    dry = D.vacuum_delta(work, dry_run=True)
    assert dry and all(p.endswith(".parquet") for p in dry)
    assert D.read_delta(spark, work).count() == 3  # dry run touched nothing
    gone = D.vacuum_delta(work)
    assert gone == dry
    assert rows(D.read_delta(spark, work)) == rows(_mk(spark, 100, 103))
    assert D.vacuum_delta(work, dry_run=True) == []


def test_unsupported_reader_version_raises(spark, work):
    D.write_delta(_mk(spark, 0, 3), work)
    log = os.path.join(work, "_delta_log", f"{0:020d}.json")
    lines = open(log).read().splitlines()

    def set_reader(v):
        out = []
        for line in lines:
            a = json.loads(line)
            if "protocol" in a:
                a["protocol"]["minReaderVersion"] = v
            out.append(json.dumps(a))
        with open(log, "w") as f:
            f.write("\n".join(out) + "\n")

    # reader v2 (column mapping capable) READS — the r14 blanket refusal
    # is gone; only genuinely unknown protocol versions refuse
    set_reader(2)
    assert D.read_delta(spark, work).count() == 3
    set_reader(4)
    with pytest.raises(D.DeltaUnsupported, match="minReaderVersion 4"):
        D.read_delta(spark, work)


def test_not_a_table_and_bad_version(spark, work, tmp_path):
    with pytest.raises(D.DeltaError):
        D.read_delta(spark, str(tmp_path / "missing"))
    D.write_delta(_mk(spark, 0, 3), work)
    with pytest.raises(D.DeltaError):
        D.read_delta(spark, work, version=7)


def test_history_lists_operations(spark, work):
    D.write_delta(_mk(spark, 0, 3), work)
    D.write_delta(_mk(spark, 3, 6), work)
    D.write_delta(_mk(spark, 0, 2), work, mode="overwrite")
    hist = D.delta_history(work)
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert hist[-1]["operation"] == "CREATE TABLE AS SELECT"
    assert all(h["operation"] in ("WRITE", "CREATE TABLE AS SELECT") for h in hist)


# --- txn actions + the exactly-once streaming append sink -----------------------


def test_txn_watermark_and_redelivery_skip(spark, tmp_path):
    from gofeed_spark.sources import delta as D
    from gofeed_spark.streaming.sinks import DeltaAppendSink

    tbl = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id"), (F.col("id") % 2).alias("k"))
    sink = DeltaAppendSink(tbl, app_id="app1")
    sink(df, 0)
    sink(df, 1)
    assert D.read_delta(spark, tbl).count() == 20
    assert D.last_txn_version(tbl, "app1") == 1
    # re-delivered batch (restart between sink-commit and checkpoint-commit)
    sink(df, 1)
    assert sink.last_skipped == 1
    assert D.read_delta(spark, tbl).count() == 20
    # a FRESH sink instance (new process after restart) also skips
    sink2 = DeltaAppendSink(tbl, app_id="app1")
    sink2(df, 1)
    assert sink2.last_skipped == 1
    sink2(df, 2)
    assert D.read_delta(spark, tbl).count() == 30
    assert D.last_txn_version(tbl, "app1") == 2


def test_txn_scoped_per_app(spark, tmp_path):
    from gofeed_spark.sources import delta as D
    from gofeed_spark.streaming.sinks import DeltaAppendSink

    tbl = str(tmp_path / "tbl")
    df = spark.range(5).select(F.col("id"))
    DeltaAppendSink(tbl, app_id="appA")(df, 0)
    # a new stream with a fresh checkpoint restarts batch ids at 0; a new
    # app_id keeps its ids independent of appA's watermark
    sink_b = DeltaAppendSink(tbl, app_id="appB")
    sink_b(df, 0)
    assert D.read_delta(spark, tbl).count() == 10
    assert D.last_txn_version(tbl, "appA") == 0
    assert D.last_txn_version(tbl, "appB") == 0
    assert D.last_txn_version(tbl, "appC") == -1


def test_txn_survives_checkpoint(spark, tmp_path):
    from gofeed_spark.sources import delta as D

    tbl = str(tmp_path / "tbl")
    df = spark.range(4).select(F.col("id"))
    D.write_delta(df, tbl, txn=("appX", 7))
    D.checkpoint_delta(tbl)
    D.write_delta(df, tbl)  # a non-txn commit after the checkpoint
    assert D.last_txn_version(tbl, "appX") == 7
    # resolution below the checkpoint still replays JSON alone
    assert D.read_delta(spark, tbl, version=0).count() == 4


def test_read_delta_changes_incremental(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.range(30).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("k")
    )
    for r in (0, 1, 2):
        D.write_delta(df.filter(F.col("id") % 3 == r), tbl, partition_by=["k"])
    # full history of appends == the table; _commit_version labels each slice
    ch = D.read_delta_changes(spark, tbl, -1)
    assert ch.count() == 30
    assert dict(
        (r._commit_version, r.n)
        for r in ch.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()
    ) == {0: 10, 1: 10, 2: 10}
    # a window: only the commits after v0
    ch12 = D.read_delta_changes(spark, tbl, 0)
    assert ch12.count() == 20
    assert {r.id % 3 for r in ch12.collect()} == {1, 2}
    # bounded end
    ch1 = D.read_delta_changes(spark, tbl, 0, end_version=1)
    assert ch1.count() == 10
    # empty window yields the schema plus the CDF column
    empty = D.read_delta_changes(spark, tbl, 2)
    assert empty.count() == 0 and "_commit_version" in empty.columns
    # an overwrite in the range is not representable as appends
    D.write_delta(df.limit(3), tbl, mode="overwrite")
    with pytest.raises(D.DeltaUnsupported):
        D.read_delta_changes(spark, tbl, 2)
    # ...but windows before it still read fine
    assert D.read_delta_changes(spark, tbl, 1, end_version=2).count() == 10


def test_optimize_packs_without_changing_contents(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("k")
    )
    for r in range(4):  # 4 appends -> 4 files per partition
        D.write_delta(
            df.filter(F.col("id") % 4 == r).coalesce(1), tbl, partition_by=["k"]
        )
    # residues 0/2 land in k=0, 1/3 in k=1: two files per partition
    before = D._snapshot(D.get_filesystem(tbl), tbl)
    assert len(before.adds) == 4
    report = D.optimize_delta(spark, tbl, target_file_bytes=1 << 30)
    assert report["rewritten"] == 4 and report["partitions"] == 2
    after = D._snapshot(D.get_filesystem(tbl), tbl)
    assert len(after.adds) == 2  # one packed file per partition
    got = {(r.id, r.k) for r in D.read_delta(spark, tbl).collect()}
    assert got == {(i, str(i % 2)) for i in range(40)}
    # time travel to pre-OPTIMIZE still resolves the old file set
    assert D.read_delta(spark, tbl, version=report["version"] - 1).count() == 40
    # dataChange=false: invisible to incremental consumers — a changes
    # window across the OPTIMIZE sees the appends once and nothing else
    ch = D.read_delta_changes(spark, tbl, 1)
    assert ch.count() == 20
    assert {r._commit_version for r in ch.collect()} == {2, 3}
    # idempotent: already packed -> no-op, no commit
    again = D.optimize_delta(spark, tbl, target_file_bytes=1 << 30)
    assert again == {"version": -1, "rewritten": 0, "packed": 0, "partitions": 0}
    assert D.latest_version(tbl) == report["version"]
    # vacuum reclaims the rewritten originals
    victims = D.vacuum_delta(tbl)
    assert len(victims) == 4
    assert D.read_delta(spark, tbl).count() == 40


# --- the delta_feed streaming source ---------------------------------------------


def test_delta_stream_delivers_commits_and_restarts(spark, tmp_path):
    from gofeed_spark.sources.tablestream import read_delta_stream

    tbl = str(tmp_path / "tbl")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    df = spark.range(30).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("k")
    )
    for r in (0, 1, 2):
        D.write_delta(df.filter(F.col("id") % 3 == r), tbl, partition_by=["k"])
    s = read_delta_stream(spark, tbl)
    assert s.schema.simpleString() == "struct<id:bigint,k:string,_commit_version:bigint>"

    def drain():
        q = (
            s.writeStream.outputMode("append")
            .format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)

    drain()
    back = spark.read.parquet(out)
    assert back.count() == 30
    # every commit delivered once, partition column restored from the log
    per = {(r.k, r._commit_version) for r in back.collect() if r.id < 3}
    assert per == {("0", 0), ("1", 1), ("2", 2)}
    # a restart delivers ONLY the new commit (offset = version watermark)
    D.write_delta(
        df.limit(5).select(F.col("id") + 100, F.lit("9").alias("k")).toDF("id", "k"),
        tbl, partition_by=["k"],
    )
    drain()
    assert spark.read.parquet(out).count() == 35


def test_delta_stream_refuses_data_changing_removes(spark, tmp_path):
    from gofeed_spark.sources.tablestream import read_delta_stream

    tbl = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id"))
    D.write_delta(df, tbl)
    D.write_delta(df.limit(2), tbl, mode="overwrite")
    s = read_delta_stream(spark, tbl)
    q = (
        s.writeStream.outputMode("append")
        .format("parquet").option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination(120)
    assert "append-only stream" in str(exc.value)


def test_schema_evolution_additive(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    base = spark.range(10).select(F.col("id"), (F.col("id") % 2).cast("string").alias("k"))
    D.write_delta(base, tbl, partition_by=["k"])
    wide = base.withColumn("extra", (F.col("id") * 10).cast("long"))
    # refused without the flag; refused for non-additive shapes with it
    with pytest.raises(D.DeltaSchemaMismatch):
        D.write_delta(wide, tbl)
    with pytest.raises(D.DeltaSchemaMismatch):
        D.write_delta(base.select("k", "id"), tbl, evolve_schema=True)  # reorder
    v = D.write_delta(wide, tbl, evolve_schema=True)
    out = D.read_delta(spark, tbl)
    assert out.columns == ["id", "k", "extra"]
    rows = {(r.id, r.extra) for r in out.collect()}
    assert len(rows) == 20
    # old files read the new column as null; new files carry values
    assert sum(1 for _i, e in rows if e is None) == 10
    assert {e for _i, e in rows if e is not None} == {i * 10 for i in range(10)}
    # time travel below the evolution keeps the OLD schema
    assert D.read_delta(spark, tbl, version=v - 1).columns == ["id", "k"]
    # appends now validate against the widened schema
    with pytest.raises(D.DeltaSchemaMismatch):
        D.write_delta(base, tbl)
    D.write_delta(wide, tbl)
    assert D.read_delta(spark, tbl).count() == 30


# --- column mapping (name mode) + feature-gated protocol ----------------------


def test_column_mapping_lifecycle(spark, tmp_path):
    """NAME-mode column mapping round trip: physical col-<uuid> names in
    data files and partitionValues, logical names everywhere the user
    looks; appends pick the mapping up from metaData; checkpoint replay
    keeps the configuration (losing it would silently misread)."""
    import glob

    import pyarrow.parquet as pq

    from gofeed_spark.sources import delta as D

    df = spark.range(0, 80).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") * 3).alias("val"),
    )
    tbl = str(tmp_path / "tbl")
    v0 = D.write_delta(df.filter("doc_id < 40"), tbl, partition_by=["grp"],
                       column_mapping=True)
    D.write_delta(df.filter("doc_id >= 40"), tbl, partition_by=["grp"])
    out = D.read_delta(spark, tbl)
    assert out.columns == ["doc_id", "grp", "val"]
    assert {r.doc_id for r in out.collect()} == set(range(80))
    # data files carry ONLY physical names
    pf = [
        p
        for p in glob.glob(tbl + "/**/*.parquet", recursive=True)
        if "_delta_log" not in p
    ][0]
    assert all(n.startswith("col-") for n in pq.read_schema(pf).names)
    # partition dirs are physical-named; pruning still keys logically
    pruned = D.read_delta(spark, tbl, where={"grp": "2"})
    assert {r.doc_id for r in pruned.collect()} == {
        i for i in range(80) if i % 4 == 2
    }
    # checkpoint replay preserves the mapping; change feed + time travel
    D.checkpoint_delta(tbl)
    v2 = D.write_delta(
        df.limit(5).withColumn("doc_id", F.col("doc_id") + 100),
        tbl,
        partition_by=["grp"],
    )
    assert D.read_delta(spark, tbl).count() == 85
    ch = D.read_delta_changes(spark, tbl, v2 - 1)
    assert ch.count() == 5 and "_commit_version" in ch.columns
    assert D.read_delta(spark, tbl, version=v0).count() == 40
    # OPTIMIZE rewrites under physical names, contents unchanged
    res = D.optimize_delta(spark, tbl, target_file_bytes=1 << 30, min_files=2)
    assert res["rewritten"] > 0
    assert D.read_delta(spark, tbl).count() == 85
    # schema evolution on mapped tables is a declared refusal
    with pytest.raises(D.DeltaUnsupported):
        D.write_delta(
            df.withColumn("extra", F.lit(1)),
            tbl,
            partition_by=["grp"],
            evolve_schema=True,
        )


def test_reader_features_gate_by_feature(spark, tmp_path):
    """minReaderVersion=3 tables refuse by FEATURE: columnMapping and
    deletionVectors read; only genuinely unknown features refuse, by
    name (the r14 'every minReaderVersion>1 refuses' posture is gone)."""
    import json as J

    from gofeed_spark.sources import delta as D

    df = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    tbl = str(tmp_path / "tbl")
    v = D.write_delta(df, tbl, column_mapping=True)
    log = tbl + "/_delta_log"

    def put_protocol(feats):
        with open(f"{log}/{v + 1:020d}.json", "w") as fh:
            fh.write(
                J.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 3,
                            "minWriterVersion": 7,
                            "readerFeatures": feats,
                            "writerFeatures": feats,
                        }
                    }
                )
                + "\n"
            )

    put_protocol(["columnMapping"])
    assert D.read_delta(spark, tbl).count() == 10
    put_protocol(["columnMapping", "deletionVectors"])
    assert D.read_delta(spark, tbl).count() == 10  # DV-capable since r15
    put_protocol(["columnMapping", "someFutureFeature"])
    with pytest.raises(D.DeltaUnsupported, match="someFutureFeature"):
        D.read_delta(spark, tbl)
    # id-mode mapping is a named refusal too
    import os
    os.remove(f"{log}/{v + 1:020d}.json")
    snap = D._snapshot(D.get_filesystem(tbl), tbl)
    md = dict(snap.metadata)
    md["configuration"] = {"delta.columnMapping.mode": "id"}
    with open(f"{log}/{v + 1:020d}.json", "w") as fh:
        fh.write(J.dumps({"metaData": md}) + "\n")
    with pytest.raises(D.DeltaUnsupported, match="'id'"):
        D.read_delta(spark, tbl)


def test_stream_from_column_mapped_table(spark, tmp_path):
    """delta_feed resolves physical names driver-side and renames in the
    Arrow batch — a mapped landing table streams like a plain one."""
    from gofeed_spark.sources import delta as D
    from gofeed_spark.sources.tablestream import read_delta_stream

    df = spark.range(0, 30).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("grp"),
    )
    tbl = str(tmp_path / "tbl")
    D.write_delta(df.filter("doc_id < 15"), tbl, partition_by=["grp"],
                  column_mapping=True)
    D.write_delta(df.filter("doc_id >= 15"), tbl, partition_by=["grp"])
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = (
        read_delta_stream(spark, tbl)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 30
    assert {r.doc_id for r in got.collect()} == set(range(30))
    assert set(got.columns) == {"doc_id", "grp", "_commit_version"}
    rows = {(r.doc_id, r.grp) for r in got.collect()}
    assert all(g == str(d % 2) for d, g in rows)


# --- change data feed (UPDATE + cdc actions) ----------------------------------


def test_update_delta_cdf_round_trip(spark, tmp_path):
    """update_delta rewrites only affected files and commits cdc files;
    read_delta_changes(cdf=True) emits insert/update_preimage/
    update_postimage rows — the rewritten-but-unchanged neighbors never
    appear (the protocol's cdc-wins rule)."""
    from gofeed_spark.sources import delta as D

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    D.write_delta(df.filter("doc_id < 30"), tbl, partition_by=["grp"])
    D.write_delta(df.filter("doc_id >= 30"), tbl, partition_by=["grp"])
    v = D.update_delta(spark, tbl, "doc_id % 10 = 0", {"val": "val + 5"})
    assert v == 2
    # table state: only matching rows changed
    rows = {r.doc_id: r.val for r in D.read_delta(spark, tbl).collect()}
    assert rows == {d: d * 10 + (5 if d % 10 == 0 else 0) for d in range(60)}
    # cdf: exact change rows, partition values restored on cdc rows
    ch = D.read_delta_changes(spark, tbl, -1, cdf=True)
    agg = {
        r._change_type: (r.cnt, r.s)
        for r in ch.groupBy("_change_type")
        .agg(F.count("*").alias("cnt"), F.sum("val").alias("s"))
        .collect()
    }
    assert agg["insert"] == (60, sum(d * 10 for d in range(60)))
    assert agg["update_preimage"] == (6, sum(d * 10 for d in range(0, 60, 10)))
    assert agg["update_postimage"] == (
        6,
        sum(d * 10 + 5 for d in range(0, 60, 10)),
    )
    assert all(
        r.grp == str(r.doc_id % 3)
        for r in ch.filter("_change_type != 'insert'").collect()
    )
    assert {r._commit_version for r in ch.collect()} == {0, 1, 2}
    # default (append-only) read still refuses, pointing at cdf=True
    with pytest.raises(D.DeltaUnsupported, match="cdf=True"):
        D.read_delta_changes(spark, tbl, -1)
    # a window that excludes the update needs no cdf
    assert D.read_delta_changes(spark, tbl, -1, end_version=1).count() == 60
    # vacuum keeps _change_data (protocol space, not a data-plane orphan)
    D.vacuum_delta(tbl)
    upd = D.read_delta_changes(spark, tbl, 1, cdf=True)
    assert upd.count() == 12
    assert {r._change_type for r in upd.collect()} == {
        "update_preimage",
        "update_postimage",
    }
    assert D.read_delta(spark, tbl).count() == 60
    # guards: no-match = no commit; partition columns immutable
    assert D.update_delta(spark, tbl, "doc_id = 12345", {"val": "0"}) == -1
    with pytest.raises(D.DeltaError, match="partition columns"):
        D.update_delta(spark, tbl, "doc_id = 1", {"grp": "'9'"})
    with pytest.raises(D.DeltaError, match="not in table"):
        D.update_delta(spark, tbl, "doc_id = 1", {"nope": "1"})


def test_update_set_exprs_see_old_row(spark, tmp_path):
    """Multiple set expressions all evaluate against the PRE-update row
    (standard UPDATE semantics), not each other's outputs."""
    from gofeed_spark.sources import delta as D

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 10).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    D.write_delta(df, tbl)
    D.update_delta(spark, tbl, "a < 5", {"a": "b", "b": "a"})  # swap
    rows = {(r.a, r.b) for r in D.read_delta(spark, tbl).collect()}
    assert rows == {
        (i * 2, i) if i < 5 else (i, i * 2) for i in range(10)
    }


def test_delete_delta_rows_cdf(spark, tmp_path):
    """delete_delta_rows rewrites only affected files without the
    matching rows and commits cdc 'delete' rows; the CDF shows exactly
    the deleted rows, time travel still sees them."""
    from gofeed_spark.sources import delta as D

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    D.write_delta(df.filter("doc_id < 30"), tbl, partition_by=["grp"])
    D.write_delta(df.filter("doc_id >= 30"), tbl, partition_by=["grp"])
    v = D.delete_delta_rows(spark, tbl, "doc_id % 4 = 0")
    assert v == 2
    live = {r.doc_id for r in D.read_delta(spark, tbl).collect()}
    assert live == {i for i in range(60) if i % 4 != 0}
    assert D.read_delta(spark, tbl, version=1).count() == 60
    ch = D.read_delta_changes(spark, tbl, 1, cdf=True)
    rows = [(r.doc_id, r.grp, r._change_type) for r in ch.collect()]
    assert len(rows) == 15 and all(t == "delete" for _d, _g, t in rows)
    assert all(g == str(d % 3) for d, g, _t in rows)
    assert D.delete_delta_rows(spark, tbl, "doc_id = 777") == -1
    # delete + update compose in one feed
    D.update_delta(spark, tbl, "doc_id = 1", {"val": "111"})
    types = {
        r._change_type
        for r in D.read_delta_changes(spark, tbl, -1, cdf=True).collect()
    }
    assert types == {
        "insert", "delete", "update_preimage", "update_postimage"
    }


def test_deletion_vectors_lifecycle(spark, tmp_path):
    """dv=True deletes without rewriting: re-added adds carry
    storageType-'u' descriptors into one roaring DV file; reads apply
    them merge-on-read; stacked deletes merge bitmaps; checkpoints keep
    the DVs (losing them would RESURRECT rows); rewrite-mode ops on
    DV-bearing files go through the live view; OPTIMIZE never touches a
    DV-bearing group."""
    import glob

    from gofeed_spark.sources import delta as D

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    D.write_delta(df.filter("doc_id < 50"), tbl, partition_by=["grp"])
    D.write_delta(df.filter("doc_id >= 50"), tbl, partition_by=["grp"])
    v = D.delete_delta_rows(spark, tbl, "doc_id % 7 = 0", dv=True)
    assert v == 2 and glob.glob(tbl + "/deletion_vector_*.bin")
    live = {r.doc_id for r in D.read_delta(spark, tbl).collect()}
    assert live == {i for i in range(100) if i % 7 != 0}
    assert D.read_delta(spark, tbl, version=1).count() == 100
    # protocol upgraded to the feature-gated form
    snap = D._snapshot(D.get_filesystem(tbl), tbl)
    assert "deletionVectors" in (snap.protocol.get("readerFeatures") or [])
    # stacked DV delete merges bitmaps per file
    D.delete_delta_rows(spark, tbl, "doc_id % 11 = 0", dv=True)
    live = {r.doc_id for r in D.read_delta(spark, tbl).collect()}
    assert live == {i for i in range(100) if i % 7 != 0 and i % 11 != 0}
    # change feed: exactly the deleted rows, via cdc
    ch = D.read_delta_changes(spark, tbl, 1, cdf=True)
    assert sorted(r.doc_id for r in ch.collect()) == sorted(
        [i for i in range(100) if i % 7 == 0]
        + [i for i in range(100) if i % 11 == 0 and i % 7 != 0]
    )
    # checkpoint replay keeps the DVs
    D.checkpoint_delta(tbl)
    D.write_delta(
        df.limit(3).withColumn("doc_id", F.col("doc_id") + 1000),
        tbl,
        partition_by=["grp"],
    )
    assert {r.doc_id for r in D.read_delta(spark, tbl).collect()} == live | {
        1000, 1001, 1002,
    }
    # rewrite-mode delete/update on DV-bearing files never resurrects
    D.delete_delta_rows(spark, tbl, "doc_id = 1")
    D.update_delta(spark, tbl, "doc_id = 2", {"val": "222"})
    rows = {r.doc_id: r.val for r in D.read_delta(spark, tbl).collect()}
    assert 1 not in rows and rows[2] == 222 and 21 not in rows
    # OPTIMIZE purges DV-bearing groups: contents unchanged, DVs gone
    res = D.optimize_delta(spark, tbl, target_file_bytes=1 << 30, min_files=2)
    assert res["rewritten"] > 0
    assert {r.doc_id for r in D.read_delta(spark, tbl).collect()} == set(
        rows
    )
    snap2 = D._snapshot(D.get_filesystem(tbl), tbl)
    assert not any(a.get("deletionVector") for a in snap2.adds.values())
    # the purge is invisible to incremental consumers
    assert (
        D.read_delta_changes(
            spark, tbl, res["version"] - 1, cdf=True
        ).count()
        == 0
    )


def test_foreign_inline_dv_reads(spark, tmp_path):
    """A hand-planted INLINE deletion vector (storageType 'i', z85
    payload — the small-DV form other writers emit) applies on read."""
    import json as J
    import os

    from gofeed_spark.sources import delta as D
    from gofeed_spark.sources import roaring as R

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    D.write_delta(df.coalesce(1), tbl)
    log = tbl + "/_delta_log"
    actions = [
        J.loads(x) for x in open(f"{log}/{0:020d}.json").read().splitlines()
    ]
    add = next(a["add"] for a in actions if "add" in a)
    payload = R.dv_payload({3, 4, 11})
    pad = (-len(payload)) % 4
    new_add = dict(add)
    new_add["deletionVector"] = {
        "storageType": "i",
        "pathOrInlineDv": R.z85_encode(payload + b"\x00" * pad),
        "offset": None,
        "sizeInBytes": len(payload),
        "cardinality": 3,
    }
    with open(f"{log}/{1:020d}.json", "w") as f:
        f.write(
            "\n".join(
                J.dumps(a)
                for a in [
                    {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                                  "readerFeatures": ["deletionVectors"],
                                  "writerFeatures": ["deletionVectors"]}},
                    {"remove": {"path": add["path"], "dataChange": True,
                                "partitionValues": {}}},
                    {"add": new_add},
                ]
            )
            + "\n"
        )
    got = {r.doc_id for r in D.read_delta(spark, tbl).collect()}
    assert got == set(range(20)) - {3, 4, 11}


def test_multipart_checkpoint_reads(spark, tmp_path):
    """A COMPLETE multi-part checkpoint (the classic Spark-writer form)
    replays like the single-part one; a partial set is invisible and
    replay falls back to JSON."""
    import os

    import pyarrow.parquet as pq

    from gofeed_spark.sources import delta as D

    tbl = str(tmp_path / "tbl")
    for lo, hi in ((0, 10), (10, 20)):
        D.write_delta(_mk(spark, lo, hi), tbl, partition_by=["source"])
    D.checkpoint_delta(tbl)
    log = tbl + "/_delta_log"
    single = f"{log}/{1:020d}.checkpoint.parquet"
    table = pq.read_table(single)
    # split into 2 parts and drop the single-part file + older JSON
    n = table.num_rows
    pq.write_table(
        table.slice(0, n // 2),
        f"{log}/{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
    )
    pq.write_table(
        table.slice(n // 2),
        f"{log}/{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
    )
    os.remove(single)
    os.remove(f"{log}/{0:020d}.json")  # force checkpoint-based replay
    got = D.read_delta(spark, tbl)
    assert {r.id for r in got.collect()} == set(range(20))
    # partial set: drop one part -> replay has no usable checkpoint left
    os.remove(f"{log}/{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    with pytest.raises(D.DeltaError):
        D.read_delta(spark, tbl)  # v0 json gone AND checkpoint incomplete


def test_restore_round_trip_and_vacuum_guard(spark, tmp_path):
    """RESTORE commits the file-set diff vs the target: backward to v0,
    forward again to a DV-bearing state (DVs re-added with their files),
    appends continue after; restoring past vacuumed files raises."""
    from gofeed_spark.sources import delta as D

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 60).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    D.write_delta(df.filter("doc_id < 20"), tbl, partition_by=["grp"])
    D.write_delta(df.filter("doc_id >= 20"), tbl, partition_by=["grp"])
    D.delete_delta_rows(spark, tbl, "doc_id % 4 = 0", dv=True)
    v = D.restore_delta(spark, tbl, 0)
    assert v == 3
    assert {r.doc_id for r in D.read_delta(spark, tbl).collect()} == set(range(20))
    # every pre-restore version still time-travels
    assert D.read_delta(spark, tbl, version=2).count() == 45
    assert D.read_delta(spark, tbl, version=1).count() == 60
    # forward restore re-applies the deletion vectors
    D.restore_delta(spark, tbl, 2)
    assert D.read_delta(spark, tbl).count() == 45
    assert D.restore_delta(spark, tbl, D.latest_version(tbl)) == -1
    hist_ops = [h.get("operation") for h in D.delta_history(tbl)]
    assert hist_ops[0] == "RESTORE"
    # overwrite + vacuum reclaims the old files -> restore must refuse
    D.write_delta(df.filter("doc_id < 3"), tbl, mode="overwrite")
    D.vacuum_delta(tbl)
    with pytest.raises(D.DeltaError, match="vacuumed"):
        D.restore_delta(spark, tbl, 2)


def test_dv_giant_fallback_path(spark, tmp_path, monkeypatch):
    """Above the broadcast cardinality bound the DV application takes the
    executor-explode path (mapInPandas + planner-chosen join) — force the
    bound to 0 and assert identical results."""
    from gofeed_spark.sources import delta as D

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    D.write_delta(df, tbl)
    D.delete_delta_rows(spark, tbl, "doc_id % 3 = 0", dv=True)
    want = {i for i in range(50) if i % 3 != 0}
    assert {r.doc_id for r in D.read_delta(spark, tbl).collect()} == want
    from gofeed_spark.sources import tablecore

    monkeypatch.setattr(tablecore, "DELETE_BROADCAST_MAX", 0)
    assert {r.doc_id for r in D.read_delta(spark, tbl).collect()} == want


def test_dv_unknown_cardinality_takes_executor_path(spark, tmp_path):
    """A foreign DV descriptor without cardinality must NOT count as
    zero positions — unknown size is over-threshold by fiat, so the
    payload explodes on executors instead of a driver-side decode that
    could OOM on an arbitrarily large DV (r16 advice)."""
    import json as _json
    import glob as _glob

    from gofeed_spark.sources import delta as D

    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    D.write_delta(df, tbl)
    D.delete_delta_rows(spark, tbl, "doc_id % 3 = 0", dv=True)
    # strip cardinality from every DV descriptor in the log
    for cf in _glob.glob(f"{tbl}/_delta_log/*.json"):
        lines = []
        with open(cf) as fh:
            for line in fh:
                act = _json.loads(line)
                dv = (act.get("add") or {}).get("deletionVector")
                if dv:
                    dv.pop("cardinality", None)
                lines.append(_json.dumps(act))
        with open(cf, "w") as fh:
            fh.write("\n".join(lines) + "\n")
    out = D.read_delta(spark, tbl)
    want = {i for i in range(50) if i % 3 != 0}
    assert {r.doc_id for r in out.collect()} == want
    # executor-explode path, not the driver decode
    assert "MapInPandas" in out._jdf.queryExecution().executedPlan().toString()


def test_delta_stream_admission_caps_pace_backlog(spark, tmp_path):
    """A stream opened against a table with history must drain the
    backlog over MANY micro-batches under the admission caps, never one
    giant catch-up batch — with exactly-once totals (r15 verdict
    finding 2)."""
    from gofeed_spark.sources.tablestream import _cap_advance, read_delta_stream

    tbl = str(tmp_path / "tbl")
    df = spark.range(30).select(F.col("id"))
    for lo in range(0, 30, 5):  # 6 commits, one file each
        D.write_delta(df.filter((F.col("id") >= lo) & (F.col("id") < lo + 5)), tbl)

    batches: list[tuple[int, int, set]] = []

    def sink(b, bid):
        rows = b.collect()
        if rows:
            batches.append((bid, len(rows), {r._commit_version for r in rows}))

    s = read_delta_stream(spark, tbl, max_versions_per_trigger=2)
    q = (
        s.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # 6 commits / 2 per trigger = 3 batches, each spanning <= 2 versions
    assert len(batches) == 3
    assert all(len(vs) <= 2 for _b, _n, vs in batches)
    assert sum(n for _b, n, _vs in batches) == 30

    # file-count cap: one commit (= one file) per micro-batch
    batches.clear()
    s1 = read_delta_stream(spark, tbl, max_files_per_trigger=1)
    q = (
        s1.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(batches) == 6 and all(len(vs) == 1 for _b, _n, vs in batches)

    # whole-commit granularity: a single over-cap commit still admits,
    # alone; unknown floor (fresh restart) never rewinds
    stats = {1: (10, 100), 2: (1, 10), 3: (1, 10)}.__getitem__
    assert _cap_advance(0, 3, stats, 5, None, None) == 1  # over-cap, alone
    assert _cap_advance(1, 3, stats, 5, None, None) == 3
    assert _cap_advance(1, 3, stats, 1, None, None) == 2
    assert _cap_advance(1, 3, stats, None, 10, None) == 2  # byte cap
    assert _cap_advance(None, 3, stats, 1, None, None) == 3  # no floor yet
    assert _cap_advance(0, 3, stats, None, None, 99) == 3

    # RESTART stays capped and exactly-once: recovery re-delivers the
    # committed offset through commit()/partitions(), so the floor is
    # learned before the next latestOffset — no rewind, no duplicates
    for lo in range(30, 50, 5):
        D.write_delta(spark.range(lo, lo + 5).select(F.col("id")), tbl)
    batches.clear()
    s2 = read_delta_stream(spark, tbl, max_versions_per_trigger=2)
    q = (
        s2.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(batches) == 2 and all(len(vs) <= 2 for _b, _n, vs in batches)
    assert sum(n for _b, n, _vs in batches) == 20


def test_timestamp_time_travel(spark, tmp_path):
    """as_of_ts resolves to the latest commit whose (monotonized)
    timestamp <= ts: exact boundary, between commits, before table
    creation raises, commitInfo timestamps win over file mtimes, and
    non-monotone mtimes are adjusted like real readers."""
    import json as _json
    import os

    tbl = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        D.write_delta(
            spark.range(lo, lo + 10).select(F.col("id")), tbl
        )
    log = f"{tbl}/_delta_log"
    for v, sec in ((0, 1000), (1, 2000), (2, 3000)):
        os.utime(f"{log}/{v:020d}.json", (sec, sec))
    assert D.read_delta(spark, tbl, as_of_ts=2000_000).count() == 20  # exact
    assert D.read_delta(spark, tbl, as_of_ts=2500_000).count() == 20  # between
    assert D.read_delta(spark, tbl, as_of_ts=9999_000).count() == 30  # after
    assert D.version_at_timestamp(tbl, 1000_000) == 0
    with pytest.raises(D.DeltaError, match="predates"):
        D.read_delta(spark, tbl, as_of_ts=999_999)
    with pytest.raises(D.DeltaError, match="not both"):
        D.read_delta(spark, tbl, version=1, as_of_ts=2000_000)

    # non-monotone mtimes: commit 2 earlier than commit 1 → effective
    # timestamp monotonized to just above commit 1's
    os.utime(f"{log}/{2:020d}.json", (1500, 1500))
    assert D.version_at_timestamp(tbl, 2000_000) == 1
    assert D.version_at_timestamp(tbl, 2000_001) == 2

    # an explicit commitInfo timestamp (foreign writers / ICT) wins
    cf = f"{log}/{1:020d}.json"
    lines = []
    with open(cf) as fh:
        for line in fh:
            act = _json.loads(line)
            if "commitInfo" in act:
                act["commitInfo"]["timestamp"] = 5_000_000
            lines.append(_json.dumps(act))
    with open(cf, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    # v1 now stamps 5_000_000ms; v2 monotonizes above it
    assert D.version_at_timestamp(tbl, 4_999_999) == 0
    assert D.version_at_timestamp(tbl, 5_000_000) == 1
    assert D.version_at_timestamp(tbl, 5_000_001) == 2


# --- MERGE (keyed upsert) ---------------------------------------------------------


def test_merge_delta_upsert_and_cdf(spark, tmp_path):
    """merge_delta default mode: matched rows replaced by the source row,
    new keys inserted, ONE commit whose CDF carries pre/postimages and
    inserts; untouched files survive by identity (copy-on-write scope)."""
    tbl = str(tmp_path / "tbl")
    df = spark.range(20).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    D.write_delta(df, tbl, partition_by=["p"])
    before = set(D.read_delta(spark, tbl).inputFiles())
    # touch only partition p=1 keys; p=0 files must be byte-identical
    src = spark.createDataFrame(
        [(3, 3000, "1"), (5, 5000, "1"), (101, 1010, "1")],
        "k long, v long, p string",
    )
    v = D.merge_delta(spark, tbl, src, on=["k"])
    out = {r.k: r.v for r in D.read_delta(spark, tbl).collect()}
    assert out[3] == 3000 and out[5] == 5000 and out[101] == 1010
    assert out[4] == 40 and len(out) == 21
    after = set(D.read_delta(spark, tbl).inputFiles())
    untouched = {f for f in before if "/p=0/" in f}
    assert untouched and untouched <= after  # p=0 never rewritten
    ch = D.read_delta_changes(spark, tbl, v - 1, cdf=True)
    got = sorted((r.k, r._change_type) for r in ch.collect())
    assert got == [
        (3, "update_postimage"), (3, "update_preimage"),
        (5, "update_postimage"), (5, "update_preimage"),
        (101, "insert"),
    ]
    # time travel below the merge
    assert D.read_delta(spark, tbl, version=v - 1).count() == 20


def test_merge_delta_modes_and_guards(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    D.write_delta(
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
        tbl,
    )
    # delete mode takes a keys-only source
    v = D.merge_delta(
        spark, tbl, spark.createDataFrame([(0,), (99,)], "k long"),
        on=["k"], when_matched="delete", when_not_matched=None,
    )
    assert {r.k for r in D.read_delta(spark, tbl).collect()} == set(range(1, 10))
    ch = D.read_delta_changes(spark, tbl, v - 1, cdf=True)
    assert [(r.k, r._change_type) for r in ch.collect()] == [(0, "delete")]
    # insert-only: matched keys untouched
    D.merge_delta(
        spark, tbl,
        spark.createDataFrame([(1, 999), (50, 500)], "k long, v long"),
        on=["k"], when_matched=None,
    )
    out = {r.k: r.v for r in D.read_delta(spark, tbl).collect()}
    assert out[1] == 10 and out[50] == 500
    # no-op merge makes no commit
    pre = D.latest_version(tbl)
    assert D.merge_delta(
        spark, tbl, spark.createDataFrame([], "k long, v long"), on=["k"]
    ) == -1
    assert D.latest_version(tbl) == pre
    # guards
    with pytest.raises(D.DeltaError, match="duplicate key"):
        D.merge_delta(
            spark, tbl,
            spark.createDataFrame([(1, 1), (1, 2)], "k long, v long"),
            on=["k"],
        )
    with pytest.raises(D.DeltaSchemaMismatch):
        D.merge_delta(
            spark, tbl, spark.createDataFrame([(1,)], "k long"), on=["k"]
        )
    with pytest.raises(D.DeltaError, match="no-op by construction"):
        D.merge_delta(
            spark, tbl, spark.createDataFrame([], "k long, v long"),
            on=["k"], when_matched=None, when_not_matched=None,
        )


def test_apply_changes_delta_chain(spark, tmp_path):
    """CDF consumed from one table and MERGEd into another — the OCC Save
    shape on the open format: net-effect per key, idempotent re-apply,
    txn watermark rides both commits."""
    src_t, dst_t = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    D.write_delta(df, src_t)
    D.write_delta(df, dst_t)
    D.update_delta(spark, src_t, "k < 3", {"v": "v + 1000"})
    D.delete_delta_rows(spark, src_t, "k = 9")
    D.write_delta(spark.createDataFrame([(50, 500)], "k long, v long"), src_t)
    res = D.apply_changes_delta(
        spark, src_t, dst_t, ["k"], start_version=0, txn=("cdc-app", 7)
    )
    assert (res["n_upserts"], res["n_deletes"], res["end_version"]) == (4, 1, 3)
    want = {0: 1000, 1: 1010, 2: 1020, 3: 30, 4: 40, 5: 50, 6: 60, 7: 70, 8: 80, 50: 500}
    assert {r.k: r.v for r in D.read_delta(spark, dst_t).collect()} == want
    assert D.last_txn_version(dst_t, "cdc-app") == 7
    # re-applying the same window converges (idempotent by value)
    D.apply_changes_delta(spark, src_t, dst_t, ["k"], start_version=0)
    assert {r.k: r.v for r in D.read_delta(spark, dst_t).collect()} == want


def test_delta_upsert_sink_exactly_once(spark, tmp_path):
    """DeltaUpsertSink: first batch creates the table, later batches
    MERGE, re-delivered batch ids skip via the txn watermark — across a
    SINK RESTART (fresh instance reads the floor from the log)."""
    from gofeed_spark.streaming.sinks import DeltaUpsertSink

    tbl = str(tmp_path / "tbl")
    sink = DeltaUpsertSink(tbl, on=["k"], app_id="upsert-e2e")
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    b1 = spark.createDataFrame([(2, 21), (3, 30)], "k long, v long")
    sink(b0, 0)
    sink(b1, 1)
    assert {r.k: r.v for r in sink.read(spark).collect()} == {1: 10, 2: 21, 3: 30}
    # re-delivery of batch 1 after a restart: NEW instance, same app_id
    sink2 = DeltaUpsertSink(tbl, on=["k"], app_id="upsert-e2e")
    sink2(b1, 1)
    assert sink2.last_skipped == 1
    assert D.latest_version(tbl) == 1  # nothing committed
    # next batch continues
    sink2(spark.createDataFrame([(1, 11)], "k long, v long"), 2)
    assert {r.k: r.v for r in sink2.read(spark).collect()} == {1: 11, 2: 21, 3: 30}


def test_apply_changes_txn_rides_last_commit(spark, tmp_path):
    """The idempotency stamp must ride only the LAST commit of the
    window: a crash between the upsert and delete merges must leave the
    watermark BELOW the window (stamping the first commit would skip the
    never-applied delete half forever on replay)."""
    import glob as _glob
    import json as _json

    src_t, dst_t = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    D.write_delta(df, src_t)
    D.write_delta(df, dst_t)
    D.update_delta(spark, src_t, "k = 1", {"v": "v + 100"})
    D.delete_delta_rows(spark, src_t, "k = 2")
    D.apply_changes_delta(spark, src_t, dst_t, ["k"], 0, txn=("app", 5))

    def txns(version):
        out = []
        for cf in _glob.glob(f"{dst_t}/_delta_log/{version:020d}.json"):
            with open(cf) as fh:
                for line in fh:
                    act = _json.loads(line)
                    if "txn" in act:
                        out.append(act["txn"])
        return out

    assert txns(1) == []  # the upsert commit carries NO stamp
    assert txns(2) == [{"appId": "app", "version": 5}]  # the delete does
    assert D.last_txn_version(dst_t, "app") == 5


def test_capped_stream_survives_truncated_log(spark, tmp_path):
    """latestOffset with caps must not crash on a checkpoint-truncated
    log (missing commit jsons count (0,0)); the unreadable window still
    fails cleanly at plan time like the uncapped stream."""
    import os

    from gofeed_spark.sources.tablestream import DeltaFeedDataSource

    tbl = str(tmp_path / "tbl")
    for lo in (0, 5, 10):
        D.write_delta(spark.range(lo, lo + 5).select(F.col("id")), tbl)
    D.checkpoint_delta(tbl)
    os.remove(f"{tbl}/_delta_log/{0:020d}.json")  # truncate below checkpoint
    r = DeltaFeedDataSource(
        {"path": tbl, "max_files_per_trigger": "1", "starting_version": "-1"}
    ).streamReader(None)
    off = r.latestOffset()  # must not raise
    assert off["version"] >= 0
    with pytest.raises(D.DeltaError, match="missing"):
        r.partitions({"version": -1}, {"version": 2})


def test_merge_composes_with_optimize_and_vacuum(spark, tmp_path):
    """Maintenance interplay for MERGE commits: OPTIMIZE packs the
    merge's outputs with dataChange=false (incremental consumers skip
    it), vacuum reclaims the superseded pre-merge files while keeping
    _change_data (protocol space) — the merge's CDF remains readable."""
    import glob as _glob

    tbl = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        D.write_delta(spark.range(lo, lo + 10).select(F.col("id").alias("k"),
                                                      (F.col("id") * 10).alias("v")), tbl)
    v = D.merge_delta(
        spark, tbl,
        spark.range(0, 30, 4).select(F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")),
        on=["k"],
    )
    want = {(k, -1 if k % 4 == 0 else k * 10) for k in range(30)}
    D.optimize_delta(spark, tbl)
    assert {(r.k, r.v) for r in D.read_delta(spark, tbl).collect()} == want
    # the optimize is invisible to incremental consumers; the merge's CDF
    # still reads back after vacuum (protocol space is never an orphan)
    D.vacuum_delta(tbl)
    assert {(r.k, r.v) for r in D.read_delta(spark, tbl).collect()} == want
    ch = D.read_delta_changes(spark, tbl, v - 1, cdf=True)
    got = {(r.k, r._change_type) for r in ch.collect() if r._commit_version == v}
    assert got == {(k, t) for k in range(0, 30, 4)
                   for t in ("update_preimage", "update_postimage")}
    assert _glob.glob(f"{tbl}/_change_data/*.parquet")


def test_add_actions_carry_file_stats(spark, tmp_path):
    """Writers record per-file numRecords/min/max/nullCount in the add
    action's stats field (the protocol's file-skipping input), and the
    stats SURVIVE checkpoint truncation."""
    import json as _json
    import os

    tbl = str(tmp_path / "tbl")
    D.write_delta(
        spark.range(10, 20).select(F.col("id").alias("k"),
                                   F.concat(F.lit("u"), F.col("id")).alias("s")),
        tbl,
    )
    with open(f"{tbl}/_delta_log/{0:020d}.json") as fh:
        adds = [_json.loads(l)["add"] for l in fh if '"add"' in l]
    assert adds
    sts = [_json.loads(a["stats"]) for a in adds]
    assert sum(st["numRecords"] for st in sts) == 10
    assert min(st["minValues"]["k"] for st in sts) == 10
    assert max(st["maxValues"]["k"] for st in sts) == 19
    assert min(st["minValues"]["s"] for st in sts) == "u10"
    assert all(st["nullCount"]["k"] == 0 for st in sts)
    # checkpoint + truncate: stats still on the snapshot's adds
    D.write_delta(spark.range(5).select(F.col("id").alias("k"),
                                        F.lit("x").alias("s")), tbl)
    D.checkpoint_delta(tbl)
    os.remove(f"{tbl}/_delta_log/{0:020d}.json")
    os.remove(f"{tbl}/_delta_log/{1:020d}.json")
    snap = D._snapshot(D.get_filesystem(tbl), tbl)
    assert all("stats" in a for a in snap.adds.values())
    assert D.read_delta(spark, tbl).count() == 15


def test_merge_skips_files_by_key_range(spark, tmp_path):
    """MERGE's candidate scan reads only files whose stats key range can
    intersect the source keys — the min/max file skipping real engines
    run before touching data."""
    from gofeed_spark.sources.tablecore import prune_by_range

    # unit: synthetic adds
    import json as _json

    def add(lo, hi, nulls=0, n=10, stats=True):
        a = {"path": f"f{lo}", "partitionValues": {}, "size": 1, "dataChange": True}
        if stats:
            a["stats"] = _json.dumps(
                {"numRecords": n, "minValues": {"k": lo}, "maxValues": {"k": hi},
                 "nullCount": {"k": nulls}}
            )
        return ("r", a)

    items = [add(0, 9), add(10, 19), add(20, 29), add(0, 99, stats=False),
             add(50, 59, nulls=10)]
    kept = prune_by_range(items, {"k": 12}, {"k": 14}, D._add_bounds)
    # overlapping file + stats-less file stay; all-null-key file prunes
    assert [a["path"] for _r, a in kept] == ["f10", "f0"]
    # incomparable bounds (str vs int) stay conservative
    kept2 = prune_by_range(items[:1], {"k": "a"}, {"k": "b"}, D._add_bounds)
    assert len(kept2) == 1

    # e2e: three disjoint-range files; a merge into the middle range must
    # scan ONLY that file
    tbl = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        D.write_delta(
            spark.range(lo, lo + 10).select(F.col("id").alias("k"),
                                            (F.col("id") * 10).alias("v")),
            tbl,
        )
    from gofeed_spark.sources import tablecore

    scanned = []
    real_assemble = tablecore.assemble

    def spy(spark_, schema, files, *args, **kw):
        if kw.get("keep") == ("__file",):
            scanned.append(len(files))
        return real_assemble(spark_, schema, files, *args, **kw)

    tablecore.assemble = spy
    try:
        v = D.merge_delta(
            spark, tbl,
            spark.createDataFrame([(12, -1), (14, -2)], "k long, v long"),
            on=["k"],
        )
    finally:
        tablecore.assemble = real_assemble
    assert scanned == [1]  # ONE candidate file, not three
    out = {r.k: r.v for r in D.read_delta(spark, tbl).collect()}
    assert out[12] == -1 and out[14] == -2 and out[0] == 0 and len(out) == 30
    ch = D.read_delta_changes(spark, tbl, v - 1, cdf=True)
    assert ch.filter("_change_type = 'update_postimage'").count() == 2


def test_read_delta_stats_prunes_data_columns(spark, tmp_path):
    """where= on a NON-partition column prunes by add-action stats at the
    driver (a point lookup on a clustered key opens only overlapping
    files) and still row-filters exactly; partition + data predicates
    compose; unknown columns raise."""
    tbl = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        D.write_delta(
            spark.range(lo, lo + 100)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 2).cast("string").alias("p"),
                (F.col("id") * 10).alias("v"),
            )
            .coalesce(1),
            tbl,
            partition_by=["p"],
        )
    full = D.read_delta(spark, tbl)
    df = D.read_delta(spark, tbl, where={"k": "150"})
    rows = df.collect()
    assert [(r.k, r.v) for r in rows] == [(150, 1500)]
    # only the middle commit's files are in the relation
    assert 0 < len(df.inputFiles()) < len(full.inputFiles())
    assert all("part-" in f for f in df.inputFiles())
    # composes with partition pruning
    df2 = D.read_delta(spark, tbl, where={"p": "1", "k": "151"})
    assert [(r.k, r.p) for r in df2.collect()] == [(151, "1")]
    assert len(df2.inputFiles()) == 1
    with pytest.raises(D.DeltaError, match="not table columns"):
        D.read_delta(spark, tbl, where={"nope": "1"})
    with pytest.raises(D.DeltaError, match="does not parse"):
        D.read_delta(spark, tbl, where={"k": "abc"})


def test_optimize_preserves_file_stats(spark, tmp_path):
    """Compaction must not lose the skipping input: packed files carry
    fresh stats, so a point lookup stays pruned after OPTIMIZE."""
    tbl = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        D.write_delta(
            spark.range(lo, lo + 100).select(F.col("id").alias("k")).coalesce(1),
            tbl,
        )
    D.optimize_delta(spark, tbl, target_file_bytes=1 << 11, min_files=2)
    snap = D._snapshot(D.get_filesystem(tbl), tbl)
    assert all("stats" in a for a in snap.adds.values())
    df = D.read_delta(spark, tbl, where={"k": "150"})
    assert [r.k for r in df.collect()] == [150]
    assert len(df.inputFiles()) < len(D.read_delta(spark, tbl).inputFiles())


def test_where_float32_probe_rounds_through_float32(spark, tmp_path):
    """r17 advice fix: the file stats of a FloatType column are exact
    float32 values — a double-parsed probe ('0.1' -> 0.1) fails the
    intersection against the float32 stat (0.10000000149...) and prunes
    the only matching file.  The probe must round through float32."""
    tbl = str(tmp_path / "tbl")
    rows_in = [(1, 0.1), (2, 0.25), (3, 7.3)]
    for k, v in rows_in:
        D.write_delta(
            spark.createDataFrame([(k, v)], "k long, fv float").coalesce(1),
            tbl,
        )
    got = D.read_delta(spark, tbl, where={"fv": "0.1"}).collect()
    assert [r.k for r in got] == [1]
    # exactly-representable values keep working, and pruning is active
    df = D.read_delta(spark, tbl, where={"fv": "0.25"})
    assert [r.k for r in df.collect()] == [2]
    assert len(df.inputFiles()) == 1


def test_string_stats_upper_bound_survives_truncation(spark, tmp_path):
    """String maxValues publish the incremented-prefix upper bound
    (valid whether or not the parquet stat was truncated); point lookups
    on long string keys keep finding their file."""
    long_a = "a" * 100 + "end"
    long_z = "z" * 100 + "end"
    tbl = str(tmp_path / "tbl")
    for s in (long_a, long_z):
        D.write_delta(
            spark.createDataFrame([(s, 1)], "s string, v long").coalesce(1), tbl
        )
    snap = D._snapshot(D.get_filesystem(tbl), tbl)
    import json as _json

    for add in snap.adds.values():
        st = _json.loads(add["stats"])
        # the published max is a VALID upper bound for the file's value
        assert st["maxValues"]["s"] >= st["minValues"]["s"]
    got = D.read_delta(spark, tbl, where={"s": long_a})
    assert [r.v for r in got.collect()] == [1]
    assert len(got.inputFiles()) == 1  # still prunes the other file


def test_apply_changes_stamps_watermark_on_noop_delete(spark, tmp_path):
    """r17 advice fix: a key inserted AND deleted within one CDC window
    nets to a delete of a key absent from the target; the delete merge
    no-ops with no commit, but the txn watermark must STILL advance (a
    consumer keyed on last_txn_version would otherwise replay forever)."""
    src_t, dst_t = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    D.write_delta(df, src_t)
    D.write_delta(df, dst_t)
    D.write_delta(spark.createDataFrame([(100, 1)], "k long, v long"), src_t)
    D.delete_delta_rows(spark, src_t, "k = 100")
    res = D.apply_changes_delta(
        spark, src_t, dst_t, ["k"], start_version=0, txn=("wm-app", 9)
    )
    assert (res["n_upserts"], res["n_deletes"]) == (0, 1)
    assert res["deleted_version"] == -1  # the delete half no-oped
    assert D.last_txn_version(dst_t, "wm-app") == 9  # ...but the stamp landed
    # target contents untouched; table still reads after the txn-only commit
    assert {r.k: r.v for r in D.read_delta(spark, dst_t).collect()} == {
        0: 0, 1: 10, 2: 20, 3: 30, 4: 40
    }
    # an entirely EMPTY window also advances the watermark
    end = D.latest_version(src_t)
    D.apply_changes_delta(
        spark, src_t, dst_t, ["k"], start_version=end, txn=("wm-app", 10)
    )
    assert D.last_txn_version(dst_t, "wm-app") == 10


def test_optimize_zorder_clusters_for_skipping(spark, tmp_path):
    """r17: OPTIMIZE(zorder_by=) re-clusters unordered accretion so the
    stats skipping actually drops files; contents unchanged, commit
    invisible to incremental consumers, stats rewritten."""
    tbl = str(tmp_path / "tbl")
    # every commit spans the full key range (residue classes)
    for r in range(3):
        D.write_delta(
            spark.range(3000)
            .filter(F.col("id") % 3 == r)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1),
            tbl,
        )
    pre_hit = D.read_delta(spark, tbl, where={"k": "777"})
    assert len(pre_hit.inputFiles()) == 3  # unordered: nothing prunes
    before = {(r.k, r.v) for r in D.read_delta(spark, tbl).collect()}
    v_pre = D.latest_version(tbl)
    size = sum(
        a.get("size", 0)
        for a in D._snapshot(D.get_filesystem(tbl), tbl).adds.values()
    )
    res = D.optimize_delta(
        spark, tbl, target_file_bytes=max(1, size // 4), zorder_by=["k"]
    )
    assert res["rewritten"] == 3 and res["packed"] >= 4
    # contents byte-identical, change feed skips the re-layout
    assert {(r.k, r.v) for r in D.read_delta(spark, tbl).collect()} == before
    assert D.read_delta_changes(spark, tbl, v_pre).count() == 0
    # the point lookup now opens fewer files than the table holds
    post_hit = D.read_delta(spark, tbl, where={"k": "777"})
    assert 0 < len(post_hit.inputFiles()) < len(
        D.read_delta(spark, tbl).inputFiles()
    )
    assert [r.v for r in post_hit.collect()] == [1554]
    # guards
    with pytest.raises(D.DeltaError, match="not in table schema"):
        D.optimize_delta(spark, tbl, zorder_by=["nope"])


def test_optimize_zorder_multikey(spark, tmp_path):
    """Multi-key Z-order: both keys' bounds narrow per file, so a point
    lookup on EITHER key prunes; partition-column keys refuse."""
    tbl = str(tmp_path / "tbl")
    for r in range(2):
        D.write_delta(
            spark.range(4000)
            .filter(F.col("id") % 2 == r)
            .select(
                (F.col("id") % 64).alias("x"),
                (F.col("id") / 64).cast("bigint").alias("y"),
                F.lit("p0").alias("p"),
            )
            .coalesce(1),
            tbl,
            partition_by=["p"],
        )
    size = sum(
        a.get("size", 0)
        for a in D._snapshot(D.get_filesystem(tbl), tbl).adds.values()
    )
    res = D.optimize_delta(
        spark, tbl, target_file_bytes=max(1, size // 4), zorder_by=["x", "y"]
    )
    assert res["packed"] >= 4
    n_all = len(D.read_delta(spark, tbl).inputFiles())
    for probe in ({"x": "5"}, {"y": "5"}):
        hit = D.read_delta(spark, tbl, where=probe)
        assert 0 < len(hit.inputFiles()) < n_all, probe
    with pytest.raises(D.DeltaError, match="partition columns"):
        D.optimize_delta(spark, tbl, zorder_by=["p"])


def test_merge_conditional_and_partial(spark, tmp_path):
    """r17: WHEN MATCHED AND <cond> guards + UPDATE SET column subsets.
    Guarded-out rows stay untouched AND still suppress inserts; a
    guard that passes nowhere with no inserts is a no-op (no commit);
    CDC carries only the rows the clause actually hit."""
    tbl = str(tmp_path / "tbl")
    D.write_delta(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k long, v long, tag string",
        ),
        tbl,
    )
    src = spark.createDataFrame(
        [(1, 5, "x"), (2, 25, "y"), (9, 90, "z")], "k long, v long, tag string"
    )
    ver = D.merge_delta(spark, tbl, src, ["k"], when_matched=("update", "s.v > t.v"))
    out = {r.k: (r.v, r.tag) for r in D.read_delta(spark, tbl).collect()}
    assert out == {1: (10, "a"), 2: (25, "y"), 3: (30, "c"), 9: (90, "z")}
    ch = D.read_delta_changes(spark, tbl, ver - 1, cdf=True)
    assert sorted((r.k, r._change_type) for r in ch.collect()) == [
        (2, "update_postimage"), (2, "update_preimage"), (9, "insert"),
    ]
    # partial-column SET: v updates, tag survives; source needs only k+v
    D.merge_delta(
        spark, tbl, spark.createDataFrame([(2, 999)], "k long, v long"),
        ["k"], when_matched="update", when_not_matched=None, set_cols=["v"],
    )
    out = {r.k: (r.v, r.tag) for r in D.read_delta(spark, tbl).collect()}
    assert out[2] == (999, "y")
    # guard passes nowhere + matched key -> no commit AND no insert
    pre = D.latest_version(tbl)
    assert D.merge_delta(
        spark, tbl, spark.createDataFrame([(2, 1, "q")], "k long, v long, tag string"),
        ["k"], when_matched=("update", "s.v > t.v"), when_not_matched="insert",
    ) == -1
    assert D.latest_version(tbl) == pre
    assert {r.k for r in D.read_delta(spark, tbl).collect()} == {1, 2, 3, 9}
    # conditional delete
    D.merge_delta(
        spark, tbl, spark.createDataFrame([(1,), (3,)], "k long"),
        ["k"], when_matched=("delete", "t.v >= 30"), when_not_matched=None,
    )
    assert {r.k for r in D.read_delta(spark, tbl).collect()} == {1, 2, 9}
    # guards
    with pytest.raises(D.DeltaError, match="set_cols requires"):
        D.merge_delta(spark, tbl, src, ["k"], when_matched="delete",
                      when_not_matched=None, set_cols=["v"])
    with pytest.raises(D.DeltaError, match="cannot insert"):
        D.merge_delta(spark, tbl, src, ["k"], set_cols=["v"])
    with pytest.raises(D.DeltaError, match="not non-key"):
        D.merge_delta(spark, tbl, src, ["k"], when_not_matched=None,
                      set_cols=["k"])


def test_update_with_deletion_vectors(spark, tmp_path):
    """update_delta(dv=True): matched rows hide behind per-file DVs and
    the updated versions append in the same commit — no data file
    rewritten, time travel and the pre/postimage change feed intact."""
    root = str(tmp_path / "tbl")
    df = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1)
    D.write_delta(df, root)
    v = D.update_delta(spark, root, "k % 2 = 0", {"v": "v + 100"}, dv=True)
    got = {r.k: r.v for r in D.read_delta(spark, root).collect()}
    assert got == {0: 100, 1: 2, 2: 104, 3: 6, 4: 108, 5: 10}
    assert D.read_delta(spark, root, version=0).count() == 6
    ch = D.read_delta_changes(spark, root, start_version=0, cdf=True)
    kinds = sorted((r.k, r._change_type) for r in ch.collect())
    assert kinds == sorted(
        [(k, "update_preimage") for k in (0, 2, 4)]
        + [(k, "update_postimage") for k in (0, 2, 4)]
    )
    # the original file SURVIVES with a DV; one new file holds the
    # updated rows
    snap = D._snapshot(D.get_filesystem(root), root)
    assert len(snap.adds) == 2
    assert sum(1 for a in snap.adds.values() if a.get("deletionVector")) == 1
    # a DV delete after the DV update composes (merges on the same file)
    D.delete_delta_rows(spark, root, "k = 1", dv=True)
    assert sorted(r.k for r in D.read_delta(spark, root).collect()) == [
        0, 2, 3, 4, 5,
    ]
    assert D.update_delta(spark, root, "k = 99", {"v": "0"}, dv=True) == -1
