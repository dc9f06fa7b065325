"""Iceberg SNAPSHOT REFERENCES (sources/iceberg.py, spec §Snapshot
References): named branches and tags, branch-targeted writes, ref
reads, the fast-forward publish (write-audit-publish), expiry pinning,
and the REST catalog's set/remove-snapshot-ref updates.  Reference:
iceberg.apache.org/spec; no counterpart in the reference repo (§2.E
north-star surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gofeed_spark.fs import get_filesystem
from gofeed_spark.sources import iceberg as I


def _kv(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(1)
        .sortWithinPartitions("k")
    )


def _meta(root):
    return I._load_metadata(get_filesystem(root), root)[0]


def test_branch_stage_and_publish(spark, tmp_path):
    root = str(tmp_path / "tbl")
    I.write_iceberg(_kv(spark, 0, 5), root)
    I.set_iceberg_ref(root, "audit")
    I.set_iceberg_ref(root, "rel", ref_type="tag")

    b1 = I.write_iceberg(_kv(spark, 5, 8), root, branch="audit")
    I.write_iceberg(_kv(spark, 8, 10), root, branch="audit")

    # staged commits are invisible on main, visible on the branch; the
    # tag pins the creation-time state
    assert I.read_iceberg(spark, root).count() == 5
    got = sorted(r.k for r in I.read_iceberg(spark, root, ref="audit").collect())
    assert got == list(range(10))
    assert I.read_iceberg(spark, root, ref="rel").count() == 5

    # branch snapshots parent from the branch head, not main
    meta = _meta(root)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    head = meta["refs"]["audit"]["snapshot-id"]
    assert by_id[head]["parent-snapshot-id"] == b1
    # main's log never saw the staged commits
    assert len(meta.get("snapshot-log") or []) == 1

    # publish: one atomic metadata move
    I.fast_forward_iceberg(root, "main", "audit")
    assert I.read_iceberg(spark, root).count() == 10
    # a second publish is a no-op; moving a branch BACKWARD refuses
    I.fast_forward_iceberg(root, "main", "audit")
    with pytest.raises(I.IcebergError, match="not a fast-forward"):
        I.fast_forward_iceberg(root, "audit", "rel")


def test_ref_guards_and_drop(spark, tmp_path):
    root = str(tmp_path / "tbl")
    I.write_iceberg(_kv(spark, 0, 3), root)
    with pytest.raises(I.IcebergError, match="does not exist"):
        I.write_iceberg(_kv(spark, 3, 5), root, branch="nope")
    with pytest.raises(I.IcebergError, match="does not exist"):
        I.read_iceberg(spark, root, ref="nope")
    I.set_iceberg_ref(root, "t1", ref_type="tag")
    # a tag is not a write target, and its type is sticky
    with pytest.raises(I.IcebergError, match="does not exist|tag"):
        I.write_iceberg(_kv(spark, 3, 5), root, branch="t1")
    with pytest.raises(I.IcebergError, match="exists as a"):
        I.set_iceberg_ref(root, "t1", ref_type="branch")
    with pytest.raises(I.IcebergError, match="main"):
        I.drop_iceberg_ref(root, "main")
    I.drop_iceberg_ref(root, "t1")
    with pytest.raises(I.IcebergError, match="does not exist"):
        I.drop_iceberg_ref(root, "t1")
    # branch="main" is just the default write
    I.write_iceberg(_kv(spark, 3, 5), root, branch="main")
    assert I.read_iceberg(spark, root).count() == 5


def test_expire_pins_ref_targets(spark, tmp_path):
    root = str(tmp_path / "tbl")
    I.write_iceberg(_kv(spark, 0, 3), root)
    I.set_iceberg_ref(root, "keepme", ref_type="tag")
    for lo in (3, 6, 9):
        I.write_iceberg(_kv(spark, lo, lo + 3), root)
    I.expire_iceberg(root, keep_last=1)
    # the tagged snapshot survives expiry and still reads
    assert I.read_iceberg(spark, root, ref="keepme").count() == 3
    assert I.read_iceberg(spark, root).count() == 12


def test_v3_branch_lineage_global(spark, tmp_path):
    """Row ids are TABLE-global across branches: a branch append
    consumes ids from the shared next-row-id, so publishing never
    collides ids."""
    root = str(tmp_path / "tbl")
    I.write_iceberg(_kv(spark, 0, 5), root, format_version=3)
    I.set_iceberg_ref(root, "audit")
    I.write_iceberg(_kv(spark, 5, 8), root, branch="audit")
    rows = (
        I.read_iceberg(spark, root, ref="audit", row_lineage=True)
        .orderBy("k")
        .collect()
    )
    assert [(r["k"], r["_row_id"]) for r in rows] == [(i, i) for i in range(8)]
    assert _meta(root)["next-row-id"] == 8
    # a main append AFTER the branch staged continues above it
    I.write_iceberg(_kv(spark, 100, 102), root)
    rows = I.read_iceberg(spark, root, row_lineage=True).collect()
    by_k = {r["k"]: r["_row_id"] for r in rows}
    assert by_k[100] == 8 and by_k[101] == 9


def test_refs_through_rest_catalog(spark, tmp_path):
    from gofeed_spark.sources.icecatalog import (
        RestCatalog,
        RestCatalogServer,
        commit_iceberg_rest,
        create_iceberg_rest,
        read_iceberg_rest,
    )

    with RestCatalogServer(str(tmp_path / "wh")) as server:
        cat = RestCatalog(server.uri)
        cat.create_namespace("ns")
        loc = f"{server.warehouse}/ns/t1"
        create_iceberg_rest(
            cat, "ns.t1", loc, lambda p: I.write_iceberg(_kv(spark, 0, 4), p)
        )
        commit_iceberg_rest(
            cat, "ns.t1", lambda p: I.set_iceberg_ref(p, "audit")
        )
        commit_iceberg_rest(
            cat, "ns.t1",
            lambda p: I.write_iceberg(_kv(spark, 4, 7), p, branch="audit"),
        )
        meta = cat.load_table("ns.t1")["metadata"]
        assert "audit" in (meta.get("refs") or {})
        assert read_iceberg_rest(spark, cat, "ns.t1").count() == 4
        assert read_iceberg_rest(spark, cat, "ns.t1", ref="audit").count() == 7
        commit_iceberg_rest(
            cat, "ns.t1", lambda p: I.fast_forward_iceberg(p, "main", "audit")
        )
        assert read_iceberg_rest(spark, cat, "ns.t1").count() == 7
        commit_iceberg_rest(
            cat, "ns.t1", lambda p: I.drop_iceberg_ref(p, "audit")
        )
        meta = cat.load_table("ns.t1")["metadata"]
        assert "audit" not in (meta.get("refs") or {})


def test_metadata_tables(spark, tmp_path):
    """read_iceberg_meta: every kind answers from the metadata tree with
    zero data-file reads; files includes live DELETE entries; partitions
    aggregates per partition record; unknown kinds refuse."""
    root = str(tmp_path / "tbl")
    docs = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("p"),
    )
    I.write_iceberg(docs.filter("k < 20").repartition("p"), root,
                    partition_by=["p"])
    I.write_iceberg(docs.filter("k >= 20").repartition("p"), root,
                    partition_by=["p"])
    I.delete_iceberg_rows(spark, root, "k = 3")
    I.set_iceberg_ref(root, "t0", ref_type="tag", snapshot_id=1)

    snaps = I.read_iceberg_meta(spark, root, "snapshots").collect()
    assert [r["operation"] for r in snaps] == ["append", "append", "delete"]
    assert [r["snapshot_id"] for r in snaps] == [1, 2, 3]
    assert snaps[1]["parent_id"] == 1

    hist = I.read_iceberg_meta(spark, root, "history").collect()
    assert [r["snapshot_id"] for r in hist] == [1, 2, 3]
    assert all(r["is_current_ancestor"] for r in hist)

    refs = {r["name"]: r for r in I.read_iceberg_meta(spark, root, "refs").collect()}
    assert refs["main"]["snapshot_id"] == 3 and refs["t0"]["type"] == "tag"

    files = I.read_iceberg_meta(spark, root, "files").collect()
    data = [r for r in files if r["content"] == 0]
    dels = [r for r in files if r["content"] == 1]
    assert len(data) == 8 and len(dels) == 1  # 4 parts x 2 appends + 1 del
    assert sum(r["record_count"] for r in data) == 40

    parts = I.read_iceberg_meta(spark, root, "partitions").collect()
    assert len(parts) == 4
    assert all(r["file_count"] == 2 and r["record_count"] == 10 for r in parts)

    # as-of: the tag sees only the first append
    p0 = I.read_iceberg_meta(spark, root, "partitions", ref="t0").collect()
    assert all(r["file_count"] == 1 for r in p0)

    mfs = I.read_iceberg_meta(spark, root, "manifests").collect()
    assert sum(1 for r in mfs if r["content"] == 1) == 1

    with pytest.raises(I.IcebergError, match="unknown metadata table"):
        I.read_iceberg_meta(spark, root, "nope")


def test_remove_orphan_files(spark, tmp_path):
    """remove_orphan_iceberg sweeps data/metadata files no snapshot
    references (crashed-publish leftovers) without touching anything
    reachable — time travel and refs keep working; min_age_s guards
    in-flight commits."""
    root = str(tmp_path / "tbl")
    I.write_iceberg(_kv(spark, 0, 5), root)
    s1 = I.latest_snapshot(root)
    I.write_iceberg(_kv(spark, 5, 8), root)
    fs = get_filesystem(root)
    # plant crashed-publish leftovers: a data file and a manifest no
    # snapshot references
    live_rel = next(
        rel for rel, _s in fs.walk_files(root) if rel.endswith(".parquet")
    )
    fs.put_bytes(
        f"{root}/data/part-99999-deadbeef.parquet",
        fs.read_bytes(f"{root}/{live_rel}"),
    )
    fs.put_bytes(f"{root}/metadata/m-99-deadbeef.avro", b"junk")

    young = I.remove_orphan_iceberg(root, dry_run=True, min_age_s=3600)
    assert young == []  # both orphans are younger than the cutoff
    listed = I.remove_orphan_iceberg(root, dry_run=True)
    assert listed == [
        "data/part-99999-deadbeef.parquet", "metadata/m-99-deadbeef.avro"
    ]
    removed = I.remove_orphan_iceberg(root)
    assert removed == listed
    assert I.read_iceberg(spark, root).count() == 8
    assert I.read_iceberg(spark, root, snapshot_id=s1).count() == 5
    assert I.remove_orphan_iceberg(root) == []


def test_incremental_reads_follow_one_branch(spark, tmp_path):
    """Branch-staged commits share the table's sequence space but must
    never leak into a main consumer's incremental read or stream — the
    window is the target's ancestor chain."""
    root = str(tmp_path / "tbl")
    s1 = I.write_iceberg(_kv(spark, 0, 5), root)
    I.set_iceberg_ref(root, "audit")
    sb = I.write_iceberg(_kv(spark, 5, 8), root, branch="audit")
    I.write_iceberg(_kv(spark, 100, 102), root)  # main append AFTER staging

    inc = I.read_iceberg_changes(spark, root, from_snapshot_id=s1)
    assert sorted(r.k for r in inc.collect()) == [100, 101]  # no 5..7

    # a from-snapshot on another branch contributes only its sequence
    # floor: the consumer reads the MAIN chain above it, never the
    # branch rows (the rollback/abandoned-consumer contract)
    inc2 = I.read_iceberg_changes(spark, root, from_snapshot_id=sb)
    assert sorted(r.k for r in inc2.collect()) == [100, 101]

    # the streaming source plans the same way: branch seqs deliver nothing
    from gofeed_spark.sources.tablestream import IcebergFeedDataSource

    rdr = IcebergFeedDataSource({"path": root}).streamReader(None)
    head = rdr.latestOffset()
    parts = rdr.partitions({"seq": 0}, head)
    import pyarrow.parquet as pq

    rows = []
    for p in parts:
        for f in p.files:
            rows += pq.read_table(f[0].replace("file:", "")).column("k").to_pylist()
    assert sorted(rows) == [0, 1, 2, 3, 4, 100, 101]
