"""Foreign-writer fixture insurance (VERDICT r14 item 9): the table
readers' dialect-tolerance claims, proven against metadata trees a
DIFFERENT writer produced — hand-assembled here byte-by-byte (raw JSON
lines, pyarrow parquet, v1-shaped Avro schemas) with none of this repo's
writer code on the producing side, carrying the quirks real engines emit
and our own writer never does:

Delta: percent-encoded add paths, stats strings, extended remove fields,
unknown commitInfo/configuration keys, tags on adds, a checkpoint whose
structs carry extra columns.

Iceberg: a FORMAT-VERSION 1 tree — singular ``schema``/``partition-spec``
metadata keys, snapshots without sequence numbers, ``{seq}-{uuid}``
metadata file names, v1 manifest-list field names
(``added_files_count``...), manifest entries without
sequence/content fields, string-typed identity partition values.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gofeed_spark.sources import delta as D
from gofeed_spark.sources import iceberg as I
from gofeed_spark.sources.avrocodec import write_container


def _pq_write(path, cols: dict):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


# --- Delta: hand-assembled log -------------------------------------------------


def _foreign_delta(root: str) -> None:
    """Two commits, partitioned by grp, written the way a JVM writer
    would: uuid basenames, percent-encoded paths, stats and tags on the
    adds, extended remove/commitInfo fields."""
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "doc_id", "type": "long", "nullable": True,
                 "metadata": {"comment": "pk"}},
                {"name": "grp", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "val", "type": "double", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    # data files carry only the non-partition columns
    _pq_write(
        f"{root}/grp=a b/part-0000-f1.c000.snappy.parquet",
        {"doc_id": [1, 2], "val": [1.5, 2.5]},
    )
    _pq_write(
        f"{root}/grp=z/part-0000-f2.c000.snappy.parquet",
        {"doc_id": [3], "val": [3.5]},
    )
    _pq_write(
        f"{root}/grp=z/part-0000-f3.c000.snappy.parquet",
        {"doc_id": [4], "val": [4.5]},
    )
    os.makedirs(f"{root}/_delta_log", exist_ok=True)
    c0 = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE",
                        "operationParameters": {"mode": "ErrorIfExists"},
                        "isolationLevel": "Serializable", "isBlindAppend": True,
                        "engineInfo": "Apache-Spark/3.5.0 Delta-Lake/3.1.0",
                        "txnId": "aaaa-bbbb"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "11111111-2222-3333-4444-555555555555",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema_string,
                      "partitionColumns": ["grp"],
                      "configuration": {"delta.appendOnly": "false"},
                      "createdTime": 1700000000000}},
        {"add": {"path": "grp=a%20b/part-0000-f1.c000.snappy.parquet",
                 "partitionValues": {"grp": "a b"},
                 "size": os.path.getsize(
                     f"{root}/grp=a b/part-0000-f1.c000.snappy.parquet"),
                 "modificationTime": 1700000000000, "dataChange": True,
                 "stats": json.dumps({"numRecords": 2,
                                      "minValues": {"doc_id": 1},
                                      "maxValues": {"doc_id": 2},
                                      "nullCount": {"doc_id": 0}}),
                 "tags": {"INSERTION_TIME": "1700000000000000"}}},
        {"add": {"path": "grp=z/part-0000-f2.c000.snappy.parquet",
                 "partitionValues": {"grp": "z"},
                 "size": os.path.getsize(
                     f"{root}/grp=z/part-0000-f2.c000.snappy.parquet"),
                 "modificationTime": 1700000000000, "dataChange": True,
                 "stats": json.dumps({"numRecords": 1})}},
    ]
    # commit 1: replaces f2 with f3 (an overwrite of one partition's file)
    c1 = [
        {"commitInfo": {"timestamp": 1700000001000, "operation": "DELETE",
                        "operationMetrics": {"numRemovedFiles": "1"}}},
        {"remove": {"path": "grp=z/part-0000-f2.c000.snappy.parquet",
                    "deletionTimestamp": 1700000001000, "dataChange": True,
                    "extendedFileMetadata": True,
                    "partitionValues": {"grp": "z"}, "size": 10}},
        {"add": {"path": "grp=z/part-0000-f3.c000.snappy.parquet",
                 "partitionValues": {"grp": "z"},
                 "size": os.path.getsize(
                     f"{root}/grp=z/part-0000-f3.c000.snappy.parquet"),
                 "modificationTime": 1700000001000, "dataChange": True}},
    ]
    for v, actions in ((0, c0), (1, c1)):
        with open(f"{root}/_delta_log/{v:020d}.json", "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")


def test_foreign_delta_reads_and_time_travels(spark, tmp_path):
    root = str(tmp_path / "dtbl")
    _foreign_delta(root)
    got = {
        (r.doc_id, r.grp, r.val) for r in D.read_delta(spark, root).collect()
    }
    assert got == {(1, "a b", 1.5), (2, "a b", 2.5), (4, "z", 4.5)}
    v0 = {
        (r.doc_id, r.grp, r.val)
        for r in D.read_delta(spark, root, version=0).collect()
    }
    assert v0 == {(1, "a b", 1.5), (2, "a b", 2.5), (3, "z", 3.5)}
    # percent-encoded path + partition pruning work together
    pruned = D.read_delta(spark, root, where={"grp": "a b"})
    assert {r.doc_id for r in pruned.collect()} == {1, 2}
    # our writer can APPEND to the foreign table (schema validated)
    df = spark.createDataFrame(
        [(9, "z", 9.5)], "doc_id long, grp string, val double"
    )
    D.write_delta(df, root, partition_by=["grp"])
    assert D.read_delta(spark, root).count() == 4
    # and checkpoint the foreign log, replaying identically after
    D.checkpoint_delta(root)
    D.write_delta(df.withColumn("doc_id", df.doc_id + 1), root,
                  partition_by=["grp"])
    assert {
        r.doc_id for r in D.read_delta(spark, root).collect()
    } == {1, 2, 4, 9, 10}


def test_foreign_delta_change_feed_refuses_remove_window(spark, tmp_path):
    root = str(tmp_path / "dtbl")
    _foreign_delta(root)
    with pytest.raises(D.DeltaUnsupported):
        D.read_delta_changes(spark, root, -1)  # commit 1 removes data
    ch = D.read_delta_changes(spark, root, -1, end_version=0)
    assert ch.count() == 3


# --- Iceberg: hand-assembled FORMAT-VERSION 1 tree -----------------------------

#: v1 manifest-list schema — the RENAMED count fields, no content/seq
_V1_MANIFEST_FILE = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
        {"name": "added_files_count", "type": ["null", "int"]},
        {"name": "existing_files_count", "type": ["null", "int"]},
        {"name": "deleted_files_count", "type": ["null", "int"]},
    ],
}

#: v1 manifest entry — no sequence numbers, no content in data_file
_V1_MANIFEST_ENTRY = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {
                            "type": "record",
                            "name": "r102",
                            "fields": [
                                {"name": "cat", "type": ["null", "string"]}
                            ],
                        },
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "block_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


def _foreign_iceberg_v1(root: str) -> None:
    """One snapshot, identity-partitioned on a string column, in the v1
    dialect end to end (what a 2019-era Java writer produced)."""
    md = f"{root}/metadata"
    os.makedirs(md, exist_ok=True)
    _pq_write(f"{root}/data/cat=x/00000-0-deadbeef.parquet",
              {"doc_id": [1, 2], "val": [1.5, 2.5]})
    _pq_write(f"{root}/data/cat=y/00000-1-deadbeef.parquet",
              {"doc_id": [3], "val": [3.5]})
    entries = [
        {"status": 1, "snapshot_id": 4242,
         "data_file": {"file_path": f"{root}/data/cat=x/00000-0-deadbeef.parquet",
                       "file_format": "PARQUET", "partition": {"cat": "x"},
                       "record_count": 2,
                       "file_size_in_bytes": os.path.getsize(
                           f"{root}/data/cat=x/00000-0-deadbeef.parquet"),
                       "block_size_in_bytes": 67108864}},
        {"status": 1, "snapshot_id": 4242,
         "data_file": {"file_path": f"{root}/data/cat=y/00000-1-deadbeef.parquet",
                       "file_format": "PARQUET", "partition": {"cat": "y"},
                       "record_count": 1,
                       "file_size_in_bytes": os.path.getsize(
                           f"{root}/data/cat=y/00000-1-deadbeef.parquet"),
                       "block_size_in_bytes": 67108864}},
    ]
    manifest = write_container(json.dumps(_V1_MANIFEST_ENTRY), entries)
    mpath = f"{md}/m0-deadbeef.avro"
    open(mpath, "wb").write(manifest)
    mlist = write_container(
        json.dumps(_V1_MANIFEST_FILE),
        [{"manifest_path": mpath, "manifest_length": len(manifest),
          "partition_spec_id": 0, "added_snapshot_id": 4242,
          "added_files_count": 2, "existing_files_count": 0,
          "deleted_files_count": 0}],
    )
    lpath = f"{md}/snap-4242-1-deadbeef.avro"
    open(lpath, "wb").write(mlist)
    meta = {
        "format-version": 1,
        "table-uuid": "99999999-8888-7777-6666-555555555555",
        "location": root,
        "last-updated-ms": 1700000000000,
        "last-column-id": 3,
        # v1 SINGULAR forms: schema + partition-spec, no schemas list
        "schema": {
            "type": "struct",
            "fields": [
                {"id": 1, "name": "doc_id", "required": False, "type": "long"},
                {"id": 2, "name": "cat", "required": False, "type": "string"},
                {"id": 3, "name": "val", "required": False, "type": "double"},
            ],
        },
        "partition-spec": [
            {"name": "cat", "transform": "identity", "source-id": 2,
             "field-id": 1000}
        ],
        "properties": {"write.format.default": "parquet"},
        "current-snapshot-id": 4242,
        "snapshots": [
            # v1: NO sequence-number
            {"snapshot-id": 4242, "timestamp-ms": 1700000000000,
             "summary": {"operation": "append"}, "manifest-list": lpath}
        ],
        "snapshot-log": [
            {"timestamp-ms": 1700000000000, "snapshot-id": 4242}
        ],
    }
    # external-writer metadata file NAME dialect: {seq}-{uuid}.metadata.json
    with open(f"{md}/00001-aaaa-bbbb.metadata.json", "w") as f:
        json.dump(meta, f)
    # no version-hint.text: the reader must fall back to listing


def test_foreign_iceberg_v1_reads(spark, tmp_path):
    root = str(tmp_path / "itbl")
    _foreign_iceberg_v1(root)
    out = I.read_iceberg(spark, root)
    assert out.columns == ["doc_id", "cat", "val"]
    got = {(r.doc_id, r.cat, r.val) for r in out.collect()}
    assert got == {(1, "x", 1.5), (2, "x", 2.5), (3, "y", 3.5)}
    # manifest-level pruning on the string identity partition
    pruned = I.read_iceberg(spark, root, where={"cat": "x"})
    assert {r.doc_id for r in pruned.collect()} == {1, 2}
    assert len(pruned.inputFiles()) == 1
    # v1 contracts: plain read fine, write/changes/stream refuse loudly
    with pytest.raises(I.IcebergUnsupported, match="format-version 1"):
        I.write_iceberg(out.limit(1), root)
    with pytest.raises(I.IcebergUnsupported, match="sequence numbers"):
        I.read_iceberg_changes(spark, root, 0)
    with pytest.raises(I.IcebergUnsupported, match="sequence numbers"):
        I.delete_iceberg_rows(spark, root, "doc_id = 1")
    assert I.iceberg_history(root)[0]["snapshot_id"] == 4242


# --- Delta: V2 (UUID-named) checkpoint with sidecars ---------------------------


def _v2_checkpoint(spark, root: str, as_json: bool) -> None:
    """Hand-assemble a checkpointPolicy=v2 checkpoint at the table's
    HEAD the way a newer Databricks/JVM writer would: a UUID-named
    manifest (parquet or json) carrying protocol/metaData/
    checkpointMetadata plus ``sidecar`` pointers, the add actions living
    in ``_delta_log/_sidecars/*.parquet``, the pre-checkpoint commit
    jsons gone (truncated log — the checkpoint is the only way back)."""
    fs = D.get_filesystem(root)
    snap = D._snapshot(fs, root)
    log = f"{root}/_delta_log"
    u = "80a083e8-7026-4e79-81be-64bd76c43a11"
    adds = list(snap.adds.values())
    # two sidecars, split the adds between them
    sc_names = [f"{u}-{i:03d}.parquet" for i in range(2)]
    halves = [adds[::2], adds[1::2]]
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    for name, half in zip(sc_names, halves):
        rows = [
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": list(
                        (a.get("partitionValues") or {}).items()
                    ),
                    "size": a.get("size", 0),
                    "modificationTime": a.get("modificationTime", 0),
                    "dataChange": True,
                    "stats": a.get("stats"),
                },
                "remove": None,
            }
            for a in half
        ]
        _pq_write(
            f"{log}/_sidecars/{name}",
            {
                "add": pa.array([r["add"] for r in rows], type=add_t),
                "remove": pa.array(
                    [None] * len(rows),
                    type=pa.struct([("path", pa.string())]),
                ),
            },
        )
    manifest_rows = [
        # real checkpointPolicy=v2 writers advertise the feature in the
        # protocol — readers that understand the form must accept it
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }
        },
        {"metaData": snap.metadata},
        {
            "checkpointMetadata": {
                "version": snap.version,
                "tags": {"writer": "foreign"},
            }
        },
    ] + [
        {"sidecar": {"path": n, "sizeInBytes": 1, "tags": {}}}
        for n in sc_names
    ]
    if as_json:
        body = "\n".join(json.dumps(r) for r in manifest_rows)
        with open(f"{log}/{snap.version:020d}.checkpoint.{u}.json", "w") as fh:
            fh.write(body)
    else:
        kv = pa.map_(pa.string(), pa.string())
        types = {
            "protocol": pa.struct(
                [("minReaderVersion", pa.int32()),
                 ("minWriterVersion", pa.int32()),
                 ("readerFeatures", pa.list_(pa.string())),
                 ("writerFeatures", pa.list_(pa.string()))]
            ),
            "metaData": pa.struct(
                [
                    ("id", pa.string()),
                    ("format", pa.struct(
                        [("provider", pa.string()), ("options", kv)]
                    )),
                    ("schemaString", pa.string()),
                    ("partitionColumns", pa.list_(pa.string())),
                    ("configuration", kv),
                    ("createdTime", pa.int64()),
                ]
            ),
            "checkpointMetadata": pa.struct(
                [("version", pa.int64()), ("tags", kv)]
            ),
            "sidecar": pa.struct(
                [("path", pa.string()), ("sizeInBytes", pa.int64()),
                 ("tags", kv)]
            ),
        }

        def _mapify(v):
            # dict payloads → map-typed lists the way JVM writers store them
            if not isinstance(v, dict):
                return v
            out = {}
            for k, x in v.items():
                if isinstance(x, dict) and k in (
                    "configuration", "tags", "options", "format"
                ):
                    out[k] = (
                        _mapify(x) if k == "format" else list(x.items())
                    )
                else:
                    out[k] = x
            return out

        cols = {
            k: pa.array(
                [_mapify(r.get(k)) for r in manifest_rows], type=types[k]
            )
            for k in types
        }
        _pq_write(f"{log}/{snap.version:020d}.checkpoint.{u}.parquet", cols)
    with open(f"{log}/_last_checkpoint", "w") as fh:
        json.dump({"version": snap.version}, fh)
    for v in range(snap.version + 1):
        os.remove(f"{log}/{v:020d}.json")


@pytest.mark.parametrize("as_json", [False, True])
def test_foreign_delta_v2_checkpoint(spark, tmp_path, as_json):
    """A table whose only log state is a V2 (UUID-named) checkpoint with
    sidecar files reads, appends, and re-checkpoints (r16 verdict
    missing item 3)."""
    root = str(tmp_path / "tbl")
    from pyspark.sql import functions as F

    for lo in (0, 10, 20):
        D.write_delta(
            spark.range(lo, lo + 10).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            root,
        )
    _v2_checkpoint(spark, root, as_json)
    got = {r.k: r.v for r in D.read_delta(spark, root).collect()}
    assert got == {i: i * 2 for i in range(30)}
    # appends on top of the v2 checkpoint work
    D.write_delta(
        spark.createDataFrame([(100, 200)], "k long, v long"), root
    )
    assert D.read_delta(spark, root).count() == 31
    assert D.latest_version(root) == 3
    # stats survived the sidecar round trip: point lookup still prunes
    hit = D.read_delta(spark, root, where={"k": "15"})
    assert [r.v for r in hit.collect()] == [30]
    assert len(hit.inputFiles()) < len(D.read_delta(spark, root).inputFiles())
    # and OUR classic checkpoint writer composes on top
    D.checkpoint_delta(root)
    assert D.read_delta(spark, root).count() == 31


# --- Iceberg: FORMAT-VERSION 3 tree with deletion vectors ----------------------


def test_puffin_codec_roundtrip():
    from gofeed_spark.sources import puffin as P

    blob = P.encode_dv_blob([1, 5, 7, 100000])
    assert P.decode_dv_blob(blob) == {1, 5, 7, 100000}
    data = P.write_puffin(
        [({"type": "deletion-vector-v1", "fields": [], "snapshot-id": 9,
           "sequence-number": 3}, blob)]
    )
    foot = P.read_footer(data)
    b = foot["blobs"][0]
    assert b["type"] == "deletion-vector-v1"
    got = P.read_blob(data, b["offset"], b["length"])
    assert P.decode_dv_blob(got) == {1, 5, 7, 100000}
    # corrupt CRC refuses
    bad = bytearray(blob)
    bad[-1] ^= 0xFF
    with pytest.raises(P.PuffinError, match="CRC"):
        P.decode_dv_blob(bytes(bad))
    # compressed footers refuse (conservative: never guess)
    comp = bytearray(data)
    comp[-8] |= 1
    with pytest.raises(P.PuffinError, match="compressed"):
        P.read_footer(bytes(comp))
    with pytest.raises(P.PuffinError, match="magic"):
        P.read_footer(b"nope" + data[4:])


def _upgrade_to_v3_with_dv(root: str, positions: list[int]) -> None:
    """Hand-upgrade a v2 table the way a v3 writer would commit a
    DELETION VECTOR: a Puffin file holding one deletion-vector-v1 blob
    for the FIRST data file, a delete manifest whose entry addresses the
    blob (referenced_data_file + content_offset/size), a new manifest
    list carrying the prior manifests by pointer, and format-version 3
    metadata."""
    import copy

    from gofeed_spark.fs import get_filesystem
    from gofeed_spark.sources import puffin as P

    fs = get_filesystem(root)
    meta, version = I._load_metadata(fs, root)
    snap = I._snapshot_of(meta, None)
    data, _dels = I._live_entries(fs, snap)
    # the FIRST COMMIT's file (uuid basenames sort randomly vs write
    # order — key by data sequence number, not path)
    target = sorted(data, key=lambda e: int(e.get("_seq", 0)))[0]["file_path"]

    blob = P.encode_dv_blob(positions)
    pf_bytes = P.write_puffin(
        [({"type": "deletion-vector-v1", "fields": [],
           "snapshot-id": 777, "sequence-number": 99}, blob)]
    )
    pf_path = f"{root}/data/dv-00001-foreign.puffin"
    foot = P.read_footer(pf_bytes)
    off, ln = foot["blobs"][0]["offset"], foot["blobs"][0]["length"]
    fs.put_bytes(pf_path, pf_bytes)

    # v3 entry schema: the v2 shape + the DV addressing fields
    entry_schema = copy.deepcopy(I._manifest_entry_schema([]))
    for f in entry_schema["fields"]:
        if f["name"] == "data_file":
            f["type"]["fields"] += [
                {"name": "referenced_data_file", "type": ["null", "string"]},
                {"name": "content_offset", "type": ["null", "long"]},
                {"name": "content_size_in_bytes", "type": ["null", "long"]},
            ]
    seq = int(meta.get("last-sequence-number", 0)) + 1
    sid = 777
    dv_entry = {
        "status": 1,
        "snapshot_id": sid,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": 1,
            "file_path": pf_path,
            "file_format": "PUFFIN",
            "partition": {},
            "record_count": len(positions),
            "file_size_in_bytes": len(pf_bytes),
            "referenced_data_file": target,
            "content_offset": off,
            "content_size_in_bytes": ln,
        },
    }
    mbytes = write_container(json.dumps(entry_schema), [dv_entry])
    mpath = f"{root}/metadata/m-{sid}-foreign-dv.avro"
    fs.put_bytes(mpath, mbytes)
    mf_rec = {
        "manifest_path": mpath,
        "manifest_length": len(mbytes),
        "partition_spec_id": 0,
        "content": 1,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": sid,
        "added_data_files_count": 1,
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": len(positions),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    mlist = write_container(
        json.dumps(I._MANIFEST_FILE_SCHEMA),
        [mf_rec] + I._carry_manifests(fs, meta),
    )
    lpath = f"{root}/metadata/snap-{sid}-foreign.avro"
    fs.put_bytes(lpath, mlist)
    new_meta = dict(meta)
    new_meta["format-version"] = 3
    new_meta["next-row-id"] = 0
    new_meta["last-sequence-number"] = seq
    new_meta["current-snapshot-id"] = sid
    new_meta["snapshots"] = list(meta["snapshots"]) + [
        {
            "snapshot-id": sid,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": seq,
            "summary": {"operation": "delete"},
            "manifest-list": lpath,
            "schema-id": 0,
        }
    ]
    new_meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"timestamp-ms": seq, "snapshot-id": sid}
    ]
    I._publish_metadata(fs, root, version, new_meta)


def test_foreign_iceberg_v3_deletion_vectors(spark, tmp_path):
    """A format-version 3 table whose position deletes are Puffin
    DELETION VECTORS reads merge-on-read, time travels below the DV,
    and accepts lineage-assigning appends (the r17 v3 writer)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    I.write_iceberg(
        spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1),
        root,
    )
    I.write_iceberg(
        spark.range(10, 20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1),
        root,
    )
    pre = I.latest_snapshot(root)
    _upgrade_to_v3_with_dv(root, [1, 3, 5])
    got = sorted(r.k for r in I.read_iceberg(spark, root).collect())
    assert got == [0, 2, 4, 6, 7, 8, 9] + list(range(10, 20))
    # time travel BELOW the DV still sees every row
    assert I.read_iceberg(spark, root, snapshot_id=pre).count() == 20
    # point lookup on a deleted key comes back empty, on a live key works
    assert I.read_iceberg(spark, root, where={"k": "3"}).count() == 0
    assert [r.v for r in I.read_iceberg(spark, root, where={"k": "4"}).collect()] == [8]
    # v3 writes WORK now (r17 writer support): the append lands above
    # the DV and gets row lineage from the foreign next-row-id base
    I.write_iceberg(spark.createDataFrame([(99, 0)], "k long, v long"), root)
    rows = I.read_iceberg(spark, root, row_lineage=True).collect()
    by_k = {r.k: r["_row_id"] for r in rows}
    assert 99 in by_k and by_k[99] == 0  # foreign meta set next-row-id=0
    assert by_k[4] is None  # pre-lineage files stay NULL


def test_foreign_iceberg_v3_initial_default_refuses(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    I.write_iceberg(
        spark.range(3).select(F.col("id").alias("k")), root
    )
    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(root)
    meta, version = I._load_metadata(fs, root)
    new_meta = json.loads(json.dumps(meta))
    new_meta["format-version"] = 3
    sch = new_meta["schemas"][0]
    sch["fields"].append(
        {"id": 99, "name": "grade", "required": False, "type": "string",
         "initial-default": "B"}
    )
    new_meta["last-column-id"] = 99
    I._publish_metadata(fs, root, version, new_meta)
    with pytest.raises(I.IcebergUnsupported, match="initial-default"):
        I.read_iceberg(spark, root).collect()


def test_foreign_iceberg_v3_dv_changelog(spark, tmp_path):
    """The changelog reads a v3 DELETION-VECTOR snapshot as delete rows
    (parent-state semi-join against the decoded DV coordinates)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    I.write_iceberg(
        spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1),
        root,
    )
    pre = I.latest_snapshot(root)
    _upgrade_to_v3_with_dv(root, [2, 4])
    ch = I.read_iceberg_changes(spark, root, pre, cdf=True)
    assert sorted((r.k, r._change_type) for r in ch.collect()) == [
        (2, "delete"), (4, "delete"),
    ]


# --- Iceberg: hand-committed manifest layouts ----------------------------------


def _existing(entry: dict) -> dict:
    """A live data entry carried into a new manifest as EXISTING, with its
    data sequence number explicit (what a manifest-merging writer emits)."""
    return {
        "status": 0,
        "snapshot_id": None,
        "sequence_number": entry["_seq"],
        "file_sequence_number": entry["_seq"],
        "data_file": {k: v for k, v in entry.items() if not k.startswith("_")},
    }


def _added(path: str, n_rows: int) -> dict:
    return {
        "status": 1,
        "snapshot_id": None,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 0,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": n_rows,
            "file_size_in_bytes": os.path.getsize(path),
        },
    }


def _hand_commit(root: str, data_entries: list[dict], op: str) -> int:
    """Publish a snapshot the way a foreign writer does: ONE data manifest
    holding ``data_entries`` (ADDED and EXISTING alike) under the new
    snapshot's id, the current delete manifests carried by pointer.
    Returns the snapshot id."""
    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(root)
    meta, version = I._load_metadata(fs, root)
    seq = int(meta["last-sequence-number"]) + 1
    sid = 5000 + seq
    mbytes = write_container(json.dumps(I._manifest_entry_schema([])), data_entries)
    mpath = f"{root}/metadata/m-{sid}-hand.avro"
    fs.put_bytes(mpath, mbytes)

    def rows(status):
        return [e["data_file"]["record_count"] for e in data_entries if e["status"] == status]

    mf = {
        "manifest_path": mpath,
        "manifest_length": len(mbytes),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": min(
            [seq] + [e["sequence_number"] for e in data_entries if e["status"] == 0]
        ),
        "added_snapshot_id": sid,
        "added_data_files_count": len(rows(1)),
        "existing_data_files_count": len(rows(0)),
        "deleted_data_files_count": 0,
        "added_rows_count": sum(rows(1)),
        "existing_rows_count": sum(rows(0)),
        "deleted_rows_count": 0,
    }
    dels = [m for m in I._carry_manifests(fs, meta) if m["content"] == 1]
    lpath = f"{root}/metadata/snap-{sid}-hand.avro"
    fs.put_bytes(lpath, write_container(json.dumps(I._MANIFEST_FILE_SCHEMA), [mf] + dels))
    new_meta = dict(meta)
    new_meta["last-sequence-number"] = seq
    new_meta["current-snapshot-id"] = sid
    new_meta["snapshots"] = list(meta["snapshots"]) + [
        {
            "snapshot-id": sid,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": seq,
            "summary": {"operation": op},
            "manifest-list": lpath,
            "schema-id": 0,
        }
    ]
    new_meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"timestamp-ms": seq, "snapshot-id": sid}
    ]
    I._publish_metadata(fs, root, version, new_meta)
    return sid


def _live_data(root: str) -> list[dict]:
    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(root)
    meta, _v = I._load_metadata(fs, root)
    data, _dels = I._live_entries(fs, I._snapshot_of(meta, None))
    return sorted(data, key=lambda e: int(e["_seq"]))


def test_iceberg_changelog_manifest_merging_append(spark, tmp_path):
    """A manifest-merging writer's plain APPEND rewrites the data manifest
    and carries the old file in as EXISTING: the changelog must report
    only the snapshot's ADDED file as inserts, and the memoized live
    state must not resurrect the carried file's deleted rows — checked
    row for row against the from-scratch derivation (each snapshot's
    table diffed against its parent's)."""
    from collections import Counter

    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    I.write_iceberg(
        spark.range(0, 10)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1),
        root,
    )
    I.delete_iceberg_rows(spark, root, "k % 3 = 0")
    carried = _live_data(root)
    new_path = f"{root}/data/merged-append.parquet"
    _pq_write(new_path, {"k": [10, 11, 12], "v": [20, 22, 24]})
    merged = _hand_commit(
        root, [_existing(e) for e in carried] + [_added(new_path, 3)], "append"
    )
    I.delete_iceberg_rows(spark, root, "k IN (1, 10)")
    # an equality delete naming an already-dead key (3) besides a live one
    I.delete_iceberg_equality(spark, root, spark.createDataFrame([(3,), (11,)], "k long"))

    ch = I.read_iceberg_changes(spark, root, 0, cdf=True)
    got = Counter((r.k, r.v, r._change_type, r._snapshot_id) for r in ch.collect())

    from gofeed_spark.fs import get_filesystem

    meta, _v = I._load_metadata(get_filesystem(root), root)
    want: Counter = Counter()
    prev: Counter = Counter()
    for s in sorted(meta["snapshots"], key=lambda s: s["sequence-number"]):
        sid = s["snapshot-id"]
        cur = Counter(
            (r.k, r.v) for r in I.read_iceberg(spark, root, snapshot_id=sid).collect()
        )
        want.update({(*row, "insert", sid): n for row, n in (cur - prev).items()})
        want.update({(*row, "delete", sid): n for row, n in (prev - cur).items()})
        prev = cur
    assert got == want
    # the carried file's rows are never re-reported by the merging append
    assert {k for k, _v, t, sid in got if t == "insert" and sid == merged} == {10, 11, 12}


def test_iceberg_stream_skips_carried_entries(spark, tmp_path):
    """The stream reads a manifest-merging APPEND by the batch change
    read's rule: only the snapshot's ADDED file is new, the EXISTING
    entries it carries are not — every row arrives exactly once, row for
    row ``read_iceberg_changes``, and the cap-stats fallback (no
    ``added-data-files`` summary) counts only the added file."""
    from collections import Counter

    from pyspark.sql import functions as F

    from gofeed_spark.sources.tablestream import (
        IcebergFeedDataSource,
        read_iceberg_stream,
    )

    root = str(tmp_path / "tbl")
    I.write_iceberg(
        spark.range(0, 10)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1),
        root,
    )
    new_path = f"{root}/data/merged-append.parquet"
    _pq_write(new_path, {"k": [10, 11, 12], "v": [20, 22, 24]})
    _hand_commit(
        root, [_existing(e) for e in _live_data(root)] + [_added(new_path, 3)], "append"
    )
    out = str(tmp_path / "out")
    q = (
        read_iceberg_stream(spark, root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = Counter((r.k, r.v, r._snapshot_id) for r in spark.read.parquet(out).collect())
    assert sorted(k for k, _v, _s in got.elements()) == list(range(13))
    want = Counter(
        (r.k, r.v, r._snapshot_id)
        for r in I.read_iceberg_changes(spark, root, 0).collect()
    )
    assert got == want
    head, stats = IcebergFeedDataSource({"path": root}).streamReader(None).log.latest()
    assert stats(head) == (1, os.path.getsize(new_path))


def test_duplicate_basenames_refuse_row_level_deletes(spark, tmp_path):
    """Two live data files sharing a basename (a foreign layout: same name
    in different directories) cannot be told apart by the file map that
    position deletes and deletion vectors key on — DELETE and UPDATE must
    refuse and leave the table unchanged, not hide rows in the wrong
    file."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "ice")
    for lo in (0, 5):
        I.write_iceberg(
            spark.range(lo, lo + 5)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1),
            root,
        )
    a, b = _live_data(root)
    twin = f"{root}/data/sub/{os.path.basename(a['file_path'])}"
    os.makedirs(os.path.dirname(twin))
    os.rename(b["file_path"], twin)
    moved = _existing(b)
    moved["data_file"]["file_path"] = twin
    _hand_commit(root, [_existing(a), moved], "replace")
    head = I.latest_snapshot(root)
    want = sorted(r.k for r in I.read_iceberg(spark, root).collect())
    assert want == list(range(10))
    with pytest.raises(I.IcebergError, match="duplicate"):
        I.delete_iceberg_rows(spark, root, "k = 7")
    with pytest.raises(I.IcebergError, match="duplicate"):
        I.update_iceberg(spark, root, "k = 7", {"v": "v + 1"})
    assert I.latest_snapshot(root) == head
    assert sorted(r.k for r in I.read_iceberg(spark, root).collect()) == want

    # the Delta twin: a hand-written log with two adds sharing a basename
    droot = str(tmp_path / "delta")
    for d, ks in (("a", [0, 1, 2]), ("b", [3, 4])):
        _pq_write(f"{droot}/{d}/part-0.parquet", {"k": ks})
    log = f"{droot}/_delta_log"
    os.makedirs(log)
    schema = json.dumps(
        {"type": "struct", "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    )
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "dup-basenames", "format": {"provider": "parquet"},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}}},
    ] + [
        {"add": {"path": f"{d}/part-0.parquet", "partitionValues": {},
                 "size": os.path.getsize(f"{droot}/{d}/part-0.parquet"),
                 "modificationTime": 0, "dataChange": True}}
        for d in ("a", "b")
    ]
    with open(f"{log}/{0:020d}.json", "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    with pytest.raises(D.DeltaError, match="duplicate"):
        D.delete_delta_rows(spark, droot, "k = 4", dv=True)
    assert D.latest_version(droot) == 0
    assert sorted(r.k for r in D.read_delta(spark, droot).collect()) == [0, 1, 2, 3, 4]
