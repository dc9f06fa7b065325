"""Iceberg interop (sources/iceberg.py) and the pure-Python Avro
container codec beneath it (sources/avrocodec.py): spec-vector encode
checks, generic schema-driven decode, and the table lifecycle —
append/overwrite commits, manifest-pointer carry, snapshot time travel,
manifest-level pruning, concurrency and schema guards, expiry."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from gofeed_spark.sources import iceberg as I
from gofeed_spark.sources.avrocodec import (
    AvroError,
    _write_long,
    decode_value,
    encode_value,
    parse_schema,
    read_container,
    write_container,
    _Cursor,
)


# --- avro codec ----------------------------------------------------------------


def test_zigzag_spec_vectors():
    # the worked examples from the Avro spec's binary-encoding table
    for n, want in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (2, b"\x04"),
                    (-64, b"\x7f"), (64, b"\x80\x01"), (-65, b"\x81\x01")]:
        out = bytearray()
        _write_long(out, n)
        assert bytes(out) == want, (n, bytes(out), want)
        back = decode_value("long", _Cursor(bytes(out)))
        assert back == n


FULL_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"]},
        {"name": "c", "type": {"type": "array", "items": "double"}},
        {"name": "d", "type": {"type": "map", "values": "int"}},
        {"name": "e", "type": {"type": "fixed", "name": "fx", "size": 3}},
        {"name": "f", "type": {"type": "enum", "name": "en", "symbols": ["X", "Y"]}},
        {"name": "g", "type": "boolean"},
        {"name": "h", "type": "bytes"},
        {"name": "i", "type": "float"},
    ],
}
FULL_RECORDS = [
    {"a": -(1 << 62), "b": None, "c": [1.5, -2.25], "d": {"k": 7, "m": -1},
     "e": b"abc", "f": "Y", "g": True, "h": b"\x00\xff", "i": 0.5},
    {"a": 9, "b": "héllo", "c": [], "d": {}, "e": b"xyz", "f": "X",
     "g": False, "h": b"", "i": -4.0},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip_all_types(codec):
    data = write_container(FULL_SCHEMA, FULL_RECORDS, codec=codec)
    _schema, meta, records = read_container(data)
    assert records == FULL_RECORDS
    assert meta["avro.codec"] == codec.encode()
    # deterministic bytes (clock-free sync marker)
    assert write_container(FULL_SCHEMA, FULL_RECORDS, codec=codec) == data


def test_container_error_contract():
    data = write_container(FULL_SCHEMA, FULL_RECORDS)
    with pytest.raises(AvroError):
        read_container(data[:-5])          # torn tail
    with pytest.raises(AvroError):
        read_container(b"NotAvro" + data)  # bad magic
    # corrupt a deflate block byte — must surface as AvroError, never zlib
    body = bytearray(data)
    body[len(data) // 2] ^= 0xFF
    with pytest.raises(AvroError):
        read_container(bytes(body))
    with pytest.raises(AvroError):
        parse_schema('{"type": "record"}')  # named type without name


def test_union_and_named_type_reference():
    # a named type defined once and referenced by name later decodes
    schema = {
        "type": "record",
        "name": "outer",
        "fields": [
            {"name": "p", "type": {"type": "record", "name": "pt",
                                   "fields": [{"name": "x", "type": "int"}]}},
            {"name": "q", "type": ["null", "pt"]},
        ],
    }
    recs = [{"p": {"x": 1}, "q": {"x": 2}}, {"p": {"x": 3}, "q": None}]
    assert read_container(write_container(schema, recs))[2] == recs


def test_decode_is_schema_driven_from_header():
    # the reader never needs the writer's Python schema object — a fresh
    # process reading the bytes alone reconstructs records (the property
    # that makes real-writer manifests parseable)
    data = write_container(json.dumps(FULL_SCHEMA), FULL_RECORDS)
    schema, _m, records = read_container(data)
    assert records == FULL_RECORDS
    assert schema["name"] == "r" and len(schema["fields"]) == 9


def test_record_default_and_missing_null_union():
    schema = {
        "type": "record", "name": "d",
        "fields": [
            {"name": "a", "type": "int", "default": 5},
            {"name": "b", "type": ["null", "long"]},
            {"name": "c", "type": "string"},
        ],
    }
    out = bytearray()
    encode_value(parse_schema(json.dumps(schema)), {"c": "z"}, out)
    got = decode_value(parse_schema(json.dumps(schema)), _Cursor(bytes(out)))
    assert got == {"a": 5, "b": None, "c": "z"}
    with pytest.raises(AvroError):
        encode_value(parse_schema(json.dumps(schema)), {"a": 1, "b": 2}, bytearray())


# --- iceberg lifecycle -----------------------------------------------------------


@pytest.fixture()
def corpus(spark):
    return spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        (F.col("id") * 2).alias("n"),
    )


def test_append_carry_and_time_travel(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    s1 = I.write_iceberg(corpus.filter("doc_id % 2 = 0"), tbl, partition_by=["source"])
    s2 = I.write_iceberg(corpus.filter("doc_id % 2 = 1"), tbl, partition_by=["source"])
    assert (s1, s2) == (1, 2) and I.latest_snapshot(tbl) == 2
    head = I.read_iceberg(spark, tbl)
    assert head.columns == ["doc_id", "source", "n"]
    assert head.count() == 60
    assert I.read_iceberg(spark, tbl, snapshot_id=s1).count() == 30
    # the second manifest list carries the first manifest BY POINTER
    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(tbl)
    meta, _v = I._load_metadata(fs, tbl)
    snap2 = I._snapshot_of(meta, s2)
    _s, _m, manifests = I._read_avro(fs, snap2["manifest-list"])
    assert len(manifests) == 2
    assert {mf["added_snapshot_id"] for mf in manifests} == {1, 2}
    # sequence-number inheritance: entries carry null, the list carries seq
    assert sorted(mf["sequence_number"] for mf in manifests) == [1, 2]


def test_overwrite_isolates_snapshots(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    s1 = I.write_iceberg(corpus, tbl, partition_by=["source"])
    s2 = I.write_iceberg(corpus.filter("doc_id < 7"), tbl, mode="overwrite")
    assert I.read_iceberg(spark, tbl).count() == 7
    assert I.read_iceberg(spark, tbl, snapshot_id=s1).count() == 60
    ops = [h["operation"] for h in I.iceberg_history(tbl)]
    assert ops == ["overwrite", "append"]


def test_where_prunes_at_the_driver(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl, partition_by=["source"])
    df = I.read_iceberg(spark, tbl, where={"source": "s1"})
    rows = df.collect()
    assert {r.source for r in rows} == {"s1"} and len(rows) == 20
    # pruning happened BEFORE the plan: only s1's files are in the relation
    assert all("source=s1" in f for f in df.inputFiles()), df.inputFiles()
    # a DATA column in where is a bounds-pruned point lookup now (r16)
    assert [(r.doc_id, r.n) for r in I.read_iceberg(
        spark, tbl, where={"n": "4"}
    ).collect()] == [(2, 4)]
    with pytest.raises(I.IcebergError, match="nor table columns"):
        I.read_iceberg(spark, tbl, where={"nope": "4"})


def test_unpartitioned_table(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl)
    out = I.read_iceberg(spark, tbl)
    assert out.count() == 60 and out.columns == ["doc_id", "source", "n"]


def test_schema_and_partition_guards(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl, partition_by=["source"])
    with pytest.raises(I.IcebergSchemaMismatch):
        I.write_iceberg(corpus.select("doc_id", "source"), tbl)
    with pytest.raises(I.IcebergSchemaMismatch):
        I.write_iceberg(corpus, tbl, partition_by=["doc_id"])
    with pytest.raises(I.IcebergError):
        I.write_iceberg(corpus, str(tmp_path / "t2"), partition_by=["nope"])


def test_concurrent_commit_raises(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus.filter("doc_id < 10"), tbl)
    # simulate a racing writer that already published v2
    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(tbl)
    fs.put_bytes(
        fs.join(I._meta_dir(tbl), I._meta_name(2)), b'{"racer": true}'
    )
    with pytest.raises(I.IcebergConcurrentWrite):
        I.write_iceberg(corpus.filter("doc_id >= 10"), tbl)


def test_expire_reclaims_only_unreachable(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus.filter("doc_id % 2 = 0"), tbl, partition_by=["source"])
    s2 = I.write_iceberg(corpus.filter("doc_id % 2 = 1"), tbl, partition_by=["source"])
    victims = I.expire_iceberg(tbl, keep_last=1)
    # append carries every older data file into the newest snapshot:
    # nothing data-plane is reclaimable, only snapshot 1's own list
    assert all(v.endswith(".avro") for v in victims), victims
    assert I.read_iceberg(spark, tbl).count() == 60
    assert [h["snapshot_id"] for h in I.iceberg_history(tbl)] == [s2]
    # after an overwrite, expiry reclaims the replaced data files too
    I.write_iceberg(corpus.limit(5), tbl, mode="overwrite")
    victims = I.expire_iceberg(tbl, keep_last=1)
    assert any(".parquet" in v for v in victims)
    assert I.read_iceberg(spark, tbl).count() == 5


def test_unsupported_features_raise(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl)
    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(tbl)
    meta, v = I._load_metadata(fs, tbl)
    meta["partition-specs"] = [
        {"spec-id": 0,
         "fields": [{"name": "b", "transform": "zorder[2]", "source-id": 1,
                     "field-id": 1000}]}
    ]
    fs.put_bytes(
        fs.join(I._meta_dir(tbl), I._meta_name(v + 1)),
        json.dumps(meta).encode(),
    )
    fs.put_bytes(fs.join(I._meta_dir(tbl), "version-hint.text"), str(v + 1).encode())
    with pytest.raises(I.IcebergUnsupported):
        I.read_iceberg(spark, tbl)


def test_schema_type_round_trip():
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.StringType(), False),
            T.StructField("c", T.ArrayType(T.DoubleType(), True), True),
            T.StructField("d", T.MapType(T.StringType(), T.IntegerType(), True), True),
            T.StructField(
                "e",
                T.StructType([T.StructField("x", T.BooleanType(), True)]),
                True,
            ),
            T.StructField("f", T.DecimalType(10, 2), True),
            T.StructField("g", T.DateType(), True),
            T.StructField("h", T.BinaryType(), True),
        ]
    )
    ice, last_id = I._schema_to_iceberg(schema)
    back = I._schema_from_iceberg(ice)
    assert back == schema
    # field ids are unique and dense over all nested ids
    seen = set()

    def walk(node):
        if isinstance(node, dict):
            for k, v in node.items():
                if k in ("id", "element-id", "key-id", "value-id"):
                    assert v not in seen
                    seen.add(v)
                else:
                    walk(v)
        elif isinstance(node, list):
            for x in node:
                walk(x)

    walk(ice)
    assert seen == set(range(1, last_id + 1))


def test_read_iceberg_changes_incremental(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    sids = [
        I.write_iceberg(
            corpus.filter(F.col("doc_id") % 3 == r), tbl, partition_by=["source"]
        )
        for r in (0, 1, 2)
    ]
    # since creation: everything, labeled by snapshot — carried manifests
    # must NOT double-count earlier snapshots' files
    ch = I.read_iceberg_changes(spark, tbl, 0)
    assert ch.count() == 60
    per = dict(
        (r._snapshot_id, r.n)
        for r in ch.groupBy("_snapshot_id").agg(F.count("*").alias("n")).collect()
    )
    assert per == {sids[0]: 20, sids[1]: 20, sids[2]: 20}
    # a window after the first snapshot
    ch2 = I.read_iceberg_changes(spark, tbl, sids[0])
    assert ch2.count() == 40 and {r._snapshot_id for r in ch2.collect()} == set(sids[1:])
    # bounded end
    assert I.read_iceberg_changes(spark, tbl, sids[0], to_snapshot_id=sids[1]).count() == 20
    # empty window
    empty = I.read_iceberg_changes(spark, tbl, sids[2])
    assert empty.count() == 0 and "_snapshot_id" in empty.columns
    # an overwrite in the range raises; a window before it still works
    I.write_iceberg(corpus.limit(4), tbl, mode="overwrite")
    with pytest.raises(I.IcebergUnsupported):
        I.read_iceberg_changes(spark, tbl, sids[2])
    assert I.read_iceberg_changes(spark, tbl, sids[1], to_snapshot_id=sids[2]).count() == 20


def test_summary_watermark_and_append_sink(spark, corpus, tmp_path):
    from gofeed_spark.streaming.sinks import IcebergAppendSink

    tbl = str(tmp_path / "tbl")
    df = corpus.limit(10)
    assert I.last_summary_version(tbl, "appA") == -1  # no table yet
    sink = IcebergAppendSink(tbl, app_id="appA", partition_by=["source"])
    sink(df, 0)
    sink(df, 1)
    assert I.read_iceberg(spark, tbl).count() == 20
    assert I.last_summary_version(tbl, "appA") == 1
    # re-delivery skipped, by this instance and by a fresh one
    sink(df, 1)
    assert sink.last_skipped == 1
    sink2 = IcebergAppendSink(tbl, app_id="appA", partition_by=["source"])
    sink2(df, 1)
    assert sink2.last_skipped == 1
    sink2(df, 2)
    assert I.read_iceberg(spark, tbl).count() == 30
    # per-app scoping: a new stream with a new app restarts at 0 safely
    sink_b = IcebergAppendSink(tbl, app_id="appB", partition_by=["source"])
    sink_b(df, 0)
    assert I.read_iceberg(spark, tbl).count() == 40
    assert I.last_summary_version(tbl, "appB") == 0
    # reserved summary keys cannot be clobbered
    ops = {h["operation"] for h in I.iceberg_history(tbl)}
    assert ops == {"append"}


def test_iceberg_stream_delivers_snapshots_and_restarts(spark, corpus, tmp_path):
    from gofeed_spark.sources.tablestream import read_iceberg_stream

    tbl = str(tmp_path / "tbl")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    for r in (0, 1, 2):
        I.write_iceberg(
            corpus.filter(F.col("doc_id") % 3 == r), tbl, partition_by=["source"]
        )
    s = read_iceberg_stream(spark, tbl)
    assert "_snapshot_id" in s.schema.simpleString()

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
    assert back.count() == 60
    per = dict(
        (r._snapshot_id, r.n)
        for r in back.groupBy("_snapshot_id").agg(F.count("*").alias("n")).collect()
    )
    assert per == {1: 20, 2: 20, 3: 20}  # carried manifests never re-deliver
    # typed partition value restored from the manifest record
    assert {r.source for r in back.limit(5).collect()} <= {"s0", "s1", "s2"}
    # restart delivers ONLY new snapshots
    I.write_iceberg(
        corpus.limit(5).select(
            (F.col("doc_id") + 100).alias("doc_id"),
            F.lit("s9").alias("source"), F.col("n"),
        ),
        tbl, partition_by=["source"],
    )
    drain()
    assert spark.read.parquet(out).count() == 65


def test_iceberg_stream_refuses_overwrite_window(spark, corpus, tmp_path):
    from gofeed_spark.sources.tablestream import read_iceberg_stream

    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl)
    I.write_iceberg(corpus.limit(2), tbl, mode="overwrite")
    s = read_iceberg_stream(spark, tbl)
    q = (
        s.writeStream.outputMode("append")
        .format("parquet").option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination(120)
    assert "append-only stream" in str(exc.value)


def test_schema_evolution_additive(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl, partition_by=["source"])
    wide = corpus.withColumn("extra", (F.col("doc_id") * 7).cast("long"))
    with pytest.raises(I.IcebergSchemaMismatch):
        I.write_iceberg(wide, tbl)
    with pytest.raises(I.IcebergSchemaMismatch):
        I.write_iceberg(
            corpus.withColumn("bad", F.lit(1).cast("int")).drop("n"),
            tbl, evolve_schema=True,
        )
    I.write_iceberg(wide, tbl, evolve_schema=True)
    out = I.read_iceberg(spark, tbl)
    assert out.columns == ["doc_id", "source", "n", "extra"]
    assert out.count() == 120
    nulls = out.filter(F.col("extra").isNull()).count()
    assert nulls == 60  # the pre-evolution files
    # existing field ids stayed stable; the new field got a fresh id and
    # a NEW schema object with a new schema-id is current
    from gofeed_spark.fs import get_filesystem

    meta, _v = I._load_metadata(get_filesystem(tbl), tbl)
    schemas = {s["schema-id"]: s for s in meta["schemas"]}
    assert set(schemas) == {0, 1} and meta["current-schema-id"] == 1
    old_ids = {f["name"]: f["id"] for f in schemas[0]["fields"]}
    new_ids = {f["name"]: f["id"] for f in schemas[1]["fields"]}
    assert all(new_ids[k] == v for k, v in old_ids.items())
    assert new_ids["extra"] == meta["last-column-id"]
    # appends validate against the widened schema now
    with pytest.raises(I.IcebergSchemaMismatch):
        I.write_iceberg(corpus, tbl)
    I.write_iceberg(wide, tbl, partition_by=["source"])
    assert I.read_iceberg(spark, tbl).count() == 180


# --- merge-on-read position deletes -------------------------------------------


def test_position_deletes_end_to_end(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus.filter("doc_id % 2 = 0"), tbl, partition_by=["source"])
    s2 = I.write_iceberg(
        corpus.filter("doc_id % 2 = 1"), tbl, partition_by=["source"]
    )
    sid = I.delete_iceberg_rows(spark, tbl, "doc_id % 7 = 0")
    assert sid == 3
    live = {r.doc_id for r in I.read_iceberg(spark, tbl).collect()}
    assert live == {i for i in range(60) if i % 7 != 0}
    # time travel below the delete still sees every row
    assert I.read_iceberg(spark, tbl, snapshot_id=s2).count() == 60
    # re-deleting already-hidden rows is a no-op (no empty commit)
    assert I.delete_iceberg_rows(spark, tbl, "doc_id % 7 = 0") == -1
    # stacked second delete composes
    I.delete_iceberg_rows(spark, tbl, "doc_id % 11 = 0")
    live = {r.doc_id for r in I.read_iceberg(spark, tbl).collect()}
    assert live == {i for i in range(60) if i % 7 != 0 and i % 11 != 0}
    # partition pruning still applies the (unpruned) deletes
    pruned = {
        r.doc_id for r in I.read_iceberg(spark, tbl, where={"source": "s1"}).collect()
    }
    assert pruned == {i for i in live if i % 3 == 1}
    assert [h["operation"] for h in I.iceberg_history(tbl)][:2] == [
        "delete",
        "delete",
    ]


def test_position_delete_spec_shape(spark, corpus, tmp_path):
    """The committed delete file/manifest must be what OTHER engines'
    readers expect: content=1 manifest, (file_path, pos) parquet sorted
    by the spec's order, file paths naming live data files."""
    import pyarrow.parquet as pq

    from gofeed_spark.fs import get_filesystem

    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl, partition_by=["source"])
    I.delete_iceberg_rows(spark, tbl, "doc_id < 5")
    fs = get_filesystem(tbl)
    meta, _v = I._load_metadata(fs, tbl)
    snap = I._snapshot_of(meta, None)
    _s, _m, manifests = I._read_avro(fs, snap["manifest-list"])
    del_mfs = [mf for mf in manifests if mf["content"] == 1]
    assert len(del_mfs) == 1
    _s2, _m2, entries = I._read_avro(fs, del_mfs[0]["manifest_path"])
    assert len(entries) == 1 and entries[0]["data_file"]["content"] == 1
    t = pq.read_table(entries[0]["data_file"]["file_path"])
    assert t.column_names == ["file_path", "pos"]
    rows = list(zip(t.column("file_path").to_pylist(), t.column("pos").to_pylist()))
    assert rows == sorted(rows)  # spec: sorted by (file_path, pos)
    assert len(rows) == 5
    data_paths = {e["file_path"] for e in I._live_entries(fs, snap)[0]}
    assert {fp for fp, _p in rows} <= data_paths


def test_position_delete_sequence_scoping(spark, corpus, tmp_path):
    """A delete row naming a data file COMMITTED AFTER the delete must
    not hide it (delete seq < data seq — the v2 scoping rule; this is
    exactly the compaction-rewrite case real tables hit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gofeed_spark.fs import get_filesystem

    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus.filter("doc_id < 30"), tbl)
    I.delete_iceberg_rows(spark, tbl, "doc_id = 3")          # seq 2
    I.write_iceberg(corpus.filter("doc_id >= 30"), tbl)      # seq 3
    fs = get_filesystem(tbl)
    meta, _v = I._load_metadata(fs, tbl)
    data, dels = I._live_entries(fs, I._snapshot_of(meta, None))
    assert len(dels) == 1 and dels[0]["_seq"] == 2
    late_file = next(e["file_path"] for e in data if e["_seq"] == 3)
    # plant a delete row targeting the LATER file at pos 0 inside the
    # existing (seq-2) delete file: scoping must ignore it
    dpath = dels[0]["file_path"]
    t = pq.read_table(dpath)
    extra = pa.table(
        {"file_path": [late_file], "pos": [0]},
        schema=pa.schema([("file_path", pa.string()), ("pos", pa.int64())]),
    ).cast(t.schema)
    pq.write_table(pa.concat_tables([t, extra]), dpath)
    assert I.read_iceberg(spark, tbl).count() == 59  # only doc_id=3 hidden


def test_v1_tables_write_and_change_reads_refuse(spark, corpus, tmp_path):
    """format-version 1: plain reads fine, but writes and incremental /
    streaming reads refuse loudly (v1 snapshots carry no sequence
    numbers — a change feed would be silently empty)."""
    from gofeed_spark.fs import get_filesystem
    from gofeed_spark.sources.tablestream import IcebergFeedDataSource

    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl)
    fs = get_filesystem(tbl)
    meta, v = I._load_metadata(fs, tbl)
    meta["format-version"] = 1
    for s in meta["snapshots"]:
        s.pop("sequence-number", None)
    fs.put_bytes(
        fs.join(I._meta_dir(tbl), I._meta_name(v + 1)), json.dumps(meta).encode()
    )
    fs.put_bytes(
        fs.join(I._meta_dir(tbl), "version-hint.text"), str(v + 1).encode()
    )
    assert I.read_iceberg(spark, tbl).count() == 60  # plain read is fine
    with pytest.raises(I.IcebergUnsupported, match="format-version 1"):
        I.write_iceberg(corpus, tbl)
    with pytest.raises(I.IcebergUnsupported, match="sequence numbers"):
        I.read_iceberg_changes(spark, tbl, 0)
    with pytest.raises(I.IcebergUnsupported, match="sequence numbers"):
        IcebergFeedDataSource({"path": tbl}).streamReader(None)


def test_equality_deletes_refuse(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl)
    I.delete_iceberg_rows(spark, tbl, "doc_id = 0")
    from gofeed_spark.fs import get_filesystem

    fs = get_filesystem(tbl)
    meta, _v = I._load_metadata(fs, tbl)
    snap = I._snapshot_of(meta, None)
    _s, _m, manifests = I._read_avro(fs, snap["manifest-list"])
    del_mf = next(mf for mf in manifests if mf["content"] == 1)
    _es, _em, entries = I._read_avro(fs, del_mf["manifest_path"])
    entries[0]["data_file"]["content"] = 2  # forge an equality delete
    fs.put_bytes(
        del_mf["manifest_path"],
        write_container(_es if isinstance(_es, str) else json.dumps(_es), entries),
    )
    with pytest.raises(I.IcebergUnsupported, match="equality"):
        I.read_iceberg(spark, tbl).count()


def test_concurrent_commit_arbitration_is_atomic(spark, corpus, tmp_path):
    """The publish is create-if-absent (O_EXCL / conditional PUT), not
    probe-then-put: a racer's bytes can never be clobbered."""
    from gofeed_spark.fs import get_filesystem

    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus.filter("doc_id < 10"), tbl)
    fs = get_filesystem(tbl)
    racer = fs.join(I._meta_dir(tbl), I._meta_name(2))
    fs.put_bytes(racer, b'{"racer": true}')
    with pytest.raises(I.IcebergConcurrentWrite):
        I.write_iceberg(corpus.filter("doc_id >= 10"), tbl)
    assert fs.read_bytes(racer) == b'{"racer": true}'  # loser never clobbered


# --- partition transforms ------------------------------------------------------


def test_transform_spec_vectors():
    """The spec's published hash/transform examples (Appendix B +
    §Partition Transforms) — cross-engine compatibility anchors."""
    import datetime as dt

    from gofeed_spark.sources import icetransforms as X

    assert X.murmur3_32((34).to_bytes(8, "little")) == 2017239379  # int/long 34
    assert X.murmur3_32(b"iceberg") == 1210000089                  # string
    assert X.murmur3_32((17486).to_bytes(8, "little")) == -653330422  # date
    assert (
        X.murmur3_32((1510871468000000).to_bytes(8, "little")) == -2047944441
    )  # timestamp micros
    d = dt.date(2017, 11, 16)
    assert X.transform_value("day", "date", d) == 17486
    assert X.transform_value("month", "date", d) == 574
    assert X.transform_value("year", "date", d) == 47
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    assert X.transform_value("hour", "timestamptz", ts) == 419686
    assert X.transform_value("bucket[16]", "long", 34) == 2017239379 % 16
    assert X.transform_value("truncate[10]", "int", -1) == -10  # floored
    assert X.transform_value("truncate[3]", "string", "iceberg") == "ice"
    assert X.transform_value("day", "date", dt.date(1969, 12, 31)) == -1
    assert X.transform_value("void", "long", 9) is None
    with pytest.raises(X.IcebergTransformError):
        X.parse_transform("zorder[2]")
    with pytest.raises(X.IcebergTransformError):
        X.result_ice_type("hour", "date")


def test_day_transform_lifecycle_and_pruning(spark, tmp_path):
    import datetime as dt

    from gofeed_spark.sources import icetransforms as X

    ev = spark.range(0, 120).select(
        F.col("id").alias("event_id"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(hours=F.col("id"))
        ).alias("ts"),
        (F.col("id") % 7).alias("val"),
    )
    tbl = str(tmp_path / "days")
    I.write_iceberg(ev.filter("id < 60"), tbl, partition_by=["day(ts)"])
    I.write_iceberg(ev.filter("id >= 60"), tbl, partition_by=["day(ts)"])
    full = I.read_iceberg(spark, tbl)
    # transform partitions KEEP the source column in data files
    assert full.columns == ["event_id", "ts", "val"] and full.count() == 120
    d = X.transform_value("day", "timestamptz", dt.datetime(2024, 1, 3))
    pruned = I.read_iceberg(spark, tbl, where={"ts_day": str(d)})
    rows = pruned.collect()
    assert len(rows) == 24
    assert all(r.ts.date() == dt.date(2024, 1, 3) for r in rows)
    # manifest-level pruning: the relation holds ONLY that day's files
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # appends validate the transform spec, not just column names
    with pytest.raises(I.IcebergSchemaMismatch):
        I.write_iceberg(ev.limit(1), tbl, partition_by=["hour(ts)"])


def test_bucket_transform_matches_driver_twin(spark, tmp_path):
    """Spark-side staged bucket values (numpy murmur3 over LE longs) must
    equal the driver-side pure-Python transform for every row — that is
    what makes pruning probes computable without a Spark job."""
    from gofeed_spark.sources import icetransforms as X

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u"), F.col("id")).alias("name"),
    )
    tbl = str(tmp_path / "buck")
    I.write_iceberg(docs, tbl, partition_by=["bucket(8, doc_id)"])
    b = X.transform_value("bucket[8]", "long", 42)
    got = {
        r.doc_id
        for r in I.read_iceberg(
            spark, tbl, where={"doc_id_bucket": str(b)}
        ).collect()
    }
    want = {
        i for i in range(200) if X.transform_value("bucket[8]", "long", i) == b
    }
    assert got == want and 42 in got
    # string buckets too (per-value python path)
    tbl2 = str(tmp_path / "buckstr")
    I.write_iceberg(docs, tbl2, partition_by=["bucket(4, name)"])
    b2 = X.transform_value("bucket[4]", "string", "u7")
    got2 = {
        r.name
        for r in I.read_iceberg(
            spark, tbl2, where={"name_bucket": str(b2)}
        ).collect()
    }
    assert "u7" in got2
    assert got2 == {
        f"u{i}"
        for i in range(200)
        if X.transform_value("bucket[4]", "string", f"u{i}") == b2
    }


def test_truncate_and_mixed_spec_with_deletes(spark, tmp_path):
    docs = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u"), F.col("id")).alias("name"),
        (F.col("id") % 2).cast("string").alias("grp"),
    )
    tbl = str(tmp_path / "mix")
    I.write_iceberg(docs, tbl, partition_by=["grp", "truncate(2, name)"])
    out = I.read_iceberg(spark, tbl)
    assert out.count() == 100 and set(out.columns) == {"doc_id", "name", "grp"}
    pt = I.read_iceberg(spark, tbl, where={"grp": "1", "name_truncate": "u1"})
    assert {r.name for r in pt.collect()} == {
        f"u{i}" for i in range(100) if i % 2 == 1 and f"u{i}"[:2] == "u1"
    }
    # merge-on-read deletes compose with transform partitions
    I.delete_iceberg_rows(spark, tbl, "doc_id % 10 = 0")
    assert I.read_iceberg(spark, tbl).count() == 90


# --- rewrite_data_files (compaction) ------------------------------------------


def test_rewrite_packs_without_changing_contents(spark, corpus, tmp_path):
    tbl = str(tmp_path / "tbl")
    for lo in range(0, 60, 10):
        I.write_iceberg(
            corpus.filter(f"doc_id >= {lo} and doc_id < {lo + 10}"),
            tbl,
            partition_by=["source"],
        )
    pre_files = len(I.read_iceberg(spark, tbl).inputFiles())
    pre_snap = I.latest_snapshot(tbl)
    res = I.rewrite_iceberg(spark, tbl, target_file_bytes=1 << 30, min_files=2)
    assert res["rewritten"] > res["packed"] > 0
    out = I.read_iceberg(spark, tbl)
    assert len(out.inputFiles()) < pre_files
    assert {r.doc_id for r in out.collect()} == set(range(60))
    # partition pruning still works on packed files
    pr = I.read_iceberg(spark, tbl, where={"source": "s1"})
    assert {r.doc_id for r in pr.collect()} == {i for i in range(60) if i % 3 == 1}
    # time travel below the rewrite
    assert I.read_iceberg(spark, tbl, snapshot_id=pre_snap).count() == 60
    # incremental consumers SKIP the replace snapshot
    ch = I.read_iceberg_changes(spark, tbl, 0)
    assert ch.count() == 60
    assert {r._snapshot_id for r in ch.collect()} == set(range(1, 7))
    # streaming source skips it too (offsets past the replace seq deliver 0)
    # no-op when already packed
    assert I.rewrite_iceberg(spark, tbl, min_files=2)["version"] == -1
    assert [h["operation"] for h in I.iceberg_history(tbl)][0] == "replace"


def test_rewrite_applies_and_preserves_position_deletes(spark, corpus, tmp_path):
    """Deleted rows are compacted away in rewritten groups (never
    resurrected: the rewrite reads merge-on-read), while carried delete
    manifests keep applying to files the rewrite did not touch."""
    tbl = str(tmp_path / "tbl")
    # source s0/s1 get many small files; s2 one big file (untouched)
    for lo in range(0, 40, 10):
        I.write_iceberg(
            corpus.filter(f"doc_id >= {lo} and doc_id < {lo + 10} and doc_id % 3 < 2"),
            tbl,
            partition_by=["source"],
        )
    I.write_iceberg(
        corpus.filter("doc_id % 3 = 2"), tbl, partition_by=["source"]
    )
    I.delete_iceberg_rows(spark, tbl, "doc_id % 5 = 0")
    live = {i for i in range(60) if (i % 3 < 2 and i < 40) or i % 3 == 2}
    live -= {i for i in live if i % 5 == 0}
    res = I.rewrite_iceberg(spark, tbl, target_file_bytes=1 << 30, min_files=2)
    assert res["rewritten"] > 0
    got = {r.doc_id for r in I.read_iceberg(spark, tbl).collect()}
    assert got == live
    # append + delete after the rewrite still compose (filter, not
    # limit: LIMIT picks arbitrary rows under local-cluster masters)
    I.write_iceberg(
        corpus.filter("doc_id < 3").select(
            (F.col("doc_id") + 900).alias("doc_id"), "source", "n"
        ),
        tbl,
        partition_by=["source"],
    )
    I.delete_iceberg_rows(spark, tbl, "doc_id = 900")
    assert I.read_iceberg(spark, tbl).count() == len(live) + 2


def test_equality_deletes_cdc_upsert_shape(spark, corpus, tmp_path):
    """delete_iceberg_equality hides rows BY KEY without touching data
    files; strictly-below sequence scoping lets a re-appended key
    survive (the CDC upsert pattern); position + equality stack; rewrite
    composes."""
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus.filter("doc_id < 30"), tbl, partition_by=["source"])
    s2 = I.write_iceberg(
        corpus.filter("doc_id >= 30"), tbl, partition_by=["source"]
    )
    keys = spark.range(0, 60, 9).select(F.col("id").alias("doc_id"))
    sid = I.delete_iceberg_equality(spark, tbl, keys)
    assert sid == 3
    live = {r.doc_id for r in I.read_iceberg(spark, tbl).collect()}
    assert live == {i for i in range(60) if i % 9 != 0}
    assert I.read_iceberg(spark, tbl, snapshot_id=s2).count() == 60
    # re-appending a deleted key AFTER the delete survives (seq strictly
    # below) — delete-then-reinsert is the CDC upsert
    I.write_iceberg(
        corpus.filter("doc_id % 18 = 0"), tbl, partition_by=["source"]
    )
    out = I.read_iceberg(spark, tbl)
    assert out.filter("doc_id = 18").count() == 1
    assert out.count() == len(live) + 4  # 0, 18, 36, 54 re-appended
    # stacking a position delete on top
    I.delete_iceberg_rows(spark, tbl, "doc_id = 7")
    assert I.read_iceberg(spark, tbl).count() == len(live) + 3
    # guards: empty keys no-op; type drift refuses; unknown column
    assert I.delete_iceberg_equality(spark, tbl, keys.filter("doc_id < 0")) == -1
    with pytest.raises(I.IcebergSchemaMismatch):
        I.delete_iceberg_equality(
            spark, tbl, keys.select(F.col("doc_id").cast("int"))
        )
    with pytest.raises(I.IcebergError):
        I.delete_iceberg_equality(
            spark, tbl, keys.withColumnRenamed("doc_id", "nope")
        )
    # rewrite applies both delete kinds and preserves them for survivors
    res = I.rewrite_iceberg(spark, tbl, target_file_bytes=1 << 30, min_files=2)
    assert res["rewritten"] > 0
    assert I.read_iceberg(spark, tbl).count() == len(live) + 3


def test_equality_delete_null_safe_and_multi_column(spark, tmp_path):
    """Multi-column equality keys match NULL-SAFELY per the spec (a null
    key value deletes rows whose column IS NULL)."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "a", 30), (4, None, 40)],
        "doc_id long, tag string, val long",
    )
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(df, tbl)
    keys = spark.createDataFrame(
        [(2, None), (3, "a")], "doc_id long, tag string"
    )
    I.delete_iceberg_equality(spark, tbl, keys)
    live = {r.doc_id for r in I.read_iceberg(spark, tbl).collect()}
    assert live == {1, 4}
    # partition-scoped foreign equality deletes refuse loudly
    from gofeed_spark.fs import get_filesystem

    tbl2 = str(tmp_path / "tbl2")
    I.write_iceberg(
        df.withColumn("grp", (F.col("doc_id") % 2).cast("string")),
        tbl2,
        partition_by=["grp"],
    )
    I.delete_iceberg_equality(
        spark, tbl2, spark.createDataFrame([(1,)], "doc_id long")
    )
    fs = get_filesystem(tbl2)
    meta, _v = I._load_metadata(fs, tbl2)
    snap = I._snapshot_of(meta, None)
    _s, _m, manifests = I._read_avro(fs, snap["manifest-list"])
    del_mf = next(mf for mf in manifests if mf["content"] == 1)
    _es, _em, entries = I._read_avro(fs, del_mf["manifest_path"])
    entries[0]["data_file"]["partition"] = {"grp": "1"}  # forge a scope
    fs.put_bytes(
        del_mf["manifest_path"],
        write_container(json.dumps(_es), entries),
    )
    with pytest.raises(I.IcebergUnsupported, match="partition-scoped"):
        I.read_iceberg(spark, tbl2).count()


def test_changelog_cdf_over_delete_snapshots(spark, corpus, tmp_path):
    """read_iceberg_changes(cdf=True): inserts labeled per append
    snapshot; each delete snapshot emits exactly the rows ITS new delete
    files hid from the parent state (no double-reporting of overlapping
    keys); replace snapshots invisible; non-cdf still refuses with a
    pointer."""
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus.filter("doc_id < 30"), tbl, partition_by=["source"])
    I.write_iceberg(corpus.filter("doc_id >= 30"), tbl, partition_by=["source"])
    I.delete_iceberg_rows(spark, tbl, "doc_id % 5 = 0")  # snap 3
    I.delete_iceberg_equality(  # snap 4
        spark, tbl, spark.range(0, 60, 7).select(F.col("id").alias("doc_id"))
    )
    I.rewrite_iceberg(spark, tbl, target_file_bytes=1 << 30, min_files=2)
    ch = I.read_iceberg_changes(spark, tbl, 0, cdf=True)
    rows = [(r.doc_id, r._change_type, r._snapshot_id) for r in ch.collect()]
    assert sorted(d for d, t, _s in rows if t == "insert") == list(range(60))
    assert sorted(d for d, t, s in rows if t == "delete" and s == 3) == [
        i for i in range(60) if i % 5 == 0
    ]
    # eq snapshot reports only keys still live at ITS parent
    assert sorted(d for d, t, s in rows if t == "delete" and s == 4) == [
        i for i in range(60) if i % 7 == 0 and i % 5 != 0
    ]
    # partition values restored on delete rows
    assert all(
        r.source == f"s{r.doc_id % 3}"
        for r in ch.filter("_change_type = 'delete'").collect()
    )
    with pytest.raises(I.IcebergUnsupported, match="cdf=True"):
        I.read_iceberg_changes(spark, tbl, 0)
    assert I.read_iceberg_changes(spark, tbl, 4, cdf=True).count() == 0


def test_rollback_and_expiry_keep_current(spark, corpus, tmp_path):
    """rollback_iceberg is a pure metadata repoint: the forward state
    stays reachable, appends parent from the restored snapshot, and
    expire_iceberg always keeps the CURRENT snapshot even when it is not
    the newest."""
    tbl = str(tmp_path / "tbl")
    s1 = I.write_iceberg(corpus.filter("doc_id < 20"), tbl, partition_by=["source"])
    I.write_iceberg(corpus.filter("doc_id >= 20"), tbl, partition_by=["source"])
    I.delete_iceberg_rows(spark, tbl, "doc_id % 4 = 0")
    I.rollback_iceberg(tbl, s1)
    assert {r.doc_id for r in I.read_iceberg(spark, tbl).collect()} == set(range(20))
    assert I.read_iceberg(spark, tbl, snapshot_id=3).count() == 45
    s4 = I.write_iceberg(
        corpus.filter("doc_id < 2").select(
            (F.col("doc_id") + 500).alias("doc_id"), "source", "n"
        ),
        tbl,
        partition_by=["source"],
    )
    out = I.read_iceberg(spark, tbl)
    assert out.count() == 22
    meta, _v = I._load_metadata(I.get_filesystem(tbl), tbl)
    snap4 = I._snapshot_of(meta, s4)
    assert snap4["parent-snapshot-id"] == s1  # parents from the rollback
    # roll back again, then expire: current must survive
    I.rollback_iceberg(tbl, s1)
    I.expire_iceberg(tbl, keep_last=1)
    assert I.read_iceberg(spark, tbl).count() == 20
    with pytest.raises(I.IcebergError):
        I.rollback_iceberg(tbl, 999999)


# --- round-16 fixes -------------------------------------------------------------


def test_timestamp_transforms_exact_micros(spark):
    """Staged timestamp transforms must use EXACT integer micros: the old
    double multiply rounded ~1.2% of microsecond values off by one (e.g.
    274781296214704 -> ...703), hashing into the WRONG bucket — rows then
    silently vanish from transform-pruned reads (r16 advice)."""
    import datetime as dt

    from gofeed_spark.sources import icetransforms as X

    micros = [274781296214704 + i for i in range(1000)] + [
        0, 1, 999999, 1_000_000, 3_599_999_999, 86_399_999_999,
        1_700_000_000_123_457,
    ]
    df = spark.createDataFrame(
        [(m,) for m in micros], "m long"
    ).select("m", F.timestamp_micros(F.col("m")).alias("ts"))
    out = df.select(
        "m",
        X.transform_column("bucket[16]", "ts", "timestamptz").alias("b"),
        X.transform_column("hour", "ts", "timestamptz").alias("h"),
        X.transform_column("day", "ts", "timestamptz").alias("d"),
    ).collect()
    assert len(out) == len(micros)
    for r in out:
        assert r.b == X.transform_value("bucket[16]", "timestamptz", r.m), r.m
        assert r.h == X.transform_value("hour", "timestamptz", r.m), r.m
        assert r.d == X.transform_value("day", "timestamptz", r.m), r.m


def test_changelog_parent_is_parent_snapshot_id(spark, corpus, tmp_path):
    """After a rollback, a delete snapshot's changelog parent must be its
    parent-snapshot-id, NOT the previous snapshot by sequence order — the
    rolled-back-FROM state would report the wrong hidden rows (r16
    advice)."""
    tbl = str(tmp_path / "tbl")
    s1 = I.write_iceberg(corpus.filter("doc_id < 10"), tbl, partition_by=["source"])
    # s2 OVERWRITES with a disjoint key range, then gets rolled back
    s2 = I.write_iceberg(
        corpus.filter("doc_id < 10").select(
            (F.col("doc_id") + 100).alias("doc_id"), "source", "n"
        ),
        tbl,
        partition_by=["source"],
        mode="overwrite",
    )
    I.rollback_iceberg(tbl, s1)
    I.delete_iceberg_equality(
        spark,
        tbl,
        spark.createDataFrame(
            [(0,), (1,), (2,), (100,), (101,)], "doc_id long"
        ),
    )
    # window from s2 so the overwrite itself stays outside it
    ch = I.read_iceberg_changes(spark, tbl, s2, cdf=True)
    dels = sorted(
        r.doc_id for r in ch.filter("_change_type = 'delete'").collect()
    )
    # parent is s1 (live: 0..9) — previous-by-sequence (s2: 100..109)
    # would have reported [100, 101]
    assert dels == [0, 1, 2]
    assert {r.doc_id for r in I.read_iceberg(spark, tbl).collect()} == set(
        range(3, 10)
    )


def test_delete_broadcast_gated(spark, corpus, tmp_path, monkeypatch):
    """The delete side broadcasts only when manifests PROVE it small:
    over the bound (or with unknown record_count) the join is left to
    the planner — results identical, no forced driver-side build (r15
    verdict finding 1)."""
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl, partition_by=["source"])
    I.delete_iceberg_rows(spark, tbl, "doc_id % 5 = 0")
    I.delete_iceberg_equality(
        spark, tbl, spark.range(0, 60, 7).select(F.col("id").alias("doc_id"))
    )
    want = {i for i in range(60) if i % 5 != 0 and i % 7 != 0}

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    small = I.read_iceberg(spark, tbl)
    assert {r.doc_id for r in small.collect()} == want
    assert "SortMergeJoin" not in plan(small)  # proven-small: broadcast

    from gofeed_spark.sources import tablecore

    monkeypatch.setattr(tablecore, "DELETE_BROADCAST_MAX", 0)
    big = I.read_iceberg(spark, tbl)
    assert {r.doc_id for r in big.collect()} == want
    # the anti joins fell back to planner-chosen (non-broadcast) joins
    assert "SortMergeJoin" in plan(big) or "ShuffledHashJoin" in plan(big)
    # changelog path honors the same bound
    ch = I.read_iceberg_changes(spark, tbl, 1, cdf=True)
    # 12 position-deleted (%5) + 7 eq-deleted (%7 keys still live)
    assert ch.filter("_change_type = 'delete'").count() == 12 + 7

    # unknown record_count must NEVER count as zero/broadcastable
    rel = spark.range(3).toDF("x")
    monkeypatch.setattr(tablecore, "DELETE_BROADCAST_MAX", 10)
    assert tablecore.maybe_broadcast(rel, [None]) is rel
    assert tablecore.maybe_broadcast(rel, [2, None]) is rel
    assert tablecore.maybe_broadcast(rel, [11]) is rel
    assert tablecore.maybe_broadcast(rel, [2]) is not rel


def test_staged_files_carry_parquet_field_ids(spark, corpus, tmp_path):
    """Spec-conformant external readers resolve columns BY FIELD ID:
    data files carry the table schema's ids, position-delete files the
    reserved ids (2147483546 file_path / 2147483545 pos), equality
    deletes the table ids of their key columns (r16 advice)."""
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "tbl")
    I.write_iceberg(corpus, tbl, partition_by=["source"])
    I.delete_iceberg_rows(spark, tbl, "doc_id % 5 = 0")
    I.delete_iceberg_equality(
        spark, tbl, spark.range(3).select(F.col("id").alias("doc_id"))
    )

    def field_ids(path):
        sch = pq.read_schema(path)
        out = {}
        for f in sch:
            md = f.metadata or {}
            fid = md.get(b"PARQUET:field_id")
            out[f.name] = int(fid) if fid is not None else None
        return out

    import glob as _glob

    data = sorted(
        _glob.glob(f"{tbl}/data/**/part-*.parquet", recursive=True)
    )
    posd = sorted(_glob.glob(f"{tbl}/data/delete-*.parquet"))
    eqd = sorted(_glob.glob(f"{tbl}/data/eqdelete-*.parquet"))
    assert data and posd and eqd
    meta, _v = I._load_metadata(I.get_filesystem(tbl), tbl)
    by_name = {
        f["name"]: f["id"] for f in I._current_schema(meta)["fields"]
    }
    got = field_ids(data[0])
    assert got["doc_id"] == by_name["doc_id"] and got["n"] == by_name["n"]
    assert field_ids(posd[0]) == {
        "file_path": 2147483546,
        "pos": 2147483545,
    }
    assert field_ids(eqd[0]) == {"doc_id": by_name["doc_id"]}


def test_iceberg_stream_admission_caps_pace_backlog(spark, corpus, tmp_path):
    """iceberg_feed twin of the delta admission caps: a backlog drains
    over many micro-batches (whole snapshots per trigger), byte caps
    exercise the manifest-walk stats fallback (our writer records no
    added-files-size summary), totals exactly-once."""
    from gofeed_spark.sources.tablestream import read_iceberg_stream

    tbl = str(tmp_path / "tbl")
    for lo in range(0, 60, 10):  # 6 append snapshots
        I.write_iceberg(
            corpus.filter(f"doc_id >= {lo} and doc_id < {lo + 10}"),
            tbl,
            partition_by=["source"],
        )

    batches: list[tuple[int, int, set]] = []

    def sink(b, bid):
        rows = b.collect()
        if rows:
            batches.append((bid, len(rows), {r._snapshot_id for r in rows}))

    s = read_iceberg_stream(spark, tbl, max_versions_per_trigger=2)
    q = (
        s.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(batches) == 3
    assert all(len(vs) <= 2 for _b, _n, vs in batches)
    assert sum(n for _b, n, _vs in batches) == 60

    # byte cap small enough that every snapshot rides alone (stats come
    # from the manifest walk — engine-written summaries carry no sizes)
    batches.clear()
    s1 = read_iceberg_stream(spark, tbl, max_bytes_per_trigger=1)
    q = (
        s1.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(batches) == 6 and all(len(vs) == 1 for _b, _n, vs in batches)
    assert sum(n for _b, n, _vs in batches) == 60


def test_timestamp_time_travel(spark, corpus, tmp_path):
    """as_of_ts walks the SNAPSHOT LOG (when each snapshot became
    current), so a rollback re-points timestamp reads exactly like real
    readers; engine timestamps are the sequence number (clock-free)."""
    tbl = str(tmp_path / "tbl")
    s1 = I.write_iceberg(corpus.filter("doc_id < 20"), tbl, partition_by=["source"])
    s2 = I.write_iceberg(corpus.filter("doc_id >= 20"), tbl, partition_by=["source"])
    assert I.read_iceberg(spark, tbl, as_of_ts=s1).count() == 20
    assert I.read_iceberg(spark, tbl, as_of_ts=s2).count() == 60
    assert I.read_iceberg(spark, tbl, as_of_ts=s2 + 50).count() == 60
    with pytest.raises(I.IcebergError, match="predates"):
        I.read_iceberg(spark, tbl, as_of_ts=0)
    with pytest.raises(I.IcebergError, match="at most one"):
        I.read_iceberg(spark, tbl, snapshot_id=s1, as_of_ts=s1)
    # rollback appends a snapshot-log entry at the current last-seq:
    # a timestamp AT/after it resolves to the RESTORED snapshot
    I.rollback_iceberg(tbl, s1)
    meta, _v = I._load_metadata(I.get_filesystem(tbl), tbl)
    assert I.snapshot_at_timestamp(meta, s2) == s1  # log order wins ties
    assert I.read_iceberg(spark, tbl, as_of_ts=s2 + 1).count() == 20
    # snapshot-log-less metadata falls back to snapshot timestamps
    meta2 = dict(meta)
    meta2.pop("snapshot-log", None)
    assert I.snapshot_at_timestamp(meta2, s1) == s1


# --- MERGE (equality-delete + append in one snapshot) ----------------------------


def test_merge_iceberg_upsert_and_changelog(spark, tmp_path):
    """merge_iceberg default mode: ONE snapshot, eq-delete of the source
    keys + the new rows at the same sequence number (strictly-below rule
    keeps them visible) — O(source), no target data read or rewritten;
    the changelog reads it as delete(old)+insert(new)."""
    tbl = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    s1 = I.write_iceberg(df, tbl, partition_by=["p"])
    before = set(I.read_iceberg(spark, tbl).inputFiles())
    src = spark.createDataFrame(
        [(3, 3000, "1"), (4, 4000, "0"), (100, 1000, "0")],
        "k long, v long, p string",
    )
    s2 = I.merge_iceberg(spark, tbl, src, on=["k"])
    out = {r.k: (r.v, r.p) for r in I.read_iceberg(spark, tbl).collect()}
    assert out[3] == (3000, "1") and out[4] == (4000, "0")
    assert out[100] == (1000, "0") and out[0] == (0, "0") and len(out) == 11
    # merge-on-read: every original data file is still live (no rewrite)
    after = set(I.read_iceberg(spark, tbl).inputFiles())
    assert before <= after
    # changelog: matched keys appear as delete(old) + insert(new)
    ch = I.read_iceberg_changes(spark, tbl, s1, cdf=True)
    got = sorted((r.k, r._change_type) for r in ch.collect())
    assert got == [
        (3, "delete"), (3, "insert"),
        (4, "delete"), (4, "insert"),
        (100, "insert"),
    ]
    # time travel below the merge; append-only readers refuse it loudly
    assert I.read_iceberg(spark, tbl, snapshot_id=s1).count() == 10
    with pytest.raises(I.IcebergUnsupported, match="cdf=True"):
        I.read_iceberg_changes(spark, tbl, s1)
    # partition pruning still works across merged files
    pr = I.read_iceberg(spark, tbl, where={"p": "0"})
    assert {r.k for r in pr.collect()} == {0, 2, 4, 6, 8, 100}
    # a later plain append is NOT hidden by the merge's eq-delete
    I.write_iceberg(
        spark.createDataFrame([(3, 33333, "1")], "k long, v long, p string"),
        tbl, partition_by=["p"],
    )
    rows = sorted(
        (r.k, r.v) for r in I.read_iceberg(spark, tbl).collect() if r.k == 3
    )
    assert rows == [(3, 3000), (3, 33333)]  # both above the delete's seq


def test_merge_iceberg_modes_and_guards(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
        tbl,
    )
    # update-only: unmatched source keys are ignored entirely
    I.merge_iceberg(
        spark, tbl,
        spark.createDataFrame([(5, 5555), (200, 1)], "k long, v long"),
        on=["k"], when_not_matched=None,
    )
    out = {r.k: r.v for r in I.read_iceberg(spark, tbl).collect()}
    assert out[5] == 5555 and 200 not in out and len(out) == 10
    # insert-only: matched keys untouched
    I.merge_iceberg(
        spark, tbl,
        spark.createDataFrame([(5, 1), (300, 3)], "k long, v long"),
        on=["k"], when_matched=None,
    )
    out = {r.k: r.v for r in I.read_iceberg(spark, tbl).collect()}
    assert out[5] == 5555 and out[300] == 3
    # delete+insert: matched hidden, unmatched inserted
    I.merge_iceberg(
        spark, tbl,
        spark.createDataFrame([(3, 0), (400, 4)], "k long, v long"),
        on=["k"], when_matched="delete",
    )
    out = {r.k: r.v for r in I.read_iceberg(spark, tbl).collect()}
    assert 3 not in out and out[400] == 4
    # delete-only delegates to the equality-delete writer
    I.merge_iceberg(
        spark, tbl, spark.createDataFrame([(400, 0)], "k long, v long"),
        on=["k"], when_matched="delete", when_not_matched=None,
    )
    assert 400 not in {r.k for r in I.read_iceberg(spark, tbl).collect()}
    # guards
    with pytest.raises(I.IcebergError, match="duplicate key"):
        I.merge_iceberg(
            spark, tbl,
            spark.createDataFrame([(1, 1), (1, 2)], "k long, v long"),
            on=["k"],
        )
    with pytest.raises(I.IcebergSchemaMismatch):
        I.merge_iceberg(
            spark, tbl, spark.createDataFrame([(1,)], "k long"), on=["k"]
        )
    # a TRUE file-replacing overwrite still refuses in the changelog
    pre = I.latest_snapshot(tbl)
    I.write_iceberg(
        spark.range(2).select(F.col("id").alias("k"), F.col("id").alias("v")),
        tbl, mode="overwrite",
    )
    with pytest.raises(I.IcebergUnsupported, match="file-replacing"):
        I.read_iceberg_changes(spark, tbl, pre, cdf=True).count()


def test_iceberg_upsert_sink_exactly_once(spark, tmp_path):
    """IcebergUpsertSink: first batch creates the table, later batches
    commit ONE merge snapshot each (summary-stamped), re-delivered ids
    skip across a sink restart via last_summary_version."""
    from gofeed_spark.streaming.sinks import IcebergUpsertSink

    tbl = str(tmp_path / "tbl")
    sink = IcebergUpsertSink(tbl, on=["k"], app_id="iups-e2e")
    sink(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), 0)
    b1 = spark.createDataFrame([(2, 21), (3, 30)], "k long, v long")
    sink(b1, 1)
    assert {r.k: r.v for r in sink.read(spark).collect()} == {1: 10, 2: 21, 3: 30}
    sink2 = IcebergUpsertSink(tbl, on=["k"], app_id="iups-e2e")
    sink2(b1, 1)  # re-delivery after restart
    assert sink2.last_skipped == 1
    assert I.latest_snapshot(tbl) == 2  # nothing new committed
    sink2(spark.createDataFrame([(1, 11)], "k long, v long"), 2)
    assert {r.k: r.v for r in sink2.read(spark).collect()} == {1: 11, 2: 21, 3: 30}


def test_apply_changes_iceberg_chain(spark, tmp_path):
    """Changelog consumed from one table and MERGEd into another: net
    effect per key ordered by SEQUENCE NUMBER (insert outranks delete
    within a merge snapshot; a later delete outranks the merge's
    insert), idempotent re-apply."""
    src_t, dst_t = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    s0 = I.write_iceberg(df, src_t)
    I.write_iceberg(df, dst_t)
    I.merge_iceberg(
        spark, src_t,
        spark.createDataFrame([(1, 1111), (2, 2222), (50, 500)], "k long, v long"),
        on=["k"],
    )
    I.delete_iceberg_equality(spark, src_t, spark.createDataFrame([(2,)], "k long"))
    I.write_iceberg(spark.createDataFrame([(60, 600)], "k long, v long"), src_t)
    res = I.apply_changes_iceberg(spark, src_t, dst_t, ["k"], from_snapshot_id=s0)
    assert (res["n_upserts"], res["n_deletes"]) == (3, 1)
    want = {0: 0, 1: 1111, 3: 30, 4: 40, 5: 50, 6: 60, 7: 70, 8: 80, 9: 90,
            50: 500, 60: 600}
    assert {r.k: r.v for r in I.read_iceberg(spark, dst_t).collect()} == want
    # idempotent by value
    I.apply_changes_iceberg(spark, src_t, dst_t, ["k"], from_snapshot_id=s0)
    assert {r.k: r.v for r in I.read_iceberg(spark, dst_t).collect()} == want


def test_apply_changes_iceberg_stamp_rides_last_commit(spark, tmp_path):
    """summary_extra rides only the LAST commit of an apply-changes
    window — the iceberg twin of the delta txn-placement rule."""
    src_t, dst_t = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    s0 = I.write_iceberg(df, src_t)
    I.write_iceberg(df, dst_t)
    I.merge_iceberg(
        spark, src_t, spark.createDataFrame([(1, 111)], "k long, v long"), on=["k"]
    )
    I.delete_iceberg_equality(spark, src_t, spark.createDataFrame([(2,)], "k long"))
    I.apply_changes_iceberg(
        spark, src_t, dst_t, ["k"], s0,
        summary_extra={"app-id": "cdc", "batch-id": 3},
    )
    meta, _v = I._load_metadata(I.get_filesystem(dst_t), dst_t)
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    # upsert snapshot (2nd) unstamped; delete snapshot (last) stamped
    assert "app-id" not in (snaps[-2].get("summary") or {})
    assert (snaps[-1]["summary"]).get("app-id") == "cdc"
    assert I.last_summary_version(dst_t, "cdc") == 3


def test_changelog_refuses_copy_on_write_delete(spark, corpus, tmp_path):
    """A foreign COPY-ON-WRITE delete (op='delete' whose added manifest
    carries data files / deleted entries) must refuse loudly — its
    survivor rows would otherwise be fabricated as inserts."""
    import json as _json

    tbl = str(tmp_path / "tbl")
    s1 = I.write_iceberg(corpus.filter("doc_id < 10"), tbl)
    I.write_iceberg(corpus.filter("doc_id >= 10 and doc_id < 20"), tbl)
    # disguise the second APPEND as a copy-on-write DELETE snapshot
    fs = I.get_filesystem(tbl)
    meta, v = I._load_metadata(fs, tbl)
    for s in meta["snapshots"]:
        if s["snapshot-id"] != s1:
            s["summary"]["operation"] = "delete"
    I._publish_metadata(fs, tbl, v, meta)
    with pytest.raises(I.IcebergUnsupported, match="copy-on-write"):
        I.read_iceberg_changes(spark, tbl, s1, cdf=True).count()


def test_merge_composes_with_rewrite_and_expire(spark, corpus, tmp_path):
    """Maintenance interplay for MERGE snapshots: rewrite_iceberg folds a
    merge's equality deletes through its merge-on-read input (old key
    versions stay hidden after packing, incremental consumers skip the
    replace), and expire reclaims eq-delete files only when no kept
    snapshot can reach them."""
    tbl = str(tmp_path / "tbl")
    import glob as _glob

    for lo in (0, 20, 40):
        I.write_iceberg(
            corpus.filter(f"doc_id >= {lo} and doc_id < {lo + 20}"),
            tbl, partition_by=["source"],
        )
    src = corpus.filter("doc_id % 4 = 0").select(
        "doc_id", "source", (F.col("n") + 1000).alias("n")
    )
    I.merge_iceberg(spark, tbl, src, on=["doc_id"])
    want = {
        (i, i * 2 + 1000 if i % 4 == 0 else i * 2) for i in range(60)
    }
    res = I.rewrite_iceberg(spark, tbl, target_file_bytes=1 << 30, min_files=2)
    assert res["packed"] > 0
    out = {(r.doc_id, r.n) for r in I.read_iceberg(spark, tbl).collect()}
    assert out == want  # merged values survive packing, old versions don't
    # the replace snapshot carries DELETE manifests by pointer (deletes
    # keep applying to any untouched files), so the eq-delete file stays
    # REACHABLE from HEAD — expire must keep it and the pre-merge data
    # files the merge never rewrote, while reclaiming the superseded
    # packed-away files
    deleted = I.expire_iceberg(tbl, keep_last=1)
    assert deleted and not any("eqdelete" in p for p in deleted)
    assert _glob.glob(f"{tbl}/data/eqdelete-*.parquet")
    assert {(r.doc_id, r.n) for r in I.read_iceberg(spark, tbl).collect()} == want


def test_manifest_bounds_prune_data_columns(spark, corpus, tmp_path):
    """Data files carry spec lower/upper bounds (binary single-value
    serialization keyed by field id); where= on a data column prunes
    entries at the driver (a point lookup opens only overlapping files)
    and still row-filters exactly."""
    import struct

    tbl = str(tmp_path / "tbl")
    for lo in (0, 20, 40):
        I.write_iceberg(
            corpus.filter(f"doc_id >= {lo} and doc_id < {lo + 20}").coalesce(1),
            tbl,
        )
    # bounds are IN the manifests, spec-shaped
    fs = I.get_filesystem(tbl)
    meta, _v = I._load_metadata(fs, tbl)
    entries, _dels = I._live_entries(fs, I._snapshot_of(meta, None))
    by_name = I._bound_id_map(I._current_schema(meta))
    doc_fid = by_name["doc_id"][0]
    e0 = next(
        e for e in entries
        if {r["key"]: r["value"] for r in e["lower_bounds"]}.get(doc_fid)
        == struct.pack("<q", 0)
    )
    ub = {r["key"]: r["value"] for r in e0["upper_bounds"]}
    assert ub[doc_fid] == struct.pack("<q", 19)
    # string bounds present only when footer stats are exact; source is
    # a short string — either present and correct, or absent
    src_fid = by_name["source"][0]
    lb = {r["key"]: r["value"] for r in e0["lower_bounds"]}
    if src_fid in lb:
        assert lb[src_fid] == b"s0"

    full = I.read_iceberg(spark, tbl)
    df = I.read_iceberg(spark, tbl, where={"doc_id": "25"})
    assert [(r.doc_id, r.n) for r in df.collect()] == [(25, 50)]
    assert 0 < len(df.inputFiles()) < len(full.inputFiles())
    # merge-on-read composes: bounds pruning never drops delete files
    I.delete_iceberg_rows(spark, tbl, "doc_id = 25")
    assert I.read_iceberg(spark, tbl, where={"doc_id": "25"}).count() == 0
    assert I.read_iceberg(spark, tbl, where={"doc_id": "26"}).count() == 1
    with pytest.raises(I.IcebergError, match="does not parse"):
        I.read_iceberg(spark, tbl, where={"doc_id": "abc"})


def test_rewrite_preserves_bounds(spark, corpus, tmp_path):
    """Compaction must not lose the skipping input: packed files carry
    fresh lower/upper bounds, so a point lookup stays pruned after
    rewrite (when the rewrite leaves more than one file to skip)."""
    tbl = str(tmp_path / "tbl")
    for lo in (0, 20, 40):
        I.write_iceberg(
            corpus.filter(f"doc_id >= {lo} and doc_id < {lo + 20}").coalesce(1),
            tbl, partition_by=["source"],
        )
    I.rewrite_iceberg(spark, tbl, target_file_bytes=1 << 30, min_files=2)
    fs = I.get_filesystem(tbl)
    meta, _v = I._load_metadata(fs, tbl)
    entries, _d = I._live_entries(fs, I._snapshot_of(meta, None))
    packed = [e for e in entries if ".rw.parquet" in e["file_path"]]
    assert packed and all(e.get("lower_bounds") for e in packed)
    df = I.read_iceberg(spark, tbl, where={"doc_id": "25"})
    assert [r.doc_id for r in df.collect()] == [25]


def test_merge_null_keys_never_match(spark, tmp_path):
    """r17 advice fix: the eq-delete reader matches NULL-SAFELY, so a
    NULL-keyed source row in the delete file would hide existing
    NULL-keyed target rows.  MERGE semantics (merge_delta's documented
    behavior): NULL keys never match and therefore INSERT."""
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(
        spark.createDataFrame([(1, 10), (None, 77)], "k long, v long"), tbl
    )
    I.merge_iceberg(
        spark, tbl,
        spark.createDataFrame([(None, 88), (1, 11)], "k long, v long"),
        on=["k"],
    )
    rows = [(r.k, r.v) for r in I.read_iceberg(spark, tbl).collect()]
    # the old NULL row SURVIVES, the source NULL row inserts, k=1 updates
    assert sorted(rows, key=lambda t: (t[0] is None, t)) == [
        (1, 11), (None, 77), (None, 88)
    ]
    # pure keyed delete: NULL keys no-op instead of hiding NULL rows
    I.merge_iceberg(
        spark, tbl, spark.createDataFrame([(None, 0)], "k long, v long"),
        on=["k"], when_matched="delete", when_not_matched=None,
    )
    assert I.read_iceberg(spark, tbl).count() == 3


def test_where_unsupported_type_falls_through(spark, tmp_path):
    """r17 advice fix: where= on a data column whose type lacks bounds
    support (boolean) must NOT raise — it skips pruning and applies as a
    row filter, matching read_delta's behavior."""
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(
        spark.createDataFrame(
            [(1, True), (2, False), (3, True)], "k long, flag boolean"
        ),
        tbl,
    )
    got = I.read_iceberg(spark, tbl, where={"flag": "true"})
    assert sorted(r.k for r in got.collect()) == [1, 3]
    # unknown columns still raise
    with pytest.raises(I.IcebergError, match="nor table columns"):
        I.read_iceberg(spark, tbl, where={"nope": "1"})


def test_where_float32_probe_rounds_through_float32(spark, tmp_path):
    """Iceberg twin of the delta float32 probe fix: manifest bounds are
    exact float32; the probe parse must round the same way."""
    tbl = str(tmp_path / "tbl")
    for k, v in [(1, 0.1), (2, 7.5)]:
        I.write_iceberg(
            spark.createDataFrame([(k, v)], "k long, fv float").coalesce(1), tbl
        )
    got = I.read_iceberg(spark, tbl, where={"fv": "0.1"})
    assert [r.k for r in got.collect()] == [1]


def test_statbounds_string_upper_bound():
    from gofeed_spark.sources.statbounds import string_upper_bound

    assert string_upper_bound("abc") == "abd"
    assert string_upper_bound("ab" + chr(0x10FFFF)) == "ac"
    assert string_upper_bound(chr(0x10FFFF) * 3) is None
    # surrogate range is skipped, not produced
    assert string_upper_bound(chr(0xD7FF)) == chr(0xE000)
    b = string_upper_bound("a" * 100 + "zz")
    assert b is not None and b > "a" * 100 + "zz" + "anything"


def test_rewrite_sort_clusters_for_skipping(spark, tmp_path):
    """r17: rewrite(sort_by=) re-clusters unordered accretion so the
    manifest bounds actually drop files; contents unchanged, the
    replace snapshot invisible to incremental readers."""
    tbl = str(tmp_path / "tbl")
    for r in range(3):
        I.write_iceberg(
            spark.range(3000)
            .filter(F.col("id") % 3 == r)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1),
            tbl,
        )
    pre_hit = I.read_iceberg(spark, tbl, where={"k": "777"})
    assert len(pre_hit.inputFiles()) == 3
    before = {(r.k, r.v) for r in I.read_iceberg(spark, tbl).collect()}
    pre_snap = I.latest_snapshot(tbl)
    res = I.rewrite_iceberg(
        spark, tbl, target_file_bytes=1, sort_by=["k"], min_files=2
    )
    assert res["rewritten"] == 3 and res["packed"] >= 2
    assert {(r.k, r.v) for r in I.read_iceberg(spark, tbl).collect()} == before
    # incremental read across the replace snapshot: nothing re-delivered
    assert I.read_iceberg_changes(spark, tbl, pre_snap).count() == 0
    post_hit = I.read_iceberg(spark, tbl, where={"k": "777"})
    assert 0 < len(post_hit.inputFiles()) < len(
        I.read_iceberg(spark, tbl).inputFiles()
    )
    assert [r.v for r in post_hit.collect()] == [1554]
    with pytest.raises(I.IcebergError, match="not in table schema"):
        I.rewrite_iceberg(spark, tbl, sort_by=["nope"])


def test_cluster_layout_guards():
    from gofeed_spark.sources.cluster import ClusterError, cluster_layout
    from gofeed_spark.session import get_spark

    spark = get_spark("t")
    df = spark.range(10).selectExpr("id", "cast(id as string) as s")
    with pytest.raises(ClusterError, match="not in"):
        cluster_layout(df, ["nope"], 2)
    with pytest.raises(ClusterError, match="numeric"):
        cluster_layout(df, ["id", "s"], 2)
    # single-key range clustering supports strings
    assert cluster_layout(df, ["s"], 2).count() == 10


def test_merge_conditional_and_partial(spark, tmp_path):
    """r17: the scan-mode conditional/partial MERGE twin — guards +
    column subsets on merge-on-read; guarded-out rows stay untouched,
    suppress inserts, and an all-guarded-out merge is a no-op."""
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k long, v long, tag string",
        ),
        tbl,
    )
    src = spark.createDataFrame(
        [(1, 5, "x"), (2, 25, "y"), (9, 90, "z")], "k long, v long, tag string"
    )
    I.merge_iceberg(spark, tbl, src, ["k"], when_matched=("update", "s.v > t.v"))
    out = {r.k: (r.v, r.tag) for r in I.read_iceberg(spark, tbl).collect()}
    assert out == {1: (10, "a"), 2: (25, "y"), 3: (30, "c"), 9: (90, "z")}
    I.merge_iceberg(
        spark, tbl, spark.createDataFrame([(2, 999)], "k long, v long"),
        ["k"], when_matched="update", when_not_matched=None, set_cols=["v"],
    )
    out = {r.k: (r.v, r.tag) for r in I.read_iceberg(spark, tbl).collect()}
    assert out[2] == (999, "y")
    pre = I.latest_snapshot(tbl)
    assert I.merge_iceberg(
        spark, tbl,
        spark.createDataFrame([(2, 1, "q")], "k long, v long, tag string"),
        ["k"], when_matched=("update", "s.v > t.v"), when_not_matched="insert",
    ) == -1
    assert I.latest_snapshot(tbl) == pre
    assert {r.k for r in I.read_iceberg(spark, tbl).collect()} == {1, 2, 3, 9}
    I.merge_iceberg(
        spark, tbl, spark.createDataFrame([(1,), (3,)], "k long"),
        ["k"], when_matched=("delete", "t.v >= 30"), when_not_matched=None,
    )
    assert {r.k for r in I.read_iceberg(spark, tbl).collect()} == {1, 2, 9}
    with pytest.raises(I.IcebergError, match="set_cols requires"):
        I.merge_iceberg(spark, tbl, src, ["k"], when_matched="delete",
                        when_not_matched=None, set_cols=["v"])
    with pytest.raises(I.IcebergError, match="cannot insert"):
        I.merge_iceberg(spark, tbl, src, ["k"], set_cols=["v"])


def test_rewrite_sort_declares_sort_order(spark, tmp_path):
    """rewrite(sort_by=) records the layout in the spec's vocabulary: a
    sort order over the keys becomes the table default; repeat rewrites
    with the same keys reuse the order id."""
    from gofeed_spark.fs import get_filesystem

    tbl = str(tmp_path / "tbl")
    for r in range(2):
        I.write_iceberg(
            spark.range(200).filter(F.col("id") % 2 == r)
            .select(F.col("id").alias("k")).coalesce(1),
            tbl,
        )
    I.rewrite_iceberg(spark, tbl, target_file_bytes=1, sort_by=["k"])
    meta, _v = I._load_metadata(get_filesystem(tbl), tbl)
    oid = meta["default-sort-order-id"]
    assert oid != 0
    order = next(o for o in meta["sort-orders"] if o["order-id"] == oid)
    assert order["fields"][0]["transform"] == "identity"
    assert order["fields"][0]["direction"] == "asc"
    # same keys again: the id is REUSED, not re-declared
    I.write_iceberg(spark.range(200, 300).select(F.col("id").alias("k")), tbl)
    I.rewrite_iceberg(spark, tbl, target_file_bytes=1, sort_by=["k"])
    meta2, _v2 = I._load_metadata(get_filesystem(tbl), tbl)
    assert meta2["default-sort-order-id"] == oid
    assert len([o for o in meta2["sort-orders"] if o.get("fields")]) == 1


def test_cluster_layout_zorder_nulls(spark, tmp_path):
    """Multi-key z-order keeps NULL keys clustered in the top bucket
    (searchsorted past the end, clipped) — no rows lost, no explosion."""
    from gofeed_spark.sources.cluster import cluster_layout

    df = spark.range(1000).selectExpr(
        "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS x",
        "CAST(id % 37 AS DOUBLE) AS y",
    )
    out = cluster_layout(df, ["x", "y"], 4)
    assert out.count() == 1000
    assert out.filter("x IS NULL").count() == 100


def test_partition_spec_evolution(spark, corpus, tmp_path):
    """Partition-spec EVOLUTION (spec §Partition Evolution): a new spec
    becomes the default while old manifests keep theirs by pointer —
    both file generations read correctly (identity values coalesce from
    data columns on pre-evolution files and from manifest partition
    records on post-evolution files), where= pruning stays conservative
    on old files and re-applies as a row filter, and field ids are
    reused for identical fields across specs."""
    tbl = str(tmp_path / "tbl")
    # generation 1: UNPARTITIONED
    I.write_iceberg(corpus.filter("doc_id < 30"), tbl)
    with pytest.raises(I.IcebergSchemaMismatch, match="evolve_partition"):
        I.write_iceberg(
            corpus.filter("doc_id >= 30"), tbl, partition_by=["source"]
        )
    # generation 2: identity(source)
    I.write_iceberg(
        corpus.filter("doc_id >= 30"), tbl, partition_by=["source"],
        evolve_partition=True,
    )
    meta = I._load_metadata(I.get_filesystem(tbl), tbl)[0]
    assert meta["default-spec-id"] == 1
    assert [s["spec-id"] for s in meta["partition-specs"]] == [0, 1]

    full = I.read_iceberg(spark, tbl)
    assert full.count() == 60
    # every row's source survives, whichever generation carries it
    assert full.filter("source IS NULL").count() == 0

    # where= on the partition field: old files are kept conservatively
    # and row-filtered; values match an exact recompute
    want = {r.doc_id for r in corpus.filter("source = 's1'").collect()}
    got = {
        r.doc_id
        for r in I.read_iceberg(spark, tbl, where={"source": "s1"}).collect()
    }
    assert got == want and got  # non-vacuous

    # generation 3: back to UNPARTITIONED, then to source again — the
    # identical field reuses its field-id (never minted twice)
    I.write_iceberg(
        corpus.filter("doc_id < 5").select(
            (F.col("doc_id") + 1000).alias("doc_id"), "source", "n"
        ),
        tbl, partition_by=[], evolve_partition=True,
    )
    I.write_iceberg(
        corpus.filter("doc_id < 5").select(
            (F.col("doc_id") + 2000).alias("doc_id"), "source", "n"
        ),
        tbl, partition_by=["source"], evolve_partition=True,
    )
    meta = I._load_metadata(I.get_filesystem(tbl), tbl)[0]
    specs = {s["spec-id"]: s["fields"] for s in meta["partition-specs"]}
    assert specs[3][0]["field-id"] == specs[1][0]["field-id"]
    assert I.read_iceberg(spark, tbl).count() == 70

    # DELETE and MERGE still work across generations
    I.delete_iceberg_rows(spark, tbl, "doc_id IN (0, 35, 1000)")
    assert I.read_iceberg(spark, tbl).count() == 67
    # rewrite refuses while pre-evolution layouts are live
    with pytest.raises(I.IcebergUnsupported, match="earlier partition"):
        I.rewrite_iceberg(spark, tbl, min_files=1)


def test_spec_evolution_drops_identity_field(spark, corpus, tmp_path):
    """The hard direction: a column that WAS identity-partitioned (its
    value lives only in old manifests) leaves the spec — reads must
    still restore it for the old files."""
    tbl = str(tmp_path / "tbl")
    I.write_iceberg(
        corpus.filter("doc_id < 20"), tbl, partition_by=["source"]
    )
    I.write_iceberg(
        corpus.filter("doc_id >= 20"), tbl, partition_by=[],
        evolve_partition=True,
    )
    full = I.read_iceberg(spark, tbl)
    assert full.count() == 60 and full.filter("source IS NULL").count() == 0
    want = {(r.doc_id, r.source) for r in corpus.collect()}
    assert {(r.doc_id, r.source) for r in full.collect()} == want


def test_spec_evolution_through_rest_catalog(spark, tmp_path):
    from pyspark.sql import functions as FF

    from gofeed_spark.sources.icecatalog import (
        RestCatalog,
        RestCatalogServer,
        commit_iceberg_rest,
        create_iceberg_rest,
        read_iceberg_rest,
    )

    def kv(lo, hi):
        return spark.range(lo, hi).select(
            FF.col("id").alias("k"),
            (FF.col("id") % 3).cast("string").alias("p"),
        )

    with RestCatalogServer(str(tmp_path / "wh")) as server:
        cat = RestCatalog(server.uri)
        cat.create_namespace("ns")
        loc = f"{server.warehouse}/ns/t1"
        create_iceberg_rest(
            cat, "ns.t1", loc, lambda p: I.write_iceberg(kv(0, 6), p)
        )
        commit_iceberg_rest(
            cat, "ns.t1",
            lambda p: I.write_iceberg(
                kv(6, 12), p, partition_by=["p"], evolve_partition=True
            ),
        )
        meta = cat.load_table("ns.t1")["metadata"]
        assert meta["default-spec-id"] == 1
        assert len(meta["partition-specs"]) == 2
        assert read_iceberg_rest(spark, cat, "ns.t1").count() == 12


def test_update_iceberg(spark, corpus, tmp_path):
    """Merge-on-read UPDATE (the update_delta twin): one overwrite
    snapshot hides matched rows via position deletes and appends the
    updated versions — set exprs see the OLD row, time travel keeps the
    pre-update state, the changelog reads delete+insert, and
    partition-MOVING updates restage under the new value."""
    tbl = str(tmp_path / "tbl")
    s1 = I.write_iceberg(corpus, tbl, partition_by=["source"])
    s2 = I.update_iceberg(spark, tbl, "doc_id < 5", {"n": "n + 1000"})
    assert s2 > s1
    got = {r.doc_id: r.n for r in I.read_iceberg(spark, tbl).collect()}
    assert all(got[i] == 2 * i + 1000 for i in range(5))
    assert got[10] == 20
    assert I.read_iceberg(spark, tbl, snapshot_id=s1).count() == 60
    ch = I.read_iceberg_changes(spark, tbl, from_snapshot_id=s1, cdf=True)
    kinds = sorted((r.doc_id, r._change_type) for r in ch.collect())
    assert kinds == sorted(
        [(i, "delete") for i in range(5)] + [(i, "insert") for i in range(5)]
    )

    # partition-moving update: the row restages under the new dir and a
    # partition lookup finds it there
    I.update_iceberg(spark, tbl, "doc_id = 7", {"source": "'moved'"})
    moved = I.read_iceberg(spark, tbl, where={"source": "moved"}).collect()
    assert [r.doc_id for r in moved] == [7]
    assert I.read_iceberg(spark, tbl).count() == 60

    # no match: no commit
    assert I.update_iceberg(spark, tbl, "doc_id = 999", {"n": "0"}) == -1
    with pytest.raises(I.IcebergError, match="not in table schema"):
        I.update_iceberg(spark, tbl, "doc_id = 1", {"nope": "1"})
