"""Apache Iceberg table interop: metadata-level reader/writer from the
public spec (iceberg.apache.org/spec, format-versions 2 and 3),
completing the open-table-format pair next to ``sources/delta.py``.

An Iceberg table is parquet data files plus a METADATA TREE: a JSON
table-metadata file (schemas, partition specs, snapshot list) whose
snapshots each point at a MANIFEST LIST (Avro) whose rows each point at
a MANIFEST (Avro) whose rows each describe one data file.  The sandbox
carries no Iceberg jars and no avro library — ``sources/avrocodec.py``
(pure Python, schema-driven) carries the manifest plane, so manifests
written by real Iceberg writers parse generically from their embedded
``avro.schema``.  Metadata is metadata-sized and handled driver-side
through the ``gofeed_spark.fs`` seam; the DATA plane stays Spark parquet
relations, so scans distribute exactly like every other table here.

Layout follows the HadoopCatalog convention: ``metadata/vN.metadata.json``
with a ``version-hint.text`` pointer (readers fall back to listing), data
files under ``data/`` in Hive ``col=value`` directories.

Scale posture (mirrors the Delta module):
- A snapshot resolves from ONE metadata JSON + its manifest list + its
  manifests — never an unbounded log replay; manifest lists carry prior
  manifests forward by POINTER, so an append reads+writes O(new files).
- ``read_iceberg(where=...)`` prunes manifest entries driver-side against
  identity-transform partition values BEFORE any data file is referenced —
  the manifest-level pruning real Iceberg readers perform (no directory
  listing; at 100 TB listing is the enemy).
- Partition columns are restored by ONE broadcast join from file basename
  to the manifest's authoritative partition struct — a single parquet
  relation regardless of partition count (identity transforms drop the
  column from data files, per the staging writer).

Concurrency: a commit publishes ``v{N+1}.metadata.json`` after an
existence probe (the HadoopCatalog rename-arbitration analogue); the
slower writer raises :class:`IcebergConcurrentWrite`, never silently
clobbers.  ``version-hint.text`` is an advisory pointer updated after.

Merge-on-read POSITION DELETES are supported both ways: reads apply
delete manifests (``content=1``) as one distributed anti join keyed on
(file, ``_metadata.row_index``) with the spec's sequence-number scoping,
and ``delete_iceberg_rows`` commits spec-shaped position-delete files so
other engines' readers hide the same rows.

Partition transforms (``sources/icetransforms.py``, spec §Partition
Transforms) are supported on read AND write: ``bucket[N]`` (spec-exact
murmur3 over little-endian longs / UTF-8), ``truncate[W]``,
``year/month/day/hour`` (whole units since epoch), ``void`` — manifest
pruning via ``where`` compares in transformed space, and transform
fields keep their source column in data files (only identity drops it).
Partition SPEC EVOLUTION (``write_iceberg(evolve_partition=True)``)
adds a new default spec while old manifests keep theirs; mixed-
generation reads coalesce identity values from data columns over
manifest partition records, so nothing is lost in either direction.

FORMAT-VERSION 3 (spec ratified 2024/25) is written too:
``write_iceberg(format_version=3)`` / ``upgrade_iceberg_format`` give
ROW LINEAGE (``next-row-id`` / snapshot ``first-row-id`` / explicit
per-file ``first_row_id``; read via ``read_iceberg(row_lineage=True)``),
``delete_iceberg_rows`` on a v3 table commits Puffin DELETION
VECTORS (``sources/puffin.py``) under the one-live-DV-per-file
merge-and-supersede rule instead of parquet position-delete files, and
``rewrite_iceberg`` preserves lineage through compaction by
MATERIALIZING ``_row_id``/``_last_updated_sequence_number`` into the
packed files (reserved field ids; packed entries carry NULL
``first_row_id`` so pre-lineage rows stay NULL instead of being
re-identified).

``merge_iceberg``/``apply_changes_iceberg`` on v3 preserve updated
rows' ``_row_id`` the same way (the blind mode pays one bounds-pruned
key+id scan for it — zero-scan is a v2-only property).

SNAPSHOT REFERENCES (spec §Snapshot References) are first-class:
``set_iceberg_ref``/``drop_iceberg_ref`` manage named branches and
tags, ``read_iceberg(ref=...)`` reads them, ``write_iceberg(branch=)``
stages commits on a branch without touching main, and
``fast_forward_iceberg`` is the write-audit-publish step (ancestor-
checked); ``expire_iceberg`` pins every ref target.

Unsupported (declared, raised loudly): format-version 1 writes and
incremental/streaming reads (plain v1 READS are fine — the schema-driven
Avro decode does not care, but v1 snapshots carry no sequence numbers so
a change feed would be silently empty), unknown partition transforms,
non-parquet data files.

Reference: the gofeed reference has no table format at all (one ORM
store, repo.go); §2.E added surface — VERDICT r13 missing item 3.
"""

from __future__ import annotations

import functools
import json
import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gofeed_spark.fs import FileSystem, get_filesystem
from gofeed_spark.sources import icetransforms as X
from gofeed_spark.sources import tablecore as core
from gofeed_spark.sources.avrocodec import AvroError, read_container, write_container
from gofeed_spark.sources.parsecache import ParseCache

#: process-wide manifest/manifest-list parse cache (see _read_avro)
_AVRO_CACHE = ParseCache(capacity=512)


class IcebergError(RuntimeError):
    """Base for Iceberg interop failures."""


class IcebergUnsupported(IcebergError):
    """The table requires features this module does not implement."""


class IcebergConcurrentWrite(IcebergError):
    """Another writer committed this metadata version first."""


class IcebergSchemaMismatch(IcebergError):
    """Append schema or partitioning differs from the table's metadata."""


_ENGINE = "gofeed_spark-iceberg/0.1"


# --- type mapping -------------------------------------------------------------

_TO_ICE = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
}
_FROM_ICE = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamptz": T.TimestampType(),
    "timestamp": T.TimestampNTZType(),
}


class _IdGen:
    def __init__(self, start: int = 0):
        self.last = start

    def next(self) -> int:
        self.last += 1
        return self.last


def _type_to_iceberg(dt: T.DataType, ids: _IdGen):
    for cls, name in _TO_ICE.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        eid = ids.next()
        return {
            "type": "list",
            "element-id": eid,
            "element": _type_to_iceberg(dt.elementType, ids),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = ids.next(), ids.next()
        return {
            "type": "map",
            "key-id": kid,
            "key": _type_to_iceberg(dt.keyType, ids),
            "value-id": vid,
            "value": _type_to_iceberg(dt.valueType, ids),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = ids.next()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _type_to_iceberg(f.dataType, ids),
                }
            )
        return {"type": "struct", "fields": fields}
    raise IcebergUnsupported(f"no Iceberg mapping for Spark type {dt}")


def _type_from_iceberg(it) -> T.DataType:
    if isinstance(it, str):
        if it in _FROM_ICE:
            return _FROM_ICE[it]
        if it.startswith("decimal("):
            p, s = it[len("decimal(") : -1].split(",")
            return T.DecimalType(int(p), int(s))
        raise IcebergUnsupported(f"Iceberg type {it!r}")
    t = it.get("type")
    if t == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _type_from_iceberg(f["type"]),
                    not f.get("required", False),
                )
                for f in it["fields"]
            ]
        )
    if t == "list":
        return T.ArrayType(
            _type_from_iceberg(it["element"]), not it.get("element-required", False)
        )
    if t == "map":
        return T.MapType(
            _type_from_iceberg(it["key"]),
            _type_from_iceberg(it["value"]),
            not it.get("value-required", False),
        )
    raise IcebergUnsupported(f"Iceberg type node {it!r}")


def _schema_to_iceberg(schema: T.StructType) -> tuple[dict, int]:
    """Spark schema → Iceberg schema dict with depth-first field ids;
    returns (schema, last-column-id)."""
    ids = _IdGen(0)
    struct = _type_to_iceberg(schema, ids)
    return {"type": "struct", "schema-id": 0, "fields": struct["fields"]}, ids.last


def _schema_from_iceberg(sch: dict) -> T.StructType:
    for f in sch.get("fields", []):
        if f.get("initial-default") is not None:
            # a v3 default applies to files written BEFORE the column was
            # added; our single-relation read cannot tell those apart
            # from genuine NULLs written after, so reading would be
            # silently wrong — refuse loudly instead
            raise IcebergUnsupported(
                f"column {f.get('name')!r} carries a non-null "
                "initial-default (v3 default values)"
            )
    return _type_from_iceberg({"type": "struct", "fields": sch["fields"]})


#: identity-partition value carriers in manifest Avro (per-source-type)
_PARTITION_AVRO = {
    "string": "string", "int": "int", "long": "long",
    "boolean": "boolean", "double": "double", "date": "int",
}


# --- metadata tree ------------------------------------------------------------


def _meta_dir(path: str) -> str:
    return path.rstrip("/") + "/metadata"


def _meta_name(version: int) -> str:
    return f"v{version}.metadata.json"


def _list_meta_versions(fs: FileSystem, md: str) -> list[tuple[int, str]]:
    """(version, file name) pairs, version-sorted.  Both naming dialects:
    this writer's HadoopCatalog ``vN.metadata.json`` and external
    writers' ``{seq}-{uuid}.metadata.json``."""
    out = []
    for name in fs.listdir(md):
        if not name.endswith(".metadata.json"):
            continue
        stem = name[: -len(".metadata.json")]
        if stem.startswith("v") and stem[1:].isdigit():
            out.append((int(stem[1:]), name))
        else:
            head = stem.split("-", 1)[0]
            if head.isdigit():
                out.append((int(head), name))
    return sorted(out)


def _load_metadata(fs: FileSystem, path: str) -> tuple[dict, int]:
    """(table metadata, metadata version).  version-hint first (one GET),
    listing fallback — the HadoopCatalog read protocol."""
    md = _meta_dir(path)
    hint = fs.join(md, "version-hint.text")
    version, name = None, None
    if fs.exists(hint):
        raw = fs.read_bytes(hint).decode("utf-8", "replace").strip()
        if raw.isdigit() and fs.exists(fs.join(md, _meta_name(int(raw)))):
            version, name = int(raw), _meta_name(int(raw))
    if version is None:
        versions = _list_meta_versions(fs, md)
        if not versions:
            raise IcebergError(f"not an Iceberg table (no metadata json): {path}")
        version, name = versions[-1]
    try:
        meta = json.loads(fs.read_bytes(fs.join(md, name)))
    except json.JSONDecodeError as exc:
        raise IcebergError(f"corrupt metadata v{version}: {exc}") from exc
    return meta, version


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
        raise IcebergError(f"current-schema-id {sid} not in schemas")
    if "schema" in meta:  # v1 form
        return meta["schema"]
    raise IcebergError("metadata carries no schema")


def _current_spec(meta: dict) -> list[dict]:
    if "partition-specs" in meta:
        sid = meta.get("default-spec-id", 0)
        for s in meta["partition-specs"]:
            if s.get("spec-id", 0) == sid:
                return list(s.get("fields", []))
        raise IcebergError(f"default-spec-id {sid} not in partition-specs")
    return list(meta.get("partition-spec", []))  # v1 form


def _spec_fields(ice_schema: dict, spec: list[dict]) -> list[dict]:
    """Validated partition-spec fields: one dict per spec field with
    {name, transform, kind, param, source_col, src_type, result_type}.
    Raises :class:`IcebergUnsupported` for transforms outside the
    supported set (identity, bucket[N], truncate[W], year/month/day/hour,
    void) or transform/type combinations the spec forbids."""
    by_id = {f["id"]: (f["name"], f["type"]) for f in ice_schema["fields"]}
    out = []
    for f in spec:
        sid = f.get("source-id")
        if sid not in by_id:
            raise IcebergError(f"partition source-id {sid} not in schema")
        col, src_t = by_id[sid]
        if not isinstance(src_t, str):
            raise IcebergUnsupported(f"partition on nested type {col!r}")
        t = f.get("transform", "identity")
        try:
            kind, param = X.parse_transform(t)
            rtype = X.result_ice_type(kind, src_t)
        except X.IcebergTransformError as exc:
            raise IcebergUnsupported(str(exc)) from exc
        out.append(
            {
                "name": f.get("name") or X.field_name(kind, param, col),
                "transform": t,
                "kind": kind,
                "param": param,
                "source_col": col,
                "src_type": src_t,
                "result_type": rtype,
            }
        )
    return out


def _identity_restore_fields(meta: dict) -> tuple[list[str], list[str]]:
    """(source columns, spec field names) whose values may live in
    manifest partition records rather than data files — the IDENTITY
    fields of EVERY spec the table ever had, not just the default: under
    partition evolution, files written while a column was
    identity-partitioned carry its value only in their manifest, even
    after the field leaves the default spec.  Old specs that no longer
    parse (foreign transforms) are skipped — their files refuse later if
    actually read."""
    ice_schema = _current_schema(meta)
    spec_lists = (
        [s.get("fields") or [] for s in meta["partition-specs"]]
        if meta.get("partition-specs")
        else [_current_spec(meta)]
    )
    # the DEFAULT spec resolves first so its field names win
    default = _current_spec(meta)
    ordered = [default] + [s for s in spec_lists if s != default]
    pairs: dict[str, str] = {}
    for sfields in ordered:
        try:
            fields = _spec_fields(ice_schema, sfields)
        except (IcebergUnsupported, IcebergError):
            continue
        for f in fields:
            if f["kind"] == "identity":
                pairs.setdefault(f["source_col"], f["name"])
    pcols = list(pairs)
    return pcols, [pairs[c] for c in pcols]


def _snapshot_of(meta: dict, snapshot_id: int | None) -> dict:
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise IcebergError("table has no snapshots")
    if snapshot_id is None:
        cur = meta.get("current-snapshot-id")
        for s in snaps:
            if s["snapshot-id"] == cur:
                return s
        raise IcebergError(f"current-snapshot-id {cur} not in snapshots")
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise IcebergError(f"snapshot {snapshot_id} does not exist")


def _resolve_ref(meta: dict, name: str) -> int:
    """A snapshot REF (spec §Snapshot References: branches and tags) →
    its head snapshot id.  ``main`` resolves even on tables that predate
    the refs map (it mirrors current-snapshot-id)."""
    refs = meta.get("refs") or {}
    if name in refs:
        return int(refs[name]["snapshot-id"])
    if name == "main":
        cur = meta.get("current-snapshot-id")
        if cur is not None and cur >= 0:
            return int(cur)
    raise IcebergError(
        f"ref {name!r} does not exist (have {sorted(refs) or ['main']})"
    )


def _ancestor_ids(meta: dict, head_id: int | None = None) -> set[int] | None:
    """Snapshot ids on the parent chain of ``head_id`` (default: the
    CURRENT snapshot) — the set an incremental consumer of that branch
    may see (branch-staged commits share the table's sequence space but
    are not ancestors).  ``None`` when the log carries no parent
    pointers at all (foreign fallback: such a log cannot carry branches,
    so the sequence window IS the chain)."""
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    head = head_id if head_id is not None else meta.get("current-snapshot-id")
    if head is None or head not in by_id:
        return None
    chain: set[int] = set()
    c: int | None = head
    while c is not None and c in by_id:
        chain.add(c)
        c = by_id[c].get("parent-snapshot-id")
    end = by_id[head]
    earlier = [
        s
        for s in by_id.values()
        if s.get("sequence-number", 0) < end.get("sequence-number", 0)
    ]
    if len(chain) == 1 and end.get("parent-snapshot-id") is None and earlier:
        return None  # parentless foreign log: fall back to sequence order
    return chain


def _is_ancestor(meta: dict, ancestor_id: int, head_id: int) -> bool:
    """True when ``ancestor_id`` is on ``head_id``'s parent chain (or is
    it) — the fast-forward safety check."""
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    cur: int | None = head_id
    while cur is not None:
        if cur == ancestor_id:
            return True
        cur = by_id.get(cur, {}).get("parent-snapshot-id")
    return False


def _read_avro(fs: FileSystem, path: str):
    """Parse one manifest/manifest-list Avro container, through the
    process-wide :class:`ParseCache`: these files are WRITE-ONCE
    (uuid-tokened names, create-if-absent publication), so a path's
    parse can be reused across snapshots — append carries manifests by
    pointer, and without the cache every read re-parses the whole tree
    driver-side.  Deep copies in/out keep downstream mutation
    (``_seq`` stamping, ``_eq_cols``) away from the cached form."""
    try:
        sig = fs.stat(path)
    except Exception:  # noqa: BLE001 — cache is an optimization only
        sig = None
    hit = _AVRO_CACHE.get(path, sig) if sig is not None else None
    if hit is not None:
        return hit
    try:
        out = read_container(fs.read_bytes(path))
    except AvroError as exc:
        raise IcebergError(f"bad Avro at {path}: {exc}") from exc
    if sig is not None:
        _AVRO_CACHE.put(path, out, sig)
    return out


def _get(rec: dict, *names, default=None):
    """Field across spec revisions (v1/v2 renamed several manifest-list
    fields, e.g. added_data_files_count vs added_files_count)."""
    for n in names:
        if n in rec and rec[n] is not None:
            return rec[n]
    return default


def _live_entries(fs: FileSystem, snapshot: dict) -> tuple[list[dict], list[dict]]:
    """Manifest-list walk → (data entries, DELETE entries) of one
    snapshot ({file_path, partition, record_count, file_size_in_bytes}).
    Each entry gains ``_seq``, its DATA SEQUENCE NUMBER — explicit on the
    manifest entry when present, else inherited from the manifest-list
    row (the v2 inheritance rule) — which scopes merge-on-read delete
    application (position deletes hide rows in data files with seq <=
    theirs; equality deletes in data files with seq STRICTLY below).
    Delete entries carry ``content`` 1 (position) or 2 (equality, with
    ``equality_ids``); unscoped equality deletes on a PARTITIONED spec
    refuse when resolved (see ``_resolve_eq_cols``).

    Data entries additionally gain ``_frid``, the file's first assigned
    row id (format-v3 row lineage): explicit ``first_row_id`` when the
    writer recorded it, else inherited from the manifest-list row's
    ``first_row_id`` plus the record counts of preceding ADDED data
    files with null ids (the spec's inheritance scheme); ``None`` for
    pre-v3 files — their rows carry no lineage."""
    _sch, _meta, manifests = _read_avro(fs, snapshot["manifest-list"])
    data: list[dict] = []
    dels: list[dict] = []
    for mf in manifests:
        mf_seq = int(_get(mf, "sequence_number", default=0) or 0)
        mf_frid = _get(mf, "first_row_id", default=None)
        running = int(mf_frid) if mf_frid is not None else None
        _s, _m, entries = _read_avro(fs, mf["manifest_path"])
        for e in entries:
            if e.get("status") == 2:  # DELETED
                continue
            df_ = e.get("data_file") or {}
            fmt = str(df_.get("file_format", "")).upper()
            content = _get(df_, "content", default=0)
            if fmt == "PUFFIN" and content == 1:
                # format-v3 DELETION VECTOR: one blob per data file in a
                # Puffin container, addressed by the entry itself
                if not df_.get("referenced_data_file"):
                    raise IcebergUnsupported(
                        "deletion-vector entry without referenced_data_file"
                    )
                df_["_dv"] = True
            elif fmt != "PARQUET":
                raise IcebergUnsupported(f"data format {fmt!r} (parquet only)")
            seq = e.get("sequence_number")
            df_["_seq"] = int(seq) if seq is not None else mf_seq
            if content == 0:
                frid = df_.get("first_row_id")
                if frid is not None:
                    df_["_frid"] = int(frid)
                elif running is not None and e.get("status", 0) == 1:
                    # inheritance: null-id ADDED files consume ids
                    # sequentially from the manifest's first_row_id
                    df_["_frid"] = running
                    running += int(df_.get("record_count", 0) or 0)
                else:
                    df_["_frid"] = None
                data.append(df_)
            elif content in (1, 2):
                dels.append(df_)
            else:
                raise IcebergUnsupported(f"delete-file content {content!r}")
    return data, dels


def _resolve_eq_cols(ice_schema: dict, dels: list[dict]) -> None:
    """Resolve each equality delete's ``equality_ids`` to column NAMES
    (stashed as ``_eq_cols``) and enforce the supported scope: global
    (all-null partition record) equality deletes only — a
    partition-SCOPED equality delete must not hide same-keyed rows in
    other partitions, and silently widening it would delete too much."""
    by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
    for d in dels:
        if d.get("content", 1) != 2:
            continue
        ids = d.get("equality_ids") or []
        if not ids:
            raise IcebergUnsupported(
                "equality delete file without equality_ids"
            )
        missing = [i for i in ids if i not in by_id]
        if missing:
            raise IcebergUnsupported(
                f"equality_ids {missing} not in the current schema"
            )
        if any(v is not None for v in (d.get("partition") or {}).values()):
            raise IcebergUnsupported(
                "partition-scoped equality deletes (global deletes only)"
            )
        d["_eq_cols"] = [by_id[i] for i in ids]


def _live(fs: FileSystem, meta: dict, snapshot_id: int | None = None):
    """(data entries, delete entries) of a snapshot (default: current),
    equality-delete columns resolved."""
    entries, dels = _live_entries(fs, _snapshot_of(meta, snapshot_id))
    _resolve_eq_cols(_current_schema(meta), dels)
    return entries, dels


def _dv_of(fs: FileSystem, d: dict, cache: dict) -> core.DeletionVector:
    """A format-v3 DV entry as a core descriptor: its deletion-vector-v1
    blob inside a Puffin file (each Puffin file fetched once per
    ``cache``); ``record_count`` is the spec's cardinality."""
    from gofeed_spark.sources.puffin import decode_dv_blob, read_blob

    def load() -> bytes:
        pf = d["file_path"]
        if pf not in cache:
            cache[pf] = fs.read_bytes(pf)
        return read_blob(
            cache[pf],
            int(_get(d, "content_offset", default=0) or 0),
            int(_get(d, "content_size_in_bytes", default=0) or 0),
        )

    return core.DeletionVector(load, decode_dv_blob, d.get("record_count"))


def _delete_file(fs: FileSystem, d: dict) -> core.DeleteFile:
    """A parquet delete entry as a core descriptor.  The spec's sequence
    rules ride along: position deletes hide rows in data files at or
    below their sequence number, equality deletes STRICTLY below (which
    is what lets a CDC upsert re-append a deleted key)."""
    eq = d.get("content", 1) == 2
    return core.DeleteFile(
        fs.spark_path(d["file_path"]),
        int(d.get("_seq", 0)),
        d.get("record_count"),
        tuple(d["_eq_cols"]) if eq else None,
        strict=eq,
    )


def _scan(
    spark: SparkSession,
    fs: FileSystem,
    meta: dict,
    entries: list[dict],
    dels: list[dict] = (),
    restore: tuple[list[str], list[str]] | None = None,
    extra: tuple[str, list] | None = None,
    keep: tuple = (),
    lineage: bool = False,
) -> DataFrame:
    """Live data entries → ONE relation through the core, deletes
    applied merge-on-read.  ``restore`` is (identity partition columns,
    their manifest partition-record keys), default every spec's identity
    fields (:func:`_identity_restore_fields`); a column's value in the
    data file wins over the manifest's, so files written before and
    after a partition-spec evolution both read.  Deletion vectors attach
    to the data files they reference (when at or above the file's
    sequence number); parquet position and equality deletes apply with
    their own sequence rules.  ``extra`` is (column, one value per
    entry); ``lineage`` (format v3) appends ``_row_id`` (the file's first
    row id + position; NULL for pre-lineage files) and
    ``_last_updated_sequence_number`` (the file's data sequence number),
    materialized values winning."""
    schema = _schema_from_iceberg(_current_schema(meta))
    pcols, pkeys = restore if restore is not None else _identity_restore_fields(meta)
    cache: dict[str, bytes] = {}
    dvs: dict[str, dict] = {}
    for d in dels:
        if d.get("_dv"):
            target = posixpath.basename(d["referenced_data_file"])
            if target in dvs:
                raise IcebergUnsupported(
                    f"two live deletion vectors for data file {target!r}"
                )
            dvs[target] = d
    col, values = extra if extra is not None else (None, [None] * len(entries))
    refs = []
    for e, value in zip(entries, values):
        part = e.get("partition") or {}
        seq = int(e.get("_seq", 0))
        dv = dvs.get(posixpath.basename(e["file_path"]))
        refs.append(
            core.FileRef(
                fs.spark_path(e["file_path"]),
                {
                    c: None if part.get(k) is None else str(part.get(k))
                    for c, k in zip(pcols, pkeys)
                },
                seq,
                value,
                (None if e.get("_frid") is None else int(e["_frid"]), seq),
                _dv_of(fs, dv, cache)
                if dv is not None and int(dv.get("_seq", 0)) >= seq
                else None,
            )
        )
    lin = ("_row_id", "_last_updated_sequence_number")
    return core.assemble(
        spark, schema, refs, IcebergError, pcols,
        physical={f.name: f.name for f in schema.fields},
        extra=col,
        keep=keep,
        lineage=core.Lineage(lin, lin) if lineage else None,
        deletes=[_delete_file(fs, d) for d in dels if not d.get("_dv")],
    )


#: reserved field ids for position-delete file columns (spec §Reserved
#: field IDs)
_FIELD_ID_DELETE_FILE_PATH = 2147483546
_FIELD_ID_DELETE_POS = 2147483545
# format-v3 row lineage: reserved field ids for the MATERIALIZED lineage
# columns a rewrite writes into packed data files (spec §Row Lineage /
# §Reserved Field IDs); our own read path matches them BY NAME
_FIELD_ID_ROW_ID = 2147483540
_FIELD_ID_LAST_UPDATED_SEQ = 2147483539


def _with_field_ids(df: DataFrame, ids: dict[str, int]) -> DataFrame:
    """Attach ``parquet.field.id`` column metadata so Spark's parquet
    writer (``spark.sql.parquet.fieldId.write.enabled``, on by default)
    embeds Iceberg field ids in staged files — spec-conformant external
    readers resolve columns BY FIELD ID, not name, so delete files
    without ids may silently fail to apply in other engines (r16
    advice).  Top-level columns only (delete files are flat; nested
    data columns keep name resolution).  Columns not in ``ids``
    (staging partition dirs) pass through untouched."""
    return df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": ids[c]})
            if c in ids
            else F.col(c)
            for c in df.columns
        ]
    )


# --- reader -------------------------------------------------------------------


def snapshot_at_timestamp(meta: dict, ts_ms: int) -> int:
    """The snapshot a ``TIMESTAMP AS OF`` read resolves to: per the spec
    this walks the SNAPSHOT LOG (which records when each snapshot BECAME
    current, so a rollback re-points time travel exactly like real
    readers), picking the latest entry with ``timestamp-ms`` <= ``ts_ms``;
    tables without a snapshot log (some foreign writers) fall back to the
    snapshots' own ``timestamp-ms``.  Raises if ``ts_ms`` predates the
    table."""
    log = meta.get("snapshot-log") or [
        {"timestamp-ms": s.get("timestamp-ms", 0), "snapshot-id": s["snapshot-id"]}
        for s in sorted(
            meta.get("snapshots") or [],
            key=lambda s: (s.get("timestamp-ms", 0), s.get("sequence-number", 0)),
        )
    ]
    best = None
    for entry in log:  # the log is append-ordered by construction
        if int(entry.get("timestamp-ms", 0)) <= ts_ms:
            best = entry["snapshot-id"]
    if best is None:
        raise IcebergError(
            f"timestamp {ts_ms} predates the table's first snapshot"
        )
    return best


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    where: dict[str, str] | None = None,
    as_of_ts: int | None = None,
    metadata: dict | None = None,
    row_lineage: bool = False,
    ref: str | None = None,
) -> DataFrame:
    """Read an Iceberg table (optionally ``snapshot_id``-as-of, or
    ``as_of_ts``-as-of in epoch MILLIS — the ``TIMESTAMP AS OF`` form,
    resolved via :func:`snapshot_at_timestamp`) as a DataFrame.
    ``where`` maps identity-partition column → required string
    value, applied to manifest partition structs BEFORE any data file is
    referenced (manifest-level pruning: the file list shrinks at the
    driver; nothing is listed or opened for pruned partitions).
    ``metadata``: an already-resolved table-metadata dict (a CATALOG's
    answer — REST catalogs return the metadata with the load) used
    instead of the HadoopCatalog version-hint read; file paths inside it
    are absolute, so the data plane is unchanged.
    ``row_lineage`` (format v3 only) appends the spec's lineage
    metadata columns ``_row_id`` / ``_last_updated_sequence_number``
    (NULL ``_row_id`` for files written before the table carried
    lineage, per the upgrade rule).

    ``ref`` reads a named snapshot REFERENCE (spec §Snapshot
    References) — a BRANCH's head or a TAG's pinned snapshot (the
    ``VERSION AS OF 'name'`` form)."""
    if sum(x is not None for x in (snapshot_id, as_of_ts, ref)) > 1:
        raise IcebergError("pass at most one of snapshot_id / as_of_ts / ref")
    fs = get_filesystem(path)
    meta = metadata if metadata is not None else _load_metadata(fs, path)[0]
    if ref is not None:
        snapshot_id = _resolve_ref(meta, ref)
    if row_lineage and meta.get("format-version", 2) != 3:
        raise IcebergUnsupported(
            "row lineage needs a format-version 3 table "
            f"(this one is v{meta.get('format-version', 2)})"
        )
    if row_lineage:
        clash = {"_row_id", "_last_updated_sequence_number"} & {
            f["name"] for f in _current_schema(meta)["fields"]
        }
        if clash:
            raise IcebergError(
                f"table columns {sorted(clash)} collide with the "
                "reserved lineage column names"
            )
    if as_of_ts is not None:
        snapshot_id = snapshot_at_timestamp(meta, as_of_ts)
    schema = _schema_from_iceberg(_current_schema(meta))
    fields = _spec_fields(_current_schema(meta), _current_spec(meta))
    # only IDENTITY transforms drop the source column from data files
    # (the spec's staging shape) — transform fields keep it, so nothing
    # needs restoring for day/bucket/truncate partitions
    entries, dels = _live(fs, meta, snapshot_id)
    data_w: dict[str, str] = {}
    if where:
        names = [f["name"] for f in fields]
        part_w = {k: v for k, v in where.items() if k in names}
        data_w = {k: v for k, v in where.items() if k not in names}
        unknown = set(data_w) - set(schema.names)
        if unknown:
            raise IcebergError(
                f"where keys {sorted(unknown)} are neither partition "
                f"fields {names} nor table columns"
            )
        # manifest partition structs key by the SPEC FIELD name; values
        # compare in TRANSFORMED space (compute with
        # icetransforms.transform_value for day/bucket/... fields); delete
        # entries are NEVER pruned (a position delete may target any
        # file).  An entry whose partition record LACKS the field was
        # written under an earlier spec — its value is unknown, so it is
        # conservatively kept (the data-column row filter still applies)
        entries = [
            e
            for e in entries
            if all(
                k not in (e.get("partition") or {})
                or str((e.get("partition") or {}).get(k)) == v
                for k, v in part_w.items()
            )
        ]
        # mixed-spec survivors need the equality as a ROW filter too
        # (their rows were only conservatively kept)
        part_row_filters = (
            part_w
            if any(
                k not in (e.get("partition") or {})
                for e in entries
                for k in part_w
            )
            else {}
        )
        # DATA columns prune on the manifests' lower/upper bounds — the
        # spec's file-skipping input (a point lookup opens only the
        # overlapping files); columns whose type lacks bounds support
        # stay out of the prune, and the equality then applies as a real
        # row filter below
        by_name = _bound_id_map(_current_schema(meta))
        typed = core.typed_where(
            schema, {k: v for k, v in data_w.items() if k in by_name}, IcebergError
        )
        if typed:
            entries = core.prune_by_range(
                entries, typed, typed, _entry_bounds(by_name)
            )
    df = _scan(spark, fs, meta, entries, dels, lineage=row_lineage)
    for k, v in data_w.items():
        df = df.filter(F.col(k) == F.lit(v).cast(schema[k].dataType))
    if where:
        by_field = {f["name"]: f for f in fields}
        for k, v in part_row_filters.items():
            f = by_field[k]
            expr = (
                F.col(f["source_col"])
                if f["kind"] == "identity"
                else X.transform_column(
                    f["transform"], f["source_col"], f["src_type"]
                )
            )
            df = df.filter(
                expr == F.lit(v).cast(_type_from_iceberg(f["result_type"]))
            )
    return df


def read_iceberg_changes(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    cdf: bool = False,
) -> DataFrame:
    """Rows ADDED by the snapshots after ``from_snapshot_id`` up to
    ``to_snapshot_id`` (default HEAD), plus a ``_snapshot_id`` column —
    the append-only incremental read (Iceberg's ``incremental append
    scan``): each snapshot's NEW files are exactly the ADDED entries of
    the manifests it added (``added_snapshot_id``), so a downstream job
    remembers its last snapshot and reads O(new data).  Pass
    ``from_snapshot_id=0`` for "since table creation".  A non-append
    snapshot in the range raises :class:`IcebergUnsupported` (an
    overwrite's delta is not representable as adds); when the refusing
    snapshot is a DELETE the error says to pass ``cdf=True``.

    ``cdf=True`` is the CHANGELOG form (the Delta-CDF twin, q170/q173):
    the output gains ``_change_type`` — append snapshots emit their rows
    as ``insert``, DELETE snapshots emit exactly the rows their NEW
    delete files hid as ``delete`` (computed by reading the PARENT
    snapshot's live state and semi-joining the snapshot's added
    position/equality delete files — the real cost of deriving a
    changelog from merge-on-read deletes, paid only for the delete
    snapshots in the window), replace snapshots stay invisible."""
    fs = get_filesystem(path)
    meta, _v = _load_metadata(fs, path)
    _require_seqs(meta)
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s.get("sequence-number", 0)
    )
    by_id = {s["snapshot-id"]: s for s in snaps}
    if from_snapshot_id != 0 and from_snapshot_id not in by_id:
        raise IcebergError(f"from snapshot {from_snapshot_id} does not exist")
    end = (
        by_id.get(to_snapshot_id)
        if to_snapshot_id is not None
        else _snapshot_of(meta, None)
    )
    if end is None:
        raise IcebergError(f"to snapshot {to_snapshot_id} does not exist")
    from_seq = (
        by_id[from_snapshot_id].get("sequence-number", 0)
        if from_snapshot_id != 0
        else 0
    )
    schema = _schema_from_iceberg(_current_schema(meta))
    # the FROM snapshot only contributes its sequence floor — a consumer
    # positioned on a rolled-back/abandoned snapshot keeps reading the
    # surviving chain above its floor (the seq-offset contract)
    window = _seq_window(
        meta, from_seq, end.get("sequence-number", 0), end["snapshot-id"]
    )
    entries: list[dict] = []
    snap_ids: list[int] = []
    delete_snaps: list[tuple[dict, list[dict]]] = []
    adds_by_snap: dict[int, list[dict]] = {}
    for s, datas, dels in _appended(fs, meta, window, cdf):
        entries += datas
        snap_ids += [s["snapshot-id"]] * len(datas)
        adds_by_snap[s["snapshot-id"]] = datas
        if dels:
            delete_snaps.append((s, dels))
    base = _scan(spark, fs, meta, entries, extra=("_snapshot_id", snap_ids))
    if not cdf:
        return base
    out_cols = [*[f.name for f in schema.fields], "_change_type", "_snapshot_id"]
    parts = [
        base.withColumn("_change_type", F.lit("insert")).select(*out_cols)
    ]
    ice_schema = _current_schema(meta)
    by_seq = sorted(snaps, key=lambda x: x.get("sequence-number", 0))

    def _append_entries_between(parent_snap: dict, floor_id: int):
        """ADDED data entries of the snapshots strictly between
        ``floor_id`` and ``parent_snap`` on the parent chain, or ``None``
        when the chain is broken or carries any non-append snapshot
        (whose delete/replace effects a memoized live state would miss).
        Enables the per-snapshot live-state MEMO below: live(parent) =
        live(floor) ∪ the appends in between."""
        out: list[dict] = []
        cur = parent_snap
        while cur is not None and cur["snapshot-id"] != floor_id:
            op = (cur.get("summary") or {}).get("operation")
            if op != "append":
                return None
            _mfs, added, deleted = _added_entries(fs, cur)
            if deleted:
                return None
            for mf, e in added:
                d = e.get("data_file") or {}
                if _get(d, "content", default=0) != 0:
                    return None  # a delete file inside an "append"
                d["_seq"] = int(
                    e.get("sequence_number")
                    or _get(mf, "sequence_number", default=0)
                    or 0
                )
                out.append(d)
            cur = by_id.get(cur.get("parent-snapshot-id"))
        return out if cur is not None else None

    # MEMOIZED live state: each delete snapshot's hidden rows need its
    # PARENT's live state, and deriving that from scratch re-scans the
    # base files and re-applies every accumulated delete — O(history)
    # work per delete snapshot, quadratic over a deep chain.  Instead the
    # loop carries the previous snapshot's live frame forward (lazily
    # localCheckpointed so ONE execution of the returned changelog
    # materializes the shared state once instead of re-deriving it under
    # every union branch) and advances it per step: subtract the rows the
    # snapshot hid, union the appends on the chain in between.  Any
    # non-append/unknown link falls back to the from-scratch derivation.
    memo_id: int | None = None
    memo_live = None
    for s, new_dels in delete_snaps:
        # the ACTUAL parent, not previous-by-sequence: after a rollback
        # the previous-by-sequence snapshot is the rolled-back-FROM state
        # and hidden rows would be computed against the wrong live state
        # (r16 advice); fall back to sequence order for foreign metadata
        # that omits parent-snapshot-id
        pid = s.get("parent-snapshot-id")
        if pid is not None:
            parent = by_id.get(pid)
            if parent is None:
                raise IcebergError(
                    f"snapshot {s['snapshot-id']} names parent {pid} "
                    "which is not in the metadata snapshot list"
                )
        else:
            idx = next(
                i
                for i, x in enumerate(by_seq)
                if x["snapshot-id"] == s["snapshot-id"]
            )
            parent = by_seq[idx - 1] if idx > 0 else None
        if parent is None:
            continue  # delete with no parent state: nothing was hidden
        # the snapshot's NEW delete files only
        for d in new_dels:
            if str(d.get("file_format", "")).upper() == "PUFFIN":
                if not d.get("referenced_data_file"):
                    raise IcebergUnsupported(
                        "deletion-vector entry without referenced_data_file"
                    )
                d["_dv"] = True
            d["_seq"] = int(s.get("sequence-number", 0))
        _resolve_eq_cols(ice_schema, new_dels)
        parent_live = None
        if memo_id is not None:
            apps = _append_entries_between(parent, memo_id)
            if apps is not None:
                parent_live = memo_live
                if apps:
                    parent_live = parent_live.unionByName(
                        _scan(spark, fs, meta, apps, keep=("__file", "__pos"))
                    )
        if parent_live is None:
            p_entries, p_dels = _live(fs, meta, parent["snapshot-id"])
            parent_live = _scan(
                spark, fs, meta, p_entries, p_dels, keep=("__file", "__pos")
            )
        pieces = []
        dv_dels = [d for d in new_dels if d.get("_dv")]
        if dv_dels:
            cache: dict[str, bytes] = {}
            dvdf = core.dv_rows(
                spark,
                [
                    (
                        posixpath.basename(d["referenced_data_file"]),
                        _dv_of(fs, d, cache),
                    )
                    for d in dv_dels
                ],
            ).select(F.col("__tfile").alias("__file"), F.col("__tpos").alias("__pos"))
            pieces.append(parent_live.join(dvdf, ["__file", "__pos"], "left_semi"))
        pos_dels = [
            _delete_file(fs, d)
            for d in new_dels
            if d.get("content") == 1 and not d.get("_dv")
        ]
        if pos_dels:
            ddf = core.delete_rows(spark, schema, pos_dels).select(
                F.col("__tfile").alias("__file"), F.col("__tpos").alias("__pos")
            )
            pieces.append(
                parent_live.join(
                    core.maybe_broadcast(ddf, [d.record_count for d in pos_dels]),
                    ["__file", "__pos"],
                    "left_semi",
                )
            )
        for d in new_dels:
            if d.get("content") != 2:
                continue
            eq = _delete_file(fs, d)
            edf = core.delete_rows(spark, schema, [eq])
            cond = F.lit(True)
            for c in eq.eq_cols:
                cond = cond & parent_live[c].eqNullSafe(edf[f"__eq_{c}"])
            pieces.append(
                parent_live.join(
                    core.maybe_broadcast(edf, [eq.record_count]), cond, "left_semi"
                )
            )
        hidden = None
        for piece in pieces:
            hidden = piece if hidden is None else hidden.unionByName(piece)

        def _with_own_adds(live: DataFrame, snap: dict) -> DataFrame:
            # state AT the snapshot includes its OWN data adds (a
            # merge-shaped overwrite deletes old versions AND appends new
            # rows in the same commit)
            own = adds_by_snap.get(snap["snapshot-id"]) or []
            if not own:
                return live
            return live.unionByName(
                _scan(spark, fs, meta, own, keep=("__file", "__pos"))
            )

        if hidden is None:
            memo_id = s["snapshot-id"]
            memo_live = _with_own_adds(parent_live, s)
            continue
        hidden = hidden.dropDuplicates(["__file", "__pos"])
        # advance the memo: state AT this snapshot = parent state minus
        # the rows it hid plus its own adds (lazy checkpoint —
        # materialized once by the first execution, shared by every
        # later branch)
        memo_live = _with_own_adds(
            parent_live.join(
                hidden.select("__file", "__pos"), ["__file", "__pos"], "left_anti"
            ),
            s,
        ).localCheckpoint(eager=False)
        memo_id = s["snapshot-id"]
        parts.append(
            hidden.select(*[f.name for f in schema.fields])
            .withColumn("_change_type", F.lit("delete"))
            .withColumn("_snapshot_id", F.lit(s["snapshot-id"]))
            .select(*out_cols)
        )
    out = parts[0]
    for piece in parts[1:]:
        out = out.unionByName(piece)
    return out


def _added_entries(fs: FileSystem, snap: dict):
    """(manifest-list rows, ``(manifest, entry)`` pairs the snapshot
    ADDED, whether its manifests mark any file DELETED).  Only ADDED
    (status 1) entries of the manifests a snapshot wrote are its own: a
    manifest-merging writer carries earlier files into its new manifest
    as EXISTING (status 0) entries, which an incremental reader must
    never count as new rows."""
    _sc, _m, manifests = _read_avro(fs, snap["manifest-list"])
    added: list[tuple[dict, dict]] = []
    deleted = False
    for mf in manifests:
        if _get(mf, "added_snapshot_id", default=-1) != snap["snapshot-id"]:
            continue  # carried forward from an earlier snapshot
        _s, _m2, mentries = _read_avro(fs, mf["manifest_path"])
        for e in mentries:
            if e.get("status") == 2:
                deleted = True
            elif e.get("status") == 1:
                added.append((mf, e))
    return manifests, added, deleted


def _require_seqs(meta: dict) -> None:
    """Incremental reads (the change read and the ``iceberg_feed``
    stream) offset by sequence number: v1 snapshots carry none, so every
    window would be (0, 0] and the feed SILENTLY empty — refuse."""
    no_seq = [
        s["snapshot-id"]
        for s in meta.get("snapshots") or []
        if "sequence-number" not in s
    ]
    if no_seq or meta.get("format-version", 2) == 1:
        raise IcebergUnsupported(
            "incremental reads need snapshot sequence numbers "
            f"(format-version 2); snapshots without one: {no_seq[:5]}"
        )


def _seq_window(meta: dict, lo: int, hi: int, head_id: int | None = None):
    """The snapshots with sequence number in ``(lo, hi]`` on ``head_id``'s
    ANCESTOR CHAIN (default the current snapshot), in sequence order: an
    incremental consumer follows ONE branch, and commits staged on other
    branches share the table-global sequence space without being its
    ancestors."""
    chain = _ancestor_ids(meta, head_id)
    return sorted(
        (
            s
            for s in meta.get("snapshots") or []
            if lo < s.get("sequence-number", 0) <= hi
            and (chain is None or s["snapshot-id"] in chain)
        ),
        key=lambda s: s.get("sequence-number", 0),
    )


def _appended(fs: FileSystem, meta: dict, window: list[dict], cdf: bool = False):
    """The append-window rule :func:`read_iceberg_changes` and the
    ``iceberg_feed`` stream share: per snapshot of ``window``, yield
    ``(snapshot, added data-file entries, added delete-file entries)`` —
    only the ADDED entries of the manifests it wrote
    (:func:`_added_entries`).  ``replace`` snapshots (compaction:
    contents unchanged) are skipped.  Any other non-append refuses,
    except that ``cdf`` lets delete and MERGE-shaped overwrite snapshots
    through for the changelog; file-replacing forms refuse even then."""
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    for s in window:
        op = (s.get("summary") or {}).get("operation")
        if op == "replace":
            continue
        if op != "append" and not (cdf and op in ("delete", "overwrite")):
            raise IcebergUnsupported(
                f"snapshot {s['snapshot-id']} is {op!r}; the append-only "
                "stream and change reads cannot represent overwrites/deletes"
                + (
                    " (pass cdf=True to read_iceberg_changes for the "
                    "changelog form)"
                    if op in ("delete", "overwrite")
                    else ""
                )
            )
        # an 'overwrite' here is a MERGE-shaped row delta (merge_iceberg:
        # added delete files + added data files, every parent manifest
        # carried by pointer) — its data adds are inserts and its delete
        # files go to the changelog's hidden-row pass; a TRUE
        # file-replacing overwrite (status=2 entries, or parent manifests
        # DROPPED from the list) is not representable and refuses.
        manifests, added, deleted = _added_entries(fs, s)
        parent = by_id.get(s.get("parent-snapshot-id"))
        if op == "overwrite" and parent is not None:
            _s3, _m3, pmfs = _read_avro(fs, parent["manifest-list"])
            carried = {mf["manifest_path"] for mf in manifests}
            if {m["manifest_path"] for m in pmfs} - carried:
                raise IcebergUnsupported(
                    f"snapshot {s['snapshot-id']} is a file-replacing "
                    "overwrite (parent manifests dropped); the "
                    "changelog cannot represent it"
                )
        if deleted and op in ("overwrite", "delete"):
            # a rewritten manifest (file-level overwrite, or a foreign
            # COPY-ON-WRITE delete) — refusing beats fabricating rows
            raise IcebergUnsupported(
                f"snapshot {s['snapshot-id']} ({op}) replaces "
                "data files; the changelog cannot represent it"
            )
        datas: list[dict] = []
        dels: list[dict] = []
        for _mf, e in added:
            d = e.get("data_file") or {}
            if _get(d, "content", default=0) in (1, 2):
                dels.append(d)
                continue
            if op == "delete":
                # a merge-on-read delete snapshot adds ONLY delete files;
                # data-file entries here mean a foreign copy-on-write form
                # whose survivors would be misread as inserts
                raise IcebergUnsupported(
                    f"snapshot {s['snapshot-id']} (delete) adds data "
                    "files (copy-on-write delete); the changelog "
                    "cannot represent it"
                )
            if str(d.get("file_format", "")).upper() != "PARQUET":
                raise IcebergUnsupported("non-parquet data file")
            datas.append(d)
        yield s, datas, dels


class IcebergFeedLog:
    """What the ``iceberg_feed`` stream (``sources/tablestream.py``)
    reads from the metadata: offsets are snapshot SEQUENCE NUMBERS, and
    a window's files are the :func:`_appended` data files of its
    snapshots.  Identity partition values of the CURRENT spec come
    typed from the manifest's partition record."""

    name = "iceberg_feed"
    start_option, start_default = "starting_seq", 0
    offset_key = "seq"
    label = "_snapshot_id"
    unsupported = IcebergUnsupported

    def __init__(self, path: str):
        self.fs, self.path = get_filesystem(path), path
        meta, _v = _load_metadata(self.fs, path)
        _require_seqs(meta)
        ice = _current_schema(meta)
        self.schema = _schema_from_iceberg(ice)
        # identity fields are restored from partition values; transform
        # fields (day/bucket/...) keep the source column in data files
        self.pkeys = {
            f["source_col"]: f["name"]
            for f in _spec_fields(ice, _current_spec(meta))
            if f["kind"] == "identity"
        }
        self.pcols = list(self.pkeys)

    def physical(self, col: str) -> str:
        return col

    def latest(self):
        """(head sequence number, per-sequence (files, bytes) added)."""
        meta, _v = _load_metadata(self.fs, self.path)
        return (
            int(meta.get("last-sequence-number", 0)),
            functools.partial(self._stats, meta),
        )

    def _stats(self, meta: dict, seq: int) -> tuple[int, int]:
        # the summary counts real writers record, else the manifest walk;
        # branch-staged, expired and non-append seqs count (0, 0)
        window = _seq_window(meta, seq - 1, seq)
        summ = (window[0].get("summary") or {}) if window else {}
        if summ.get("operation") == "append":
            try:
                return int(summ["added-data-files"]), int(summ["added-files-size"])
            except (KeyError, TypeError, ValueError):
                pass
        try:
            files = self._files(meta, window)
        except IcebergUnsupported:
            return 0, 0
        return len(files), sum(f[3] for f in files)

    def window(self, lo: int, hi: int) -> list[tuple]:
        """(spark path, {partition column: typed value}, snapshot id,
        size) per file the snapshots in ``(lo, hi]`` added."""
        meta, _v = _load_metadata(self.fs, self.path)
        return self._files(meta, _seq_window(meta, lo, hi))

    def _files(self, meta: dict, window: list[dict]) -> list[tuple]:
        out = []
        for s, datas, _dels in _appended(self.fs, meta, window):
            for d in datas:
                pv = d.get("partition") or {}
                out.append((
                    self.fs.spark_path(d["file_path"]),
                    {c: pv.get(k) for c, k in self.pkeys.items()},
                    s["snapshot-id"],
                    d.get("file_size_in_bytes", 0),
                ))
        return out


def iceberg_history(path: str) -> list[dict]:
    """Snapshot history, newest first: (snapshot-id, sequence-number,
    operation, n data files at that snapshot's manifest list)."""
    fs = get_filesystem(path)
    meta, _v = _load_metadata(fs, path)
    out = []
    for s in sorted(
        meta.get("snapshots") or [], key=lambda x: x["snapshot-id"], reverse=True
    ):
        out.append(
            {
                "snapshot_id": s["snapshot-id"],
                "sequence_number": s.get("sequence-number", 0),
                "operation": (s.get("summary") or {}).get("operation", ""),
                "parent": s.get("parent-snapshot-id"),
            }
        )
    return out


def latest_snapshot(path: str) -> int:
    fs = get_filesystem(path)
    meta, _v = _load_metadata(fs, path)
    cur = meta.get("current-snapshot-id")
    if cur is None or cur < 0:
        raise IcebergError(f"no current snapshot at {path}")
    return cur


# --- writer -------------------------------------------------------------------


def _carry_manifests(
    fs: FileSystem, meta: dict, base_id: int | None = None
) -> list[dict]:
    """Base snapshot's manifest-list rows (the CURRENT snapshot by
    default; a branch head via ``base_id``), normalized to this writer's
    schema across writer dialects (v1/v2 renamed several count fields) —
    the append-commit carry: prior manifests travel BY POINTER."""
    cur = base_id if base_id is not None else meta.get("current-snapshot-id")
    if cur is None or cur < 0:
        return []
    prev = _snapshot_of(meta, cur)
    _s, _m, prev_manifests = _read_avro(fs, prev["manifest-list"])
    carried = []
    for mf in prev_manifests:
        carried.append(
            {
                "manifest_path": mf["manifest_path"],
                "manifest_length": _get(mf, "manifest_length", default=0),
                "partition_spec_id": _get(mf, "partition_spec_id", default=0),
                "content": _get(mf, "content", default=0),
                "sequence_number": _get(mf, "sequence_number", default=0),
                "min_sequence_number": _get(
                    mf, "min_sequence_number", default=0
                ),
                "added_snapshot_id": _get(mf, "added_snapshot_id", default=0),
                "added_data_files_count": _get(
                    mf, "added_data_files_count", "added_files_count", default=0
                ),
                "existing_data_files_count": _get(
                    mf,
                    "existing_data_files_count",
                    "existing_files_count",
                    default=0,
                ),
                "deleted_data_files_count": _get(
                    mf,
                    "deleted_data_files_count",
                    "deleted_files_count",
                    default=0,
                ),
                "added_rows_count": _get(mf, "added_rows_count", default=0),
                "existing_rows_count": _get(
                    mf, "existing_rows_count", default=0
                ),
                "deleted_rows_count": _get(mf, "deleted_rows_count", default=0),
                # v3 row-lineage inheritance base; extra dict keys are
                # ignored by the v2 list schema at encode time
                "first_row_id": _get(mf, "first_row_id", default=None),
            }
        )
    return carried


_PUBLISH_INTERCEPT = None  # see icecatalog.capture_commit


def _publish_metadata(
    fs: FileSystem, path: str, version: int, new_meta: dict
) -> None:
    """Commit arbitration: create-if-absent PUT of the next metadata
    version (hard link / conditional PUT on the fs seam — two racing writers
    get exactly one winner, never a silent clobber), then advance the
    advisory version hint.

    When a catalog commit is in flight (``icecatalog.capture_commit``),
    the interceptor captures ``new_meta`` instead: the CATALOG owns
    metadata publication, the writer only proposes — exactly the REST
    protocol's division of labor."""
    if _PUBLISH_INTERCEPT is not None and _PUBLISH_INTERCEPT(
        fs, path, version, new_meta
    ):
        return
    md = _meta_dir(path)
    commit_path = fs.join(md, _meta_name(version + 1))
    if not fs.put_bytes_if_absent(
        commit_path, json.dumps(new_meta, indent=1).encode("utf-8")
    ):
        raise IcebergConcurrentWrite(
            f"metadata v{version + 1} already committed at {path}"
        )
    fs.put_bytes(fs.join(md, "version-hint.text"), str(version + 1).encode())


def _manifest_entry_schema(
    partition_fields: list[tuple[str, str]], fv: int = 2
) -> dict:
    """manifest_entry Avro schema for identity specs;
    ``partition_fields`` = [(spec field name, iceberg source type)].
    ``fv=3`` adds the format-v3 fields: ``first_row_id`` (row lineage)
    and the deletion-vector addressing triplet
    (``referenced_data_file``/``content_offset``/``content_size_in_bytes``)."""
    part_fields = []
    for name, ice_t in partition_fields:
        if ice_t not in _PARTITION_AVRO:
            raise IcebergUnsupported(f"identity partition on type {ice_t!r}")
        part_fields.append({"name": name, "type": ["null", _PARTITION_AVRO[ice_t]]})
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {
                "name": "partition",
                "type": {"type": "record", "name": "r102", "fields": part_fields},
            },
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            # present only on equality delete files (content=2)
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
            },
            # column bounds for file skipping (spec: maps with non-string
            # keys are arrays of key/value records; values are the spec's
            # binary single-value serialization keyed by FIELD ID)
            {
                "name": "lower_bounds",
                "type": [
                    "null",
                    {
                        "type": "array",
                        "items": {
                            "type": "record",
                            "name": "k126_v127",
                            "fields": [
                                {"name": "key", "type": "int"},
                                {"name": "value", "type": "bytes"},
                            ],
                        },
                    },
                ],
            },
            {
                "name": "upper_bounds",
                "type": [
                    "null",
                    {
                        "type": "array",
                        "items": {
                            "type": "record",
                            "name": "k128_v129",
                            "fields": [
                                {"name": "key", "type": "int"},
                                {"name": "value", "type": "bytes"},
                            ],
                        },
                    },
                ],
            },
        ],
    }
    if fv >= 3:
        data_file["fields"] += [
            {"name": "first_row_id", "type": ["null", "long"]},
            {"name": "referenced_data_file", "type": ["null", "string"]},
            {"name": "content_offset", "type": ["null", "long"]},
            {"name": "content_size_in_bytes", "type": ["null", "long"]},
        ]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "file_sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": data_file},
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_data_files_count", "type": "int"},
        {"name": "existing_data_files_count", "type": "int"},
        {"name": "deleted_data_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
    ],
}


def _manifest_file_schema(fv: int = 2) -> dict:
    """Manifest-LIST Avro schema; ``fv=3`` adds ``first_row_id`` (the
    starting row id the manifest's null-id ADDED data files inherit)."""
    if fv < 3:
        return _MANIFEST_FILE_SCHEMA
    return {
        "type": "record",
        "name": "manifest_file",
        "fields": list(_MANIFEST_FILE_SCHEMA["fields"])
        + [{"name": "first_row_id", "type": ["null", "long"]}],
    }


def _parquet_row_count(fs: FileSystem, path: str) -> int:
    """Row count off one staged file's parquet footer (driver-side,
    metadata-sized).  Local paths read the footer only; remote backends
    fall back to a whole-object read (staged files are commit-sized)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sp = fs.spark_path(path)
    if "://" not in sp:
        return pq.read_metadata(sp).num_rows
    return pq.read_table(pa.BufferReader(fs.read_bytes(path))).num_rows


def _typed_partition_values(rel: str, part_types: list[tuple]) -> dict:
    """Decode a staged file's Hive partition dirs into the manifest's
    TYPED partition record (the spec's single-value JSON types)."""
    hive = core.hive_values(rel, [name for name, _t in part_types], IcebergError)
    part_values: dict[str, object] = {}
    for name, ice_t in part_types:
        raw = hive[name]
        if raw is None:
            part_values[name] = None
        elif ice_t in ("int", "long", "date"):
            part_values[name] = int(raw)
        elif ice_t == "double":
            part_values[name] = float(raw)
        elif ice_t == "boolean":
            part_values[name] = raw == "true"
        else:
            part_values[name] = raw
    return part_values


#: iceberg types whose bounds the file-skipping layer writes and compares
#: (spec Appendix D binary single-value serialization)
_BOUND_FMT = {"int": "<i", "long": "<q", "float": "<f", "double": "<d"}


def _ser_bound(ice_t: str, v) -> bytes | None:
    """Binary single-value serialization of one stat bound; None for
    types the skipping layer stays out of (readers treat absence as 'no
    bound, keep the file')."""
    import struct

    if ice_t in _BOUND_FMT and isinstance(v, (int, float)) and not isinstance(v, bool):
        return struct.pack(_BOUND_FMT[ice_t], v)
    if ice_t == "string" and isinstance(v, str):
        return v.encode("utf-8")
    return None


def _de_bound(ice_t: str, raw: bytes):
    import struct

    if ice_t in _BOUND_FMT:
        try:
            return struct.unpack(_BOUND_FMT[ice_t], raw)[0]
        except struct.error:
            return None
    if ice_t == "string":
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _file_bounds(fs: FileSystem, dst: str, bound_ids: dict) -> tuple[list, list]:
    """(lower_bounds, upper_bounds) k/v-record lists for one staged data
    file, off its parquet footer; ``bound_ids`` maps column name →
    (field id, iceberg type).  A column without both bounds (a string
    max with no valid upper bound) publishes neither."""
    stats = core.footer_stats(fs, dst)
    if stats is None:
        return [], []
    _n, mins, maxs, _nulls = stats
    lowers, uppers = [], []
    for name in sorted(mins):
        if name not in bound_ids or name not in maxs:
            continue
        fid, ice_t = bound_ids[name]
        lo_b, hi_b = _ser_bound(ice_t, mins[name]), _ser_bound(ice_t, maxs[name])
        if lo_b is None or hi_b is None:
            continue
        lowers.append({"key": fid, "value": lo_b})
        uppers.append({"key": fid, "value": hi_b})
    return lowers, uppers


def _bounds_map(entry_field, types_by_id: dict) -> dict:
    """One entry's (lower|upper)_bounds → {field id: decoded value};
    tolerates both encodings (list of k/v records per the spec's
    non-string-key map rule, or a plain dict from permissive decoders)."""
    out: dict = {}
    if not entry_field:
        return out
    items = (
        entry_field.items()
        if isinstance(entry_field, dict)
        else ((r.get("key"), r.get("value")) for r in entry_field)
    )
    for k, v in items:
        ice_t = types_by_id.get(k)
        if ice_t is None or not isinstance(v, (bytes, bytearray)):
            continue
        d = _de_bound(ice_t, bytes(v))
        if d is not None:
            out[k] = d
    return out


def _entry_bounds(by_name: dict):
    """A :func:`tablecore.prune_by_range` bounds reader over manifest
    entries: lower/upper bounds decoded by field id and keyed by column
    name (``by_name``: column → (field id, ice type)); entries without
    bounds stay (foreign writers may omit or truncate them)."""
    types_by_id = {fid: t for fid, t in by_name.values()}

    def bounds(e: dict):
        lo = _bounds_map(e.get("lower_bounds"), types_by_id)
        hi = _bounds_map(e.get("upper_bounds"), types_by_id)
        return (
            {c: lo[fid] for c, (fid, _t) in by_name.items() if fid in lo},
            {c: hi[fid] for c, (fid, _t) in by_name.items() if fid in hi},
            set(),
        )

    return bounds


def _bound_id_map(ice_schema: dict) -> dict:
    """column name → (field id, ice type) for every bounds-eligible
    top-level primitive column."""
    return {
        f["name"]: (f["id"], f["type"])
        for f in ice_schema["fields"]
        if isinstance(f["type"], str) and f["type"] in (*_BOUND_FMT, "string")
    }


def _part_types(meta: dict) -> list[tuple[str, str]]:
    """(spec field name, result type) of the default partition spec —
    the shape of every partition record this writer emits."""
    return [
        (f["name"], f["result_type"])
        for f in _spec_fields(_current_schema(meta), _current_spec(meta))
    ]


def _put_manifest(
    fs: FileSystem,
    path: str,
    filename: str,
    entries: list[dict],
    meta: dict,
    content: int,
    sid: int,
    n_rows: int = 0,
    first_row_id: int | None = None,
    existing: bool = False,
) -> dict:
    """Write one Avro manifest of ``entries`` under the table's current
    schema and default spec and return its manifest-LIST record — the
    shared commit tail of every writer (data or deletes).  ``existing``
    marks a manifest of EXISTING entries carrying explicit sequence
    numbers (counts and the minimum sequence number follow them)."""
    fv = int(meta.get("format-version", 2))
    spec_id = int(meta.get("default-spec-id", 0))
    mpath = fs.join(_meta_dir(path), filename)
    mbytes = write_container(
        json.dumps(_manifest_entry_schema(_part_types(meta), fv)),
        entries,
        meta={
            "schema": json.dumps(_current_schema(meta)),
            "partition-spec": json.dumps(_current_spec(meta)),
            "partition-spec-id": str(spec_id),
            "format-version": str(fv),
            "content": "deletes" if content else "data",
        },
    )
    fs.put_bytes(mpath, mbytes)
    rec = {
        "manifest_path": mpath,
        "manifest_length": len(mbytes),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": sid,
        "min_sequence_number": sid,
        "added_snapshot_id": sid,
        "added_data_files_count": len(entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": n_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    if existing:
        rec.update(
            {
                "min_sequence_number": min(e["sequence_number"] for e in entries),
                "added_data_files_count": 0,
                "existing_data_files_count": len(entries),
                "existing_rows_count": sum(
                    int(e["data_file"].get("record_count", 0) or 0)
                    for e in entries
                ),
            }
        )
    if fv >= 3:
        rec["first_row_id"] = first_row_id
    return rec


def _added_entry(
    fs: FileSystem,
    f: core.Staged,
    sid: int,
    content: int,
    partition: dict,
    bound_ids: dict | None = None,
    extra_file_fields: dict | None = None,
) -> tuple[dict, int]:
    """A published file's ADDED manifest entry (sequence number inherited
    from the manifest list) and its row count, off the parquet footer;
    ``bound_ids`` adds column bounds for file skipping."""
    n_rows = _parquet_row_count(fs, f.dst)
    bounds: dict = {}
    if bound_ids:
        lowers, uppers = _file_bounds(fs, f.dst, bound_ids)
        if lowers:
            bounds = {"lower_bounds": lowers, "upper_bounds": uppers}
    entry = {
        "status": 1,  # ADDED
        "snapshot_id": sid,
        "sequence_number": None,  # inherited from the manifest list
        "file_sequence_number": None,
        "data_file": {
            "content": content,
            "file_path": f.dst,
            "file_format": "PARQUET",
            "partition": partition,
            "record_count": n_rows,
            "file_size_in_bytes": f.size,
            **bounds,
            **(extra_file_fields or {}),
        },
    }
    return entry, n_rows


def _publish_staged_files(
    fs: FileSystem,
    path: str,
    staging: str,
    name_fmt: str,
    sid: int,
    part_types: list[tuple],
    content: int,
    skip_empty: bool,
    extra_file_fields: dict | None = None,
    bound_ids: dict | None = None,
) -> tuple[list[dict], int]:
    """The publish tail of every staged write (data files, position and
    equality delete files): move each staged parquet under the table
    root as ``name_fmt.format(part_dir=..., ordinal=...)`` and build its
    manifest ENTRY.  Data files (``content`` 0) take their partition
    record from the Hive dirs; delete files are partition-global
    (all-null record).  Returns (entries, total_rows)."""
    entries: list[dict] = []
    total_rows = 0
    for f in core.ingest_staged(
        fs, staging, path,
        lambda rel, i: name_fmt.format(part_dir=core.staged_dir(rel), ordinal=i),
    ):
        entry, n_rows = _added_entry(
            fs, f, sid, content,
            _typed_partition_values(f.rel, part_types)
            if content == 0
            else {name: None for name, _t in part_types},
            bound_ids, extra_file_fields,
        )
        if skip_empty and n_rows == 0:
            fs.delete(f.dst)
            continue
        entries.append(entry)
        total_rows += n_rows
    return entries, total_rows


def _stage_data(
    fs: FileSystem,
    path: str,
    df: DataFrame,
    meta: dict,
    sid: int,
    token: str,
    tag: str,
    skip_empty: bool,
) -> tuple[list[dict], int]:
    """The data leg of every data-writing commit: stage ``df`` with one
    distributed write partitioned by the TRANSFORMED values (identity
    fields partition by the source column and drop it from data files;
    transform fields partition by a derived column — the source column
    STAYS in the data files, the spec's staging shape), Iceberg field ids
    embedded (v3 lineage columns under their reserved ids), then publish
    under writer-unique names inside ``data/``.  Returns (entries,
    rows)."""
    ice_schema = _current_schema(meta)
    stage_df = df
    stage_cols = []
    for f in _spec_fields(ice_schema, _current_spec(meta)):
        if f["kind"] == "identity":
            stage_cols.append(f["source_col"])
        else:
            if f["name"] in df.columns:
                raise IcebergError(
                    f"column {f['name']!r} collides with partition field name"
                )
            stage_df = stage_df.withColumn(
                f["name"],
                X.transform_column(f["transform"], f["source_col"], f["src_type"]),
            )
            stage_cols.append(f["name"])
    ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
    if int(meta.get("format-version", 2)) >= 3:
        ids["_row_id"] = _FIELD_ID_ROW_ID
        ids["_last_updated_sequence_number"] = _FIELD_ID_LAST_UPDATED_SEQ
    staging = f"{path}_iceberg_{tag}_{token}"
    w = _with_field_ids(stage_df, ids).write.mode("overwrite")
    if stage_cols:
        w = w.partitionBy(*stage_cols)
    w.parquet(fs.spark_path(staging))
    return _publish_staged_files(
        fs, path, staging,
        "data/{part_dir}" + tag + "-{ordinal:05d}-" + token + ".parquet",
        sid, _part_types(meta), content=0, skip_empty=skip_empty,
        bound_ids=_bound_id_map(ice_schema),
    )


def _assign_row_ids(entries: list[dict], first_row: int) -> int:
    """v3 row lineage: every added data file gets an EXPLICIT
    ``first_row_id``, advancing from ``first_row`` (the table's
    next-row-id) by record count; returns the new next-row-id."""
    nxt = first_row
    for e in entries:
        e["data_file"]["first_row_id"] = nxt
        nxt += int(e["data_file"].get("record_count", 0) or 0)
    return nxt


def _stage_position_deletes(spark, fs, path, meta, entries, matched, sid, token):
    """Matched live rows (``__file``/``__pos``) → ONE position-delete file
    of (file_path, pos) rows, sorted as the spec requires, published →
    (delete entries, rows).  Matches map back to full data-file paths
    through a broadcast of the manifest file list."""
    full_by_base = spark.createDataFrame(
        [(posixpath.basename(e["file_path"]), e["file_path"]) for e in entries],
        "__file string, file_path string",
    )
    del_rows = (
        matched.select("__file", "__pos")
        .join(F.broadcast(full_by_base), "__file")
        .select("file_path", F.col("__pos").alias("pos"))
        .repartition(1)
        .sortWithinPartitions("file_path", "pos")
    )
    staging = f"{path}_iceberg_delstage_{token}"
    _with_field_ids(
        del_rows,
        {"file_path": _FIELD_ID_DELETE_FILE_PATH, "pos": _FIELD_ID_DELETE_POS},
    ).write.mode("overwrite").parquet(fs.spark_path(staging))
    return _publish_staged_files(
        fs, path, staging, "data/delete-{ordinal:05d}-" + token + ".parquet",
        sid, _part_types(meta), content=1, skip_empty=True,
    )


def _stage_eq_deletes(fs, path, meta, keys, sid, token):
    """Key rows → ONE sorted equality-delete file keyed by ``keys``'
    columns (``equality_ids`` on its entry), published → (delete
    entries, rows)."""
    by_name = {f["name"]: f["id"] for f in _current_schema(meta)["fields"]}
    cols = keys.columns
    staging = f"{path}_iceberg_eqdelstage_{token}"
    (
        _with_field_ids(
            keys.repartition(1).sortWithinPartitions(*cols),
            {c: by_name[c] for c in cols},
        )
        .write.mode("overwrite")
        .parquet(fs.spark_path(staging))
    )
    return _publish_staged_files(
        fs, path, staging, "data/eqdelete-{ordinal:05d}-" + token + ".parquet",
        sid, _part_types(meta), content=2, skip_empty=True,
        extra_file_fields={"equality_ids": [by_name[c] for c in cols]},
    )


def _commit_snapshot(
    fs: FileSystem,
    path: str,
    version: int,
    meta: dict | None,
    new_meta: dict,
    sid: int,
    token: str,
    manifests: list[dict],
    summary: dict,
    summary_extra: dict | None = None,
    branch: str | None = None,
    next_row: int | None = None,
) -> int:
    """The commit tail every snapshot-producing writer shares: write the
    manifest list, append the snapshot (sequence number and timestamp =
    ``sid``, parent = the branch head or the current snapshot of
    ``meta``; ``summary_extra`` never overrides ``summary``'s reserved
    keys) to ``new_meta``, advance ``branch`` or the current snapshot and
    its log, and publish through :func:`_publish_metadata`.  Returns
    ``sid``."""
    fv = int(new_meta.get("format-version", 2))
    mlist_path = fs.join(_meta_dir(path), f"snap-{sid}-{token}.avro")
    fs.put_bytes(
        mlist_path,
        write_container(
            json.dumps(_manifest_file_schema(fv)),
            manifests,
            meta={"format-version": str(fv)},
        ),
    )
    parent = None
    if meta is not None:
        parent = (
            (meta.get("refs") or {})[branch]["snapshot-id"]
            if branch is not None
            else meta.get("current-snapshot-id")
        )
    new_meta["snapshots"] = list(new_meta.get("snapshots") or []) + [
        {
            "snapshot-id": sid,
            **(
                {"parent-snapshot-id": parent}
                if parent is not None and parent >= 0
                else {}
            ),
            "sequence-number": sid,
            "timestamp-ms": sid,
            "summary": {
                **{str(k): str(v) for k, v in (summary_extra or {}).items()},
                **summary,
                "engine-info": _ENGINE,
            },
            "manifest-list": mlist_path,
            "schema-id": _current_schema(new_meta).get("schema-id", 0),
            # v3: the lineage base this commit's new rows start from
            **(
                {"first-row-id": int((meta or {}).get("next-row-id", 0))}
                if fv >= 3
                else {}
            ),
        }
    ]
    new_meta["last-sequence-number"] = sid
    new_meta["last-updated-ms"] = sid
    if branch is not None:
        # the branch head advances; main and its log are untouched (the
        # WAP staging contract)
        refs = dict(new_meta.get("refs") or {})
        refs[branch] = {"snapshot-id": sid, "type": "branch"}
        new_meta["refs"] = refs
    else:
        new_meta["current-snapshot-id"] = sid
        new_meta["snapshot-log"] = list(new_meta.get("snapshot-log") or []) + [
            {"timestamp-ms": sid, "snapshot-id": sid}
        ]
    if next_row is not None:
        new_meta["next-row-id"] = next_row
    _publish_metadata(fs, path, version, new_meta)
    return sid


def last_summary_version(path: str, app_id: str) -> int:
    """Highest committed batch version recorded in snapshot summaries for
    ``app_id`` (-1 when the app never committed) — Iceberg's
    streaming-idempotency handshake: the format has no Delta-style txn
    action, so engines (Spark's own Iceberg sink included) stamp the
    snapshot SUMMARY with the writer's identity + batch id and scan
    snapshots on restart.  Summaries ride the metadata JSON, so this is
    one GET."""
    fs = get_filesystem(path)
    try:
        meta, _v = _load_metadata(fs, path)
    except IcebergError:
        return -1
    best = -1
    for s in meta.get("snapshots") or []:
        summ = s.get("summary") or {}
        if summ.get("app-id") == app_id and "batch-id" in summ:
            try:
                best = max(best, int(summ["batch-id"]))
            except (TypeError, ValueError):
                continue
    return best


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    summary_extra: dict[str, str] | None = None,
    evolve_schema: bool = False,
    format_version: int | None = None,
    branch: str | None = None,
    evolve_partition: bool = False,
) -> int:
    """Commit ``df`` to an Iceberg table at ``path``; returns the new
    snapshot id.  ``mode='append'`` carries the prior snapshot's manifests
    forward BY POINTER in the new manifest list and adds one manifest for
    the new files (O(new files) metadata I/O); ``mode='overwrite'``'s
    manifest list references only the new manifest, so the new snapshot's
    live set is exactly ``df`` while older snapshots stay readable (time
    travel).  First commit creates the table (identity partition spec);
    later commits validate schema and partitioning and raise
    :class:`IcebergSchemaMismatch` on drift (no implicit evolution);
    ``evolve_schema=True`` permits ADDITIVE evolution — appended NULLABLE
    columns get fresh field ids in a NEW schema object with a new
    schema-id (existing ids stay stable, the spec's evolution shape),
    old data files read the new columns as null.
    Clock-free determinism: snapshot ids and timestamps are the sequence
    number (the engine convention — uniqueness within the table is what
    the spec requires).

    ``format_version=3`` at table CREATION makes a v3 table with ROW
    LINEAGE (spec §Row Lineage): the metadata carries ``next-row-id``,
    each commit's snapshot records its ``first-row-id``, and every added
    data file gets an explicit ``first_row_id`` so each row's durable
    ``_row_id`` is the file's base plus its position (read them back via
    ``read_iceberg(row_lineage=True)``).  On an existing table the
    argument must match the table's version (no silent up/downgrade —
    see :func:`upgrade_iceberg_format`).

    ``branch`` commits onto a named BRANCH (spec §Snapshot References;
    create it first via :func:`set_iceberg_ref`) — the write-audit-
    publish staging shape: the new snapshot parents from and advances
    the branch head, ``main`` readers never see it until
    :func:`fast_forward_iceberg` publishes.  Sequence numbers and (v3)
    row ids stay TABLE-global across branches."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if format_version is not None and format_version not in (2, 3):
        raise IcebergUnsupported(
            f"format_version must be 2 or 3, got {format_version!r}"
        )
    path = path.rstrip("/")
    fs = get_filesystem(path)
    md = _meta_dir(path)

    meta: dict | None = None
    version = 0
    evolved = False
    if branch == "main":
        branch = None  # main IS the default target
    if branch is not None and not (fs.exists(md) and _list_meta_versions(fs, md)):
        raise IcebergError(
            f"branch {branch!r} write needs an existing table "
            "(create the table, then set_iceberg_ref)"
        )
    if fs.exists(md) and _list_meta_versions(fs, md):
        meta, version = _load_metadata(fs, path)
        ice_schema = _current_schema(meta)
        table_schema = _schema_from_iceberg(ice_schema)
        spec = _current_spec(meta)
        pfields = _spec_fields(ice_schema, spec)
        evolved_spec: int | None = None
        if partition_by is not None:
            asked = [X.parse_partition_field(s) for s in partition_by]
            have = [(f["kind"], f["param"], f["source_col"]) for f in pfields]
            if asked != have and not evolve_partition:
                raise IcebergSchemaMismatch(
                    f"partition_by {list(partition_by)} != table's "
                    f"{[f['transform'] + '(' + f['source_col'] + ')' for f in pfields]}"
                    " (pass evolve_partition=True to add a new spec)"
                )
            if asked != have:
                # PARTITION SPEC EVOLUTION (spec §Partition Evolution):
                # a NEW spec with a fresh spec-id becomes the default;
                # old manifests keep their spec by pointer.  Field ids
                # are REUSED for identical (transform, source) fields
                # from any prior spec, else minted above last-partition-id
                by_col = {f["name"]: f["id"] for f in ice_schema["fields"]}
                unknown_cols = [c for _k, _p, c in asked if c not in by_col]
                if unknown_cols:
                    raise IcebergError(
                        f"partition_by {unknown_cols} not in table schema"
                    )
                specs = meta.get("partition-specs") or [
                    {"spec-id": 0, "fields": spec}
                ]
                next_fid = max(int(meta.get("last-partition-id", 999)), 999)
                new_fields = []
                for kind, param, c in asked:
                    tr = X.transform_spec_string(kind, param)
                    src = by_col[c]
                    prior = next(
                        (
                            f0
                            for s0 in specs
                            for f0 in s0.get("fields") or []
                            if f0.get("transform") == tr
                            and f0.get("source-id") == src
                        ),
                        None,
                    )
                    if prior is not None:
                        new_fields.append(dict(prior))
                    else:
                        next_fid += 1
                        new_fields.append(
                            {
                                "name": X.field_name(kind, param, c),
                                "transform": tr,
                                "source-id": src,
                                "field-id": next_fid,
                            }
                        )
                spec = new_fields
                pfields = _spec_fields(ice_schema, spec)
                evolved_spec = (
                    max(s0.get("spec-id", 0) for s0 in specs) + 1
                )
        fv = int(meta.get("format-version", 2))
        if fv not in (2, 3):
            # v1 tables carry no sequence numbers; appending v2-shaped
            # snapshots would produce a hybrid real v1 readers misread
            raise IcebergUnsupported(
                f"writes to format-version {meta.get('format-version')} "
                "tables (reads are fine)"
            )
        if format_version is not None and format_version != fv:
            raise IcebergError(
                f"table is format-version {fv}; pass format_version={fv} "
                "or omit it (upgrade via upgrade_iceberg_format)"
            )
        last_seq = int(meta.get("last-sequence-number", 0))
        last_col = int(meta.get("last-column-id", 0))
        fp_new = core.fingerprint(df.schema)
        fp_old = core.fingerprint(table_schema)
        if fp_new != fp_old:
            extras = df.schema.fields[len(fp_old):]
            if (
                evolve_schema
                and fp_new[: len(fp_old)] == fp_old
                and extras
            ):
                # additive evolution: STABLE ids for existing fields, fresh
                # ids for the appended ones, a NEW schema object with a new
                # schema-id (the spec's evolution shape — old snapshots
                # keep referencing their schema-id)
                ids = _IdGen(last_col)
                new_fields = list(ice_schema["fields"])
                for f in extras:
                    fid = ids.next()
                    new_fields.append(
                        {
                            "id": fid,
                            "name": f.name,
                            "required": False,
                            "type": _type_to_iceberg(f.dataType, ids),
                        }
                    )
                last_col = ids.last
                new_sid = (
                    max(s.get("schema-id", 0) for s in meta.get("schemas") or [{}])
                    + 1
                )
                ice_schema = {
                    "type": "struct",
                    "schema-id": new_sid,
                    "fields": new_fields,
                }
                evolved = True
            else:
                raise IcebergSchemaMismatch(
                    f"schema {fp_new} != table's {fp_old}"
                    + (
                        ""
                        if not evolve_schema
                        else " (evolution allows only APPENDED columns)"
                    )
                )
    else:
        ice_schema, last_col = _schema_to_iceberg(df.schema)
        parsed = [X.parse_partition_field(s) for s in (partition_by or [])]
        unknown = [c for _k, _p, c in parsed if c not in df.columns]
        if unknown:
            raise IcebergError(f"partition_by {unknown} not in DataFrame columns")
        spec = [
            {
                "name": X.field_name(kind, param, c),
                "transform": X.transform_spec_string(kind, param),
                "source-id": next(
                    f["id"] for f in ice_schema["fields"] if f["name"] == c
                ),
                "field-id": 1000 + i,
            }
            for i, (kind, param, c) in enumerate(parsed)
        ]
        pfields = _spec_fields(ice_schema, spec)
        last_seq = 0
        evolved_spec = None
        fv = format_version if format_version is not None else 2
        if fv >= 3:
            clash = {"_row_id", "_last_updated_sequence_number"} & set(
                df.columns
            )
            if clash:
                raise IcebergError(
                    f"columns {sorted(clash)} collide with the v3 "
                    "reserved lineage column names"
                )
    if branch is not None:
        refs = meta.get("refs") or {}
        if branch not in refs or refs[branch].get("type", "branch") != "branch":
            raise IcebergError(
                f"branch {branch!r} does not exist (set_iceberg_ref first)"
            )
    sid = last_seq + 1  # deterministic snapshot id (== sequence number)
    token = uuid.uuid4().hex
    # the metadata this commit proposes, minus the snapshot itself
    if meta is None:
        new_meta = {
            "format-version": fv,
            "table-uuid": str(uuid.uuid4()),
            "location": path,
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec}],
            "last-partition-id": 1000 + len(spec) - 1 if spec else 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {},
            "metadata-log": [],
        }
    else:
        new_meta = dict(meta)
        if evolved:
            new_meta["schemas"] = list(meta.get("schemas") or []) + [ice_schema]
            new_meta["current-schema-id"] = ice_schema["schema-id"]
            new_meta["last-column-id"] = last_col
        if evolved_spec is not None:
            new_meta["partition-specs"] = list(
                meta.get("partition-specs")
                or [{"spec-id": 0, "fields": _current_spec(meta)}]
            ) + [{"spec-id": evolved_spec, "fields": spec}]
            new_meta["default-spec-id"] = evolved_spec
            new_meta["last-partition-id"] = max(
                int(meta.get("last-partition-id", 999)),
                max((f["field-id"] for f in spec), default=999),
            )

    entries, added_rows = _stage_data(
        fs, path, df, new_meta, sid, token, "part", skip_empty=False
    )
    first_row = int((meta or {}).get("next-row-id", 0))
    next_row = _assign_row_ids(entries, first_row) if fv >= 3 else None
    carried: list[dict] = []
    if mode == "append" and meta is not None and meta.get("snapshots"):
        carried = _carry_manifests(
            fs, meta,
            base_id=int(meta["refs"][branch]["snapshot-id"])
            if branch is not None
            else None,
        )
    fs.makedirs(_meta_dir(path))
    new_mf = _put_manifest(
        fs, path, f"m-{sid}-{token}.avro", entries, new_meta, 0, sid,
        added_rows, first_row_id=first_row,
    )
    return _commit_snapshot(
        fs, path, version, meta, new_meta, sid, token, [new_mf] + carried,
        # reserved keys win over summary_extra collisions
        {"operation": "append" if mode == "append" else "overwrite"},
        summary_extra, branch=branch, next_row=next_row,
    )


def upgrade_iceberg_format(path: str, format_version: int = 3) -> None:
    """Upgrade a format-version 2 table to 3 (metadata-only commit, spec
    §Version Upgrades): sets ``format-version`` and initializes
    ``next-row-id``.  Existing data files carry no ``first_row_id`` —
    their rows read NULL ``_row_id`` forever (the spec's upgrade rule);
    commits AFTER the upgrade assign lineage.  Refuses while the current
    snapshot carries live PARQUET position-delete files: v3 replaces
    those with deletion vectors, and a hybrid would need every new DV to
    fold superseded parquet deletes — rewrite (compact) the table first
    so the delete set is empty."""
    if format_version != 3:
        raise IcebergUnsupported(
            f"can only upgrade to format-version 3, got {format_version!r}"
        )
    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, version = _load_metadata(fs, path)
    cur = int(meta.get("format-version", 2))
    if cur == 3:
        return
    if cur != 2:
        raise IcebergUnsupported(
            f"upgrade from format-version {cur} (only 2 -> 3)"
        )
    if (meta.get("current-snapshot-id") or -1) >= 0:
        _entries, dels = _live_entries(fs, _snapshot_of(meta, None))
        if any(
            d.get("content", 1) == 1 and not d.get("_dv") for d in dels
        ):
            raise IcebergUnsupported(
                "table has live parquet position-delete files; v3 forbids "
                "them — rewrite (compact) before upgrading"
            )
    new_meta = dict(meta)
    new_meta["format-version"] = 3
    new_meta.setdefault("next-row-id", 0)
    _publish_metadata(fs, path, version, new_meta)


def delete_iceberg_rows(spark: SparkSession, path: str, where) -> int:
    """Row-level DELETE via merge-on-read position deletes (format v2,
    spec §Delete Formats): commit parquet delete files of
    ``(file_path, pos)`` rows naming every LIVE row matching ``where``
    (a SQL expression string or Column), without rewriting any data file.
    Readers — this module's and any spec-conformant engine's — hide the
    named positions at scan time.  Returns the new snapshot id, or -1
    when nothing matched (no commit).

    Shape: one Spark job scans the live table (existing deletes already
    applied, so re-deleting is never recorded) carrying each row's file
    basename and ``_metadata.row_index``; matches map back to full file
    paths through a broadcast of the manifest file list and land as ONE
    sorted delete file (file_path, pos — the spec's required order).
    The commit adds a delete manifest (``content=1``) and carries all
    prior manifests by pointer: O(matches) I/O, no data-file rewrite —
    the merge-on-read trade real tables make for cheap deletes.
    Append-only incremental readers refuse windows containing the delete
    snapshot; ``read_iceberg_changes(cdf=True)`` reads them as changelog
    rows; time travel below it still sees the rows.

    On a FORMAT-VERSION 3 table the same call commits DELETION VECTORS
    instead (spec §Deletion Vectors): one Puffin file holding a
    ``deletion-vector-v1`` roaring bitmap per affected data file, each
    manifest entry addressing its blob (``referenced_data_file`` +
    ``content_offset``/``content_size_in_bytes``).  A new DV MERGES and
    REPLACES any prior DV on the same data file (the spec's
    one-DV-per-file rule — superseded entries are dropped from the
    carried delete manifests), so readers apply exactly one bitmap per
    file."""
    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, version = _load_metadata(fs, path)
    fv = int(meta.get("format-version", 2))
    if fv not in (2, 3):
        raise IcebergUnsupported(
            "position deletes need format-version 2+ sequence numbers"
        )
    entries, dels = _live(fs, meta)
    if not entries:
        return -1
    cond = F.expr(where) if isinstance(where, str) else where
    matched = _scan(
        spark, fs, meta, entries, dels, keep=("__file", "__pos")
    ).filter(cond)
    sid = int(meta.get("last-sequence-number", 0)) + 1
    token = uuid.uuid4().hex
    if fv == 3:
        payloads = core.dv_payloads(matched)
        if not payloads:
            return -1
        del_entries, carried, n_new, n_rows = _dv_delete_leg(
            fs, path, meta, entries, dels, payloads, sid, token
        )
        key = "deleted-rows"
    else:
        del_entries, n_new = _stage_position_deletes(
            spark, fs, path, meta, entries, matched, sid, token
        )
        if not del_entries:
            return -1
        carried, n_rows = _carry_manifests(fs, meta), n_new
        key = "deleted-position-delete-rows"
    # one delete manifest (content=1 in the manifest LIST — it lists
    # delete files of either kind); a merged DV carries more positions
    # than this commit newly deleted
    del_mf = _put_manifest(
        fs, path, f"m-{sid}-{token}.avro", del_entries, meta, 1, sid, n_rows
    )
    return _commit_snapshot(
        fs, path, version, meta, dict(meta), sid, token, [del_mf] + carried,
        {"operation": "delete", key: str(n_new)},
    )


def update_iceberg(
    spark: SparkSession,
    path: str,
    where,
    set_exprs: dict,
    summary_extra: dict | None = None,
) -> int:
    """Row-level UPDATE as merge-on-read (the :func:`update_delta` twin,
    in Iceberg's own idiom): ONE ``overwrite`` snapshot hides every live
    row matching ``where`` (parquet position deletes on v2, deletion
    vectors on v3) and appends the updated versions — ``set_exprs``
    (column → SQL expression/Column) all evaluate against the OLD row.
    No untouched file is rewritten: O(matched) I/O, the merge-on-read
    trade.  Partition-moving updates are fine (the data leg restages
    under the new transformed values).  On v3 the updated rows KEEP
    their durable ``_row_id`` (materialized into the new files) with
    ``_last_updated_sequence_number`` falling back to this commit.
    Incremental append readers refuse the snapshot loudly;
    ``read_iceberg_changes(cdf=True)`` reads it as delete+insert
    changelog rows (Iceberg has no pre/postimage files — the merge
    contract).  Returns the new snapshot id, or -1 when nothing
    matched."""
    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, version = _load_metadata(fs, path)
    fv = int(meta.get("format-version", 2))
    if fv not in (2, 3):
        raise IcebergUnsupported("UPDATE needs format-version 2+")
    schema = _schema_from_iceberg(_current_schema(meta))
    by_dtype = {f.name: f.dataType for f in schema.fields}
    unknown = [c for c in set_exprs if c not in schema.names]
    if unknown:
        raise IcebergError(f"set columns {unknown} not in table schema")
    entries, dels = _live(fs, meta)
    if not entries:
        return -1

    live = _scan(
        spark, fs, meta, entries, dels, keep=("__file", "__pos"),
        lineage=fv >= 3,
    )
    cond = F.expr(where) if isinstance(where, str) else where
    matched = live.filter(cond).localCheckpoint()  # feeds both legs
    sid = int(meta.get("last-sequence-number", 0)) + 1
    token = uuid.uuid4().hex

    # -- delete leg: hide the old row versions --
    if fv >= 3:
        payloads = core.dv_payloads(matched)
        if not payloads:
            return -1
        del_entries, carried, n_upd, del_mf_rows = _dv_delete_leg(
            fs, path, meta, entries, dels, payloads, sid, token,
        )
    else:
        del_entries, n_upd = _stage_position_deletes(
            spark, fs, path, meta, entries, matched, sid, token
        )
        if not del_entries:
            return -1
        carried, del_mf_rows = _carry_manifests(fs, meta), n_upd

    # -- data leg: the updated row versions (set exprs see OLD values) --
    upd = matched.select(
        *[
            (
                (F.expr(e) if isinstance(e, str) else e)
                .cast(by_dtype[c])
                .alias(c)
                if (e := set_exprs.get(c)) is not None
                else F.col(c)
            )
            for c in schema.names
        ],
        *([F.col("_row_id")] if fv >= 3 else []),
    )
    entries_out, added_rows = _stage_data(
        fs, path, upd, meta, sid, token, "upd", skip_empty=True
    )
    first_row = int(meta.get("next-row-id", 0))
    next_row = _assign_row_ids(entries_out, first_row) if fv >= 3 else None
    manifests = [
        _put_manifest(
            fs, path, f"m-{sid}-{token}-data.avro", entries_out, meta, 0,
            sid, added_rows, first_row_id=first_row,
        ),
        _put_manifest(
            fs, path, f"m-{sid}-{token}-del.avro", del_entries, meta, 1,
            sid, del_mf_rows,
        ),
    ]
    return _commit_snapshot(
        fs, path, version, meta, dict(meta), sid, token, manifests + carried,
        # the spec's row-delta operation
        {"operation": "overwrite", "updated-rows": str(n_upd)},
        summary_extra, next_row=next_row,
    )


def _dv_delete_leg(fs, path, meta, entries, dels, payloads, sid, token):
    """The v3 deletion-vector leg shared by DELETE and UPDATE: merge the
    new per-file payloads with each file's existing DV, frame ONE Puffin
    file, and return ``(del_entries, carried, n_new, total_card)`` —
    the DV manifest entries, the carried manifests with superseded DVs
    dropped, the newly deleted row count, and the merged cardinality."""
    from gofeed_spark.sources import puffin as P
    from gofeed_spark.sources import roaring as R

    if any(d.get("content", 1) == 1 and not d.get("_dv") for d in dels):
        raise IcebergUnsupported(
            "v3 table carries live parquet position-delete files; "
            "v3 forbids them — rewrite before DV deletes"
        )
    by_base = {posixpath.basename(e["file_path"]): e for e in entries}
    old_dvs = {
        posixpath.basename(d["referenced_data_file"]): d
        for d in dels
        if d.get("_dv")
    }
    blobs: list[tuple[dict, bytes]] = []
    entry_info: list[tuple[str, int]] = []  # (data path, cardinality)
    pf_cache: dict[str, bytes] = {}
    n_new = 0
    for base in sorted(payloads):
        e = by_base.get(base)
        if e is None:
            raise IcebergError(f"matched rows in unknown data file {base!r}")
        pos = R.dv_decode_payload(payloads[base])
        n_new += len(pos)
        old = old_dvs.get(base)
        if old is not None:
            # one DV per file: the replacement must carry every
            # previously deleted position too
            pos |= P.decode_dv_blob(_dv_of(fs, old, pf_cache).load())
        full = e["file_path"]
        blobs.append(
            (
                {
                    "type": "deletion-vector-v1",
                    "fields": [],
                    "snapshot-id": sid,
                    "sequence-number": sid,
                    "properties": {
                        "referenced-data-file": full,
                        "cardinality": str(len(pos)),
                    },
                },
                P.encode_dv_blob(pos),
            )
        )
        entry_info.append((full, len(pos)))
    pf_bytes = P.write_puffin(blobs)
    pf_path = fs.join(path, f"data/dv-{sid:05d}-{token}.puffin")
    fs.put_bytes(pf_path, pf_bytes)

    # manifest entries address each blob; offsets mirror write_puffin's
    # layout (magic, then blobs back to back)
    off = len(P.MAGIC)
    del_entries = []
    for (_bmeta, blob), (full, card) in zip(blobs, entry_info):
        del_entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": sid,
                "sequence_number": None,  # inherited from the list row
                "file_sequence_number": None,
                "data_file": {
                    "content": 1,
                    "file_path": pf_path,
                    "file_format": "PUFFIN",
                    "partition": {name: None for name, _t in _part_types(meta)},
                    "record_count": card,
                    "file_size_in_bytes": len(pf_bytes),
                    "referenced_data_file": full,
                    "content_offset": off,
                    "content_size_in_bytes": len(blob),
                },
            }
        )
        off += len(blob)

    # carry prior manifests, dropping superseded DV entries
    carried = [
        mf for mf in _carry_manifests(fs, meta) if mf.get("content", 0) != 1
    ] + _carry_delete_manifests_dropping_dvs(
        fs, path, meta, set(payloads), sid, token
    )
    return del_entries, carried, n_new, sum(c for _f, c in entry_info)


def _carry_delete_manifests_dropping_dvs(
    fs, path, meta, affected: set, sid, token
) -> list[dict]:
    """The current snapshot's DELETE manifest-list rows with DV entries
    referencing ``affected`` data-file basenames DROPPED: a manifest
    untouched by the drop carries by pointer; a partially-affected one
    is rewritten with its surviving entries as EXISTING (explicit
    sequence numbers — the rewrite-path discipline); a fully-superseded
    one vanishes.  Shared by the DV-supersede delete commit (one live DV
    per file, the spec rule) and the v3 rewrite (a dangling DV whose
    target was compacted away would cost its Puffin read on every scan
    forever)."""
    carried: list[dict] = []
    for mf in _carry_manifests(fs, meta):
        if mf.get("content", 0) != 1:
            continue
        mf_seq = int(mf.get("sequence_number", 0) or 0)
        _s, _m, mf_entries = _read_avro(fs, mf["manifest_path"])
        keep = []
        dropped = 0
        for e in mf_entries:
            if e.get("status") == 2:
                continue
            d = e.get("data_file") or {}
            is_dv = (
                str(d.get("file_format", "")).upper() == "PUFFIN"
                and d.get("referenced_data_file")
            )
            if is_dv and posixpath.basename(d["referenced_data_file"]) in affected:
                dropped += 1
                continue
            keep.append((e, d))
        if not dropped:
            carried.append(mf)
            continue
        if not keep:
            continue  # fully superseded: drop the manifest outright
        surv = []
        for e, d in keep:
            es = e.get("sequence_number")
            es = int(es) if es is not None else mf_seq
            fes = e.get("file_sequence_number")
            surv.append(
                {
                    "status": 0,  # EXISTING
                    "snapshot_id": e.get("snapshot_id") or sid,
                    "sequence_number": es,
                    "file_sequence_number": int(fes) if fes is not None else es,
                    "data_file": {
                        k: v for k, v in d.items() if not k.startswith("_")
                    },
                }
            )
        carried.append(
            _put_manifest(
                fs, path, f"m-{sid}-{token}-carry{len(carried)}.avro", surv,
                meta, 1, sid, existing=True,
            )
        )
    return carried


def delete_iceberg_equality(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    summary_extra: dict | None = None,
) -> int:
    """Row-level DELETE BY KEY via merge-on-read EQUALITY deletes (spec
    §Equality Delete Files) — the CDC-upsert primitive: ``keys``' columns
    name the equality fields (e.g. a one-column frame of doc_ids), and
    every CURRENT row matching any key row (null-safely, per the spec)
    is hidden WITHOUT knowing where it lives — no scan of the data at
    all, which is the whole point: a position delete needs the row's
    coordinates, an equality delete just needs its key.  Rows appended
    AFTER this commit are untouched (the strictly-below sequence rule),
    so delete-key-then-reinsert works exactly like a CDC upsert.

    Commits ONE sorted parquet delete file of the distinct keys with
    ``equality_ids`` in its manifest entry (content=2), partition-global;
    O(keys) I/O, zero data-file reads.  Returns the new snapshot id
    (an empty ``keys`` frame commits nothing, returns -1)."""
    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, version = _load_metadata(fs, path)
    fv = int(meta.get("format-version", 2))
    if fv not in (2, 3):
        raise IcebergUnsupported(
            "equality deletes need format-version 2+ sequence numbers"
        )
    ice_schema = _current_schema(meta)
    table_types = {
        f["name"]: f["type"]
        for f in ice_schema["fields"]
        if isinstance(f["type"], str)
    }
    unknown = [
        c for c in keys.columns if c not in {f["name"] for f in ice_schema["fields"]}
    ]
    if unknown:
        raise IcebergError(f"equality columns {unknown} not in table schema")
    for c in keys.columns:
        want = table_types.get(c)
        got = _type_to_iceberg(keys.schema[c].dataType, _IdGen(10_000))
        if not isinstance(got, str) or got != want:
            raise IcebergSchemaMismatch(
                f"equality column {c!r} is {got!r}, table has {want!r}"
            )
    sid = int(meta.get("last-sequence-number", 0)) + 1
    token = uuid.uuid4().hex
    del_entries, n_deleted = _stage_eq_deletes(
        fs, path, meta, keys.distinct(), sid, token
    )
    if not del_entries:
        return -1
    del_mf = _put_manifest(
        fs, path, f"m-{sid}-{token}.avro", del_entries, meta, 1, sid, n_deleted
    )
    return _commit_snapshot(
        fs, path, version, meta, dict(meta), sid, token,
        [del_mf] + _carry_manifests(fs, meta),
        {"operation": "delete", "deleted-equality-delete-rows": str(n_deleted)},
        summary_extra,
    )


def merge_iceberg(
    spark: SparkSession,
    path: str,
    source_df: DataFrame,
    on: list[str],
    when_matched: str | tuple | None = "update",
    when_not_matched: str | None = "insert",
    summary_extra: dict | None = None,
    set_cols: list[str] | None = None,
) -> int:
    """Row-level MERGE as the FORMAT'S natural upsert (r15 verdict item
    6): ONE snapshot committing an EQUALITY-DELETE file of the source
    keys plus the new data files — the spec's strictly-below sequence
    rule hides old versions of matched keys (their data files sit below
    the delete's sequence number) while the rows appended in the SAME
    snapshot are untouched (same sequence number, not strictly below).
    Delete-key-then-reinsert in one commit IS the CDC upsert; the merge
    is O(source) — no target data is read or rewritten, the
    merge-on-read trade (contrast delta's copy-on-write merge_delta).

    Modes: the default ``update``+``insert`` needs NO target scan;
    ``when_matched='delete'``/``when_not_matched=None`` restrict via one
    key-column scan of the live table (still zero rewrites).  The
    snapshot's operation is ``overwrite`` (the spec's row-delta op), so
    append-only incremental readers refuse it loudly and
    ``read_iceberg_changes(cdf=True)`` reads it as the delete+insert
    changelog.  Source must be key-unique (ambiguous by the SQL rule).
    Returns the new snapshot id, or -1 on a no-op.

    CONDITIONAL and PARTIAL forms (merge_delta's surface, the scan-mode
    twin — both need target ROWS, so the blind zero-scan path does not
    apply): ``when_matched=("update"|"delete", cond)`` guards the
    matched action with a Spark SQL boolean over ``t`` (target row) and
    ``s`` (source row) aliases; guarded-out rows stay untouched and
    still suppress inserts.  ``set_cols=[...]`` updates only the named
    non-key columns (the merged row = target row + source subset, so
    the source needs only ``on + set_cols``; inserts refused)."""
    when_matched, matched_cond = core.merge_clauses(
        when_matched, when_not_matched, set_cols, on, IcebergError
    )
    scan_rows = matched_cond is not None or set_cols is not None
    # MERGE key semantics: NULL keys never match (SQL equi-join rule;
    # merge_delta's documented behavior) — but the eq-delete reader
    # matches NULL-SAFELY per the spec, so a NULL-keyed source row in
    # the delete file would hide existing NULL-keyed target rows.  Keep
    # NULL keys OUT of every delete leg; they still insert below.
    keys_nonnull = functools.reduce(
        lambda a, b: a & b, [F.col(c).isNotNull() for c in on]
    )
    if when_matched == "delete" and when_not_matched is None and not scan_rows:
        # pure keyed delete IS the equality-delete writer
        return delete_iceberg_equality(
            spark,
            path,
            source_df.select(*on).filter(keys_nonnull),
            summary_extra=summary_extra,
        )

    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, version = _load_metadata(fs, path)
    fv = int(meta.get("format-version", 2))
    if fv not in (2, 3):
        raise IcebergUnsupported("MERGE needs format-version 2+")
    ice_schema = _current_schema(meta)
    schema = _schema_from_iceberg(ice_schema)
    by_dtype = {f.name: f.dataType for f in schema.fields}
    src, lo, hi = core.merge_source(
        source_df, schema, on, when_matched, when_not_matched, set_cols,
        IcebergError, IcebergSchemaMismatch,
    )

    def live_scan():
        # bounds file skipping before the scan: files whose key range
        # cannot intersect the source keys' [min, max] cannot change any
        # source row's matched/unmatched verdict, so the scan reads only
        # the overlapping files; delete files never prune
        entries, dels = _live(fs, meta)
        bmap = {c: t for c, t in _bound_id_map(ice_schema).items() if c in on}
        if bmap:
            entries = core.prune_by_range(
                entries,
                {c: lo[c] for c in bmap},
                {c: hi[c] for c in bmap},
                _entry_bounds(bmap),
            )
        return _scan(spark, fs, meta, entries, dels, lineage=fv >= 3)

    # which source rows land as DATA, and which keys ride the eq-delete:
    #   update+insert (default) — all rows, blind delete (an eq-delete of
    #     an absent key is a no-op, so NO target scan at all);
    #   update+None   — matched rows only (one key-column scan);
    #   None+insert   — unmatched rows only, NO delete leg (matched rows
    #     must stay untouched);
    #   delete+insert — unmatched rows, blind delete of ALL source keys
    #     (hides matched, no-ops on the rest).
    if scan_rows:
        live = live_scan()
        val_cols = (
            set_cols
            if set_cols is not None
            else [c for c in src.columns if c not in on]
        )
        srcren = src.select(
            *on, *[F.col(c).alias(f"__src_{c}") for c in val_cols]
        )
        j = live.join(srcren, on, "inner")  # matched target rows
        if matched_cond is not None:
            j = (
                core.with_guard(j, schema.names, on, val_cols, matched_cond)
                .filter(F.col("__guard"))
                .drop("__guard")
            )
        j = j.localCheckpoint()  # feeds delete keys + merged rows
        n_upd = j.count()
        del_keys = j.select(*on) if n_upd else None
        # v3 row lineage rides the data leg as a materialized _row_id:
        # updated rows carry their OLD id (the feature's point), inserts
        # carry NULL and take fresh ids from the file's first_row_id
        lin3 = (
            [F.col("_row_id").cast("long").alias("_row_id")]
            if fv >= 3
            else []
        )
        lin3_null = (
            [F.lit(None).cast("long").alias("_row_id")] if fv >= 3 else []
        )
        parts: list[DataFrame] = []
        if when_matched == "update" and n_upd:
            parts.append(
                j.select(
                    *[
                        (
                            F.col(f"__src_{c}") if c in val_cols else F.col(c)
                        )
                        .cast(by_dtype[c])
                        .alias(c)
                        for c in schema.names
                    ],
                    *lin3,
                )
            )
        if when_not_matched == "insert":
            parts.append(
                src.join(live.select(*on), on, "left_anti").select(
                    *schema.names, *lin3_null
                )
            )
        data_rows = live.limit(0).select(*schema.names, *lin3)
        for p in parts:
            data_rows = data_rows.unionByName(p)
    else:
        del_keys = (
            src.select(*on).filter(keys_nonnull)
            if when_matched is not None
            else None
        )
        data_rows = src
        need_scan = (when_matched == "update" and when_not_matched is None) or (
            when_not_matched == "insert" and when_matched != "update"
        )
        if fv >= 3:
            # row lineage costs the blind mode its zero-scan property:
            # updated rows must carry their OLD _row_id, so matched keys
            # resolve through one bounds-pruned key+id scan (column
            # pruning keeps it to the key columns + the materialized id)
            live_ids = live_scan().select(*on, "_row_id")
            if when_matched == "update" and when_not_matched is None:
                data_rows = src.join(live_ids, on, "inner").localCheckpoint()
                del_keys = data_rows.select(*on)  # matched keys only
            elif when_matched == "update":
                data_rows = src.join(live_ids, on, "left").localCheckpoint()
            else:  # insert-only / delete+insert: unmatched rows, fresh ids
                data_rows = (
                    src.join(live_ids.select(*on), on, "left_anti")
                    .withColumn("_row_id", F.lit(None).cast("long"))
                    .localCheckpoint()
                )
        elif need_scan:
            live_keys = live_scan().select(*on)
            how = "left_semi" if when_not_matched is None else "left_anti"
            data_rows = src.join(live_keys, on, how).localCheckpoint()
            if when_matched == "update":
                del_keys = data_rows.select(*on)  # matched keys only
    if not data_rows.limit(1).count() and del_keys is None:
        return -1
    return _merge_commit(
        fs, path, meta, version, del_keys, data_rows, summary_extra
    )


def _merge_commit(fs, path, meta, version, del_keys, data_rows, summary_extra):
    """MERGE commit tail shared by the blind and scan-mode paths: the
    equality-delete leg, the data leg (write_iceberg staging shape),
    and ONE overwrite snapshot carrying parent manifests by pointer.
    Returns the new snapshot id, or -1 when both legs are empty.

    On v3, ``data_rows`` carries a ``_row_id`` column (OLD ids for
    updated rows, NULL for inserts) materialized into the data files
    under the reserved field id; the files also get fresh
    ``first_row_id`` ranges, so inserts take ``first_row_id + pos``
    while updated rows' materialized value wins —
    ``_last_updated_sequence_number`` is never materialized here (every
    written row is updated-or-inserted AT this commit, which is exactly
    the file-seq fallback)."""
    fv = int(meta.get("format-version", 2))
    sid = int(meta.get("last-sequence-number", 0)) + 1
    token = uuid.uuid4().hex
    manifests: list[dict] = []
    summary: dict[str, str] = {}
    # -- equality-delete leg (hides prior versions of the source keys) --
    if del_keys is not None:
        del_entries, n_deleted = _stage_eq_deletes(
            fs, path, meta, del_keys, sid, token
        )
        if del_entries:
            manifests.append(
                _put_manifest(
                    fs, path, f"m-{sid}-{token}-del.avro", del_entries, meta,
                    1, sid, n_deleted,
                )
            )
            summary["merged-delete-keys"] = str(n_deleted)
    entries_out, added_rows = _stage_data(
        fs, path, data_rows, meta, sid, token, "mrg", skip_empty=True
    )
    first_row = int(meta.get("next-row-id", 0))
    next_row = _assign_row_ids(entries_out, first_row) if fv >= 3 else None
    if entries_out:
        manifests.insert(
            0,
            _put_manifest(
                fs, path, f"m-{sid}-{token}-data.avro", entries_out, meta, 0,
                sid, added_rows, first_row_id=first_row,
            ),
        )
        summary["merged-rows"] = str(added_rows)
    if not manifests:
        return -1
    return _commit_snapshot(
        fs, path, version, meta, dict(meta), sid, token,
        manifests + _carry_manifests(fs, meta),
        # the spec's row-delta operation
        {**summary, "operation": "overwrite"},
        summary_extra, next_row=next_row,
    )


def apply_changes_iceberg(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    on: list[str],
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    summary_extra: dict | None = None,
) -> dict:
    """Consume one Iceberg table's CHANGELOG window and MERGE its NET
    effect into another — the :func:`~gofeed_spark.sources.delta.
    apply_changes_delta` twin on the second format: per key the LATEST
    snapshot wins, ordered by SEQUENCE NUMBER (snapshot ids are joined
    back to sequence numbers through the metadata, so foreign tables
    with arbitrary ids order correctly), and within one snapshot an
    insert outranks a delete (a merge snapshot emits delete(old)+
    insert(new) for the same key — the net is the new version).
    Upserts land through :func:`merge_iceberg` (one overwrite snapshot),
    deletes through :func:`delete_iceberg_equality`; ``summary_extra``
    (the idempotency stamp) rides only the LAST commit of the window —
    a crash between the two must leave the watermark BELOW the window so
    replay re-runs it all (idempotent by value).  Returns
    ``{"upserted_snapshot", "deleted_snapshot", "end_snapshot",
    "n_upserts", "n_deletes"}`` (-1 for no-op halves)."""
    # resolve the window end ONCE, before the read (a snapshot landing
    # between the read and the return would otherwise be reported as
    # consumed without being read)
    fs = get_filesystem(source_path)
    meta, _v = _load_metadata(fs, source_path)
    end_snap = (
        to_snapshot_id
        if to_snapshot_id is not None
        else _snapshot_of(meta, None)["snapshot-id"]
    )
    ch = read_iceberg_changes(
        spark, source_path, from_snapshot_id, end_snap, cdf=True
    )
    seq_map = spark.createDataFrame(
        [
            (s["snapshot-id"], int(s.get("sequence-number", 0)))
            for s in meta.get("snapshots") or []
        ],
        "_snapshot_id long, __seq long",
    )
    ups, dels, n_ups, n_dels = core.net_changes(
        ch.join(F.broadcast(seq_map), "_snapshot_id"), on, "__seq", "delete",
        ("_change_type", "_snapshot_id", "__seq"),
    )
    # the idempotency stamp rides the LAST commit only (see docstring)
    uv = (
        merge_iceberg(
            spark, target_path, ups, on,
            when_matched="update", when_not_matched="insert",
            summary_extra=None if n_dels else summary_extra,
        )
        if n_ups
        else -1
    )
    dv = (
        delete_iceberg_equality(
            spark, target_path, dels, summary_extra=summary_extra
        )
        if n_dels
        else -1
    )
    return {
        "upserted_snapshot": uv,
        "deleted_snapshot": dv,
        "end_snapshot": end_snap,
        "n_upserts": n_ups,
        "n_deletes": n_dels,
    }


# --- maintenance --------------------------------------------------------------


def rewrite_iceberg(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    sort_by: list[str] | None = None,
) -> dict:
    """Bin-packing compaction — the ``rewrite_data_files`` twin of
    ``optimize_delta``: within each partition whose live file count is at
    least ``min_files``, rewrite the small files into
    ``ceil(total_bytes / target_file_bytes)`` packed files and commit ONE
    ``replace`` snapshot whose live set is byte-identical to the old one.
    Streaming appends produce one file per micro-batch per partition;
    without periodic rewrite a landing table's read cost is dominated by
    per-file open overhead.

    Protocol shape: the new manifest list carries (a) one manifest with
    the packed files as ADDED entries (sequence number inherited from the
    new snapshot), (b) one manifest with every untouched data file as an
    EXISTING entry carrying its ORIGINAL data sequence number explicitly,
    and (c) the prior snapshot's DELETE manifests by pointer.  Existing
    position deletes therefore keep applying to untouched files
    (their seq stays <= the deletes'), while packed files are born ABOVE
    every delete's sequence number — which is sound because the rewrite
    reads its input through the normal merge-on-read path, so deleted
    rows are compacted away, never resurrected.  Incremental consumers
    skip ``replace`` snapshots entirely (contents unchanged — the
    dataChange=false twin); time travel below the rewrite keeps working
    until expiry.  Returns {"version", "rewritten", "packed",
    "partitions"}; a no-op makes no commit and returns version -1.

    ``sort_by`` additionally RE-CLUSTERS each group on the given keys
    (range clustering for one key, quantile-coded Z-order for several —
    the ``rewrite_data_files(sort/zorder)`` strategies): every group
    rewrites regardless of ``min_files``, and each packed file then
    covers a narrow key slice so the manifest lower/upper bounds
    (``where=`` point lookups, MERGE candidate pruning) actually drop
    files on a table that accreted unordered."""
    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, version = _load_metadata(fs, path)
    fv = int(meta.get("format-version", 2))
    if fv not in (2, 3):
        raise IcebergUnsupported("rewrite needs format-version 2+")
    ice_schema = _current_schema(meta)
    schema = _schema_from_iceberg(ice_schema)
    pfields = _spec_fields(ice_schema, _current_spec(meta))
    idents = [f for f in pfields if f["kind"] == "identity"]
    pcols = [f["source_col"] for f in idents]
    part_names = [f["name"] for f in pfields]
    entries, dels = _live(fs, meta)

    if sort_by:
        missing_s = [c for c in sort_by if c not in schema.names]
        if missing_s:
            raise IcebergError(f"sort_by {missing_s} not in table schema")
        in_part = [c for c in sort_by if c in pcols]
        if in_part:
            raise IcebergError(
                f"sort_by {in_part} are identity partition columns "
                "(constant within each rewrite group — nothing to cluster)"
            )
    if any(
        k not in (e.get("partition") or {})
        for e in entries
        for k in part_names
    ):
        raise IcebergUnsupported(
            "rewrite on a table with files from an earlier partition "
            "spec (their layout cannot be regrouped driver-side); "
            "migrate them first with write_iceberg(mode='overwrite')"
        )
    groups = core.compaction_groups(
        entries,
        lambda e: tuple((e.get("partition") or {}).get(k) for k in part_names),
        lambda e: e.get("file_size_in_bytes", 0),
        target_file_bytes, min_files,
        cluster=bool(sort_by),
    )

    def frame(members, gids):
        # merge-on-read input: existing deletes APPLY here, so the packed
        # output holds live rows only.  v3 reads WITH lineage and
        # MATERIALIZES every surviving row's _row_id /
        # _last_updated_sequence_number into the packed files (spec §Row
        # Lineage: rewrites must preserve ids)
        df = _scan(
            spark, fs, meta, members, dels,
            restore=(pcols, [f["name"] for f in idents]),
            extra=("__gid", gids) if gids is not None else None,
            lineage=fv >= 3,
        ).drop(*pcols)
        ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
        if fv >= 3:
            ids["_row_id"] = _FIELD_ID_ROW_ID
            ids["_last_updated_sequence_number"] = _FIELD_ID_LAST_UPDATED_SEQ
        return _with_field_ids(df, ids)

    sid = int(meta.get("last-sequence-number", 0)) + 1
    token = uuid.uuid4().hex
    packed = core.compact(
        fs, path, groups, frame,
        lambda _g, i: f"data/part-{i:05d}-{token}.rw.parquet",
        f"{path}_iceberg_rewrite_{token}", sort_by,
    )
    if not packed:
        return {"version": -1, "rewritten": 0, "packed": 0, "partitions": 0}
    packed_entries: list[dict] = []
    packed_rows = 0
    bound_ids = _bound_id_map(ice_schema)
    for group, f in packed:
        # packed files keep bounds-based skipping post-compaction; ADDED
        # by the replace snapshot, they inherit its sequence number —
        # above every delete's
        entry, n_rows = _added_entry(
            fs, f, sid, 0, dict(zip(part_names, group.key)), bound_ids
        )
        # v3: packed files carry NULL first_row_id — the materialized
        # columns are authoritative for every row they hold.  A fresh
        # base would RESURRECT ids for pre-lineage rows (NULL materialized
        # value + non-null base -> coalesce would invent an id the
        # upgrade rule says must stay NULL forever)
        if fv >= 3:
            entry["data_file"]["first_row_id"] = None
        packed_entries.append(entry)
        packed_rows += n_rows
    rewritten_paths = {e["file_path"] for g in groups for e in g.members}
    survivors = [e for e in entries if e["file_path"] not in rewritten_paths]
    manifests = [
        _put_manifest(
            fs, path, f"m-{sid}-{token}-packed.avro", packed_entries, meta,
            0, sid, packed_rows,
        )
    ]
    if survivors:
        manifests.append(
            _put_manifest(
                fs, path, f"m-{sid}-{token}-existing.avro",
                [
                    {
                        # EXISTING: the original data sequence number rides
                        "status": 0,
                        "snapshot_id": sid,
                        "sequence_number": int(e.get("_seq", 0)),
                        "file_sequence_number": int(e.get("_seq", 0)),
                        "data_file": {
                            "content": 0,
                            "file_path": e["file_path"],
                            "file_format": "PARQUET",
                            "partition": dict(e.get("partition") or {}),
                            "record_count": e.get("record_count", 0),
                            "file_size_in_bytes": e.get("file_size_in_bytes", 0),
                            # v3: EXISTING entries must carry their id
                            # base explicitly (inheritance only covers
                            # ADDED files)
                            **({"first_row_id": e.get("_frid")} if fv >= 3 else {}),
                        },
                    }
                    for e in survivors
                ],
                meta, 0, sid, existing=True,
            )
        )
    # carry DELETE manifests: they still scope onto untouched files via
    # sequence numbers; packed files are born above them.  On v3, DV
    # entries whose target was just compacted away are DROPPED (their
    # positions were applied during the pack; leaving them dangling
    # would cost their Puffin read on every scan forever)
    if fv >= 3:
        manifests += _carry_delete_manifests_dropping_dvs(
            fs, path, meta, {posixpath.basename(p) for p in rewritten_paths},
            sid, token,
        )
    else:
        manifests += [
            mf for mf in _carry_manifests(fs, meta) if mf.get("content", 0) == 1
        ]
    new_meta = dict(meta)
    if sort_by:
        # declare the layout in the spec's own vocabulary: a SORT ORDER
        # over the keys (identity transform, asc, nulls-first — the
        # cluster_layout semantics) becomes the table default, so
        # foreign engines see the clustering instead of guessing it
        by_id_name = {f["name"]: f["id"] for f in ice_schema["fields"]}
        fields = [
            {
                "transform": "identity",
                "source-id": by_id_name[c],
                "direction": "asc",
                "null-order": "nulls-first",
            }
            for c in sort_by
        ]
        orders = list(meta.get("sort-orders") or [])
        hit = next((o for o in orders if o.get("fields") == fields), None)
        if hit is None:
            oid = max((o.get("order-id", 0) for o in orders), default=0) + 1
            orders.append({"order-id": oid, "fields": fields})
        else:
            oid = hit["order-id"]
        new_meta["sort-orders"] = orders
        new_meta["default-sort-order-id"] = oid
    _commit_snapshot(
        fs, path, version, meta, new_meta, sid, token, manifests,
        {
            "operation": "replace",
            "rewritten-data-files": str(len(rewritten_paths)),
            "added-data-files": str(len(packed_entries)),
        },
    )
    return {
        "version": sid,
        "rewritten": len(rewritten_paths),
        "packed": len(packed_entries),
        "partitions": len(groups),
    }


def rollback_iceberg(path: str, snapshot_id: int) -> None:
    """ROLL BACK the table to an earlier snapshot (the
    ``rollback_to_snapshot`` lifecycle op): a pure METADATA commit that
    repoints ``current-snapshot-id`` — no data or manifest I/O at all,
    because Iceberg snapshots are immutable and the old one is still
    fully reachable.  Every snapshot stays in the table (time travel to
    the rolled-back-FROM state keeps working until expiry); the next
    append parents from the restored snapshot, and sequence numbers keep
    increasing past the rollback (the spec's monotonicity rule)."""
    fs = get_filesystem(path)
    path = path.rstrip("/")
    meta, version = _load_metadata(fs, path)
    _snapshot_of(meta, snapshot_id)  # existence check
    if meta.get("current-snapshot-id") == snapshot_id:
        return
    new_meta = dict(meta)
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {
            "timestamp-ms": int(meta.get("last-sequence-number", 0)),
            "snapshot-id": snapshot_id,
        }
    ]
    _publish_metadata(fs, path, version, new_meta)


def read_iceberg_meta(
    spark: SparkSession,
    path: str,
    kind: str = "snapshots",
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """The METADATA TABLES every Iceberg engine exposes
    (``SELECT * FROM tbl.files`` / ``.snapshots`` / ``.history`` /
    ``.refs`` / ``.manifests`` / ``.partitions``) as DataFrames, built
    entirely from the metadata tree — zero data-file I/O (metadata is
    metadata-sized; at 100 TB this is how you inspect a table without
    scanning it).  ``files``/``manifests``/``partitions`` describe the
    current snapshot by default, or the one named by ``snapshot_id`` /
    ``ref``; partition values render as JSON strings (one stable schema
    across specs)."""
    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, _v = _load_metadata(fs, path)
    if ref is not None:
        if snapshot_id is not None:
            raise IcebergError("pass snapshot_id OR ref, not both")
        snapshot_id = _resolve_ref(meta, ref)
    if kind == "snapshots":
        rows = [
            (
                int(s["snapshot-id"]),
                s.get("parent-snapshot-id"),
                int(s.get("sequence-number", 0)),
                int(s.get("timestamp-ms", 0)),
                (s.get("summary") or {}).get("operation"),
                s.get("manifest-list"),
                json.dumps(s.get("summary") or {}, sort_keys=True),
            )
            for s in meta.get("snapshots") or []
        ]
        schema = (
            "snapshot_id long, parent_id long, sequence_number long, "
            "committed_at_ms long, operation string, manifest_list string, "
            "summary string"
        )
    elif kind == "history":
        cur_chain: set[int] = set()
        by_id = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
        c = meta.get("current-snapshot-id")
        while c is not None and c in by_id:
            cur_chain.add(c)
            c = by_id[c].get("parent-snapshot-id")
        rows = [
            (
                int(e.get("timestamp-ms", 0)),
                int(e["snapshot-id"]),
                e["snapshot-id"] in cur_chain,
            )
            for e in meta.get("snapshot-log") or []
        ]
        schema = (
            "made_current_at_ms long, snapshot_id long, "
            "is_current_ancestor boolean"
        )
    elif kind == "refs":
        refs = dict(meta.get("refs") or {})
        cur = meta.get("current-snapshot-id")
        if "main" not in refs and cur is not None and cur >= 0:
            refs["main"] = {"snapshot-id": cur, "type": "branch"}
        rows = [
            (name, r.get("type", "branch"), int(r["snapshot-id"]))
            for name, r in sorted(refs.items())
        ]
        schema = "name string, type string, snapshot_id long"
    elif kind == "manifests":
        snap = _snapshot_of(meta, snapshot_id)
        _s, _m, manifests = _read_avro(fs, snap["manifest-list"])
        rows = [
            (
                mf["manifest_path"],
                int(_get(mf, "manifest_length", default=0)),
                int(_get(mf, "partition_spec_id", default=0)),
                int(_get(mf, "content", default=0)),
                int(_get(mf, "sequence_number", default=0)),
                int(_get(mf, "added_snapshot_id", default=0)),
                int(
                    _get(
                        mf, "added_data_files_count", "added_files_count",
                        default=0,
                    )
                ),
                int(
                    _get(
                        mf, "existing_data_files_count",
                        "existing_files_count", default=0,
                    )
                ),
                int(_get(mf, "added_rows_count", default=0)),
                int(_get(mf, "existing_rows_count", default=0)),
            )
            for mf in manifests
        ]
        schema = (
            "path string, length long, partition_spec_id int, content int, "
            "sequence_number long, added_snapshot_id long, "
            "added_data_files_count int, existing_data_files_count int, "
            "added_rows_count long, existing_rows_count long"
        )
    elif kind in ("files", "partitions"):
        entries, dels = _live_entries(fs, _snapshot_of(meta, snapshot_id))
        if kind == "files":
            rows = [
                (
                    int(e.get("content", 0) or 0),
                    e["file_path"],
                    str(e.get("file_format", "PARQUET")),
                    json.dumps(
                        {
                            k: v
                            for k, v in (e.get("partition") or {}).items()
                        },
                        sort_keys=True, default=str,
                    ),
                    int(e.get("record_count", 0) or 0),
                    int(e.get("file_size_in_bytes", 0) or 0),
                    int(e.get("_seq", 0)),
                )
                for e in entries + dels
            ]
            schema = (
                "content int, file_path string, file_format string, "
                "partition string, record_count long, "
                "file_size_in_bytes long, sequence_number long"
            )
        else:
            agg: dict[str, list[int]] = {}
            for e in entries:
                key = json.dumps(
                    dict(e.get("partition") or {}), sort_keys=True,
                    default=str,
                )
                slot = agg.setdefault(key, [0, 0, 0])
                slot[0] += 1
                slot[1] += int(e.get("record_count", 0) or 0)
                slot[2] += int(e.get("file_size_in_bytes", 0) or 0)
            rows = [
                (k, v[0], v[1], v[2]) for k, v in sorted(agg.items())
            ]
            schema = (
                "partition string, file_count long, record_count long, "
                "total_size_bytes long"
            )
    else:
        raise IcebergError(
            f"unknown metadata table {kind!r} (snapshots|history|refs|"
            "manifests|files|partitions)"
        )
    return spark.createDataFrame(rows, schema)


def set_iceberg_ref(
    path: str,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "branch",
) -> None:
    """Create or move a named SNAPSHOT REFERENCE (spec §Snapshot
    References): ``ref_type='branch'`` makes a writable head
    (``write_iceberg(branch=...)`` appends onto it), ``'tag'`` pins a
    snapshot by name (the audit/release marker).  ``snapshot_id``
    defaults to the current snapshot.  Setting ``main`` moves
    ``current-snapshot-id`` too (they mirror each other by spec).
    Metadata-only commit — no data or manifest I/O."""
    if ref_type not in ("branch", "tag"):
        raise IcebergError(f"ref_type must be branch|tag, got {ref_type!r}")
    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, version = _load_metadata(fs, path)
    sid = (
        int(snapshot_id)
        if snapshot_id is not None
        else int(meta.get("current-snapshot-id", -1))
    )
    _snapshot_of(meta, sid)  # existence check
    refs = dict(meta.get("refs") or {})
    prior = refs.get(name)
    if prior is not None and prior.get("type", "branch") != ref_type:
        raise IcebergError(
            f"ref {name!r} exists as a {prior.get('type')}, not a {ref_type}"
        )
    refs[name] = {"snapshot-id": sid, "type": ref_type}
    new_meta = dict(meta)
    new_meta["refs"] = refs
    if name == "main":
        new_meta["current-snapshot-id"] = sid
        new_meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
            {
                "timestamp-ms": int(meta.get("last-sequence-number", 0)),
                "snapshot-id": sid,
            }
        ]
    _publish_metadata(fs, path, version, new_meta)


def drop_iceberg_ref(path: str, name: str) -> None:
    """Drop a branch or tag (``main`` refused — a table always has its
    main branch); the referenced snapshots stay until expiry."""
    if name == "main":
        raise IcebergError("cannot drop the main branch")
    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, version = _load_metadata(fs, path)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise IcebergError(f"ref {name!r} does not exist")
    del refs[name]
    new_meta = dict(meta)
    new_meta["refs"] = refs
    _publish_metadata(fs, path, version, new_meta)


def fast_forward_iceberg(path: str, name: str, to: str) -> None:
    """FAST-FORWARD branch ``name`` to ref ``to``'s head — the
    write-audit-publish PUBLISH step: staged commits audited on a branch
    become visible on ``main`` as one atomic metadata move.  Refused
    unless ``name``'s current head is an ancestor of the target (a
    non-linear move is a rollback/overwrite, not a fast-forward — be
    explicit and use ``set_iceberg_ref``)."""
    path = path.rstrip("/")
    fs = get_filesystem(path)
    meta, version = _load_metadata(fs, path)
    target = _resolve_ref(meta, to)
    refs = dict(meta.get("refs") or {})
    if name in refs and refs[name].get("type", "branch") != "branch":
        raise IcebergError(f"ref {name!r} is a tag; only branches move")
    head = _resolve_ref(meta, name)
    if head == target:
        return
    if not _is_ancestor(meta, head, target):
        raise IcebergError(
            f"branch {name!r} head {head} is not an ancestor of "
            f"{to!r} head {target}: not a fast-forward"
        )
    refs[name] = {"snapshot-id": target, "type": "branch"}
    new_meta = dict(meta)
    new_meta["refs"] = refs
    if name == "main":
        new_meta["current-snapshot-id"] = target
        new_meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
            {
                "timestamp-ms": int(meta.get("last-sequence-number", 0)),
                "snapshot-id": target,
            }
        ]
    _publish_metadata(fs, path, version, new_meta)


def remove_orphan_iceberg(
    path: str, dry_run: bool = False, min_age_s: float = 0.0
) -> list[str]:
    """Delete files under the table's ``data/`` and ``metadata/`` trees
    that NO snapshot references (the ``remove_orphan_files`` maintenance
    op): leftovers of crashed publishes — data files moved into place
    whose commit lost the metadata race, manifests and manifest lists of
    commits that never published.  Reachability is computed over EVERY
    snapshot in the metadata (so time travel and refs are never broken;
    run :func:`expire_iceberg` first to shrink that set); metadata JSON
    versions and the version hint are always kept.  ``min_age_s`` skips
    files younger than the cutoff — set it in production so a commit
    that is mid-publish right now is never swept (the real op's
    ``older_than`` guard).  Returns the relative paths removed."""
    import time

    fs = get_filesystem(path)
    path = path.rstrip("/")
    meta, _version = _load_metadata(fs, path)
    reachable: set[str] = set()
    for s in meta.get("snapshots") or []:
        ml = s["manifest-list"]
        reachable.add(ml)
        _s, _m, mfs = _read_avro(fs, ml)
        for mf in mfs:
            reachable.add(mf["manifest_path"])
            _s2, _m2, entries = _read_avro(fs, mf["manifest_path"])
            for e in entries:
                d = e.get("data_file") or {}
                if "file_path" in d:
                    reachable.add(d["file_path"])
    root = path + "/"
    now = time.time()
    victims: list[str] = []
    for rel, _size in fs.walk_files(path):
        top = rel.split("/", 1)[0]
        if top not in ("data", "metadata"):
            continue
        base = rel.rsplit("/", 1)[-1]
        if top == "metadata" and (
            base.endswith(".metadata.json") or base == "version-hint.text"
        ):
            continue
        full = root + rel
        if full in reachable:
            continue
        if min_age_s > 0:
            st = fs.stat(full)
            if st is not None and now - st[1] / 1e9 < min_age_s:
                continue
        victims.append(rel)
    if not dry_run:
        for rel in victims:
            fs.delete(root + rel)
    return sorted(victims)


def expire_iceberg(path: str, keep_last: int = 1, dry_run: bool = False) -> list[str]:
    """Expire all but the newest ``keep_last`` snapshots: rewrite the
    metadata without them and delete every data file, manifest, and
    manifest list reachable ONLY from expired snapshots.  Like real
    ``expireSnapshots``, time travel to expired ids stops working.
    Returns the deleted paths (relative to the table root)."""
    fs = get_filesystem(path)
    path = path.rstrip("/")
    meta, version = _load_metadata(fs, path)
    snaps = sorted(meta.get("snapshots") or [], key=lambda s: s["snapshot-id"])
    if keep_last < 1:
        raise IcebergError("keep_last must be >= 1")
    kept, expired = snaps[-keep_last:], snaps[:-keep_last]
    # the CURRENT snapshot is always kept — after a rollback it is not
    # the newest, and expiring it would leave the table unreadable
    cur = meta.get("current-snapshot-id")
    if cur is not None and cur not in {s["snapshot-id"] for s in kept}:
        cur_snap = next(s for s in expired if s["snapshot-id"] == cur)
        kept = [cur_snap] + kept
        expired = [s for s in expired if s["snapshot-id"] != cur]
    # named refs pin their targets: expiring a tagged/branched snapshot
    # would break the name (real expireSnapshots honors retention refs)
    ref_ids = {
        int(r["snapshot-id"]) for r in (meta.get("refs") or {}).values()
    }
    if ref_ids:
        pinned = [s for s in expired if s["snapshot-id"] in ref_ids]
        kept = pinned + kept
        expired = [s for s in expired if s["snapshot-id"] not in ref_ids]
    if not expired:
        return []

    def reachable(snapshots):
        mlists, manifests, files = set(), set(), set()
        for s in snapshots:
            mlists.add(s["manifest-list"])
            _s, _m, mfs = _read_avro(fs, s["manifest-list"])
            for mf in mfs:
                manifests.add(mf["manifest_path"])
                _s2, _m2, entries = _read_avro(fs, mf["manifest_path"])
                for e in entries:
                    d = e.get("data_file") or {}
                    if "file_path" in d:
                        files.add(d["file_path"])
        return mlists, manifests, files

    keep_ml, keep_mf, keep_f = reachable(kept)
    exp_ml, exp_mf, exp_f = reachable(expired)
    victims = sorted((exp_ml - keep_ml) | (exp_mf - keep_mf) | (exp_f - keep_f))
    if not dry_run:
        new_meta = dict(meta)
        new_meta["snapshots"] = kept
        keep_ids = {s["snapshot-id"] for s in kept}
        new_meta["snapshot-log"] = [
            e
            for e in meta.get("snapshot-log") or []
            if e.get("snapshot-id") in keep_ids
        ]
        _publish_metadata(fs, path, version, new_meta)
        for victim in victims:
            fs.delete(victim)
    root = path.rstrip("/") + "/"
    return [v[len(root):] if v.startswith(root) else v for v in victims]
