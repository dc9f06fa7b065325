"""The format-free core under ``sources/delta.py`` and ``sources/iceberg.py``.

Both open table formats describe a table the same way once their own
encoding (the Delta JSON log, the Iceberg manifest tree) is parsed: a
list of live parquet data files, each with partition values, a data
sequence number, optional row-lineage bases and the deletes that apply
to it.  Everything that works on that description lives here, once:

- :func:`assemble` turns the file list into ONE Spark relation (partition
  columns restored by a single broadcast join keyed on file basename,
  deletion vectors and delete files applied as left anti joins);
- :func:`merge_clauses` / :func:`merge_source` / :func:`with_guard` are
  the MERGE front end (WHEN-clause validation, the key-unique source,
  the ``t.``/``s.`` guard aliases);
- :func:`prune_by_range` is min/max file skipping;
- :func:`ingest_staged` moves a staged Spark write under the table root;
- :func:`compaction_groups` / :func:`compact` are the bin-packing recipe;
- :func:`dv_payloads` and :func:`net_changes` are the deletion-vector
  writer input and the change-feed net-effect reduction.

A format module keeps only its encoding: it builds :class:`FileRef`
descriptors from its log or manifests and writes the commit.  The real
differences between the formats arrive here as data (a
:class:`DeleteFile`'s ``strict`` sequence rule, the ``physical`` column
map, a compaction's ``force`` predicate), never as a format test.
"""

from __future__ import annotations

import posixpath
import re
import urllib.parse
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gofeed_spark.fs import FileSystem
from gofeed_spark.sources.cluster import cluster_layout
from gofeed_spark.sources.statbounds import stat_string_bounds

#: delete sets whose TOTAL size is known from metadata (DV cardinality,
#: delete-file record_count — no decode, no file read) and fits this bound
#: broadcast, so the data relation never shuffles; above it (or when any
#: size is unknown) deletion vectors explode on executors and the join is
#: left to the planner — correct at any size, never a driver OOM
DELETE_BROADCAST_MAX = 5_000_000
#: the Hive directory value of a NULL partition value
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class DeletionVector(NamedTuple):
    """A per-file bitmap of deleted row positions.  ``load()`` fetches
    the encoded payload driver-side (a byte slice, never expanded
    positions); ``decode(payload)`` returns the position set and must be
    a module-level function so executors can import it; ``cardinality``
    comes from metadata (None = unknown, never read as zero)."""

    load: Callable[[], bytes]
    decode: Callable[[bytes], set]
    cardinality: int | None


class DeleteFile(NamedTuple):
    """A table-level parquet delete file applied merge-on-read.
    ``eq_cols`` None: position deletes, ``(file_path, pos)`` rows;
    otherwise equality deletes keyed by those columns (matched
    null-safely).  A delete hides rows in data files whose sequence
    number is at or below ``seq``, or STRICTLY below when ``strict``."""

    path: str
    seq: int
    record_count: int | None
    eq_cols: tuple | None = None
    strict: bool = False


class FileRef(NamedTuple):
    """One live data file: its Spark-readable ``path``, partition values
    as strings (column → value, None for null), data sequence number,
    the value of the optional extra column, the lineage base (first row
    id, row version) and the deletion vector that applies to it."""

    path: str
    partition: dict
    seq: int = 0
    extra: int | None = None
    lineage: tuple = (None, None)
    dv: DeletionVector | None = None


class Lineage(NamedTuple):
    """Row-lineage output: ``out`` names the (row id, row version)
    columns; ``mat`` names the physical columns rewrites materialize
    preserved values into (they win over base + position), or None."""

    out: tuple
    mat: tuple | None


def _basename_col():
    return F.element_at(F.split(F.input_file_name(), "/"), -1)


def _unique_basenames(paths: list[str], err: type, what: str) -> None:
    names = [posixpath.basename(p) for p in paths]
    if len(set(names)) != len(names):
        raise err(f"duplicate {what} basenames; cannot key the file map")


def _provably_small(sizes: list) -> bool:
    return all(s is not None for s in sizes) and sum(
        int(s) for s in sizes
    ) <= DELETE_BROADCAST_MAX


def maybe_broadcast(rel: DataFrame, sizes: list) -> DataFrame:
    """Broadcast ``rel`` only when ``sizes`` PROVE the delete set small;
    an unknown size counts as over the bound."""
    return F.broadcast(rel) if _provably_small(sizes) else rel


def dv_rows(spark: SparkSession, dvs: list[tuple[str, DeletionVector]]) -> DataFrame:
    """``(data-file basename, DeletionVector)`` pairs → a
    ``(__tfile, __tpos)`` relation of deleted rows.  A provably small
    total decodes driver-side (the payloads are already here) into a
    broadcast; anything else ships the compressed payloads as rows and
    explodes them on executors.  Every DV of one table shares its
    format's encoding, so one ``decode`` serves them all."""
    payloads = [(f, dv.load()) for f, dv in dvs]
    decode = dvs[0][1].decode
    out = "__tfile string, __tpos long"
    if _provably_small([dv.cardinality for _f, dv in dvs]):
        rows = [(f, int(p)) for f, raw in payloads for p in decode(bytes(raw))]
        return F.broadcast(spark.createDataFrame(rows, out))

    def _explode(batches):
        import pandas as pd

        for b in batches:
            for f, raw in zip(b["__tfile"], b["__dv"]):
                pos = sorted(decode(bytes(raw)))
                yield pd.DataFrame(
                    {"__tfile": f, "__tpos": pd.Series(pos, dtype="int64")}
                )

    return spark.createDataFrame(
        [(f, bytearray(raw)) for f, raw in payloads],
        "__tfile string, __dv binary",
    ).mapInPandas(_explode, out)


def delete_rows(
    spark: SparkSession, schema: T.StructType, files: list[DeleteFile]
) -> DataFrame:
    """Delete files sharing one ``eq_cols`` → their rows plus the
    ``__delseq`` of the file each came from.  Position files give
    ``(__tfile, __tpos, __delseq)``; equality files give one row per key
    (``__eq_<col>``..., the max ``__delseq``: a key deleted at seq 3 is
    also deleted at seq 5)."""
    cols = files[0].eq_cols
    if cols is None:
        read = T.StructType(
            [
                T.StructField("file_path", T.StringType()),
                T.StructField("pos", T.LongType()),
            ]
        )
    else:
        read = T.StructType([T.StructField(c, schema[c].dataType) for c in cols])
    seqs = spark.createDataFrame(
        [(posixpath.basename(d.path), int(d.seq)) for d in files],
        "__dfile string, __delseq long",
    )
    rel = (
        spark.read.schema(read)
        .parquet(*[d.path for d in files])
        .withColumn("__dfile", _basename_col())
        .join(F.broadcast(seqs), "__dfile")
    )
    if cols is None:
        return rel.select(
            F.element_at(F.split(F.col("file_path"), "/"), -1).alias("__tfile"),
            F.col("pos").alias("__tpos"),
            "__delseq",
        )
    return (
        rel.groupBy(*cols)
        .agg(F.max("__delseq").alias("__delseq"))
        .select(*[F.col(c).alias(f"__eq_{c}") for c in cols], "__delseq")
    )


def assemble(
    spark: SparkSession,
    schema: T.StructType,
    files: list[FileRef],
    err: type,
    pcols: list[str] = (),
    *,
    physical: dict[str, str] | None = None,
    extra: str | None = None,
    keep: tuple = (),
    lineage: Lineage | None = None,
    deletes: list[DeleteFile] = (),
) -> DataFrame:
    """Live data files → ONE parquet relation with the ``schema``'s
    columns, whatever the partition count.

    ``pcols`` are restored from each file's partition values by a single
    broadcast join keyed on file basename (basenames must be unique —
    ``err`` is raised otherwise); ``physical`` maps the columns data
    files carry (logical → physical name; default every non-partition
    column under its own name) — a partition column listed there is read
    too and wins over the partition value.  ``extra`` names a long
    column carrying each file's ``extra`` value through the same map.
    ``keep`` exposes the ``__file`` basename and ``__pos``
    (``_metadata.row_index``) working columns.  ``lineage`` appends the
    row-lineage pair: base + position and the file's row version, with
    the materialized columns winning when present.

    Deletion vectors apply as one LEFT ANTI join on (``__file``,
    ``__pos``); ``deletes`` apply as one anti join per (``eq_cols``,
    ``strict``) group with the sequence-number scope as a join conjunct.
    The basename map only exists to attach per-file values: a read that
    needs none (no partition columns, extra, lineage or delete files)
    takes ``__file``/``__pos`` straight off the scan, with no join."""
    deletes = [d for d in deletes if d.record_count != 0]
    dvs = [
        (posixpath.basename(f.path), f.dv)
        for f in files
        if f.dv is not None and f.dv.cardinality != 0
    ]
    out_cols = [F.col(f.name) for f in schema.fields]
    empty = list(schema.fields)
    if extra is not None:
        out_cols.append(F.col(extra))
        empty.append(T.StructField(extra, T.LongType()))
    for c in keep:
        out_cols.append(F.col(c))
        empty.append(
            T.StructField(c, T.StringType() if c == "__file" else T.LongType())
        )
    if lineage is not None:
        rid = (F.col("__brid") + F.col("__pos")).cast("long")
        ver = F.col("__rver")
        if lineage.mat:
            rid = F.coalesce(F.col("__mat_rid"), rid)
            ver = F.coalesce(F.col("__mat_ver"), ver)
        out_cols += [rid.alias(lineage.out[0]), ver.alias(lineage.out[1])]
        empty += [T.StructField(c, T.LongType()) for c in lineage.out]
    if not files:
        return spark.createDataFrame([], T.StructType(empty))

    if physical is None:
        physical = {f.name: f.name for f in schema.fields if f.name not in pcols}
    # partition columns a data file may carry read nullable, after the rest
    scan = [
        T.StructField(physical[f.name], f.dataType, f.nullable)
        for f in schema.fields
        if f.name in physical and f.name not in pcols
    ] + [
        T.StructField(physical[f.name], f.dataType, True)
        for f in schema.fields
        if f.name in physical and f.name in pcols
    ]
    if lineage is not None and lineage.mat:
        scan += [T.StructField(c, T.LongType(), True) for c in lineage.mat]
    df = spark.read.schema(T.StructType(scan)).parquet(*[f.path for f in files])
    renames = {p: c for c, p in physical.items() if p != c}
    if lineage is not None and lineage.mat:
        renames.update({lineage.mat[0]: "__mat_rid", lineage.mat[1]: "__mat_ver"})
    if renames:
        df = df.withColumnsRenamed(renames)
    if dvs or deletes or "__pos" in keep or lineage is not None:
        df = df.withColumn("__pos", F.col("_metadata.row_index"))
    need_map = bool(pcols) or extra is not None or lineage is not None or bool(deletes)
    if need_map or dvs or "__file" in keep:
        _unique_basenames([f.path for f in files], err, "data-file")
        df = df.withColumn("__file", _basename_col())
    if need_map:
        map_fields = (
            [T.StructField("__file", T.StringType())]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in pcols]
            + ([T.StructField(extra, T.LongType())] if extra is not None else [])
            + ([T.StructField("__seq", T.LongType())] if deletes else [])
            + (
                [
                    T.StructField("__brid", T.LongType()),
                    T.StructField("__rver", T.LongType()),
                ]
                if lineage is not None
                else []
            )
        )
        rows = [
            (
                posixpath.basename(f.path),
                *[f.partition.get(c) for c in pcols],
                *([f.extra] if extra is not None else []),
                *([f.seq] if deletes else []),
                *(f.lineage if lineage is not None else []),
            )
            for f in files
        ]
        df = df.join(
            F.broadcast(spark.createDataFrame(rows, T.StructType(map_fields))),
            "__file",
        )
        by_type = {f.name: f.dataType for f in schema.fields}
        # restored BEFORE delete application: equality deletes may key
        # on partition columns
        for c in pcols:
            pv = F.col(f"__pv_{c}").cast(by_type[c])
            df = df.withColumn(
                c, F.coalesce(F.col(c), pv) if c in physical else pv
            ).drop(f"__pv_{c}")
    if dvs:
        ddf = dv_rows(spark, dvs)
        df = df.join(
            ddf,
            (df["__file"] == ddf["__tfile"]) & (df["__pos"] == ddf["__tpos"]),
            "left_anti",
        )
    if deletes:
        _unique_basenames([d.path for d in deletes], err, "delete-file")
        groups: dict[tuple, list[DeleteFile]] = {}
        for d in deletes:
            groups.setdefault((d.eq_cols, d.strict), []).append(d)
        for cols, strict in sorted(
            groups, key=lambda k: (k[0] is not None, k[0] or (), k[1])
        ):
            members = groups[(cols, strict)]
            rel = delete_rows(spark, schema, members)
            cond = (
                rel["__delseq"] > df["__seq"]
                if strict
                else rel["__delseq"] >= df["__seq"]
            )
            if cols is None:
                cond = (
                    (df["__file"] == rel["__tfile"])
                    & (df["__pos"] == rel["__tpos"])
                    & cond
                )
            for c in cols or ():
                cond = cond & df[c].eqNullSafe(rel[f"__eq_{c}"])
            df = df.join(
                maybe_broadcast(rel, [d.record_count for d in members]),
                cond,
                "left_anti",
            )
    return df.select(*out_cols)


# --- file skipping ------------------------------------------------------------


def _comparable(a, b) -> bool:
    """True when two stat bounds order meaningfully against each other:
    both numeric (bool excluded — it IS an int in Python) or both str."""
    if isinstance(a, bool) or isinstance(b, bool):
        return False
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return True
    return isinstance(a, str) and isinstance(b, str)


def prune_by_range(items: list, lo: dict, hi: dict, bounds_of) -> list:
    """Min/max file skipping: keep the items whose value range can
    intersect ``[lo[c], hi[c]]`` on EVERY column ``c`` (a point lookup
    passes lo == hi).  ``bounds_of(item)`` → ``(mins, maxs, all_null)``
    (column-keyed dicts and the set of columns holding only nulls), or
    None when the item has no usable stats.  Conservative by
    construction: missing or incomparable bounds keep the item; an
    all-null column never equi-matches, so such items prune."""
    kept = []
    for it in items:
        bounds = bounds_of(it)
        if bounds is not None:
            mins, maxs, all_null = bounds
            if any(c in all_null for c in lo):
                continue
            disjoint = False
            for c in lo:
                fl, fh, sl, sh = mins.get(c), maxs.get(c), lo[c], hi.get(c)
                if None in (fl, fh, sl, sh):
                    continue
                if _comparable(fl, sl) and _comparable(fh, sh) and (
                    fh < sl or fl > sh
                ):
                    disjoint = True
                    break
            if disjoint:
                continue
        kept.append(it)
    return kept


def typed_where(schema: T.StructType, where: dict, err: type) -> dict:
    """``where`` string values → the stat-comparable python value of each
    column (integers → int, float/double → float, string as-is); columns
    of other types stay out of the prune (the row filter still applies
    them)."""
    import struct

    typed: dict = {}
    for k, v in where.items():
        dt = schema[k].dataType.simpleString()
        try:
            if dt in ("tinyint", "smallint", "int", "bigint"):
                typed[k] = int(v)
            elif dt == "float":
                # stats are exact float32 values: round the probe the same
                # way, or 0.1 misses its 0.10000000149 stat and prunes the
                # only matching file
                typed[k] = struct.unpack("<f", struct.pack("<f", float(v)))[0]
            elif dt == "double":
                typed[k] = float(v)
            elif dt == "string":
                typed[k] = v
        except (TypeError, ValueError) as exc:
            raise err(f"where value {v!r} does not parse as {dt}") from exc
    return typed


# --- MERGE front end ------------------------------------------------------------


def merge_clauses(when_matched, when_not_matched, set_cols, on, err: type):
    """Validate a MERGE's WHEN clauses → ``(matched action, guard SQL or
    None)``; ``when_matched`` may be ``('update'|'delete', '<sql>')``."""
    cond = None
    if isinstance(when_matched, tuple):
        if len(when_matched) != 2 or not isinstance(when_matched[1], str):
            raise err("conditional when_matched is ('update'|'delete', '<sql>')")
        when_matched, cond = when_matched
    if when_matched not in ("update", "delete", None):
        raise err(f"when_matched must be update|delete|None, got {when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise err(
            f"when_not_matched must be insert|None, got {when_not_matched!r}"
        )
    if set_cols is not None:
        if when_matched != "update":
            raise err("set_cols requires when_matched='update'")
        if when_not_matched == "insert":
            raise err(
                "set_cols cannot insert (a partial row is not a table row); "
                "pass when_not_matched=None"
            )
    if when_matched is None and when_not_matched is None:
        raise err("MERGE with no WHEN clause is a no-op by construction")
    if not on:
        raise err("MERGE needs at least one key column")
    return when_matched, cond


def fingerprint(schema: T.StructType) -> list[tuple[str, str]]:
    """A schema's (name, type) list — what an append or a MERGE source
    must match."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def merge_source(
    source_df: DataFrame,
    schema: T.StructType,
    on: list[str],
    when_matched,
    when_not_matched,
    set_cols,
    err: type,
    mismatch: type,
) -> tuple[DataFrame, dict, dict]:
    """The MERGE source, checked and pinned → ``(src, lo, hi)``.  With
    ``set_cols`` the source needs only ``on + set_cols`` (cast to the
    table's types); a delete-only merge needs only the keys; otherwise
    its schema must equal the table's.  ONE aggregation job answers both
    per-merge questions: key uniqueness (two source rows matching one
    target row are ambiguous by the SQL rule) and the keys' min/max that
    feeds file skipping."""
    missing = [c for c in on if c not in schema.names]
    if missing:
        raise err(f"merge keys {missing} not in table schema")
    by_type = {f.name: f.dataType for f in schema.fields}
    if set_cols is not None:
        bad = [c for c in set_cols if c not in schema.names or c in on]
        if bad:
            raise err(f"set_cols {bad} not non-key table columns")
        need = [*on, *set_cols]
        missing_src = [c for c in need if c not in source_df.columns]
        if missing_src:
            raise err(f"source lacks columns {missing_src}")
        src = source_df.select(*[F.col(c).cast(by_type[c]).alias(c) for c in need])
    elif when_matched == "delete" and when_not_matched is None:
        missing_src = [c for c in on if c not in source_df.columns]
        if missing_src:
            raise err(f"source lacks merge keys {missing_src}")
        src = source_df.select(*on)
    else:
        if fingerprint(source_df.schema) != fingerprint(schema):
            raise mismatch(
                f"source schema {fingerprint(source_df.schema)} != "
                f"table's {fingerprint(schema)}"
            )
        src = source_df
    # the source feeds several jobs (this check, the file scan, the
    # rewrite join, the insert anti join) — pin it once
    src = src.localCheckpoint()
    stats = (
        src.groupBy(*on)
        .count()
        .agg(
            F.max("count").alias("__dup"),
            *[F.min(c).alias(f"__lo_{c}") for c in on],
            *[F.max(c).alias(f"__hi_{c}") for c in on],
        )
        .collect()[0]
    )
    if (stats["__dup"] or 0) > 1:
        raise err(
            "MERGE source has duplicate key rows (ambiguous by the SQL rule); "
            "reduce to one row per key first"
        )
    return (
        src,
        {c: stats[f"__lo_{c}"] for c in on},
        {c: stats[f"__hi_{c}"] for c in on},
    )


def with_guard(
    df: DataFrame, names: list[str], on: list[str], val_cols: list[str], cond: str
) -> DataFrame:
    """``df`` (target columns plus ``__src_<col>`` source values) with a
    boolean ``__guard`` column: the ``WHEN MATCHED AND <cond>`` guard
    evaluated over the ``t`` (target row) and ``s`` (source row) aliases.
    The aliases are rewritten at word boundaries, so ``sort.x`` or
    column names ending in ``t``/``s`` never match."""
    sql = re.sub(r"\bs\.", "__s.", re.sub(r"\bt\.", "__t.", cond))
    return (
        df.withColumn("__t", F.struct(*[F.col(c).alias(c) for c in names]))
        .withColumn(
            "__s",
            F.struct(
                *[F.col(c).alias(c) for c in on],
                *[F.col(f"__src_{c}").alias(c) for c in val_cols],
            ),
        )
        .withColumn("__guard", F.expr(sql))
        .drop("__t", "__s")
    )


# --- writers --------------------------------------------------------------------


class Staged(NamedTuple):
    """One staged parquet file moved under the table root: its path in
    the staging tree (Hive partition dirs included), its new path under
    the root, the full destination, size and mtime in ms."""

    rel: str
    new_rel: str
    dst: str
    size: int
    mtime_ms: int


def hive_values(rel: str, cols: list[str], err: type) -> dict[str, str | None]:
    """A staged file's ``col=value`` directory segments for ``cols``
    (percent-decoded; the Hive null sentinel becomes None); ``err`` when
    one is missing."""
    values: dict[str, str | None] = {}
    for seg in rel.split("/")[:-1]:
        k, eq, v = seg.partition("=")
        if eq and k in cols and k not in values:
            values[k] = None if v == NULL_PARTITION else urllib.parse.unquote(v)
    missing = [c for c in cols if c not in values]
    if missing:
        raise err(f"staged file {rel!r} lacks partition dirs for {missing}")
    return values


def footer_stats(fs: FileSystem, path: str):
    """A parquet file's top-level column statistics off its FOOTER
    (driver-side, metadata-sized I/O) → ``(row count, mins, maxs, null
    counts)``, or None when the footer cannot be read (stats are
    best-effort: absent stats mean "keep the file").  Only int, float,
    str and bool bounds are kept.  Parquet may truncate a string stat to
    a prefix: the min stays a valid lower bound, the max is published in
    incremented-prefix form (:mod:`statbounds`), or dropped when no such
    bound exists."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        sp = fs.spark_path(path)
        md = (
            pq.read_metadata(sp)
            if "://" not in sp
            else pq.read_metadata(pa.BufferReader(fs.read_bytes(path)))
        )
    except Exception:  # noqa: BLE001 — stats are best-effort, never fatal
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    poisoned: set = set()  # no finite upper bound derivable
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if "." in name or st is None:
                continue  # nested leaves: top-level stats only
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if not isinstance(lo, (int, float, str)):
                continue  # bool is an int; undecoded binary is skipped
            if isinstance(lo, str):
                lo, hi = stat_string_bounds(st, lo, hi)
                if hi is None:
                    poisoned.add(name)
            mins[name] = lo if name not in mins else min(mins[name], lo)
            if hi is not None:
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    for name in poisoned:
        maxs.pop(name, None)
    return md.num_rows, mins, maxs, nulls


def staged_dir(rel: str) -> str:
    """The Hive partition directories of a staged relative path (with a
    trailing slash; empty for an unpartitioned file)."""
    return rel.rsplit("/", 1)[0] + "/" if "/" in rel else ""


def ingest_staged(
    fs: FileSystem, staging: str, root: str, name: Callable[[str, int], str]
) -> list[Staged]:
    """Move every parquet file a staged Spark write left under
    ``staging`` to ``root``/``name(rel, ordinal)`` (rename where the
    store supports it, else copy), stat it, and delete the staging tree.
    Writer-unique names keep table paths collision-free across writers
    and retries."""
    out: list[Staged] = []
    for rel, size in fs.walk_files(staging):
        base = rel.rsplit("/", 1)[-1]
        if base.startswith(("_", ".")) or not base.endswith(".parquet"):
            continue
        new_rel = name(rel, len(out))
        src, dst = fs.join(staging, rel), fs.join(root, new_rel)
        if fs.supports_rename():
            fs.makedirs(posixpath.dirname(dst))
            fs.rename(src, dst)
        else:
            fs.put_bytes(dst, fs.read_bytes(src))
        stat = fs.stat(dst)
        out.append(
            Staged(
                rel,
                new_rel,
                dst,
                stat[0] if stat else size,
                stat[1] // 1_000_000 if stat else 0,
            )
        )
    fs.delete_tree(staging)
    return out


def dv_payloads(matched: DataFrame) -> dict[str, bytes]:
    """Matched rows (``__file``/``__pos`` working columns) → per-file
    roaring payloads encoded ON EXECUTORS (compressed bytes reach the
    driver, never exploded positions)."""

    def _enc(key, pdf):
        import pandas as pd

        from gofeed_spark.sources.roaring import dv_payload

        return pd.DataFrame(
            {
                "__file": [key[0]],
                "__dv": [bytearray(dv_payload(pdf["__pos"].tolist()))],
            }
        )

    return {
        r["__file"]: bytes(r["__dv"])
        for r in matched.select("__file", "__pos")
        .groupBy("__file")
        .applyInPandas(_enc, "__file string, __dv binary")
        .collect()
    }


def net_changes(
    ch: DataFrame, on: list[str], order_col: str, demoted: str, meta_cols: tuple
) -> tuple[DataFrame, DataFrame, int, int]:
    """A change feed's NET effect per key → ``(upserts, delete keys,
    n_upserts, n_deletes)``: the row with the highest ``order_col`` wins,
    and within one commit a ``demoted`` change type ranks below the
    others (an update's preimage, or a merge's delete of the old
    version).  ``meta_cols`` are the feed's non-data columns."""
    from pyspark.sql.window import Window

    rank = F.when(F.col("_change_type") == demoted, F.lit(0)).otherwise(F.lit(1))
    w = Window.partitionBy(*on).orderBy(F.col(order_col).desc(), rank.desc())
    latest = (
        ch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint()  # feeds two merges
    )
    data_cols = [c for c in latest.columns if c not in meta_cols]
    ups = latest.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*data_cols)
    dels = latest.filter(F.col("_change_type") == "delete").select(*on)
    return ups, dels, ups.count(), dels.count()


# --- compaction -------------------------------------------------------------------


class Group(NamedTuple):
    """One compaction group: its partition key, member files and the
    number of packed files it rewrites into."""

    key: tuple
    members: list
    n_out: int


def compaction_groups(
    items: list,
    key_of,
    size_of,
    target_file_bytes: int,
    min_files: int,
    cluster: bool = False,
    force=None,
) -> list[Group]:
    """Bin-packing eligibility, groups in key order: a partition group
    rewrites when it has at least ``min_files`` members and packs into
    fewer files (``ceil(bytes / target_file_bytes)``).  ``cluster`` (a
    re-clustering rewrite) rewrites every group into that many files; a
    group ``force`` (a predicate over its members) returns true for
    rewrites regardless, into at most one file per member."""
    groups: dict[tuple, list] = {}
    for it in items:
        groups.setdefault(key_of(it), []).append(it)
    out = []
    for key in sorted(groups, key=lambda k: tuple(str(v) for v in k)):
        members = groups[key]
        forced = cluster or (force is not None and force(members))
        if len(members) < min_files and not forced:
            continue
        n_out = max(1, -(-sum(size_of(m) for m in members) // target_file_bytes))
        if n_out >= len(members) and not forced:
            continue
        out.append(Group(key, members, n_out if cluster else min(n_out, len(members))))
    return out


def compact(
    fs: FileSystem,
    root: str,
    groups: list[Group],
    frame,
    name,
    staging: str,
    cluster_by: list[str] | None = None,
) -> list[tuple[Group, Staged]]:
    """Rewrite compaction groups and move the packed files under
    ``root`` → ``(group, staged file)`` per packed file.
    ``frame(members, gids)`` returns the members' LIVE rows (deletes
    applied) as they are written, with a ``__gid`` column when ``gids``
    (a group id per member) is given; ``name(group, ordinal)`` names a
    packed file.

    Every single-output group packs in ONE Spark job: rows route to
    their group's file by ``repartition(__gid)`` + ``partitionBy(__gid)``
    (one file per group per task, and a group never splits across
    tasks) — a per-group job loop runs one tiny sequential job per
    partition.  Groups needing several files, and ``cluster_by``
    re-clustering (range or Z-order layout, see :mod:`cluster`), keep one
    job per group."""
    fused = [g for g in groups if g.n_out == 1 and not cluster_by]
    if len(fused) < 2:
        fused = []  # one group gains nothing from the routing
    jobs = []  # (staging dir, staged rel → its group)
    if fused:
        df = frame(
            [m for g in fused for m in g.members],
            [i for i, g in enumerate(fused) for _m in g.members],
        )
        d = f"{staging}_fused"
        (
            df.repartition(len(fused), F.col("__gid"))
            .write.mode("overwrite")
            .partitionBy("__gid")
            .parquet(fs.spark_path(d))
        )
        jobs.append(
            (d, lambda rel: fused[int(rel.split("__gid=")[1].split("/", 1)[0])])
        )
    for i, g in enumerate(x for x in groups if not (fused and x.n_out == 1)):
        df = frame(g.members, None)
        df = (
            cluster_layout(df, cluster_by, g.n_out)
            if cluster_by
            else df.coalesce(g.n_out)
        )
        d = f"{staging}_{i}"
        df.write.mode("overwrite").parquet(fs.spark_path(d))
        jobs.append((d, lambda rel, g=g: g))
    out: list[tuple[Group, Staged]] = []
    for d, group_of in jobs:
        base = len(out)
        for st in ingest_staged(
            fs, d, root, lambda rel, i: name(group_of(rel), base + i)
        ):
            out.append((group_of(st.rel), st))
    return out
