"""Streaming source over a PUBLIC Delta or Iceberg table — the "stream
FROM a table" half of the interop story (q159/q162 land streams INTO the
formats; q163/q164 consume a table some other engine keeps appending to
AS a stream).

One format-free ``DataSourceStreamReader`` serves both formats.  Each
format supplies only what its log or manifests say, next to the code
that reads them (``delta.DeltaFeedLog``, ``iceberg.IcebergFeedLog``):
the schema, the restored partition columns and physical names, the head
offset, per-offset (files, bytes), and the files a window ``(lo, hi]``
appended — by the same append-window rule its batch change read uses.

Offsets are Delta table VERSIONS (``{"version": v}``) or Iceberg
snapshot SEQUENCE NUMBERS (``{"seq": s}``); each micro-batch delivers
exactly the rows its window appended, labeled ``_commit_version`` or
``_snapshot_id``.  A window that removes or overwrites data fails the
batch loudly.  Logs are immutable and windows deterministic, so
checkpoint recovery replays identical batches (exactly-once with an
idempotent sink).

Scale posture: ``partitions()`` enumerates the window's files from
metadata alone (driver cost O(new files)) and byte-packs them into
multi-file InputPartitions (task count tracks DATA volume, not file
count — small per-micro-batch commit files are the landing-table norm);
``read()`` scans its files ON AN EXECUTOR via Arrow, one RecordBatch per
file, restoring partition values and the label from the partition
descriptor.  The optional ``columns`` option prunes the scan so only the
projection crosses the Python boundary; the driver never materializes
rows.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from gofeed_spark.sources.delta import DeltaFeedLog
from gofeed_spark.sources.iceberg import IcebergFeedLog

_CAPS = ("max_files_per_trigger", "max_bytes_per_trigger", "max_versions_per_trigger")


def _arrow_type(t: str):
    """The Arrow type of a restorable partition column type, else None."""
    import pyarrow as pa

    return {
        "tinyint": pa.int8(), "smallint": pa.int16(), "int": pa.int32(),
        "bigint": pa.int64(), "float": pa.float32(), "double": pa.float64(),
        "boolean": pa.bool_(), "string": pa.string(),
    }.get(t)


def _typed(raw, t: str):
    """A partition value as its column type: Delta's log carries strings,
    Iceberg's manifests values that already arrive typed."""
    if not isinstance(raw, str) or t == "string":
        return raw
    if t == "boolean":
        return raw == "true"
    return float(raw) if t in ("float", "double") else int(raw)


class TableFilePartition(InputPartition):
    """One task = SEVERAL byte-packed files: ``files`` is
    [(spark path, {partition column: raw value}, label, size)]."""

    def __init__(self, files: list):
        self.files = files


def _select_columns(options, schema_names: list[str]) -> list[str] | None:
    """Parse the ``columns`` option (comma-separated LOGICAL names) —
    column pruning across the Python-source boundary: only the projected
    columns are read from parquet and shipped as Arrow."""
    raw = (options.get("columns") or "").strip()
    if not raw:
        return None
    sel = [c.strip() for c in raw.split(",") if c.strip()]
    unknown = [c for c in sel if c not in schema_names]
    if unknown:
        raise ValueError(f"columns {unknown} not in table schema {schema_names}")
    return [c for c in schema_names if c in sel]  # declared order


def _parse_caps(options) -> tuple[int | None, int | None, int | None]:
    """Admission-control options (all optional, all per TRIGGER):
    ``max_files_per_trigger`` / ``max_bytes_per_trigger`` /
    ``max_versions_per_trigger``."""
    caps = tuple(
        None if options.get(k) in (None, "") else int(options.get(k))
        for k in _CAPS
    )
    if any(c is not None and c <= 0 for c in caps):
        raise ValueError("admission caps must be positive")
    return caps


def _cap_advance(floor, head, stats, max_files, max_bytes, max_versions):
    """Bound how far latestOffset advances past ``floor``: admit WHOLE
    offsets (a commit or snapshot cannot be split) until a cap fills;
    always admit at least one so the stream keeps progressing even when
    a single commit alone exceeds a cap.  ``stats(o) -> (files, bytes)``
    is only consulted when a file/byte cap is set."""
    if floor is None or floor >= head:
        return head
    if max_versions is not None:
        head = min(head, floor + max_versions)
    if max_files is None and max_bytes is None:
        return head
    tf = tb = 0
    v = floor
    while v < head:
        nf, nb = stats(v + 1)
        if v > floor and (
            (max_files is not None and tf + nf > max_files)
            or (max_bytes is not None and tb + nb > max_bytes)
        ):
            break
        tf, tb, v = tf + nf, tb + nb, v + 1
        if (max_files is not None and tf >= max_files) or (
            max_bytes is not None and tb >= max_bytes
        ):
            break
    return v


def _pack_partitions(files: list, partition_bytes: int) -> list[TableFilePartition]:
    """Greedy byte-packing of (path, pvals, label, size) tuples into
    InputPartitions — task count tracks DATA volume, not file count."""
    parts = []
    cur: list = []
    cur_bytes = 0
    for f in files:
        if cur and cur_bytes + (f[3] or 0) > partition_bytes:
            parts.append(TableFilePartition(cur))
            cur, cur_bytes = [], 0
        cur.append(f)
        cur_bytes += f[3] or 0
    if cur:
        parts.append(TableFilePartition(cur))
    return parts


class TableStreamReader(DataSourceStreamReader):
    """Admission control: the Python streaming protocol has no
    ``SupportsAdmissionControl`` hook (``latestOffset()`` takes no start),
    so the reader tracks its own position floor — seeded at construction
    and advanced by every ``initialOffset``/``partitions``/``commit``
    call.  With caps set, ``latestOffset`` advances at most
    ``max_{files,bytes,versions}_per_trigger`` past the floor, so a
    stream started against a table with history drains the backlog over
    MANY micro-batches instead of one giant catch-up batch (the
    reference bounds every poll with LIMIT — feed_cdc's poll_limit
    twin).  Restarts stay capped too: on recovery Spark re-delivers the
    committed offset through ``commit()`` (or re-plans the uncommitted
    window through ``partitions()``), so the floor is learned before the
    next ``latestOffset``."""

    def __init__(self, log, options):
        self.log = log
        self.key, self.label = log.offset_key, log.label
        self.starting = int(options.get(log.start_option, log.start_default))
        self.partition_bytes = int(options.get("partition_bytes", 32 << 20))
        self.caps = _parse_caps(options)
        # latestOffset is called BEFORE initialOffset on the first trigger
        # (MicroBatchExecution resolves start offsets inside runBatch), so
        # the floor is seeded here or a fresh query's first batch would
        # be uncapped — the exact backlog case the caps exist for
        self._floor = self.starting
        self._stats: dict[int, tuple[int, int]] = {}  # logs are immutable
        names = [f.name for f in log.schema.fields]
        self.cols = _select_columns(options, names) or names
        self.types = {f.name: f.dataType.simpleString() for f in log.schema.fields}
        self.pcols = [c for c in log.pcols if c in self.cols]
        for c in self.pcols:
            if _arrow_type(self.types[c]) is None:
                raise log.unsupported(
                    f"partition column {c!r} of type {self.types[c]!r} "
                    "in the stream"
                )
        self.data = [c for c in self.cols if c not in log.pcols]
        self.disk = [log.physical(c) for c in self.data]

    # -- offsets ------------------------------------------------------------
    def _learn(self, offset: int) -> None:
        self._floor = max(self._floor, offset)

    def initialOffset(self) -> dict:
        self._learn(self.starting)
        return {self.key: self.starting}

    def latestOffset(self) -> dict:
        head, stats = self.log.latest()

        def cached(o: int) -> tuple[int, int]:
            if o not in self._stats:
                self._stats[o] = stats(o)
            return self._stats[o]

        return {self.key: _cap_advance(self._floor, head, cached, *self.caps)}

    def partitions(self, start: dict, end: dict):
        hi = int(end[self.key])
        self._learn(hi)  # the engine will commit this window
        files = self.log.window(int(start[self.key]), hi)
        return _pack_partitions(files, self.partition_bytes)

    def commit(self, end: dict) -> None:
        self._learn(int(end[self.key]))

    # -- data plane (executor, byte-packed files per task, Arrow end to end) --
    def read(self, partition: TableFilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for sp, pvals, label, _size in partition.files:
            src = sp
            if "://" in sp:
                import io

                from gofeed_spark.fs import get_filesystem

                src = io.BytesIO(get_filesystem(sp).read_bytes(sp))
            table = pq.read_table(src, columns=self.disk)
            n = table.num_rows
            cols = {
                c: table.column(d).combine_chunks()
                for c, d in zip(self.data, self.disk)
            }
            for c in self.pcols:
                t = self.types[c]
                cols[c] = pa.array([_typed(pvals.get(c), t)] * n, type=_arrow_type(t))
            out = {c: cols[c] for c in self.cols}
            out[self.label] = pa.array([label] * n, type=pa.int64())
            # one Arrow block per file across the Python-source boundary
            yield pa.RecordBatch.from_pydict(out)


class _TableFeedSource(DataSource):
    log_cls: type  # DeltaFeedLog / IcebergFeedLog

    @classmethod
    def name(cls) -> str:
        return cls.log_cls.name

    def schema(self) -> str:
        r = self.streamReader(None)
        return ", ".join(
            [f"{c} {r.types[c]}" for c in r.cols] + [f"{r.label} long"]
        )

    def streamReader(self, schema):
        path = self.options.get("path")
        if not path:
            raise ValueError(f"{self.name()} requires option 'path'")
        return TableStreamReader(self.log_cls(path), self.options)


class DeltaFeedDataSource(_TableFeedSource):
    """``spark.readStream.format("delta_feed").option("path", ...)``."""

    log_cls = DeltaFeedLog


class IcebergFeedDataSource(_TableFeedSource):
    """``spark.readStream.format("iceberg_feed").option("path", ...)``."""

    log_cls = IcebergFeedLog


def _open(spark, source, path, start, columns, partition_bytes, caps):
    """Register ``source`` (idempotent) and open the stream."""
    try:
        spark.dataSource.register(source)
    except Exception as exc:
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
    r = (
        spark.readStream.format(source.name())
        .option("path", path)
        .option(source.log_cls.start_option, str(start))
        .option("partition_bytes", str(partition_bytes))
    )
    for k, v in zip(_CAPS, caps):
        if v is not None:
            r = r.option(k, str(v))
    if columns:
        r = r.option("columns", ",".join(columns))
    return r.load()


def read_delta_stream(
    spark,
    path: str,
    starting_version: int = -1,
    columns: list[str] | None = None,
    partition_bytes: int = 32 << 20,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
    max_versions_per_trigger: int | None = None,
):
    """Open the stream over a Delta table (offsets = versions after
    ``starting_version``).  ``columns`` prunes the scan to the named
    logical columns (the projection never crosses the Python boundary
    otherwise); ``partition_bytes`` packs small files into one task; the
    ``max_*_per_trigger`` caps bound each micro-batch's admission so a
    backlog drains over many batches (whole commits only — a single
    over-cap commit still admits alone).  NOTE: caps pace
    processingTime/continuous triggers; ``Trigger.AvailableNow`` on
    Python sources falls back to single-batch execution, which calls
    latestOffset once — pace such drains by re-running the query."""
    return _open(
        spark, DeltaFeedDataSource, path, starting_version, columns,
        partition_bytes,
        (max_files_per_trigger, max_bytes_per_trigger, max_versions_per_trigger),
    )


def read_iceberg_stream(
    spark,
    path: str,
    starting_seq: int = 0,
    columns: list[str] | None = None,
    partition_bytes: int = 32 << 20,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
    max_versions_per_trigger: int | None = None,
):
    """Open the stream over an Iceberg table (offsets = snapshot sequence
    numbers after ``starting_seq``) — the :func:`read_delta_stream`
    knobs, with caps admitting whole snapshots."""
    return _open(
        spark, IcebergFeedDataSource, path, starting_seq, columns,
        partition_bytes,
        (max_files_per_trigger, max_bytes_per_trigger, max_versions_per_trigger),
    )
