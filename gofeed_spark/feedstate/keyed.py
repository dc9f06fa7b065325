"""Keyed, hash-bucketed tables over one TxLog — the reference's keyed
optimistic save (repo.go:125-138) as one layout, shared by FeedRunner's
state tables, ``ParquetUpsertSink`` and the streaming frontier scheduler.

A table's rows hash on its key into ``n`` buckets
(``b`` + zero-padded ``pmod(xxhash64(key), n)``; the prefix keeps the
value non-numeric, so it never re-infers as a number).  Each bucket is a
manifest entry naming a leaf dir of a staging write::

    {table}@m{n}bNNNN          -> {table}__v00000007_ab12cd34/pbkt=bNNNN
    {table}@m{n}bNNNN~00000009 -> {table}__v00000009_cd34ef56/pbkt=bNNNN

The key stamps the modulus (committed with the data, so a restart or a
concurrent writer can never mix two moduli over one table).  A commit
writes only the buckets it touches; every other entry rides into the
next manifest by name, zero bytes rewritten.  Keys with a ``~`` suffix
are merge-on-read deltas (``append``): a bucket is then a list of
relations that ``read`` reduces last-writer-wins, ordered by the
manifest version in each relation's dir name.  A table that has ever
held a delta stays merge-on-read.

Exactly-once effect is Structured Streaming's idempotent sink: a
writer's batch id rides the same atomic commit as the rows it produced,
in the manifest's ``txn`` map under the writer's streaming query id, and
a re-delivered id is skipped.  Writers on different queries (a fresh
checkpoint, a second stream) never see each other's ids.
"""

from __future__ import annotations

import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofeed_spark.feedstate.txlog import CommitConflict, TxLog, head, table_snapshots

# bucket partition column of the staging write; NOT underscore-prefixed
# (Spark treats _-prefixed paths as hidden) and reserved in sink data
BUCKET_COL = "pbkt"
# staging writes at or below this many rows skip the repartition shuffle
# (see Commit.stage)
SMALL_DELTA_ROWS = 8192
# merge-on-read: a bucket whose list grows past this many relations is
# folded back to one inside the commit that grew it
COMPACT_THRESHOLD = 8
# optimistic commit attempts before a writer gives up
COMMIT_ATTEMPTS = 8
# txn key of a call made outside any streaming query
DIRECT_TXN_KEY = "direct"
# working columns a keyed table's data may not use
_RESERVED = (BUCKET_COL, "__changed", "__seq", "__w")


def bucket_expr(key: str, n: int):
    """The bucket of ``key`` under modulus ``n`` (key cast to string, so
    the layout is stable across key types)."""
    return F.concat(
        F.lit("b"),
        F.lpad(F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n)).cast("string"), 4, "0"),
    )


def stream_id(df: DataFrame) -> str | None:
    """The persistent id of the streaming query whose ``foreachBatch``
    thread is running (None outside one): the same across restarts on
    one checkpoint, new for a fresh checkpoint."""
    return df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")


def grown(n: int, nbytes: int, target: int, cap: int) -> int:
    """Size-tiered growth: the power-of-two multiple of ``n`` whose mean
    bucket size is back under ``target`` (at most ``cap``), so per-batch
    write volume stays ~O(touched rows x target) as a table grows."""
    m = n
    while nbytes / m > target and m < cap:
        m *= 2
    return n if m == n else min(m, cap)


class Plan(NamedTuple):
    """Rows of the touched buckets (bucket column attached), their count
    and the bucket names."""

    df: DataFrame
    rows: int
    buckets: list[str]


class Commit:
    """One manifest commit assembled over the snapshot it read.  Table
    operations stage bucket dirs and edit ``tables``; an entry nobody
    edits rides into the new manifest by name.  ``publish`` commits it
    with the writer's ``txn`` entry."""

    def __init__(self, log: TxLog, version: int, tables: dict):
        self.log = log
        self.version = version
        self.tables = dict(tables)
        self.stagings: list[str] = []

    def stage(self, table: "KeyedTable", df: DataFrame, n: int, rows: int | None = None):
        """The one staging write: one partitionBy job, one file per
        bucket, into a fresh dir named with the version this commit aims
        for.  ``repartition`` on the bucket puts each bucket's rows in one
        task (partitionBy alone writes files-per-task-per-bucket, footer
        overhead then dominating small deltas); a known-small delta
        (``rows`` <= ``SMALL_DELTA_ROWS``) skips that shuffle, since
        ``coalesce(1)`` writes the same layout from one task.  Returns
        ({bucket: leaf dir}, bytes staged)."""
        rel = f"{table.name}__v{self.version + 1:08d}_{uuid.uuid4().hex[:8]}"
        self.stagings.append(rel)
        if BUCKET_COL not in df.columns:
            df = df.withColumn(BUCKET_COL, bucket_expr(table.key, n))
        if rows is not None and rows <= SMALL_DELTA_ROWS:
            df = df.coalesce(1)
        else:
            df = df.repartition(F.col(BUCKET_COL))
        df.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(self.log.spark_path(rel))
        fs = self.log.fs
        full = fs.join(self.log.base, rel)
        entries = {
            name[len(BUCKET_COL) + 1 :]: f"{rel}/{name}"
            for name in fs.listdir(full)
            if name.startswith(BUCKET_COL + "=")
        }
        return entries, fs.tree_stats(full)[1]

    def publish(self, txn: dict[str, int] | None) -> bool:
        """Commit; False when a concurrent writer won (its staging dirs
        are removed, and the caller re-reads and rebuilds)."""
        try:
            self.log.commit(self.tables, expected_version=self.version, txn=txn)
        except CommitConflict:
            for rel in self.stagings:
                self.log.fs.delete_tree(self.log.fs.join(self.log.base, rel))
            return False
        return True


def run_batch(log: TxLog, batch_df: DataFrame, batch_id: int, build):
    """One foreachBatch commit with optimistic retry: read the head
    manifest, skip a ``batch_id`` the writer's ``txn`` entry already
    holds (a re-delivery), ``build(commit)`` the changes and publish them
    with the id.  Returns what the landed attempt's ``build`` returned,
    None for a skipped batch."""
    key = stream_id(batch_df) or DIRECT_TXN_KEY
    for _ in range(COMMIT_ATTEMPTS):
        version, m = head(log.base)
        if batch_id <= m.get("txn", {}).get(key, -1):
            return None
        c = Commit(log, version, m["tables"])
        out = build(c)
        if c.publish({key: batch_id}):
            return out
    raise CommitConflict(f"batch {batch_id}: commit lost {COMMIT_ATTEMPTS} times")


class KeyedTable:
    """Table ``name`` of ``log``, keyed on column ``key`` (see the module
    docstring for the layout)."""

    def __init__(self, log: TxLog, name: str, key: str):
        self.log = log
        self.name = name
        self.key = key
        self._rel_bytes: dict[str, int] = {}

    # -- layout ----------------------------------------------------------
    def modulus(self, tables: dict) -> int | None:
        """The modulus stamped in the table's keys; None when the layout
        cannot tell (no state yet, a plain entry, pre-stamp ``@b`` keys),
        and the next write then lays the table out whole."""
        if self.name in tables:
            return None
        prefix = self.name + "@m"
        for k in tables:
            if k.startswith(prefix):
                return int(k[len(prefix) :].split("b", 1)[0])
        return None

    def lists(self, tables: dict) -> dict[str, list[str]]:
        """{bucket: [relation, ...]} over the stamped keys."""
        prefix = self.name + "@m"
        out: dict[str, list[str]] = {}
        for k in sorted(tables):
            if k.startswith(prefix):
                bucket = "b" + k[len(prefix) :].split("b", 1)[1].split("~")[0]
                out.setdefault(bucket, []).append(tables[k])
        return out

    def is_lsm(self, tables: dict) -> bool:
        return any("~" in k for k in table_snapshots(tables, self.name))

    def nbytes(self, tables: dict) -> int:
        """On-disk bytes across the table's relations.  Relations are
        immutable, so sizes cache (pruned to the live set each call)."""
        fresh = {
            rel: self._rel_bytes.get(rel)
            or self.log.fs.tree_stats(self.log.fs.join(self.log.base, rel))[1]
            for rel in table_snapshots(tables, self.name).values()
        }
        self._rel_bytes = fresh
        return sum(fresh.values())

    # -- read ------------------------------------------------------------
    def read(self, spark, tables: dict, buckets=None) -> DataFrame | None:
        """The table in manifest ``tables`` (only ``buckets``, when
        given); None when it has no relation.  A plain scan, or the
        last-writer-wins reduce while some bucket holds several."""
        lists = self.lists(tables)
        if buckets is None:
            rels = list(table_snapshots(tables, self.name).values())
        else:
            lists = {b: lists[b] for b in buckets if b in lists}
            rels = [r for lst in lists.values() for r in lst]
        if not rels:
            return None
        df = spark.read.parquet(*[self.log.spark_path(r) for r in sorted(rels)])
        if all(len(lst) == 1 for lst in lists.values()):
            return df
        return self._lww(df)

    def _lww(self, df: DataFrame) -> DataFrame:
        """Merge-on-read reduce: per key, the row of the newest relation —
        the manifest version in its staging dir's name, parsed from the
        scan's file path (no schema pollution).  Versions are unique
        within a bucket's list, so the max is tie-free."""
        seq = F.regexp_extract(
            F.input_file_name(), rf"__v(\d+)_[0-9a-f]+/{BUCKET_COL}=", 1
        ).cast("long")
        others = [c for c in df.columns if c != self.key]
        return (
            df.withColumn("__seq", seq)
            .groupBy(self.key)
            .agg(F.max_by(F.struct(*others), F.col("__seq")).alias("__w"))
            .select(self.key, *[F.col(f"__w.{c}").alias(c) for c in others])
            .select(*df.columns)
        )

    # -- write -----------------------------------------------------------
    def plan(self, df: DataFrame, n: int, unique: bool = False) -> Plan | None:
        """The touched-bucket plan: ONE collect over ``df`` yields the
        buckets holding a changed row (``__changed``; every row when the
        column is absent) and their row counts — a touched bucket is
        rewritten whole, an untouched one not at all.  None when no row
        changed.  ``unique`` also asserts one row per key, in the same
        job."""
        df = df.withColumn(BUCKET_COL, bucket_expr(self.key, n))
        changed = F.col("__changed") if "__changed" in df.columns else F.lit(True)
        aggs = [F.count("*").alias("c"), F.max(changed.cast("int")).alias("t")]
        if unique:
            aggs.append(F.count_distinct(F.col(self.key)).alias("k"))
        stats = [r for r in df.groupBy(BUCKET_COL).agg(*aggs).collect() if r.t == 1]
        if unique and any(r.c != r.k for r in stats):
            raise ValueError(
                f"{self.name}: several rows share one {self.key!r}; a keyed "
                "write takes one row per key (ParquetUpsertSink: pass seq_col= "
                "to pick the last writer — an arbitrary winner would be "
                "nondeterministic)"
            )
        if not stats:
            return None
        buckets = [r[BUCKET_COL] for r in stats]
        return Plan(
            df.filter(F.col(BUCKET_COL).isin(buckets)).drop("__changed"),
            sum(r.c for r in stats),
            buckets,
        )

    def write(self, c: Commit, df: DataFrame, n: int, rows: int | None = None, whole: bool = False):
        """Merge-on-write: stage ``df``'s buckets and point them at the
        staged dirs.  ``whole`` lays the table out anew (a new modulus or
        a legacy layout): every old entry of the table goes.  Returns
        (bytes, buckets) written."""
        entries, nbytes = c.stage(self, df, n, rows)
        if whole:
            for k in table_snapshots(c.tables, self.name):
                del c.tables[k]
        for b, rel in entries.items():
            c.tables[f"{self.name}@m{n}{b}"] = rel
        return nbytes, len(entries)

    def append(self, c: Commit, plan: Plan, n: int):
        """Merge-on-read: append the plan's rows as one delta relation per
        touched bucket (no read of current state — write I/O is O(batch)
        whatever the key spread), then fold every bucket whose list
        exceeds ``COMPACT_THRESHOLD`` into one relation, in one job,
        inside the same commit.  Returns (delta bytes, buckets, compaction
        bytes or None)."""
        entries, nbytes = c.stage(self, plan.df, n, plan.rows)
        tag = f"~{c.version + 1:08d}"
        for b, rel in entries.items():
            c.tables[f"{self.name}@m{n}{b}{tag}"] = rel
        lists = self.lists(c.tables)
        over = sorted(b for b, lst in lists.items() if len(lst) > COMPACT_THRESHOLD)
        if not over:
            return nbytes, len(entries), None
        folded = self.read(plan.df.sparkSession, c.tables, over)
        compacted, cbytes = c.stage(self, folded, n)
        for b in over:
            for k in [k for k in c.tables if k.startswith(f"{self.name}@m{n}{b}")]:
                del c.tables[k]
            c.tables[f"{self.name}@m{n}{b}{tag}"] = compacted[b]
        return nbytes, len(entries), cbytes

    def upsert(self, c: Commit, batch: DataFrame, n_buckets: int, mode: str = "merge"):
        """Keyed last-writer-wins upsert of ``batch`` (one row per key):
        ``merge`` reads the touched buckets, replaces the batch's keys and
        rewrites those buckets whole; ``lsm`` appends (see ``append``).
        An existing table keeps its stamped modulus over ``n_buckets``.
        Returns (bytes, buckets, compaction bytes or None)."""
        for col in _RESERVED:
            if col in batch.columns:
                raise ValueError(
                    f"column name {col!r} is reserved by the keyed table "
                    "(bucket partition key / working columns); rename it"
                )
        if mode == "merge" and self.is_lsm(c.tables):
            raise ValueError(
                f"{self.log.base} is an LSM table; open it with mode='lsm' "
                "(a merge-mode commit over bucket lists would lose state)"
            )
        n = self.modulus(c.tables) or n_buckets
        # persisted: the batch feeds the plan's collect and the write
        batch = batch.persist()
        try:
            plan = self.plan(batch, n, unique=True)
            if plan is None:
                return 0, 0, None
            if mode == "lsm":
                return self.append(c, plan, n)
            cur = self.read(batch.sparkSession, c.tables, plan.buckets)
            merged = (
                batch
                if cur is None
                else cur.join(batch.select(self.key), self.key, "left_anti").unionByName(batch)
            )
            return (*self.write(c, merged, n), None)
        finally:
            batch.unpersist()
