"""The complete change-feed engine as ONE streaming pipeline — the
composition every piece of this package builds toward, and the full Spark
twin of the reference's Watcher.Start loop (watcher.go:68-212):

    feed_cdc source (poll items table, offset = updated_at high-water mark)
      → micro-batch: one-pass gate decision + processor map + retry columns
        (feedstate.engine.feed_step — the N+1 elimination)
      → transactional upsert of BOTH state tables (items + partitions)
      → processed items re-enter the table with bumped updated_at, so the
        next trigger picks up continuation work (multi-gate items flow
        gate by gate exactly like the reference's re-poll loop)

A drain is ONE streaming query triggered back to back until a trigger
finds no new data.  Exactly-once effect: streaming checkpoint + the batch
id recorded in the same commit as the state it produced (the txlog
manifest's ``txn`` entry, dbapi's last-id row), so a re-delivered batch
is skipped; the OCC version column arbitrates any concurrent batch
writer.
"""

from __future__ import annotations

import collections
import contextlib
import os
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gofeed_spark.feedstate.engine import feed_step
from gofeed_spark.feedstate.keyed import (
    COMMIT_ATTEMPTS,
    DIRECT_TXN_KEY,
    Commit,
    KeyedTable,
    grown,
    stream_id,
)
from gofeed_spark.feedstate.processors import ProcessorFn
from gofeed_spark.feedstate.txlog import CommitConflict, TxLog, head, table_snapshots
from gofeed_spark.fs import get_filesystem
from gofeed_spark.sources.feed_cdc import register_feed_cdc

# Sizing.  Module constants rather than constructor arguments: no caller
# tunes them per runner; tests set them with monkeypatch.
#
# dbapi: active-work rows per read partition.  A pushed-down COUNT sizes
# each micro-batch's read; at or below one partition's worth the read is a
# single driver-side SELECT, above it the rows come in executor-side as
# ``updated_at`` range predicates (DbApiStore.read_items num_partitions),
# so large active state never funnels through the driver.
FANOUT_ROWS = 200_000
# Drain-time shuffle parallelism.  Feed state per micro-batch is modest;
# with AQE off during drains (see _drain_confs) a fixed small count
# replaces AQE's runtime coalescing and measures FASTER than AQE ever did
# at the 200k-item profile.
DRAIN_SHUFFLE_PARTITIONS = 8
# txlog: the items/partitions tables are keyed tables on ``id``
# (feedstate/keyed.py), so each commit rewrites ONLY buckets containing
# changed rows — write volume scales with work done, the snapshot-store
# twin of dbapi's per-row upserts.  A fresh or legacy (unbucketed) table is
# laid out under STATE_BUCKETS inside its first commit; a layout that
# records its modulus keeps it (see __init__).
STATE_BUCKETS = 16
# Size-tiered growth (keyed.grown): when the items table's mean bucket
# size exceeds the target, the next commit re-buckets the state to the
# next power-of-two count that brings it back under, up to
# MAX_STATE_BUCKETS (bucket names have 4 digits).
BUCKET_TARGET_BYTES = 16 * 1024 * 1024
MAX_STATE_BUCKETS = 4096

# AQE-off guard for streaming runs.  Streaming does not support AQE — every
# query start then DISABLES it on a conf clone (ResolveWriteToStream), and
# with TWO in-process runners that per-start mutation races the other
# runner's task serialization over a shared live map: the closure bytes
# truncate mid-write and every overlapping micro-batch dies with
# java.io.OptionalDataException (reproduced ~1-in-8 in the two-runner race
# test; 10/10 clean with AQE off).  Pre-disabling AQE for the DURATION of
# a drain removes the mutation (the resolver sees it already off and
# touches nothing).  Ref-counted so overlapping drains on one session
# restore the caller's setting only after the LAST one finishes; batch
# queries outside a drain keep AQE.
_AQE_LOCK = threading.Lock()
_AQE_DEPTH: dict[int, int] = {}
# session identity -> (the session itself, (saved aqe, saved shuffle parts)).
# Keyed by the SESSION OBJECT, not applicationId: spark.conf is per-session,
# and session CLONES (one runner per clone, the deployment shape
# feed_cdc.register_feed_cdc describes) all share one applicationId — an
# app-keyed guard would skip disabling AQE on the second clone and restore
# the first clone's confs onto whichever session exited last.  Holding the
# session in the value also keeps its id() from being reused while active.
_AQE_SAVED: dict[int, tuple[object, tuple[str, str]]] = {}


@contextlib.contextmanager
def _drain_confs(spark):
    """AQE off and ``DRAIN_SHUFFLE_PARTITIONS`` for the drain's lifetime.
    AQE off is correctness (the per-start disable race above); the fixed
    shuffle-partition count is the PERFORMANCE replacement for
    what AQE was buying — runtime coalescing of the 32-partition default
    on modest per-batch state (measured at the 200k-item profile: AQE-on
    8.5k/13.5k/8.0k items/s parquet/txlog/dbapi, AQE-off 7.3k/11.9k/4.7k,
    AQE-off + fixed 8: 9.9k/17.2k/7.8k — better than AQE ever was).
    Ref-counted per session object: the first drain's settings win for
    overlapping drains on that session, and that SAME session's confs are
    restored after its last drain exits."""
    key = id(spark)
    with _AQE_LOCK:
        if _AQE_DEPTH.get(key, 0) == 0:
            _AQE_SAVED[key] = (
                spark,
                (
                    spark.conf.get("spark.sql.adaptive.enabled", "true"),
                    spark.conf.get("spark.sql.shuffle.partitions"),
                ),
            )
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(DRAIN_SHUFFLE_PARTITIONS)
            )
        _AQE_DEPTH[key] = _AQE_DEPTH.get(key, 0) + 1
    try:
        yield
    finally:
        with _AQE_LOCK:
            _AQE_DEPTH[key] -= 1
            if _AQE_DEPTH[key] == 0:
                del _AQE_DEPTH[key]
                sess, (aqe, sp) = _AQE_SAVED.pop(key)
                sess.conf.set("spark.sql.adaptive.enabled", aqe)
                sess.conf.set("spark.sql.shuffle.partitions", sp)


@dataclass
class _Snapshot:
    """What one state commit read: items (with ``updated_at``) and
    partitions, the re-queue tick, the last batch id this runner
    committed, the dbapi pushed-down decision counts, and the txlog
    manifest (version + tables) the commit is based on."""

    items: DataFrame
    parts: DataFrame
    tick: int
    last_batch: int
    counts: DataFrame | None = None
    version: int | None = None
    tables: dict | None = None


@dataclass
class _Drain:
    """One ``run_available``'s budget, charged by ``_step`` on the stream
    thread: micro-batches plus restarts against ``max_rounds``, and
    ``beat`` — when the drain started or last committed a batch — for the
    timeout watchdog."""

    max_rounds: int
    rounds: int = 0
    beat: float = field(default_factory=time.monotonic)
    exhausted: bool = False
    timed_out: bool = False


def _overlay(table: DataFrame, changed: DataFrame) -> DataFrame:
    """``table`` with ``changed``'s rows in place of their ids' rows, every
    row flagged ``__changed`` — the shape ``FeedRunner._publish`` takes."""
    return (
        table.join(changed.select("id"), "id", "left_anti")
        .withColumn("__changed", F.lit(False))
        .unionByName(
            changed.select(*table.columns).withColumn("__changed", F.lit(True))
        )
    )


class FeedRunner:
    """Continuous feed processing over versioned state tables.

    ``items`` is both source and sink: the CDC source reads new/changed
    rows; the engine writes processed rows back with ``updated_at`` bumped
    to the micro-batch watermark, which re-queues continuation work — the
    same convergence-through-the-data loop as the reference (failed but
    retryable items stay Available and re-match the next poll,
    item.go:27-38 / repo.go:114-120).

    Every state change — a micro-batch and ``requeue_dead_letters`` alike
    — is ONE state commit (``_run``): ``_read`` a snapshot, decide the new
    rows flagged ``__changed`` (the same for every store), ``_publish``
    them.

    Both driving modes run the one streaming query ``_start`` builds:
    ``run_available`` triggers it back to back and stops it at the first
    trigger that finds no new data (one query per drain, a new one only
    after a streaming failure); ``run_forever`` triggers it on an interval.

    ``storage``: ``"txlog"`` (default) commits both tables, the dead
    letters and the batch id through the manifest log
    (feedstate/txlog.py) as keyed tables (feedstate/keyed.py): the
    touched-bucket plan and the staging write feed ONE atomic manifest
    commit that names the staged buckets and carries untouched ones by
    name.  All of it goes through the store's filesystem
    (gofeed_spark/fs.py), so a ``scheme://`` base on a registered backend
    works like a local path.  Multi-writer-safe — a concurrent runner's
    commit loses the create-if-absent manifest publish, and this runner
    re-reads the fresh state and recomputes before retrying, the
    reference's dirty=false path at the storage layer.
    ``"dbapi"`` keeps both tables in a PEP-249 database
    (feedstate/dbstore.py — the reference's literal Gorm-over-SQL
    deployment): the CDC source polls it with a cursor and writes land as
    per-row OCC upserts, so out-of-band INSERTS arriving mid-batch
    survive (a snapshot commit would rewrite the table around them) and a
    concurrent row update can never be clobbered by a stale runner write;
    the last committed batch id is one monotone row per runner.
    Sizing (bucket counts, read fan-out, drain parallelism) is set by the
    module constants above.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        processor: ProcessorFn,
        max_retries: int = 5,
        manual_checkpoint: bool = False,
        auto_close: bool = True,
        storage: str = "txlog",
        runner_id: str = "",
        dbapi_module: str = "sqlite3",
        db_path: str | None = None,
        table_prefix: str = "",
        poll_limit: int | None = None,
    ):
        """``runner_id``: distinct per concurrent runner sharing one store
        — each runner keeps its OWN streaming checkpoint (its private poll
        offsets, like each reference watcher's in-process cursor) and its
        own last-batch-id entry, keyed by its streaming query's id, while
        the shared TxLog (or database) arbitrates the state commits.

        ``table_prefix``: namespaces this feed's tables (reference
        ``main.go:29`` / README.md:131-135) so several feed instances can
        cohabit ONE store — one database (dbapi) or one manifest log
        (txlog): ``{prefix}items``, ``{prefix}partitions``,
        ``{prefix}dead_letter``, with the checkpoint path namespaced
        alongside.

        ``poll_limit``: caps each CDC poll's backlog (the reference's poll
        LIMIT, repo.go:114-120) so a hot producer can't balloon one
        micro-batch; undelivered rows re-poll next round and
        ``run_available`` keeps draining until quiescent.

        The txlog LAYOUT owns the bucket modulus: bucket keys record it
        (``{table}@m{n}b{NNNN}``, committed with the data), and ``__init__``
        ADOPTS it over ``STATE_BUCKETS`` (``bucket_count_adopted``) — a
        restart can never mix two moduli over one table (which would
        duplicate or strand rows).  Pre-stamp layouts are claimed with
        ``STATE_BUCKETS`` on first contact."""
        self.spark = spark
        self.base = base_path
        self.runner_id = runner_id or "w0"
        self.prefix = table_prefix
        self.t_items = f"{table_prefix}items"
        self.t_parts = f"{table_prefix}partitions"
        self.t_dead = f"{table_prefix}dead_letter"
        suffix = (f"_{table_prefix}" if table_prefix else "") + (
            f"_{runner_id}" if runner_id else ""
        )
        # Spark and the CDC poll's Python workers (which cannot see the
        # driver's filesystem registry) get the store's Spark-addressable
        # paths
        self.fs = get_filesystem(base_path)
        self.ckpt = self.fs.spark_path(self.fs.join(base_path, f"_checkpoint{suffix}"))
        # foreachBatch ids are scoped to the streaming query, so the query
        # id (keyed.stream_id: the same across restarts, new for a fresh
        # checkpoint, distinct for runners on different base paths that
        # share one database) keys this runner's last committed batch id.
        # Kept from the last batch, for direct ``_step`` calls.
        self.txn_key = DIRECT_TXN_KEY
        # Per-runner dead-letter partition dir: concurrent Spark jobs must
        # never append into ONE directory (FileOutputCommitter's shared
        # _temporary staging is not concurrency-safe); readers scan the
        # dead_letter root and see `writer` as a partition column.
        self.dead_dir = os.path.join(
            base_path, self.t_dead, f"writer={runner_id or 'w0'}"
        )
        self.processor = processor
        self.max_retries = max_retries
        self.manual_checkpoint = manual_checkpoint
        self.auto_close = auto_close
        if storage not in ("txlog", "dbapi"):
            raise ValueError("storage must be 'txlog' or 'dbapi'")
        self.storage = storage
        if poll_limit is not None and poll_limit < 1:
            raise ValueError("poll_limit must be >= 1 (None = unbounded)")
        self.poll_limit = poll_limit
        self.state_buckets = STATE_BUCKETS
        self._grow_to: int | None = None
        layout_n = None
        if storage == "txlog":
            self.log = TxLog(base_path)
            self.k_items = KeyedTable(self.log, self.t_items, "id")
            self.k_parts = KeyedTable(self.log, self.t_parts, "id")
            layout_n = self.k_items.modulus(self.log.latest()[1])
        else:
            from gofeed_spark.feedstate.dbstore import DbApiStore

            os.makedirs(base_path, exist_ok=True)
            self.db_path = db_path or os.path.join(base_path, "state.db")
            self.dbapi_module = dbapi_module
            self.db = DbApiStore(self.db_path, dbapi_module, table_prefix=table_prefix)
            self.db.ensure_schema()
        # adopt the layout's modulus over the constant — see the docstring
        self.bucket_count_adopted = layout_n not in (None, STATE_BUCKETS)
        if self.bucket_count_adopted:
            self.state_buckets = layout_n
        # write volume (bytes staged per table: last commit, cumulative, a
        # bounded history) — the proof that writes track work done
        self.last_write_bytes: dict[str, int] = {}
        self.total_write_bytes: int = 0
        self.write_history: collections.deque = collections.deque(maxlen=64)
        self._drain: _Drain | None = None
        register_feed_cdc(self.spark)

    # -- state-table accessors -------------------------------------------
    def _txlog_read(self, table: KeyedTable, tables: dict | None = None):
        """A txlog state table in manifest ``tables`` (default: the
        latest).  A state commit passes the manifest it read its version
        from: re-reading ``latest()`` would race a concurrent commit,
        building writes from a newer snapshot than the OCC
        expected_version — a guaranteed conflict that burns retries."""
        if tables is None:
            _, tables = self.log.latest()
        df = table.read(self.spark, tables)
        if df is None:
            raise ValueError(f"table {table.name!r} not in commit: {sorted(tables)}")
        return df

    def _read_fanout(self, n_rows: int) -> int:
        """Read partitions for an n_rows read: 1 (plain driver SELECT) up
        to 32 executor-side ranges, one per ``FANOUT_ROWS`` of volume."""
        return min(32, max(1, (n_rows + FANOUT_ROWS - 1) // FANOUT_ROWS))

    def _items_with_ts(self):
        if self.storage == "txlog":
            return self._txlog_read(self.k_items)
        # full-table accessor: size the read from a pushed-down COUNT so
        # even user-facing reads never funnel big state through the driver
        return self.db.read_items(
            self.spark, num_partitions=self._read_fanout(self.db.count_items())
        )

    def items(self):
        return self._items_with_ts().drop("updated_at")

    def partitions(self):
        if self.storage == "txlog":
            return self._txlog_read(self.k_parts)
        return self.db.read_partitions(self.spark)

    # -- the state commit: read → decide → publish -------------------------
    def _step(self, changed, batch_id: int) -> None:
        self.txn_key = stream_id(changed) or self.txn_key
        drain = self._drain
        if drain is not None:
            if drain.rounds >= drain.max_rounds:
                # failing the batch keeps its offsets uncommitted, so the
                # next drain re-delivers it; returning would drop its rows
                drain.exhausted = True
                raise RuntimeError(f"drain budget of {drain.max_rounds} rounds spent")
            drain.rounds += 1
        try:
            empty = changed.isEmpty()
        except Exception:
            # Transient task loss (local mode fails a job on FIRST task
            # failure; concurrent Python-data-source queries occasionally
            # hit a JVM deserialization hiccup) — one retry re-runs the job.
            empty = changed.isEmpty()
        if not empty:
            self._run(self._decide, batch_id)
        if drain is not None:
            drain.beat = time.monotonic()

    def _run(self, decide, batch_id: int | None = None, full: bool = False) -> None:
        """One state commit: ``_read`` a snapshot, ``decide(snapshot,
        ckpt)`` the new rows, ``_publish`` them with ``batch_id``.  A
        micro-batch whose id the snapshot already records (re-delivered
        after a crash that followed its commit) is skipped.  On txlog a
        concurrent runner may win the commit claim; the loop re-reads the
        fresh snapshot and decides again.  Every
        localCheckpoint an attempt creates is released on the way out
        (success, conflict, or raise): once the storage commit has the data
        — or the attempt is abandoned — the blocks are dead weight, and a
        long-lived runner would otherwise accumulate 4-5 of them per
        micro-batch until driver GC notices."""
        from gofeed_spark.functions.lineage import release_local_checkpoint

        for _ in range(COMMIT_ATTEMPTS if self.storage == "txlog" else 1):
            ckpts: list = []

            def ckpt(df):
                ckpts.append(df.localCheckpoint())
                return ckpts[-1]

            try:
                snap = self._read(full)
                if batch_id is not None and batch_id <= snap.last_batch:
                    return
                change = decide(snap, ckpt)
                if change is None or self._publish(snap, *change, batch_id):
                    return
            finally:
                for d in ckpts:
                    release_local_checkpoint(d)
        raise CommitConflict("txlog commit lost repeatedly")

    def _read(self, full: bool) -> _Snapshot:
        """read: one consistent view of both state tables plus the re-queue
        tick, which must exceed the GLOBAL high-water mark the CDC source
        has seen (it may sit on a row outside a predicate-pushed read).

        dbapi pushes the reference's poll predicates into the database
        unless ``full`` (repo.go:114-120 over the covering index): the gate
        decision consumes ONE pushed-down GROUP BY (the GetStatusCounts
        twin), so only the rows processing can touch — Available items in
        non-Complete partitions — ever cross the driver; terminal Failed
        rows are counted in the database, never fetched, and the tick is
        one index-only MAX.  txlog reads every table and the last batch id
        from ONE manifest, the version its commit expects."""
        from gofeed_spark.feedstate.model import AVAILABLE, COMPLETE

        if self.storage == "dbapi":
            last = self.db.last_batch(self.txn_key)
            if full:
                return _Snapshot(
                    self._items_with_ts(), self.partitions(),
                    self.db.max_updated_at() + 1, last,
                )
            counts = self.db.read_decision_counts(self.spark)
            avail = self.db.count_items(statuses=(AVAILABLE,))
            items = self.db.read_items(
                self.spark,
                statuses=(AVAILABLE,),
                num_partitions=self._read_fanout(avail),
            )
            parts = self.db.read_partitions(self.spark, exclude_statuses=(COMPLETE,))
            return _Snapshot(
                items, parts, self.db.max_updated_at() + 1, last, counts=counts
            )
        version, m = head(self.base)
        tables = m["tables"]
        last = m.get("txn", {}).get(self.txn_key, -1)
        items = self._txlog_read(self.k_items, tables)
        parts = self._txlog_read(self.k_parts, tables)
        tick = (items.agg(F.max("updated_at")).collect()[0][0] or 0) + 1
        return _Snapshot(items, parts, tick, last, version=version, tables=tables)

    def _decide(self, snap: _Snapshot, ckpt):
        """decide: one feed_step and the rows every store commits — items
        and partitions flagged ``__changed`` (changed rows carry version+1,
        so dbapi's strict CAS applies exactly them, and changed items carry
        the re-queue tick) plus the dead-letter rows."""
        from gofeed_spark.feedstate.model import AVAILABLE, FAILED

        new_parts, new_items = feed_step(
            snap.parts,
            snap.items.drop("updated_at"),
            self.processor,
            max_retries=self.max_retries,
            manual_checkpoint=self.manual_checkpoint,
            auto_close=self.auto_close,
            decision_counts=snap.counts,
        )
        # Materialize the processor output ONCE, immediately: everything
        # below (dead.isEmpty, dead.write, the items upsert) would otherwise
        # re-execute the uncached feed_step DAG and re-run the side-effectful
        # processor (HTTP POSTs) up to 3× per micro-batch — and a
        # non-deterministic outcome could make the dead-letter log disagree
        # with the committed items table.
        new_items = ckpt(new_items)
        # gate_decision carries the partition version through unchanged; a
        # partition whose gate or status moved is saved with version+1 (the
        # reference's Save), and its id rides the same checkpoint
        old = snap.parts.select(
            "id", F.col("gate").alias("__og"), F.col("status").alias("__os")
        )
        decided = ckpt(new_parts.join(old, "id"))
        gate_moved = F.col("gate") != F.col("__og")
        moved = gate_moved | (F.col("status") != F.col("__os"))
        parts = decided.select(
            "id",
            (F.col("version") + moved.cast("int")).alias("version"),
            "gate",
            "status",
            moved.alias("__changed"),
        )
        prev = snap.items.select(
            "id",
            F.col("version").alias("__old_v"),
            F.col("updated_at").alias("__old_ts"),
            F.col("status").alias("__old_status"),
        )
        # Re-queue ONLY rows that changed this step: they get updated_at =
        # the tick, so the CDC source re-delivers them for the next decision
        # round; untouched rows keep their timestamp and are not
        # re-delivered — quiescence is reached exactly when a step changes
        # nothing.  Available items of a partition whose gate moved count
        # as changed: the step that advanced the gate processed none of
        # them, and without a fresh tick the drain would stop with them
        # stranded at the new gate.
        bumped = F.col("version") > F.coalesce(F.col("__old_v"), F.lit(-1))
        woken = (
            ~bumped
            & (F.col("status") == AVAILABLE)
            & F.col("__gate_moved").isNotNull()
        )
        changed = bumped | woken
        # Dead-letter routing: items that TRANSITIONED to Failed this step
        # (retries exhausted or non-retryable — item.go:35-37) land in a
        # log with their error trail.  Both frames come from ONE checkpoint,
        # taken BEFORE the storage commit: its lineage reads the PRE-commit
        # items table, whose files the commit replaces.
        rows = ckpt(
            new_items.join(prev, "id", "left")
            .join(
                decided.filter(gate_moved).select(
                    F.col("id").alias("partition_id"),
                    F.lit(True).alias("__gate_moved"),
                ),
                "partition_id",
                "left",
            )
            .select(
                "id",
                (F.col("version") + woken.cast("int")).alias("version"),
                "retry_count",
                "partition_id",
                "gate",
                "status",
                "error_messages",
                "data",
                F.when(changed, F.lit(snap.tick))
                .otherwise(F.coalesce(F.col("__old_ts"), F.lit(0)))
                .cast("long")
                .alias("updated_at"),
                changed.alias("__changed"),
                (
                    (F.col("status") == FAILED)
                    & (F.coalesce(F.col("__old_status"), F.lit(-1)) != FAILED)
                ).alias("__dead"),
            )
        )
        dead = rows.filter("__dead").select(
            "id", "partition_id", "gate", "retry_count", "error_messages",
            "data", F.lit(snap.tick).alias("failed_at_tick"),
        )
        return rows.drop("__dead"), parts, dead

    def _publish(self, snap, items, parts, dead, batch_id) -> bool:
        """publish: commit the decided rows and ``batch_id``; False when a
        concurrent txlog commit won (the caller re-reads and decides
        again).

        dbapi appends the dead letters, upserts ONLY the changed rows with
        per-row CAS — untouched rows are not in the statement: no table
        rewrite, so concurrent out-of-band inserts survive, and the loser
        of a two-writer race is dropped row-by-row in the database — then
        records the batch id.  A crash in between can only DUPLICATE a
        dead letter or re-decide the batch on replay (at-least-once, the
        reference's posture), never lose one.  txlog plans the touched
        buckets, stages them and commits them, the dead letters and the
        batch id in one manifest; a converting table drops its old
        entries."""
        if self.storage == "dbapi":
            if dead is not None and not dead.isEmpty():
                dead.write.mode("append").parquet(self.dead_dir)
            self.db.upsert_items(items.filter("__changed").drop("__changed"))
            self.db.upsert_partitions(parts.filter("__changed").drop("__changed"))
            if batch_id is not None:
                self.db.record_batch(self.txn_key, batch_id)
            return True
        # The LAYOUT owns the modulus: adopt the snapshot's (a concurrent
        # runner may have converted the table since our __init__, and
        # planning touched buckets under another modulus than the layout's
        # would commit deltas against wrongly-shaped buckets).
        m = self.k_items.modulus(snap.tables)
        if m is not None and m != self.state_buckets:
            self.state_buckets, self._grow_to = m, None
        grow = self._grow_to
        n = grow or self.state_buckets
        c = Commit(self.log, snap.version, snap.tables)
        stats = {}
        for table, rows in ((self.k_items, items), (self.k_parts, parts)):
            # a new modulus (scheduled growth, a legacy or unstamped
            # layout) lays the whole table out; otherwise only the
            # touched buckets are restaged
            if grow is not None or table.modulus(snap.tables) != n:
                stats[table.name] = table.write(c, rows.drop("__changed"), n, whole=True)[0]
            elif (plan := table.plan(rows, n)) is not None:
                stats[table.name] = table.write(c, plan.df, n, plan.rows)[0]
        # dead letters land as a per-batch delta snapshot in the same
        # commit: a crash never separates a Failed transition from its row
        if dead is not None and not dead.isEmpty():
            c.tables[f"{self.t_dead}@d_{uuid.uuid4().hex[:8]}"] = dead
        if not c.publish(None if batch_id is None else {self.txn_key: batch_id}):
            return False
        if grow is not None:
            self.state_buckets, self._grow_to = grow, None
        self._record_write(batch_id, stats)
        target = grown(
            self.state_buckets, self.k_items.nbytes(c.tables),
            BUCKET_TARGET_BYTES, MAX_STATE_BUCKETS,
        )
        if target != self.state_buckets:
            self._grow_to = target
        return True

    def _record_write(self, batch_id, stats: dict[str, int]) -> None:
        self.last_write_bytes = stats
        self.total_write_bytes += sum(stats.values())
        self.write_history.append({"batch_id": batch_id, **stats})

    def dead_letters(self):
        """The dead-letter log as a DataFrame (None when nothing failed):
        txlog reads the table's per-batch delta snapshots, dbapi the
        per-runner ``writer=`` dirs."""
        if self.storage == "txlog":
            _, tables = self.log.latest()
            rels = list(table_snapshots(tables, self.t_dead).values())
            if not rels:
                return None
            return self.spark.read.parquet(*[self.log.spark_path(r) for r in rels])
        root = os.path.join(self.base, self.t_dead)
        if not os.path.exists(root):
            return None
        return self.spark.read.parquet(root)

    def requeue_dead_letters(self, ids=None) -> int:
        """Ops-loop recovery, automated: flip dead-lettered FAILED items
        back to Available with retry_count reset and a fresh ``updated_at``
        tick (above the CDC high-water mark, so the next poll re-delivers
        them), and re-open their FAILED partitions.  The reference
        documents this as a manual step (README.md:104-110: "you can later
        update the partition to make sure it is in the Available state");
        here it is one state commit through the micro-batch's own publish
        (touched buckets only; on txlog the rows are re-derived from the
        fresh snapshot on every OCC retry, so a requeue can never write
        stale versions or a tick at/below a newer high-water mark; its
        ``write_history`` entry has batch_id None).  ``ids`` restricts the requeue to those item ids (None = every
        dead-lettered item).  The dead-letter log keeps its rows — it is an
        audit log, not a queue.  Returns the number of items requeued."""
        from gofeed_spark.feedstate.model import AVAILABLE, FAILED

        dead = self.dead_letters()
        if dead is None:
            return 0
        dids = dead.select("id").distinct()
        if ids is not None:
            dids = dids.filter(F.col("id").isin([*ids]))
        requeued_n = 0

        def decide(snap, ckpt):
            nonlocal requeued_n
            requeued = ckpt(
                snap.items.join(dids, "id")
                .filter(F.col("status") == FAILED)
                .select(
                    "id",
                    (F.col("version") + 1).cast("int").alias("version"),
                    F.lit(0).cast("int").alias("retry_count"),
                    "partition_id",
                    "gate",
                    F.lit(AVAILABLE).cast("int").alias("status"),
                    F.lit("").alias("error_messages"),
                    "data",
                    F.lit(snap.tick).cast("long").alias("updated_at"),
                )
            )
            requeued_n = requeued.count()
            if requeued_n == 0:
                return None
            reopened = ckpt(
                snap.parts.join(
                    requeued.select(F.col("partition_id").alias("id")).distinct(), "id"
                )
                .filter(F.col("status") == FAILED)
                .select(
                    "id",
                    (F.col("version") + 1).cast("int").alias("version"),
                    "gate",
                    F.lit(AVAILABLE).cast("int").alias("status"),
                )
            )
            return _overlay(snap.items, requeued), _overlay(snap.parts, reopened), None

        self._run(decide, full=True)
        return requeued_n

    def maintain(
        self,
        vacuum_keep: int = 2,
        vacuum_min_age_s: float = 3600.0,
        compact_target_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """Storage maintenance — the table-lifecycle job that runs OFF the
        hot path (cron/idle, like Delta's VACUUM + OPTIMIZE):

        - txlog: drop snapshot dirs unreferenced by the last
          ``vacuum_keep`` complete manifests (TxLog.vacuum — also reclaims
          superseded state buckets and dead-letter deltas past the
          retention window).
        - dbapi: compact the accreting dead-letter partition dirs
          (per-batch appends → byte-targeted file counts; the state
          tables live in the database, which manages its own storage).

        Returns a summary dict.  txlog vacuum is safe beside live writers
        (the retention window protects in-flight stagings); dead-letter
        compaction rewrites every runner's ``writer=`` dir, so run it while
        no runner of this feed is draining."""
        if self.storage == "txlog":
            return {
                "vacuumed": self.log.vacuum(
                    keep=vacuum_keep, min_age_s=vacuum_min_age_s
                )
            }
        from gofeed_spark.sources.io import compact

        fs = self.fs
        compacted: dict[str, int] = {}
        root = fs.join(self.base, self.t_dead)
        for entry in fs.listdir(root):
            sub = fs.join(root, entry)
            if entry.startswith("writer=") and fs.isdir(sub):
                compacted[entry] = compact(
                    self.spark, sub, target_file_bytes=compact_target_bytes
                )
        return {"compacted": compacted}

    # -- driver ----------------------------------------------------------
    def _start(self, interval_s: float):
        """Start the streaming query both modes run — CDC source →
        ``foreachBatch(self._step)`` on this runner's checkpoint, one
        trigger every ``interval_s`` — so the drain and the service can
        never diverge in source options or sink."""
        reader = (
            self.spark.readStream.format("feed_cdc")
            .option(
                "path",
                self.fs.spark_path(self.base) if self.storage == "txlog" else self.db_path,
            )
            .option("backend", self.storage)
            .option("table", self.t_items)
        )
        if self.storage == "dbapi":
            reader = reader.option("dbapi_module", self.dbapi_module)
        if self.poll_limit is not None:
            reader = reader.option("poll_limit", str(self.poll_limit))
        return (
            reader.load()
            .writeStream.option("checkpointLocation", self.ckpt)
            .trigger(processingTime=f"{interval_s} seconds")
            .foreachBatch(self._step)
            .start()
        )

    def run_forever(self, poll_interval_s: float = 10.0):
        """The reference's long-running service mode (main.go:33
        ``poll_interval``, default 10 s; watcher.go:118's ticker loop): one
        CDC poll + feed tick per interval, running until the returned
        StreamingQuery is stopped (or errors — surfaced through
        ``awaitTermination`` exactly as Spark surfaces streaming errors).
        Same checkpoint as the drain mode, so the two can be interleaved
        across restarts with exactly-once effect.

        Sets AQE off on the session for the service's lifetime (streaming
        does not support it, and pre-disabling avoids the per-start conf
        mutation that races concurrent runners — see ``_drain_confs``;
        a service-mode deployment owns its session, like the reference's
        watcher process owns its DB handle)."""
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(DRAIN_SHUFFLE_PARTITIONS)
        )
        return self._start(poll_interval_s)

    def run_available(self, timeout_s: int = 300, max_rounds: int = 16) -> None:
        """Drain all available work in ONE streaming query: it triggers
        back to back (each micro-batch's re-queued continuation work is the
        next trigger's input) and stops once a trigger finds no new data
        after the last committed batch — ``processAllAvailable``'s
        contract.  A new query starts only after a streaming failure (a
        failed batch is safe to retry wholesale: the checkpoint re-delivers
        it, and the batch id recorded in the state commit skips it once
        that commit landed), after a per-runner jittered pause.

        ``max_rounds`` bounds micro-batches plus restarts; ``timeout_s``
        bounds how long the drain may go without committing a batch.
        Either limit stops the query and raises: a feed that keeps
        generating work (continuation loop, hot producer) raises
        RuntimeError, a stalled batch TimeoutError, and a persistent
        per-batch failure (processor bug, corrupt checkpoint) re-raises the
        last streaming error.  Exhaustion is never silent — the caller must
        know the run failed."""
        import hashlib

        from pyspark.errors.exceptions.captured import StreamingQueryException

        drain = self._drain = _Drain(max_rounds)
        restarts = 0
        try:
            with _drain_confs(self.spark):
                while True:
                    q = self._start(0)
                    done = threading.Event()

                    def watch():
                        while not done.wait(0.1):
                            if time.monotonic() - drain.beat > timeout_s:
                                drain.timed_out = True
                                q.stop()
                                return

                    watchdog = threading.Thread(target=watch, daemon=True)
                    watchdog.start()
                    try:
                        q.processAllAvailable()
                        exc = None
                    except StreamingQueryException as err:
                        exc = err
                    finally:
                        done.set()
                        watchdog.join()
                        q.stop()
                    if drain.timed_out:
                        raise TimeoutError(
                            f"feed drain committed no batch for {timeout_s} s"
                        ) from exc
                    if drain.exhausted:
                        raise RuntimeError(
                            f"feed did not quiesce within {max_rounds} rounds: "
                            "every batch re-queued new work (continuation loop "
                            "or hot producer)"
                        ) from exc
                    if exc is None:
                        return
                    drain.rounds += 1
                    if drain.rounds >= max_rounds:
                        raise exc
                    # DECORRELATE the restart: runners that fail the same
                    # batch would otherwise restart in lockstep and can
                    # re-collide on the same transient until exhaustion.
                    # Deterministic per-runner jitter (id hash) plus linear
                    # growth spreads the restarts apart.
                    jitter = (
                        int.from_bytes(
                            hashlib.blake2b(
                                self.runner_id.encode(), digest_size=2
                            ).digest(),
                            "big",
                        )
                        % 997
                    ) / 600.0
                    time.sleep(0.1 + jitter + restarts * 0.15)
                    restarts += 1
        finally:
            self._drain = None
