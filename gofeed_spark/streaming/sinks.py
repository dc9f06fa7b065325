"""Idempotent keyed upsert sink for foreachBatch — touched-buckets layout.

Exactly-once effect = streaming checkpoint (which batch is next) + this
sink's manifest (which batches already landed).  A re-delivered
micro-batch (restart between sink-commit and checkpoint-commit) is
recognized by its batchId and skipped — the same idempotency contract Delta
gets from txnAppId/txnVersion, implemented over plain parquet because this
container carries no Delta; the swap is one line in a real deployment.

Scale contract (the reference's own is one row per OCC save,
repo.go:125-138): state is HASH-BUCKETED on the merge key and a
micro-batch reads and rewrites ONLY the buckets containing its keys, so
per-batch I/O tracks the batch's keys, not total state — the streaming
twin of the feed store's bucketed layout (streaming/feed_runner.py
``FeedRunner._publish``), re-expressed in the object-store commit shape:

Write protocol (single streaming writer per query — Spark guarantees
foreachBatch calls are serial): the touched buckets' merged contents are
written under a fresh VERSIONED directory (``data_v{batch_id}/pbkt=bNNNN``)
and published by ONE atomic manifest PUT that carries the committed batch
ids plus a bucket→directory pointer table — untouched buckets keep their
old pointers BY NAME (the manifest-by-name carry from feedstate/txlog.py),
so no directory is ever renamed and no untouched byte is ever rewritten.
A crash before the PUT leaves unreferenced staging subdirs (reclaimed on
the next commit's sweep); after the PUT the batch is fully visible.  There
is no torn state at any crash point.  Legacy tables (bare-list manifest +
``data/``, or the round-11 single-pointer manifest) read transparently and
convert to the bucketed layout inside their first new commit — no extra
manifest version, the feedstate conversion convention.

Bucket values are prefixed non-numeric by construction (``bNNNN``) and the
manifest addresses leaf dirs directly, so partition re-inference can never
bite (the round-7 ANN lesson); the bucket column itself never survives the
read (leaf paths are below the scan roots, so Spark discovers no partition
column).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gofeed_spark.fs import get_filesystem

# partition dir name for the bucket column; deliberately NOT "b" (a data
# column named b would collide) and NOT underscore-prefixed (Spark treats
# _-prefixed paths as hidden and would skip the bucket dirs on read)
_BCOL = "pbkt"


class ParquetUpsertSink:
    """foreachBatch callable: keyed last-writer-wins MERGE into a
    hash-bucketed parquet table at ``path`` (the streaming OCC-save twin,
    repo.go:125-138).  ``n_buckets`` fixes the layout modulus at table
    creation; existing tables keep the modulus recorded in their manifest
    (mixing moduli would split keys across buckets).

    Within-batch winner: when ``seq_col`` is given, the row with the
    LARGEST seq value per key wins the within-batch merge (ties break on
    the remaining columns, deterministically) — the real
    last-writer-wins contract for producers that emit several rows per
    key per trigger.  Without ``seq_col`` the sink ASSERTS one row per
    key per batch (the stateful-op producer shape) instead of silently
    picking an arbitrary within-batch winner.

    Modes (the layout is recorded in the manifest; mixing is refused):

    - ``mode="merge"`` (default, merge-on-WRITE): a micro-batch reads and
      rewrites the buckets containing its keys.  Per-trigger I/O is
      O(touched buckets' state); reads are plain scans.  Right when a
      trigger touches few buckets (point upserts, low-cardinality keys).
    - ``mode="lsm"`` (merge-on-READ): the manifest holds a pointer LIST
      per bucket; each trigger appends its per-bucket DELTA as a new
      relation — per-trigger write I/O is O(batch) REGARDLESS of key
      spread (the q120 profile: a quarter of the keyspace per trigger
      touches ~all buckets, which in merge mode rewrites ~O(total state)
      every trigger).  Reads merge with last-writer-wins, ordered by the
      batch id parsed from each relation's versioned directory name (no
      schema pollution); when every bucket's list has settled to one
      relation the read degrades to the plain scan.  A bucket whose list
      exceeds ``compact_threshold`` is folded into one relation inside
      the SAME commit (one job for all over-threshold buckets), so list
      depth — and read amplification — stays bounded.  An existing merge
      table converts transparently on its first lsm commit (pointers
      become one-element lists; their version names already order them);
      opening an lsm table in merge mode raises.

    Fresh-checkpoint hazard: batch ids are scoped to ONE checkpoint
    (Spark restarts them at 0 for a new checkpoint), while this manifest
    — unlike Delta's per-``txnAppId`` versions — has no app identity.
    Re-pointing a NEW stream (fresh checkpoint) at an EXISTING table
    would make its early batches collide with long-committed ids and be
    silently discarded as re-deliveries.  The sink therefore raises when
    the first batch a NEW sink instance sees carries a stale id that is
    not the newest committed one (a legitimate restart only ever
    re-delivers the newest committed batch); resuming a stream with its
    original checkpoint constructs the sink before that newest batch, so
    real restarts are unaffected."""

    # committed-id retention: the manifest keeps a FLOOR plus the newest
    # ids only, so its size is O(n_buckets + retain_batches) no matter how
    # long the stream runs (a month of triggers must not mean re-PUTting
    # millions of ids per commit).  Safe because batch ids from the single
    # writer are monotone and only the newest uncommitted batch is ever
    # re-delivered: anything at or below the floor is long-committed.
    retain_batches = 100

    def __init__(
        self,
        path: str,
        key: str = "partition_id",
        n_buckets: int = 32,
        seq_col: str | None = None,
        mode: str = "merge",
        compact_threshold: int = 8,
    ):
        if mode not in ("merge", "lsm"):
            raise ValueError(f"mode must be 'merge' or 'lsm', got {mode!r}")
        self.path = path
        self.key = key
        self.n_buckets = n_buckets
        self.seq_col = seq_col
        self.mode = mode
        self.compact_threshold = compact_threshold
        # first-call flag for the fresh-checkpoint detector (see class doc)
        self._saw_batch = False
        # resolve the backend ONCE, driver-side (fs.py: executor/closure
        # code must carry the resolved instance, not re-hit the registry)
        self.fs = get_filesystem(path)
        self.manifest = self.fs.join(path, "_committed_batches.json")
        # observability: bytes + buckets written by the most recent commit
        # (the write-volume metric — tools/bench_sink.py reads these)
        self.last_write_bytes: int | None = None
        self.last_buckets_written: int | None = None
        self.last_compact_bytes: int | None = None

    # -- manifest ----------------------------------------------------------
    def _state(self) -> dict:
        """Normalized ``{"batches": [...], "buckets": {name: rel} | None,
        "data": rel | None, "n_buckets": int | None}`` — accepts the legacy
        bare-list manifest (data at the fixed ``data/``) and the round-11
        single-pointer manifest (``{"batches", "data"}``)."""
        if self.fs.stat(self.manifest) is None:
            return {
                "batches": [], "floor": -1,
                "buckets": None, "data": None, "n_buckets": None,
            }
        raw = json.loads(self.fs.read_bytes(self.manifest))
        if isinstance(raw, list):  # legacy bare-list layout
            return {
                "batches": raw, "floor": -1,
                "buckets": None, "data": "data", "n_buckets": None,
            }
        if "buckets" not in raw:  # round-11 single-pointer layout
            return {
                "batches": raw["batches"], "floor": -1,
                "buckets": None,
                "data": raw.get("data"),
                "n_buckets": None,
            }
        raw.setdefault("floor", -1)
        raw.setdefault("mode", "merge")  # pre-LSM bucketed manifests
        return raw

    def _effective_mode(self, state: dict) -> str:
        """The mode this commit runs in: the manifest's recorded mode wins
        for an existing lsm table (opening it in merge mode raises — a
        merge commit would read bucket lists as single pointers and lose
        state); a merge/legacy table opened in lsm mode CONVERTS (its
        pointers are valid one-element lists)."""
        recorded = state["mode"] if state["buckets"] is not None else None
        if recorded == "lsm" and self.mode == "merge":
            raise ValueError(
                f"{self.path} is an LSM sink table; open it with "
                "mode='lsm' (a merge-mode commit over bucket lists would "
                "lose state)"
            )
        return "lsm" if (self.mode == "lsm" or recorded == "lsm") else "merge"

    def committed(self) -> list[int]:
        return self._state()["batches"]

    def _read_rels(self, spark, rels: list[str]) -> DataFrame | None:
        if not rels:
            return None
        return spark.read.parquet(
            *[self.fs.spark_path(self.fs.join(self.path, r)) for r in sorted(rels)]
        )

    def read(self, spark) -> DataFrame | None:
        state = self._state()
        if state["buckets"] is None:
            if state["data"] is not None:
                return self._read_rels(spark, [state["data"]])
            return None
        if state["mode"] == "lsm":
            lists = state["buckets"]
            df = self._read_rels(
                spark, [r for lst in lists.values() for r in lst]
            )
            if all(len(lst) == 1 for lst in lists.values()):
                return df  # settled table: plain scan, no shuffle
            return self._lww(df)
        return self._read_rels(spark, list(state["buckets"].values()))

    def _lww(self, df: DataFrame) -> DataFrame:
        """Merge-on-read last-writer-wins reduce: a relation's recency is
        the batch id in its versioned directory name (``data_v``/
        ``compact_v``), parsed from the scan's file path — no schema
        pollution; legacy/unversioned relations order as -1.  Ids are
        unique per bucket list (one delta per batch, compaction replaces
        the whole list), so the max is tie-free."""
        seq_s = F.regexp_extract(
            F.input_file_name(), r"(?:data|compact)_v(\d+)", 1
        )
        seq = F.when(seq_s == "", F.lit(-1)).otherwise(seq_s.cast("long"))
        others = [c for c in df.columns if c != self.key]
        return (
            df.withColumn("__seq", seq)
            .groupBy(self.key)
            .agg(F.max_by(F.struct(*others), F.col("__seq")).alias("__w"))
            .select(self.key, *[F.col(f"__w.{c}").alias(c) for c in others])
            .select(*df.columns)
        )

    # -- the sink ----------------------------------------------------------
    def _bucket_expr(self, nb: int):
        # key cast to string first so the layout is stable across key types
        return F.concat(
            F.lit("b"),
            F.lpad(
                F.pmod(F.xxhash64(F.col(self.key).cast("string")), F.lit(nb))
                .cast("string"),
                4,
                "0",
            ),
        ).alias(_BCOL)

    def _merge_batch(self, batch_df: DataFrame) -> DataFrame:
        """Within-batch reduction to one row per key: ``max_by`` on
        ``seq_col`` (ties broken lexicographically on the remaining
        columns via the struct ordering — deterministic) when configured;
        identity otherwise (one-row-per-key is then ASSERTED inside the
        touched-buckets job, not silently repaired)."""
        if self.seq_col is None:
            return batch_df
        if self.seq_col not in batch_df.columns:
            raise ValueError(f"seq_col {self.seq_col!r} missing from batch")
        others = [
            c for c in batch_df.columns if c not in (self.key, self.seq_col)
        ]
        return (
            batch_df.groupBy(self.key)
            .agg(F.max(F.struct(self.seq_col, *others)).alias("__w"))
            .select(self.key, f"__w.{self.seq_col}", *[f"__w.{c}" for c in others])
            .select(*batch_df.columns)
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        state = self._state()
        if batch_id <= state["floor"] or batch_id in state["batches"]:
            # Stale id.  Legitimate only as a re-delivery of the NEWEST
            # committed batch (restart between sink commit and checkpoint
            # commit — the single-writer contract).  A NEW sink instance
            # seeing any OTHER stale id first is the fresh-checkpoint
            # signature (batch ids restarted at 0 against an existing
            # table): silently skipping would DROP legitimate new data,
            # so refuse loudly (see class doc).
            newest = max(state["batches"]) if state["batches"] else state["floor"]
            if not self._saw_batch and batch_id != newest:
                raise ValueError(
                    f"batch id {batch_id} is already committed in "
                    f"{self.manifest} (newest={newest}) but this sink "
                    "instance has seen no batch yet: this looks like a "
                    "NEW stream (fresh checkpoint, ids restarted at 0) "
                    "pointed at an existing table — its batches would be "
                    "silently discarded as re-deliveries. Use a new table "
                    "path, or resume with the original checkpoint."
                )
            self._saw_batch = True
            return  # re-delivered batch: idempotent skip
        self._saw_batch = True
        spark = batch_df.sparkSession
        for reserved in (_BCOL, "__seq", "__w"):
            if reserved in batch_df.columns:
                raise ValueError(
                    f"column name {reserved!r} is reserved by the sink "
                    "(bucket partition key / merge working columns); "
                    "rename the data column"
                )
        nb = state["n_buckets"] or self.n_buckets
        # Within-batch winner (seq_col) or identity; persist: the batch
        # feeds two jobs (touched-bucket discovery + the write) and must
        # not recompute through the source.
        batch = self._merge_batch(batch_df).persist()
        try:
            old_buckets = state["buckets"] if state["buckets"] is not None else {}
            # One tiny job over the batch (≤ n_buckets rows back): which
            # buckets does it touch, and — when no seq_col declares a
            # winner — does any key appear more than once?  (n == nk per
            # bucket ⇔ one row per key; asserting here costs nothing
            # extra since the discovery pass already scans the batch.)
            stats = (
                batch.groupBy(self._bucket_expr(nb))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(F.col(self.key)).alias("nk"),
                )
                .collect()
            )
            if self.seq_col is None and any(r["n"] != r["nk"] for r in stats):
                raise ValueError(
                    "batch contains multiple rows per key but no seq_col "
                    "is configured to pick the within-batch winner; pass "
                    "seq_col= to ParquetUpsertSink for last-writer-wins "
                    "semantics (an arbitrary winner would be "
                    "nondeterministic)"
                )
            mode = self._effective_mode(state)
            if mode == "lsm":
                buckets = self._commit_lsm(spark, batch, batch_id, state, nb)
            else:
                buckets = self._commit_merge(spark, batch, batch_id, state, nb, stats)
            committed = sorted(state["batches"] + [batch_id])
            floor = state["floor"]
            if len(committed) > self.retain_batches:
                floor = max(floor, committed[-self.retain_batches])
                committed = [b for b in committed if b > floor]
            new_state = {
                "batches": committed,
                "floor": floor,
                "buckets": buckets,
                "n_buckets": nb,
                "mode": mode,
            }
            # THE commit point: one atomic whole-object PUT publishes the
            # bucket pointer table and the batch id together — no window
            # where one is visible without the other
            self.fs.put_bytes(self.manifest, json.dumps(new_state).encode())
            # post-commit cleanup; a crash here leaves garbage that the
            # next commit's sweep reclaims
            self._sweep(buckets)
        finally:
            batch.unpersist()

    def _write_bucketed(self, df: DataFrame, rel: str, nb: int) -> dict[str, str]:
        """Write ``df`` bucket-partitioned under versioned dir ``rel``;
        returns {bucket: relation} for every bucket present.  Repartition
        ON the bucket puts each bucket's rows wholly in one task ->
        exactly one file per bucket (partitionBy alone writes
        files-per-task-per-bucket; footer overhead then dominates small
        deltas — the round-8 feedstate measurement)."""
        new_dir = self.fs.join(self.path, rel)
        df.withColumn(_BCOL, self._bucket_expr(nb)).repartition(
            F.col(_BCOL)
        ).write.partitionBy(_BCOL).mode("overwrite").parquet(
            self.fs.spark_path(new_dir)
        )
        return {
            name[len(_BCOL) + 1 :]: f"{rel}/{name}"
            for name in self.fs.listdir(new_dir)
            if name.startswith(_BCOL + "=")
        }

    def _commit_merge(
        self, spark, batch: DataFrame, batch_id: int, state: dict, nb: int, stats
    ) -> dict[str, str]:
        """Merge-on-write commit: read the touched buckets, anti-join out
        the batch's keys, rewrite those buckets whole."""
        old_buckets = state["buckets"] if state["buckets"] is not None else {}
        if state["buckets"] is None and state["data"] is not None:
            # legacy unbucketed table: fold the layout conversion into
            # this commit — the whole table is "touched" exactly once
            cur = self._read_rels(spark, [state["data"]])
        else:
            touched = {r[_BCOL] for r in stats}
            cur_rels = [old_buckets[b] for b in touched if b in old_buckets]
            cur = self._read_rels(spark, cur_rels)
        if cur is None:
            merged = batch
        else:
            merged = cur.join(
                batch.select(self.key), self.key, "left_anti"
            ).unionByName(batch)
        new_rel = f"data_v{batch_id:06d}"
        written = self._write_bucketed(merged, new_rel, nb)
        self.last_write_bytes = self.fs.tree_stats(
            self.fs.join(self.path, new_rel)
        )[1]
        self.last_buckets_written = len(written)
        self.last_compact_bytes = None
        buckets = dict(old_buckets)  # untouched buckets carry BY NAME
        buckets.update(written)
        return buckets

    def _commit_lsm(
        self, spark, batch: DataFrame, batch_id: int, state: dict, nb: int
    ) -> dict[str, list[str]]:
        """Merge-on-read commit: append the batch's per-bucket DELTA (no
        read of current state — write I/O is O(batch) regardless of key
        spread), then fold any bucket whose pointer list exceeds
        ``compact_threshold`` into one relation (one job for ALL
        over-threshold buckets), inside the same atomic manifest PUT."""
        old = state["buckets"]
        if old is None and state["data"] is not None:
            # legacy unbucketed table: one-time full conversion (same
            # cost as the merge-mode conversion commit)
            cur = self._read_rels(spark, [state["data"]])
            merged = cur.join(
                batch.select(self.key), self.key, "left_anti"
            ).unionByName(batch)
            written = self._write_bucketed(merged, f"data_v{batch_id:06d}", nb)
            self.last_write_bytes = self.fs.tree_stats(
                self.fs.join(self.path, f"data_v{batch_id:06d}")
            )[1]
            self.last_buckets_written = len(written)
            self.last_compact_bytes = None
            return {b: [rel] for b, rel in written.items()}
        # a merge-layout table converts transparently: each pointer is a
        # valid one-element list (its version name already orders it)
        lists: dict[str, list[str]] = {
            b: [r] if isinstance(r, str) else list(r)
            for b, r in (old or {}).items()
        }
        delta_rel = f"data_v{batch_id:06d}"
        written = self._write_bucketed(batch, delta_rel, nb)
        self.last_write_bytes = self.fs.tree_stats(
            self.fs.join(self.path, delta_rel)
        )[1]
        self.last_buckets_written = len(written)
        for b, rel in written.items():
            lists.setdefault(b, []).append(rel)
        over = sorted(b for b, lst in lists.items() if len(lst) > self.compact_threshold)
        self.last_compact_bytes = None
        if over:
            folded = self._lww(
                self._read_rels(spark, [r for b in over for r in lists[b]])
            )
            compact_rel = f"compact_v{batch_id:06d}"
            cwritten = self._write_bucketed(folded, compact_rel, nb)
            self.last_compact_bytes = self.fs.tree_stats(
                self.fs.join(self.path, compact_rel)
            )[1]
            for b in over:
                if b in cwritten:
                    lists[b] = [cwritten[b]]
        return lists

    def _sweep(self, buckets: dict) -> None:
        """Reclaim everything the manifest no longer references: whole
        version dirs with no live bucket, superseded bucket subdirs inside
        still-live version dirs, and the legacy ``data/`` dir after its
        conversion commit.  Bucket values are a single relation (merge
        mode) or a pointer list (lsm mode)."""
        live_rels = {
            r
            for v in buckets.values()
            for r in ([v] if isinstance(v, str) else v)
        }
        live_tops = {rel.split("/")[0] for rel in live_rels}
        for name in self.fs.listdir(self.path):
            full = self.fs.join(self.path, name)
            if not (
                name.startswith(("data_v", "compact_v", "_staging_", "_old_"))
                or name == "data"
            ) or not self.fs.isdir(full):
                continue
            if name not in live_tops:
                self.fs.delete_tree(full)
                continue
            for sub in self.fs.listdir(full):
                if (
                    sub.startswith(_BCOL + "=")
                    and f"{name}/{sub}" not in live_rels
                ):
                    self.fs.delete_tree(self.fs.join(full, sub))


class DeltaAppendSink:
    """foreachBatch callable: exactly-once APPEND of each micro-batch into
    a PUBLIC Delta Lake table (sources/delta.py) — the deployment form of
    this module's idempotency contract: where ParquetUpsertSink keeps a
    bespoke manifest, this sink stamps every commit with the protocol's
    own ``txn`` action (appId = the stream's identity, version = the
    micro-batch id) and recognizes a re-delivered batch (restart between
    sink-commit and checkpoint-commit) by ``batch_id <=
    last_txn_version`` — so the landing table is readable by ANY Delta
    deployment while keeping exactly-once semantics across restarts.

    Append-mode streams only (per-batch rows are final): aggregations in
    update mode need the keyed MERGE sink, not an append log.

    Fresh-checkpoint hazard, resolved the protocol's way: batch ids are
    scoped to one checkpoint, and txn versions are scoped to one
    ``app_id`` — re-pointing a NEW stream (fresh checkpoint) at the same
    table just needs a new ``app_id``; commits from prior apps are never
    confused with the new stream's ids.

    Concurrency: a lost commit race (another writer published this Delta
    version first) surfaces as ``DeltaConcurrentWrite`` — foreachBatch
    then fails the batch and the stream retries it, which is safe because
    the txn watermark only advances when OUR commit wins."""

    def __init__(
        self,
        path: str,
        app_id: str,
        partition_by: list[str] | None = None,
    ):
        self.path = path
        self.app_id = app_id
        self.partition_by = partition_by
        self._floor: int | None = None  # lazily read; advanced on commit
        self.last_skipped: int | None = None  # observability for tests

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from gofeed_spark.sources import delta as D

        if self._floor is None:
            try:
                self._floor = D.last_txn_version(self.path, self.app_id)
            except D.DeltaError:  # table does not exist yet
                self._floor = -1
        if batch_id <= self._floor:
            self.last_skipped = batch_id  # re-delivery after restart
            return
        D.write_delta(
            batch_df,
            self.path,
            mode="append",
            partition_by=self.partition_by,
            txn=(self.app_id, int(batch_id)),
        )
        self._floor = int(batch_id)

    def read(self, spark) -> DataFrame:
        from gofeed_spark.sources import delta as D

        return D.read_delta(spark, self.path)


class IcebergAppendSink:
    """foreachBatch callable: exactly-once APPEND into a PUBLIC Iceberg
    table — the Iceberg twin of :class:`DeltaAppendSink`.  Iceberg has no
    Delta-style ``txn`` action; the format's idempotency convention (used
    by engines' own streaming sinks) is to stamp the snapshot SUMMARY
    with the writer's identity and batch id and scan snapshot summaries
    on restart (``sources/iceberg.last_summary_version``) — summaries
    ride the metadata JSON, so the watermark probe is one GET.  Same
    re-delivery skip, same per-``app_id`` scoping for fresh checkpoints."""

    def __init__(
        self,
        path: str,
        app_id: str,
        partition_by: list[str] | None = None,
    ):
        self.path = path
        self.app_id = app_id
        self.partition_by = partition_by
        self._floor: int | None = None
        self.last_skipped: int | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from gofeed_spark.sources import iceberg as I

        if self._floor is None:
            self._floor = I.last_summary_version(self.path, self.app_id)
        if batch_id <= self._floor:
            self.last_skipped = batch_id
            return
        I.write_iceberg(
            batch_df,
            self.path,
            mode="append",
            partition_by=self.partition_by,
            summary_extra={"app-id": self.app_id, "batch-id": int(batch_id)},
        )
        self._floor = int(batch_id)

    def read(self, spark) -> DataFrame:
        from gofeed_spark.sources import iceberg as I

        return I.read_iceberg(spark, self.path)


class DeltaUpsertSink:
    """foreachBatch callable: exactly-once keyed MERGE of each micro-batch
    into a PUBLIC Delta table — the update-mode twin of
    :class:`DeltaAppendSink` and the open-format form of
    :class:`ParquetUpsertSink` (r15 verdict missing item 1): each batch
    MERGEs on ``on`` (matched rows replaced, new keys inserted — so
    update-mode aggregation outputs land as their latest values), every
    commit stamped with the protocol's ``txn`` action, re-delivered
    batches skipped by ``batch_id <= last_txn_version``.  The first batch
    creates the table.  Batch rows must be key-unique (update-mode
    aggregation outputs are; reduce raw streams first — merge_delta
    refuses duplicates loudly).

    A merge that is a NO-OP makes no commit, so the txn watermark does
    not advance in the log for that batch — harmless: replaying a no-op
    batch no-ops again (idempotent by value)."""

    def __init__(
        self,
        path: str,
        on: list[str],
        app_id: str,
        partition_by: list[str] | None = None,
    ):
        self.path = path
        self.on = list(on)
        self.app_id = app_id
        self.partition_by = partition_by
        self._floor: int | None = None
        self.last_skipped: int | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from gofeed_spark.sources import delta as D

        if self._floor is None:
            try:
                self._floor = D.last_txn_version(self.path, self.app_id)
            except D.DeltaError:  # table does not exist yet
                self._floor = -1
        if batch_id <= self._floor:
            self.last_skipped = batch_id
            return
        try:
            D.latest_version(self.path)
            exists = True
        except D.DeltaError:
            exists = False
        if not exists:
            D.write_delta(
                batch_df,
                self.path,
                mode="append",
                partition_by=self.partition_by,
                txn=(self.app_id, int(batch_id)),
            )
        else:
            D.merge_delta(
                batch_df.sparkSession,
                self.path,
                batch_df,
                on=self.on,
                when_matched="update",
                when_not_matched="insert",
                txn=(self.app_id, int(batch_id)),
            )
        self._floor = int(batch_id)

    def read(self, spark) -> DataFrame:
        from gofeed_spark.sources import delta as D

        return D.read_delta(spark, self.path)


class IcebergUpsertSink:
    """foreachBatch callable: exactly-once keyed MERGE into a PUBLIC
    Iceberg table — the merge-on-read twin of :class:`DeltaUpsertSink`:
    each batch commits ONE overwrite snapshot (equality-delete of the
    batch keys + the new rows, ``merge_iceberg``) stamped with the
    summary watermark (app-id, batch-id), re-delivered batches skipped
    by ``last_summary_version``; the first batch creates the table.
    O(batch) per commit at ANY table size — no target files are read or
    rewritten (contrast DeltaUpsertSink's copy-on-write)."""

    def __init__(
        self,
        path: str,
        on: list[str],
        app_id: str,
        partition_by: list[str] | None = None,
    ):
        self.path = path
        self.on = list(on)
        self.app_id = app_id
        self.partition_by = partition_by
        self._floor: int | None = None
        self.last_skipped: int | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from gofeed_spark.sources import iceberg as I

        if self._floor is None:
            self._floor = I.last_summary_version(self.path, self.app_id)
        if batch_id <= self._floor:
            self.last_skipped = batch_id
            return
        stamp = {"app-id": self.app_id, "batch-id": int(batch_id)}
        try:
            I.latest_snapshot(self.path)
            exists = True
        except I.IcebergError:
            exists = False
        if not exists:
            I.write_iceberg(
                batch_df,
                self.path,
                mode="append",
                partition_by=self.partition_by,
                summary_extra=stamp,
            )
        else:
            I.merge_iceberg(
                batch_df.sparkSession,
                self.path,
                batch_df,
                on=self.on,
                when_matched="update",
                when_not_matched="insert",
                summary_extra=stamp,
            )
        self._floor = int(batch_id)

    def read(self, spark) -> DataFrame:
        from gofeed_spark.sources import iceberg as I

        return I.read_iceberg(spark, self.path)
