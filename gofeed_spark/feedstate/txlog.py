"""Multi-writer atomic multi-table commits over plain parquet — the
feed's one snapshot store (``FeedRunner(storage="txlog")``).

This log provides the piece the reference gets from its DB and Delta
gets from its log protocol — ARBITRATION BETWEEN CONCURRENT
COMMITTERS — using the one primitive every storage backend gives:
create-if-absent (``FileSystem.put_bytes_if_absent``: an fsynced temp
hard-linked into place on POSIX, a conditional PUT — S3/Azure
``If-None-Match: *``, GCS ``x-goog-if-generation-match: 0`` — on an
object store).  It is the storage-layer twin of the reference's
transaction + optimistic save (repo.go:125-138, 164-170): a losing
committer gets a ``CommitConflict`` and re-reads, exactly the
``dirty=false`` path.  Every byte goes through ``get_filesystem(base)``
(gofeed_spark/fs.py); Spark reads and writes snapshot dirs at the
backend's ``spark_path``.

Layout::

    base/_txlog/00000001.json           manifest: {"tables": {name: dir},
                                         "txn": {key: batch id}, ...}
    base/items__v00000001_ab12cd34/     immutable parquet snapshot dirs
    base/partitions__v00000001_ab12cd34/  (writer-unique suffix: racing
                                         committers never share a dir)
    base/items__v00000002_ab12cd34/pbkt=b0003/  a manifest may name a
                                         dir's child (keyed.py buckets)

Commit protocol (optimistic):

1. resolve the current version V (highest manifest number),
2. write every table's new snapshot dir suffixed ``__vV+1_<token>``
   (invisible — readers only follow manifests),
3. publish the FULL manifest create-if-absent at ``V+1.json``; when
   another committer already published V+1, the loser removes its own
   snapshot dirs and raises ``CommitConflict``.

A manifest therefore either does not exist or is complete: there is no
claim-to-write window in which a competitor's ``latest()`` could observe
V+1 as claimed-but-torn and base a V+2 commit on V (the lost-update race
of a claim-then-write protocol), and a crash before (3) leaves only
orphan snapshot dirs (and, on POSIX, an invisible temp), all removed by
``vacuum``.  Readers always see the highest complete manifest, which
names only completely-written snapshot dirs.  Multi-table atomicity
holds because one manifest names every table of the commit.  (Readers
still skip any unparseable manifest defensively — e.g. one
hand-corrupted on disk.)

``txn`` is Delta's txn action: ``{writer key: last batch id}``.  Every
commit carries the ``txn`` map of the manifest it is based on, with the
caller's entries merged over it, so a streaming writer records its batch
id in the SAME atomic commit as the state that batch produced, and skips
a re-delivered batch whose id the snapshot already holds (the idempotent
sink of Structured Streaming).

An object-store conditional PUT can land while its success response is
lost in transit.  The commit then retries the PUT once: the retry is
refused (the object exists), and reading the object back recognises the
manifest as this committer's own — the payload is writer-unique because
it carries the committer's token — so the commit succeeds exactly once.
"""

from __future__ import annotations

import json
import posixpath
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from gofeed_spark.fs import FileSystem, get_filesystem


def _is_manifest(name: str) -> bool:
    stem, ext = posixpath.splitext(name)
    return ext == ".json" and stem.isdigit()


def _versions(fs: FileSystem, logdir: str) -> list[int]:
    """Every manifest number in ``logdir``, ascending ([] when absent)."""
    return sorted(int(n[:-5]) for n in fs.listdir(logdir) if _is_manifest(n))


def _load(fs: FileSystem, logdir: str, version: int) -> dict | None:
    try:
        return json.loads(fs.read_bytes(fs.join(logdir, f"{version:08d}.json")))
    except (OSError, ValueError):
        return None  # burned version (crash mid-write) — skip


def _newest(fs: FileSystem, logdir: str, versions: list[int]) -> tuple[int, dict]:
    """(version, manifest) of the newest complete manifest among
    ``versions``; (0, an empty manifest) when there is none."""
    for v in reversed(versions):
        m = _load(fs, logdir, v)
        if m is not None:
            return v, m
    return 0, {"tables": {}}


def head(base: str) -> tuple[int, dict]:
    """(version, manifest) of the newest complete manifest under
    ``base/_txlog`` — its ``tables`` and, once a writer recorded one, its
    ``txn`` map — skipping burned versions; (0, {"tables": {}}) when there
    is none.  Pure JSON, and it never creates ``_txlog/`` — a CDC poll of
    a store nobody has committed to must leave it absent."""
    fs = get_filesystem(base)
    logdir = fs.join(base, "_txlog")
    return _newest(fs, logdir, _versions(fs, logdir))


def table_snapshots(tables: dict[str, str], table: str) -> dict[str, str]:
    """``table``'s entries in a manifest's ``tables``, in key order: the
    plain entry plus every ``{table}@…`` key — state buckets
    (``@b{NNNN}``, modulus-stamped ``@m{n}b{NNNN}``) and dead-letter
    deltas (``@d_<token>``).  The values are the table's snapshot dirs;
    another feed's ``{prefix}{table}`` keys never match."""
    return {
        k: tables[k] for k in sorted(tables) if k == table or k.startswith(table + "@")
    }


class CommitConflict(Exception):
    """Another committer claimed this version first — re-read and retry."""


class TxLog:
    """Versioned multi-table parquet store with optimistic multi-writer
    commits (see module docstring for the protocol)."""

    def __init__(self, base: str):
        self.base = base
        self.fs = get_filesystem(base)
        self.logdir = self.fs.join(base, "_txlog")
        self.fs.makedirs(self.logdir)

    # -- resolution ------------------------------------------------------
    def _load(self, version: int) -> dict | None:
        return _load(self.fs, self.logdir, version)

    def latest(self) -> tuple[int, dict[str, str]]:
        """(version, {table: snapshot dir}) of the newest complete commit;
        (0, {}) for an empty log."""
        version, m = head(self.base)
        return version, m["tables"]

    def spark_path(self, rel: str) -> str:
        """Where Spark reads or writes the snapshot dir ``rel``."""
        return self.fs.spark_path(self.fs.join(self.base, rel))

    def read(self, spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
        """Read ``table`` at the latest (or a pinned) committed version."""
        if version is None:
            _, tables = self.latest()
        else:
            m = self._load(version)
            if m is None:
                raise ValueError(f"no complete commit at version {version}")
            tables = m["tables"]
        if table not in tables:
            raise ValueError(f"table {table!r} not in commit: {sorted(tables)}")
        return spark.read.parquet(self.spark_path(tables[table]))

    # -- commit ----------------------------------------------------------
    def commit(
        self,
        writes: dict[str, DataFrame],
        expected_version: int | None = None,
        txn: dict[str, int] | None = None,
    ) -> int:
        """Atomically commit new contents for every table in ``writes``.

        A value may be a DataFrame (staged as a new snapshot dir) or a str
        naming an EXISTING snapshot dir (or a child of one) from a prior
        manifest — carrying an unchanged table into the new commit without
        rewriting a byte (vacuum keeps every dir the retained manifests
        reference).

        ``expected_version`` (optional OCC pre-check): conflict immediately
        if the log has moved past the version this writer based its work
        on — saves staging work; the create-if-absent publish is the real
        arbiter.  ``txn`` entries are merged over the based-on manifest's
        ``txn`` map.  Returns the committed version; raises
        ``CommitConflict`` on loss.
        """
        versions = _versions(self.fs, self.logdir)
        # OCC pre-check compares COMPLETE commits only (latest() semantics):
        # a burned manifest must not wedge every expected_version commit
        # forever.  The claim target still skips burned numbers.
        current, based_on = _newest(self.fs, self.logdir, versions)
        if expected_version is not None and current != expected_version:
            raise CommitConflict(f"log at v{current}, expected v{expected_version}")
        target = (versions[-1] if versions else 0) + 1
        # Writer-unique snapshot names: two committers racing for the same
        # target version must never stage into one directory (the manifest,
        # not the name, decides which becomes visible).
        token = uuid.uuid4().hex[:8]
        staged: dict[str, str] = {}
        fresh: list[str] = []
        for name, df in writes.items():
            if isinstance(df, str):  # re-reference an existing snapshot
                staged[name] = df
                continue
            rel = f"{name}__v{target:08d}_{token}"
            df.write.mode("overwrite").parquet(self.spark_path(rel))
            staged[name] = rel
            fresh.append(rel)
        # the writer token makes the payload unique per committer, so a
        # lost-response retry tells "my earlier PUT landed" from a
        # competitor's otherwise byte-identical manifest (possible for
        # carry-forward-only commits)
        payload = json.dumps(
            {
                "version": target,
                "tables": staged,
                "txn": {**based_on.get("txn", {}), **(txn or {})},
                "writer": token,
            }
        ).encode()
        if not self._claim(self.fs.join(self.logdir, f"{target:08d}.json"), payload):
            for rel in fresh:  # lost the race: remove OUR orphans only
                self.fs.delete_tree(self.fs.join(self.base, rel))
            raise CommitConflict(f"version {target} claimed by another writer")
        return target

    def _claim(self, claim: str, payload: bytes) -> bool:
        """Publish the manifest create-if-absent; True when the object at
        ``claim`` is this committer's.  A PUT whose response was lost
        (a connection error or timeout) is retried once: the retry is
        refused if the first landed, and the read-back recognises the
        payload."""
        try:
            won = self.fs.put_bytes_if_absent(claim, payload)
        except (ConnectionError, TimeoutError):
            won = self.fs.put_bytes_if_absent(claim, payload)
        return won or self.fs.read_bytes(claim) == payload

    def commit_retry(
        self,
        compute: "callable",
        max_attempts: int = 16,
    ) -> int:
        """The reference's re-read loop: ``compute(spark_unused, version,
        tables)`` → writes dict, retried until a commit lands."""
        for _ in range(max_attempts):
            version, tables = self.latest()
            writes = compute(version, tables)
            try:
                return self.commit(writes, expected_version=version)
            except CommitConflict:
                continue
        raise CommitConflict(f"no commit after {max_attempts} attempts")

    # -- maintenance -----------------------------------------------------
    def vacuum(self, keep: int = 2, min_age_s: float = 3600.0) -> list[str]:
        """Remove snapshot dirs not referenced by the last ``keep`` complete
        commits (and orphans from crashed/conflicted commits); of a dir
        whose children the manifests name, only the unreferenced children
        go.  Stale entries of the log dir that are not manifests (temps
        of a crashed publish) go too.  Returns the removed paths, relative
        to the base.

        ``min_age_s`` is the retention window (Delta-style): a dir younger
        than this is NEVER removed even if unreferenced, because it may be
        an in-flight committer's staged snapshot that has not claimed its
        manifest yet — deleting it would let the claim succeed and publish
        a manifest pointing at nothing."""
        fs = self.fs
        complete = [m for v in _versions(fs, self.logdir) if (m := self._load(v))]
        live = {rel for m in (complete[-keep:] if keep else []) for rel in m["tables"].values()}
        partly_live = {rel.split("/", 1)[0] for rel in live}
        candidates = [
            f"_txlog/{name}" for name in fs.listdir(self.logdir) if not _is_manifest(name)
        ]
        for name in fs.listdir(self.base):
            if name.startswith("_") or name in live or "__v" not in name:
                continue  # not ours: the snapshot-dir naming convention
            if name not in partly_live:
                candidates.append(name)
                continue
            candidates += [
                f"{name}/{child}"
                for child in fs.listdir(fs.join(self.base, name))
                if f"{name}/{child}" not in live and child[:1] not in "_."
            ]
        cutoff = time.time_ns() - int(min_age_s * 1e9)
        removed = []
        for rel in candidates:
            full = fs.join(self.base, rel)
            if (fs.stat(full) or (0, 0))[1] <= cutoff:  # else maybe in flight
                fs.delete_tree(full)
                removed.append(rel)
        return removed
