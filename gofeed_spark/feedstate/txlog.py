"""Multi-writer atomic multi-table commits over plain parquet — the
feed's one snapshot store (``FeedRunner(storage="txlog")``).

This log provides the piece the reference gets from its DB and Delta
gets from its log protocol — ARBITRATION BETWEEN CONCURRENT
COMMITTERS — using the one primitive every
local/posix filesystem gives us: create-exclusive
(``os.open(..., O_CREAT | O_EXCL)``).  It is the storage-layer twin of the
reference's transaction + optimistic save (repo.go:125-138, 164-170): a
losing committer gets a ``CommitConflict`` and re-reads, exactly the
``dirty=false`` path.

Layout::

    base/_txlog/00000001.json           manifest: {"tables": {name: dir}}
    base/items__v00000001_ab12cd34/     immutable parquet snapshot dirs
    base/partitions__v00000001_ab12cd34/  (writer-unique suffix: racing
                                         committers never share a dir)

Commit protocol (optimistic):

1. resolve the current version V (highest parseable manifest),
2. write every table's new snapshot dir suffixed ``__V+1`` (invisible —
   readers only follow manifests),
3. write the FULL manifest payload to a writer-unique temp file in the
   log dir, fsync it,
4. publish atomically via ``_claim`` — ``os.link(tmp, V+1.json)`` — which
   fails with EEXIST when another committer already published V+1; losers
   remove their orphan snapshot dirs and raise ``CommitConflict``.

A manifest therefore either does not exist or is complete: there is no
claim-to-fsync window in which a competitor's ``latest()`` could observe
V+1 as claimed-but-torn and base a V+2 commit on V (the lost-update race
of a claim-then-write protocol), and no version number is ever "burned"
by a crash mid-manifest-write — a crash before (4) leaves only an
invisible temp file and orphan snapshot dirs, both removed by ``vacuum``.
Readers always see the highest fully-written manifest, which names only
completely-written snapshot dirs.  Multi-table atomicity holds because
one manifest names every table of the commit.  (Readers still skip any
unparseable manifest defensively — e.g. one hand-corrupted on disk.)

Deployment mapping for the arbitration primitive: POSIX filesystems use
hard-link-exclusive (``LinkClaim``, the default); S3 maps to a conditional
PUT (``If-None-Match: *``), GCS to ``x-goog-if-generation-match: 0`` —
same protocol, same guarantees.  The primitive is an injectable
``ClaimBackend`` (``TxLog(base, claim_backend=...)``);
``ConditionalPutClaim`` exercises the object-store semantics — content
upload instead of a link, plus the retry ambiguity unique to conditional
PUTs (success response lost in transit) — so the mapping is tested code,
not a comment.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession


def _versions(logdir: str) -> list[int]:
    """Every manifest number in ``logdir``, ascending ([] when absent)."""
    try:
        names = os.listdir(logdir)
    except FileNotFoundError:
        return []
    out = []
    for name in names:
        stem, ext = os.path.splitext(name)
        if ext == ".json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _load(logdir: str, version: int) -> dict | None:
    try:
        with open(os.path.join(logdir, f"{version:08d}.json")) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None  # burned version (crash mid-write) — skip


def latest_manifest(base: str) -> tuple[int, dict[str, str]]:
    """(version, {table: snapshot dir}) of the newest complete manifest
    under ``base/_txlog``, skipping burned versions; (0, {}) when there is
    none.  Pure JSON, and it never creates ``_txlog/`` — a CDC poll of a
    store nobody has committed to must leave it absent."""
    logdir = os.path.join(base, "_txlog")
    for v in reversed(_versions(logdir)):
        m = _load(logdir, v)
        if m is not None:
            return v, dict(m["tables"])
    return 0, {}


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


class ClaimBackend:
    """The arbitration primitive behind ``TxLog`` commits: atomically
    publish a fully-written manifest at ``claim``, raising
    ``FileExistsError`` when another committer already published this
    version.  Everything else in the protocol is already
    object-store-safe (immutable snapshot dirs, manifest-only
    visibility), so this one method is the entire deployment seam."""

    def claim(self, tmp: str, claim: str) -> None:
        raise NotImplementedError


class LinkClaim(ClaimBackend):
    """POSIX backend: hard link — atomic and create-exclusive on every
    local/posix filesystem, including across processes."""

    def claim(self, tmp: str, claim: str) -> None:
        os.link(tmp, claim)


class ConditionalPutClaim(ClaimBackend):
    """Object-store backend semantics, runnable locally: the manifest
    BYTES are uploaded with create-if-absent (S3 ``PUT`` +
    ``If-None-Match: *``; GCS ``x-goog-if-generation-match: 0``; Azure
    ``If-None-Match: *``) — no hard links exist there.

    Also models the failure mode unique to remote conditional PUTs that
    ``os.link`` never has: the PUT can SUCCEED while the success response
    is lost in transit (timeout, dropped connection).  The client must
    retry, the retry gets 412/precondition-failed, and idempotency is
    recovered by reading the object back and comparing it to the payload
    — which is writer-unique because the manifest carries the committer's
    token.  ``lose_responses=N`` injects that fault for the first N PUTs.

    The store's server-side serialization of conditional PUTs is modeled
    with an in-process lock + atomic rename (objects appear whole or not
    at all, like a real store); the fake therefore arbitrates THREADS, not
    separate processes — it exists to prove the protocol, production use
    would bind a real store client here."""

    def __init__(self, lose_responses: int = 0):
        self.lose_responses = lose_responses
        self._lock = threading.Lock()
        self.puts = 0  # PUTs that landed server-side
        self.recovered = 0  # retries recognizing their own earlier PUT

    def claim(self, tmp: str, claim: str) -> None:
        with open(tmp, "rb") as f:
            payload = f.read()
        while True:
            with self._lock:
                if os.path.exists(claim):
                    with open(claim, "rb") as f:
                        existing = f.read()
                    if existing == payload:
                        # our earlier PUT landed; only its response was
                        # lost — the retry is an idempotent success
                        self.recovered += 1
                        return
                    raise FileExistsError(claim)
                # atomic publish: the object is never readable half-written
                # (the .putting ext keeps it invisible to manifest listing)
                part = claim + ".putting"
                with open(part, "wb") as f:
                    f.write(payload)
                    f.flush()
                    os.fsync(f.fileno())
                os.rename(part, claim)
                self.puts += 1
                if self.lose_responses > 0:
                    self.lose_responses -= 1
                    continue  # response lost → client retries the PUT
                return


class TxLog:
    """Versioned multi-table parquet store with optimistic multi-writer
    commits (see module docstring for the protocol)."""

    def __init__(self, base: str, claim_backend: ClaimBackend | None = None):
        self.base = base
        self.logdir = os.path.join(base, "_txlog")
        self.claim_backend = claim_backend or LinkClaim()
        os.makedirs(self.logdir, exist_ok=True)

    # -- resolution ------------------------------------------------------
    def _load(self, version: int) -> dict | None:
        return _load(self.logdir, version)

    def latest(self) -> tuple[int, dict[str, str]]:
        """(version, {table: snapshot dir}) of the newest complete commit;
        (0, {}) for an empty log."""
        return latest_manifest(self.base)

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
        return spark.read.parquet(os.path.join(self.base, tables[table]))

    # -- commit ----------------------------------------------------------
    def commit(
        self,
        writes: dict[str, DataFrame],
        expected_version: int | None = None,
    ) -> int:
        """Atomically commit new contents for every table in ``writes``.

        A value may be a DataFrame (staged as a new snapshot dir) or a str
        naming an EXISTING snapshot dir from a prior manifest — carrying an
        unchanged table into the new commit without rewriting a byte
        (vacuum keeps every dir the retained manifests reference).

        ``expected_version`` (optional OCC pre-check): conflict immediately
        if the log has moved past the version this writer based its work
        on — saves staging work; the O_EXCL claim is the real arbiter.
        Returns the committed version; raises ``CommitConflict`` on loss.
        """
        versions = _versions(self.logdir)
        # OCC pre-check compares COMPLETE commits only (latest() semantics):
        # a burned manifest must not wedge every expected_version commit
        # forever.  The claim target still skips burned numbers.
        if expected_version is not None:
            current_complete = self.latest()[0]
            if current_complete != expected_version:
                raise CommitConflict(
                    f"log at v{current_complete}, expected v{expected_version}"
                )
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
            df.write.mode("overwrite").parquet(os.path.join(self.base, rel))
            staged[name] = rel
            fresh.append(rel)
        # Write the complete manifest to a writer-unique temp file FIRST
        # (fsynced), then publish it atomically: the manifest never exists
        # in a half-written state, so a competitor's latest() can never
        # observe a claimed-but-torn version and base a commit that drops
        # this one's changes.
        tmp = os.path.join(self.logdir, f".tmp_{target:08d}_{token}.json")
        with open(tmp, "w") as f:
            # the writer token makes the payload unique per committer:
            # ConditionalPutClaim's lost-response retry distinguishes "my
            # earlier PUT landed" from a competitor's byte-identical
            # manifest (possible for carry-forward-only commits)
            json.dump({"version": target, "tables": staged, "writer": token}, f)
            f.flush()
            os.fsync(f.fileno())
        claim = os.path.join(self.logdir, f"{target:08d}.json")
        try:
            self._claim(tmp, claim)
        except FileExistsError:
            for rel in fresh:  # lost the race: remove OUR orphans only
                shutil.rmtree(os.path.join(self.base, rel), ignore_errors=True)
            os.unlink(tmp)
            raise CommitConflict(f"version {target} claimed by another writer") from None
        os.unlink(tmp)  # the published link keeps the inode alive
        return target

    def _claim(self, tmp: str, claim: str) -> None:
        """Publish via the injected arbitration primitive (see
        ``ClaimBackend``): ``LinkClaim`` on POSIX, a conditional-PUT
        backend against an object store."""
        self.claim_backend.claim(tmp, claim)

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
        commits (and orphans from crashed/conflicted commits).  Returns the
        removed dir names.

        ``min_age_s`` is the retention window (Delta-style): a dir younger
        than this is NEVER removed even if unreferenced, because it may be
        an in-flight committer's staged snapshot that has not claimed its
        manifest yet — deleting it would let the claim succeed and publish
        a manifest pointing at nothing."""
        import time

        complete = [v for v in _versions(self.logdir) if self._load(v) is not None]
        keep_versions = complete[-keep:] if keep else []
        live = set()
        for v in keep_versions:
            live.update(self._load(v)["tables"].values())
        removed = []
        now = time.time()
        # Stale manifest temp files (crash between manifest write and
        # publish; crash mid-PUT for the object-store fake) — invisible to
        # readers, reclaimed after the window.
        for name in os.listdir(self.logdir):
            if not (name.startswith(".tmp_") or name.endswith(".putting")):
                continue
            full = os.path.join(self.logdir, name)
            try:
                if now - os.path.getmtime(full) >= min_age_s:
                    os.unlink(full)
                    removed.append(os.path.join("_txlog", name))
            except OSError:
                continue
        for name in os.listdir(self.base):
            if name.startswith("_") or name in live:
                continue
            if "__v" not in name:  # not ours (snapshot-dir naming convention)
                continue
            full = os.path.join(self.base, name)
            try:
                if now - os.path.getmtime(full) < min_age_s:
                    continue  # possibly an in-flight commit's staging
            except OSError:
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(name)
        return removed
