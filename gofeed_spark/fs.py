"""Pluggable filesystem layer for the artifact lifecycle.

Spark's PARQUET relations already travel through Hadoop's scheme-addressed
FileSystem API (``hdfs://``, ``s3a://`` — nothing here re-implements that
data plane).  What did NOT was this engine's small-file artifact
lifecycle: index metas and pointer flips (``_index_meta.json``), staging
reclamation, WARC archive objects, directory listings and tree stats —
all raw ``os.*`` / ``open()`` calls that silently assumed one shared POSIX
filesystem (fine on ``local[32]``, broken the day an executor and the
driver stop sharing a disk).  This module is the single seam — the Delta
and Iceberg logs and the feed's txlog (``feedstate/txlog.py``) commit
through it too: every artifact path resolves to a backend by URI scheme.

Two backend SHAPES ship:

- ``LocalFileSystem`` — POSIX; the default for schemeless / ``file:``
  paths.  Atomic publish = write a writer-unique temp + ``os.replace``;
  create-if-absent = fsynced temp + ``os.link``.
- ``ObjectStoreFileSystem`` — object-store SEMANTICS enforced by the base
  class over a pluggable four-op transport (get / put / list / delete):
  whole-object atomic PUT is the ONLY write, directories are virtual
  (prefix listings), per-object delete, and **no rename** —
  ``rename`` raises, which is exactly why the index lifecycle publishes
  by meta pointer flip rather than directory swap.  The in-repo
  ``DirObjectStoreFileSystem`` transport backs objects onto a local
  directory (so Spark's data plane reads the same bytes through
  ``spark_path()``); a real S3/GCS deployment subclasses and swaps the
  four transport ops for its SDK while ``spark_path`` returns the
  Hadoop-readable ``s3a://``/``gs://`` URI unchanged.

Resolution: ``get_filesystem(path)`` keys on the path's URI scheme.
Custom schemes are registered per-process (``register_filesystem``);
executor-side code must close over the RESOLVED FileSystem instance
(they pickle cleanly) rather than re-resolving from the registry, which
lives in driver memory.
"""

from __future__ import annotations

import os
import posixpath
import shutil
import uuid


class FsUnsupported(RuntimeError):
    """The backend cannot perform this operation (e.g. rename on an
    object store) — callers branch on ``supports_rename()`` instead of
    catching this in the normal path."""


def _split_scheme(path: str) -> tuple[str, str]:
    if "://" in path:
        scheme, rest = path.split("://", 1)
        return scheme, rest
    if path.startswith("file:"):
        return "file", path[5:]
    return "", path


def _write_temp(local: str, data: bytes, sync: bool = False) -> str:
    """Write ``data`` to a writer-unique ``<local>.<token>.tmp`` sibling
    (fsynced when ``sync``) and return its path; no temp survives a
    failed write."""
    os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
    tmp = f"{local}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "wb") as f:
            f.write(data)
            if sync:
                f.flush()
                os.fsync(f.fileno())
    except BaseException:
        os.unlink(tmp)
        raise
    return tmp


def _link_if_absent(local: str, data: bytes) -> bool:
    """Create-if-absent that publishes WHOLE: hard-link a complete,
    fsynced temp into place (atomic and exclusive on POSIX), so no reader
    and no crash ever sees an empty or partial object at ``local``."""
    tmp = _write_temp(local, data, sync=True)
    try:
        os.link(tmp, local)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


def _replace_whole(local: str, data: bytes) -> None:
    """Atomic overwrite from a writer-unique temp: racing writers never
    take each other's temp, and a failed replace leaves none behind."""
    tmp = _write_temp(local, data)
    try:
        os.replace(tmp, local)
    except BaseException:
        os.unlink(tmp)
        raise


class FileSystem:
    """Artifact-lifecycle operations every backend provides.  Paths are
    the caller's logical paths (scheme included for remote backends)."""

    def join(self, path: str, *parts: str) -> str:
        return posixpath.join(path, *parts)

    # --- data plane bridge -------------------------------------------------
    def spark_path(self, path: str) -> str:
        """URI Spark/Hadoop can address for parquet/binaryFile I/O at this
        logical path.  Identity for POSIX and for real object stores
        (Hadoop speaks s3a:// natively); the dir-backed test transport
        maps to its backing directory."""
        raise NotImplementedError

    # --- object ops --------------------------------------------------------
    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def read_bytes_range(self, path: str, offset: int, length: int) -> bytes:
        """``length`` bytes starting at ``offset`` — the CDX/wayback fetch
        primitive (HTTP ``Range: bytes=`` on an object store).  Default
        reads the whole object and slices; backends with native ranged
        reads override (LocalFileSystem seeks)."""
        return self.read_bytes(path)[offset : offset + length]

    def put_bytes(self, path: str, data: bytes) -> None:
        """ATOMIC whole-object publish: readers observe the old bytes or
        the new bytes, never a torn write.  This is the commit primitive
        the pointer-flip index publish relies on."""
        raise NotImplementedError

    def put_bytes_if_absent(self, path: str, data: bytes) -> bool:
        """Create-if-absent publish: write ``data`` only if no object
        exists at ``path``; returns whether THIS call created it.  This is
        the commit-ARBITRATION primitive (two racing writers publishing
        the same table version: exactly one True), and the object appears
        WHOLE or not at all — POSIX backends hard-link a complete temp,
        object stores use a conditional PUT (``If-None-Match: *``).
        The base implementation is probe-then-put, which leaves the
        classic TOCTOU window; backends with a native conditional
        primitive MUST override (both in-repo backends do)."""
        if self.exists(path):
            return False
        self.put_bytes(path, data)
        return True

    def delete(self, path: str) -> None:
        raise NotImplementedError

    # --- tree ops ----------------------------------------------------------
    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Immediate child names ([] when absent — callers treat a missing
        dir as empty, the object-store norm)."""
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def delete_tree(self, path: str) -> None:
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        raise FsUnsupported(f"{type(self).__name__} does not support rename")

    def supports_rename(self) -> bool:
        return False

    def stat(self, path: str) -> tuple[int, int] | None:
        """(size_bytes, mtime_ns) of an object, or None if absent.  A
        directory has its own mtime on POSIX; an object store's virtual
        dir reports its objects' total size and newest mtime."""
        raise NotImplementedError

    def tree_stats(self, path: str, suffix: str = ".parquet") -> tuple[int, int]:
        """(file_count, total_bytes) over ``suffix`` files under ``path``
        recursively — the compactor's sizing input."""
        raise NotImplementedError

    def walk_files(self, path: str) -> list[tuple[str, int]]:
        """(relative_key, size_bytes) for every file under ``path``
        recursively, '/'-separated relative keys, sorted — the copy-publish
        and sizing primitive (hidden ``_``/``.`` entries included; callers
        filter)."""
        raise NotImplementedError


class LocalFileSystem(FileSystem):
    """POSIX backend — schemeless and ``file:`` paths."""

    @staticmethod
    def _local(path: str) -> str:
        _scheme, rest = _split_scheme(path)
        return rest or path

    def spark_path(self, path: str) -> str:
        return path

    def read_bytes(self, path: str) -> bytes:
        with open(self._local(path), "rb") as f:
            return f.read()

    def read_bytes_range(self, path: str, offset: int, length: int) -> bytes:
        with open(self._local(path), "rb") as f:
            f.seek(offset)
            return f.read(length)

    def put_bytes(self, path: str, data: bytes) -> None:
        _replace_whole(self._local(path), data)

    def put_bytes_if_absent(self, path: str, data: bytes) -> bool:
        return _link_if_absent(self._local(path), data)

    def delete(self, path: str) -> None:
        try:
            os.remove(self._local(path))
        except FileNotFoundError:
            pass

    def exists(self, path: str) -> bool:
        return os.path.exists(self._local(path))

    def isdir(self, path: str) -> bool:
        return os.path.isdir(self._local(path))

    def listdir(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(self._local(path)))
        except FileNotFoundError:
            return []

    def makedirs(self, path: str) -> None:
        os.makedirs(self._local(path), exist_ok=True)

    def delete_tree(self, path: str) -> None:
        local = self._local(path)
        if os.path.isdir(local):
            shutil.rmtree(local, ignore_errors=True)
        elif os.path.exists(local):
            os.remove(local)

    def rename(self, src: str, dst: str) -> None:
        os.rename(self._local(src), self._local(dst))

    def supports_rename(self) -> bool:
        return True

    def stat(self, path: str) -> tuple[int, int] | None:
        try:
            st = os.stat(self._local(path))
        except OSError:
            return None
        return st.st_size, st.st_mtime_ns

    def tree_stats(self, path: str, suffix: str = ".parquet") -> tuple[int, int]:
        local = self._local(path)
        n = total = 0
        for r, _dirs, files in os.walk(local):
            for f in files:
                if f.endswith(suffix):
                    n += 1
                    total += os.path.getsize(os.path.join(r, f))
        return n, total

    def walk_files(self, path: str) -> list[tuple[str, int]]:
        local = self._local(path)
        out = []
        for r, _dirs, files in os.walk(local):
            for f in files:
                full = os.path.join(r, f)
                rel = os.path.relpath(full, local).replace(os.sep, "/")
                out.append((rel, os.path.getsize(full)))
        return sorted(out)


class ObjectStoreFileSystem(FileSystem):
    """Object-store-shaped backend: semantics in this base class,
    byte transport in four overridable ops.  Keys are the path with the
    scheme stripped (``fakefs://bucket/a/b`` → key ``bucket/a/b``)."""

    scheme: str = ""

    # --- transport (subclass seam) ----------------------------------------
    def _get(self, key: str) -> bytes:
        raise NotImplementedError

    def _put(self, key: str, data: bytes) -> None:
        raise NotImplementedError

    def _list(self, prefix: str):
        """Iterate (key, size_bytes, mtime_ns) for every object whose key
        starts with ``prefix``."""
        raise NotImplementedError

    def _delete(self, key: str) -> None:
        raise NotImplementedError

    # --- semantics ---------------------------------------------------------
    def _key(self, path: str) -> str:
        scheme, rest = _split_scheme(path)
        if scheme != self.scheme:
            raise ValueError(f"path {path!r} is not on scheme {self.scheme!r}")
        return rest.strip("/")

    def read_bytes(self, path: str) -> bytes:
        return self._get(self._key(path))

    def put_bytes(self, path: str, data: bytes) -> None:
        self._put(self._key(path), data)  # single PUT = atomic

    def delete(self, path: str) -> None:
        self._delete(self._key(path))

    def exists(self, path: str) -> bool:
        if self.stat(path) is not None:
            return True
        return self.isdir(path)

    def isdir(self, path: str) -> bool:
        prefix = self._key(path) + "/"
        return any(True for _ in self._list(prefix))

    def listdir(self, path: str) -> list[str]:
        prefix = self._key(path) + "/"
        names = set()
        for key, _size, _mt in self._list(prefix):
            rest = key[len(prefix):]
            if rest:
                names.add(rest.split("/", 1)[0])
        return sorted(names)

    def makedirs(self, path: str) -> None:
        pass  # directories are virtual

    def delete_tree(self, path: str) -> None:
        key = self._key(path)
        for k, _size, _mt in list(self._list(key + "/")):
            self._delete(k)
        if self.stat(path) is not None:
            self._delete(key)

    def stat(self, path: str) -> tuple[int, int] | None:
        key = self._key(path)
        total, newest = 0, None
        for k, size, mt in self._list(key):
            if k == key:
                return size, mt
            if k.startswith(key + "/"):  # under a virtual dir
                total, newest = total + size, max(mt, newest or 0)
        return None if newest is None else (total, newest)

    def tree_stats(self, path: str, suffix: str = ".parquet") -> tuple[int, int]:
        prefix = self._key(path) + "/"
        n = total = 0
        for key, size, _mt in self._list(prefix):
            if key.endswith(suffix):
                n += 1
                total += size
        return n, total

    def walk_files(self, path: str) -> list[tuple[str, int]]:
        prefix = self._key(path) + "/"
        return sorted(
            (key[len(prefix):], size)
            for key, size, _mt in self._list(prefix)
            if key[len(prefix):]
        )


class DirObjectStoreFileSystem(ObjectStoreFileSystem):
    """Object-store transport over a local backing directory — the
    in-repo reference/testing backend.  Spark's data plane reads/writes
    the backing dir directly through ``spark_path``, while every artifact
    op goes through strict object semantics (no rename, PUT-only writes),
    so any code path still doing raw ``os.*`` on the LOGICAL
    ``scheme://`` path fails loudly (no such local file).  Picklable:
    executor closures carry (scheme, root)."""

    def __init__(self, scheme: str, root: str):
        self.scheme = scheme
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    def spark_path(self, path: str) -> str:
        return os.path.join(self.root, self._key(path))

    def _backing(self, key: str) -> str:
        return os.path.join(self.root, key)

    def _get(self, key: str) -> bytes:
        with open(self._backing(key), "rb") as f:
            return f.read()

    def _put(self, key: str, data: bytes) -> None:
        _replace_whole(self._backing(key), data)

    def put_bytes_if_absent(self, path: str, data: bytes) -> bool:
        # the conditional-PUT analogue (If-None-Match: *) the real
        # object-store subclass maps to its SDK: the object appears whole
        return _link_if_absent(self._backing(self._key(path)), data)

    def _list(self, prefix: str):
        base = self._backing(prefix)
        if prefix.endswith("/"):
            walk_root, key_prefix = base, prefix
        else:
            # prefix listing may match a single object or a subtree
            if os.path.isfile(base):
                st = os.stat(base)
                yield prefix, st.st_size, st.st_mtime_ns
                return
            walk_root, key_prefix = base, prefix + "/"
        if not os.path.isdir(walk_root):
            return
        for r, _dirs, files in os.walk(walk_root):
            for f in files:
                full = os.path.join(r, f)
                rel = os.path.relpath(full, self.root).replace(os.sep, "/")
                st = os.stat(full)
                yield rel, st.st_size, st.st_mtime_ns

    def _delete(self, key: str) -> None:
        try:
            os.remove(self._backing(key))
        except FileNotFoundError:
            pass
        # prune now-empty backing dirs so isdir() stays honest
        d = os.path.dirname(self._backing(key))
        while d.startswith(self.root) and d != self.root:
            try:
                os.rmdir(d)
            except OSError:
                break
            d = os.path.dirname(d)


_LOCAL = LocalFileSystem()
_REGISTRY: dict[str, FileSystem] = {}


def register_filesystem(scheme: str, fs: FileSystem) -> None:
    """Register a backend for ``scheme`` (process-wide, driver-side)."""
    _REGISTRY[scheme] = fs


def unregister_filesystem(scheme: str) -> None:
    _REGISTRY.pop(scheme, None)


def get_filesystem(path: str) -> FileSystem:
    """Resolve the backend for a logical path by URI scheme; schemeless
    and ``file:`` paths are POSIX-local."""
    scheme, _rest = _split_scheme(path)
    if scheme in ("", "file"):
        return _LOCAL
    try:
        return _REGISTRY[scheme]
    except KeyError:
        raise ValueError(
            f"no filesystem registered for scheme {scheme!r} "
            f"(register one with gofeed_spark.fs.register_filesystem)"
        ) from None
