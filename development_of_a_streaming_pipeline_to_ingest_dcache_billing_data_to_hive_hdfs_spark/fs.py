"""Filesystem abstraction for the exactly-once sink and compaction
protocols.

The sink's stage→promote-per-file-rename protocol and compaction's
two-rename swap are designed for HDFS-like stores (rename is a metadata
op), and the reference's deployment target IS Hive-on-HDFS
(`Dcache_kafka_to_hive.py:188-189` STORED AS PARQUET, `:384-385` INSERT
OVERWRITE). This module makes the protocol actually runnable there: a
minimal FS interface (exists / list / rename / delete / mkdirs /
read / atomic-write) with two implementations —

- ``LocalFS``: plain ``os`` / ``shutil``, for bare paths;
- ``HadoopFS``: the JVM's ``org.apache.hadoop.fs.FileSystem`` resolved
  per-path through py4j, for any URI path (``hdfs://``, ``s3a://``,
  ``file://``, …). Whatever store the Hadoop conf can mount, the
  exactly-once protocol now runs against.

Dispatch is by path shape (``get_filesystem``): a ``scheme://`` URI
routes to Hadoop, a bare path to the local impl. Tests exercise the
Hadoop impl through ``file://`` URIs — same code path as ``hdfs://``,
no cluster needed.

Rename semantics (the protocol's load-bearing op): ``rename`` with
``overwrite=False`` requires the destination to be absent on both
impls — Hadoop's rename returns false if dst exists, and the local impl
checks explicitly so a protocol bug cannot silently clobber on one impl
and crash on the other. ``overwrite=True`` (ledger swap only) is
``os.replace`` locally — atomic — and delete-then-rename on Hadoop,
which leaves a crash window with NO ledger file: the replay then
re-runs the in-flight batch, which its batch manifest makes idempotent,
so the window is safe (documented at the ledger).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


class LocalFS:
    """``os``/``shutil``-backed impl for bare (scheme-less) paths."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_entries(self, path: str) -> list[tuple[str, bool]]:
        """(name, is_dir) for each direct child; [] if path is absent."""
        if not os.path.isdir(path):
            return []
        return [
            (d, os.path.isdir(os.path.join(path, d)))
            for d in os.listdir(path)
        ]

    def list_files_recursive(self, path: str) -> list[tuple[str, int]]:
        """(basename, size) for every file under path, any depth."""
        return [(os.path.basename(r), n) for r, n, _ in self.file_stats(path)]

    def file_stats(self, path: str) -> list[tuple[str, int, int]]:
        """(path relative to ``path``, size, mtime) for every file under
        path, any depth; a file path is its own one entry (named by its
        basename), an absent path has none. mtime is in nanoseconds."""
        if os.path.isfile(path):
            st = os.stat(path)
            return [(os.path.basename(path), st.st_size, st.st_mtime_ns)]
        out = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), path)
                out.append((rel, st.st_size, st.st_mtime_ns))
        return out

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str, overwrite: bool = False) -> None:
        if not overwrite:
            # exists()-then-replace is check-then-act: two racing
            # promoters both pass the check and the second silently
            # clobbers the first. os.rename (NOT os.replace) fails with
            # FileExistsError atomically on Windows; POSIX os.rename
            # overwrites, so there take an O_EXCL lock-by-link via a
            # hardlink of a sentinel: link() is atomic and raises
            # FileExistsError if dst exists. For DIRECTORIES (the swap
            # protocol's case) link() is unavailable — use rename onto
            # the dst path only after an atomic mkdir claim.
            if os.path.isdir(src):
                import errno

                # POSIX os.rename silently REPLACES an existing empty dst
                # directory — the one case errno can't catch — which
                # would diverge from Hadoop (rename returns false there):
                # exactly the cross-impl split this module exists to
                # preclude. The explicit pre-check closes it; the
                # check-then-rename window that remains is only reachable
                # by two concurrent mutators, which the warehouse lock
                # protocol already forbids (and a non-empty racer still
                # fails atomically via ENOTEMPTY below).
                if os.path.lexists(dst):
                    raise FileExistsError(f"rename target exists: {dst}")
                try:
                    os.rename(src, dst)
                    return
                except OSError as e:
                    if e.errno in (errno.ENOTEMPTY, errno.EEXIST, errno.ENOTDIR):
                        raise FileExistsError(
                            f"rename target exists: {dst}"
                        ) from e
                    raise
            try:
                os.link(src, dst)
            except FileExistsError:
                raise FileExistsError(f"rename target exists: {dst}")
            os.unlink(src)
            return
        os.replace(src, dst)

    def delete(self, path: str, recursive: bool = False) -> None:
        if os.path.isdir(path):
            if recursive:
                shutil.rmtree(path)
            else:
                os.rmdir(path)
        elif os.path.exists(path):
            os.remove(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        # dot-prefixed temp name: some targets (e.g. the filestats
        # index) live INSIDE directories Spark scans, and a crash
        # between create and replace must leave a file Spark's listing
        # ignores, not a bogus "data" file that breaks every read
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(path) or ".", prefix=".tmp-"
        )
        with os.fdopen(fd, "w") as f:
            f.write(text)
        os.replace(tmp, path)


class HadoopFS:
    """``org.apache.hadoop.fs.FileSystem`` impl for URI paths, resolved
    per-path so one instance serves mixed stores (``hdfs://`` warehouse,
    ``file://`` scratch). Needs a live SparkSession for the JVM gateway
    and the Hadoop configuration (kerberos, defaultFS, s3a keys …)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._p(path).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        return self._fs(path).exists(self._p(path))

    def is_dir(self, path: str) -> bool:
        fs, p = self._fs(path), self._p(path)
        return fs.exists(p) and fs.getFileStatus(p).isDirectory()

    def list_entries(self, path: str) -> list[tuple[str, bool]]:
        fs, p = self._fs(path), self._p(path)
        if not (fs.exists(p) and fs.getFileStatus(p).isDirectory()):
            return []
        return [
            (st.getPath().getName(), st.isDirectory())
            for st in fs.listStatus(p)
        ]

    def list_files_recursive(self, path: str) -> list[tuple[str, int]]:
        return [(os.path.basename(r), n) for r, n, _ in self.file_stats(path)]

    def file_stats(self, path: str) -> list[tuple[str, int, int]]:
        """As ``LocalFS.file_stats``; mtime is in milliseconds (the
        Hadoop FileStatus resolution)."""
        fs, p = self._fs(path), self._p(path)
        if not fs.exists(p):
            return []
        root = fs.getFileStatus(p).getPath().toUri().getPath().rstrip("/")
        out = []
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            full = st.getPath().toUri().getPath()
            rel = full[len(root) + 1:] if full != root else st.getPath().getName()
            out.append((rel, st.getLen(), st.getModificationTime()))
        return out

    def mkdirs(self, path: str) -> None:
        self._fs(path).mkdirs(self._p(path))

    def rename(self, src: str, dst: str, overwrite: bool = False) -> None:
        fs = self._fs(src)
        if overwrite and fs.exists(self._p(dst)):
            # delete-then-rename: NOT atomic — callers must tolerate the
            # dst-absent window (the ledger does; see module docstring)
            fs.delete(self._p(dst), True)
        elif not overwrite and fs.exists(self._p(dst)):
            # Hadoop's rename does NOT uniformly fail on an existing dst:
            # when dst is a DIRECTORY it moves src INTO it (dst/srcName,
            # returns true) — the swap protocol's rename(tmp, pdir) would
            # then bury the compacted files one level deep and readers
            # would see an empty partition. Refuse explicitly, matching
            # LocalFS; the residual check-then-act window is serialized
            # by the warehouse lock like the local impl's.
            raise FileExistsError(f"rename target exists: {dst}")
        if not fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"hadoop rename failed: {src} -> {dst}")

    def delete(self, path: str, recursive: bool = False) -> None:
        self._fs(path).delete(self._p(path), recursive)

    def read_text(self, path: str) -> str:
        fs, p = self._fs(path), self._p(path)
        if not fs.exists(p):
            raise FileNotFoundError(path)
        stream = fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        out = self._fs(tmp).create(self._p(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        self.rename(tmp, path, overwrite=True)


def get_filesystem(path: str, spark: SparkSession | None = None):
    """FS impl for ``path``: ``scheme://`` URIs route to the Hadoop
    FileSystem (resolved from the session's Hadoop conf), bare paths to
    the local ``os`` impl. ``spark`` defaults to the active session —
    required only for URI paths."""
    if "://" in path:
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"URI path {path!r} needs a SparkSession for the Hadoop "
                "FileSystem; none active"
            )
        return HadoopFS(spark)
    return LocalFS()
