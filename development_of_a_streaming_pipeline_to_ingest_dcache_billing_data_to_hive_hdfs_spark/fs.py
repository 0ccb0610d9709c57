"""Filesystem abstraction for the exactly-once sink and compaction
protocols.

The sink's stage→promote-per-file-rename protocol and compaction's
two-rename swap are designed for HDFS-like stores (rename is a metadata
op), and the reference's deployment target IS Hive-on-HDFS
(`Dcache_kafka_to_hive.py:188-189` STORED AS PARQUET, `:384-385` INSERT
OVERWRITE). This module makes the protocol actually runnable there: a
minimal FS interface (exists / list / rename / delete / mkdirs /
read / atomic-write) with two implementations —

- ``LocalFS``: plain ``os`` / ``shutil``, for bare paths, moving a
  file's ``.crc`` checksum along with it as Hadoop does on ``file://``;
- ``HadoopFS``: the JVM's ``org.apache.hadoop.fs.FileSystem`` resolved
  per-path through py4j, for any URI path (``hdfs://``, ``s3a://``,
  ``file://``, …). Whatever store the Hadoop conf can mount, the
  exactly-once protocol now runs against.

Dispatch is by path shape (``get_filesystem``): a ``scheme://`` URI
routes to Hadoop, a bare path to the local impl. Tests exercise the
Hadoop impl through ``file://`` URIs — same code path as ``hdfs://``,
no cluster needed.

Cost model of ``HadoopFS``: every JVM call is one py4j round trip
(≈0.1–0.3 ms locally); dropped JVM objects are released later from
py4j's finalizer thread. The JVM classes and static methods used are
resolved once per gateway (a ``jvm.org.apache.hadoop.fs.Path`` lookup
alone costs one reflection round trip per name segment), the
``FileSystem`` once per instance and store, and each argument's
``Path`` once per operation. So ``exists``/``is_dir``/``mkdirs``/
``delete`` cost 2 round trips, ``rename`` 4, ``read_text`` 5 and
``write_text_atomic`` 7. A listing never iterates a JVM array from
Python (two round trips per element, plus one per getter): the JVM
renders the array as JSON text, fetched in pieces below the 8 KiB at
which a py4j answer stalls ~40 ms. So ``list_entries`` and
``list_nested_files`` (one ``globStatus`` over a table's partition
dirs and their files) each cost about 14 round trips, plus one per
~4000 characters of listing.

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

import json
import os
import re
import shutil
import tempfile
import weakref

from pyspark.sql import SparkSession


# names Spark's file listing skips: staging, manifests, scratch, checksums
HIDDEN_PREFIXES = ("_", ".")


def _checksum_file(path: str) -> str:
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.crc")


def _follow_checksum(src: str, dst: str) -> None:
    """After a file moved from ``src`` to ``dst``, move its
    ``.<name>.crc`` checksum along, or drop a stale one at ``dst`` —
    the rule of Hadoop's checksummed rename on ``file://``, so a file
    keeps its verification (and never gets a wrong one) whichever impl
    moved it."""
    src_crc, dst_crc = _checksum_file(src), _checksum_file(dst)
    if os.path.exists(src_crc):
        os.replace(src_crc, dst_crc)
    elif os.path.exists(dst_crc):
        os.remove(dst_crc)


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
        with os.scandir(path) as it:
            return [(e.name, e.is_dir()) for e in it]

    def list_nested_files(self, path: str) -> list[tuple[str, str]]:
        """(dir, file) names of each file one level inside each
        subdirectory of path — a table's partition dirs and their data
        files. Names starting with ``_`` or ``.`` are skipped at both
        levels, as Spark's reader skips them; [] if path is absent."""
        out = []
        for d, d_is_dir in self.list_entries(path):
            if d_is_dir and not d.startswith(HIDDEN_PREFIXES):
                out += [
                    (d, f)
                    for f, f_is_dir in self.list_entries(os.path.join(path, d))
                    if not f_is_dir and not f.startswith(HIDDEN_PREFIXES)
                ]
        return out

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
        else:
            os.replace(src, dst)
        _follow_checksum(src, dst)

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
        _follow_checksum(tmp, path)


class _JvmHandles:
    """The JVM classes and static methods ``HadoopFS`` calls, resolved
    once per py4j gateway: each ``jvm.a.b.C`` lookup is one reflection
    round trip per name segment."""

    def __init__(self, jvm):
        self.path = jvm.org.apache.hadoop.fs.Path
        self.stat2paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths
        lang3 = jvm.org.apache.commons.lang3
        self.renderer = lang3.builder.ReflectionToStringBuilder
        self.json_style = lang3.builder.ToStringStyle.JSON_STYLE


# py4j writes an answer of 8 KiB or more in two pieces, and the second
# waits ~40 ms for the delayed ACK of the first (Nagle's algorithm on
# loopback): long answers are fetched in pieces below that size. py4j
# escapes a backslash as two characters, hence half of 8 KiB.
_ANSWER_CHARS = 4000
# base64 on the wire: 4 characters per 3 bytes
_ANSWER_BYTES = 6000

# gateway client -> _JvmHandles. Module-level because HadoopFS instances
# are short-lived (most callers make one per call); an entry dies with
# its gateway.
_HANDLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

_GLOB_SPECIAL = re.compile(r"([\\*?\[\]{}])")
_SCHEME_AUTHORITY = re.compile(r"([^/:]+:)?(//[^/]*)?")


def _glob_literal(path: str) -> str:
    """``path`` as a Hadoop glob that matches only itself: the glob
    characters of its path part escaped (scheme and authority are never
    globbed)."""
    head = _SCHEME_AUTHORITY.match(path).group(0)
    return head + _GLOB_SPECIAL.sub(r"\\\1", path[len(head):])


class HadoopFS:
    """``org.apache.hadoop.fs.FileSystem`` impl for URI paths, resolved
    per-path so one instance serves mixed stores (``hdfs://`` warehouse,
    ``file://`` scratch). Needs a live SparkSession for the JVM gateway
    and the Hadoop configuration (kerberos, defaultFS, s3a keys …)."""

    def __init__(self, spark: SparkSession):
        client = spark._jvm._gateway_client
        if client not in _HANDLES:
            _HANDLES[client] = _JvmHandles(spark._jvm)
        self._jvm = _HANDLES[client]
        self._conf = spark._jsc.hadoopConfiguration()
        # "scheme://authority" -> FileSystem, Hadoop's own cache key
        self._stores: dict[str, object] = {}

    def _p(self, path: str):
        return self._jvm.path(path)

    def _resolve(self, path: str):
        """(FileSystem serving ``path``, its ``Path``)."""
        p = self._p(path)
        key = _SCHEME_AUTHORITY.match(path).group(0).lower()
        fs = self._stores.get(key)
        if fs is None:
            fs = self._stores[key] = p.getFileSystem(self._conf)
        return fs, p

    def _render(self, array) -> list[str]:
        """The ``toString`` of each element of a JVM array, rendered
        JVM-side as a JSON array of strings (ASCII: every other
        character is escaped), so no character of a name can split an
        element. Four calls, plus one per ``_ANSWER_CHARS`` of text."""
        rendering = self._jvm.renderer(array, self._jvm.json_style)
        text = rendering.reflectionAppendArray(array).getStringBuffer()
        n = text.length()
        json_text = "".join(
            text.substring(i, min(i + _ANSWER_CHARS, n))
            for i in range(0, n, _ANSWER_CHARS)
        )
        return json.loads(json_text[1:])  # after the rendering's opening {

    def _statuses(self, stats) -> list[tuple[str, bool]]:
        """(path, is_dir) for each ``FileStatus`` of a JVM array, from
        two renderings whatever its length: the paths, and the statuses,
        whose ``toString`` (``…{path=<path>; isDirectory=<bool>; …``)
        carries the flag right after the exactly known path."""
        out = []
        for path, shown in zip(
            self._render(self._jvm.stat2paths(stats)), self._render(stats)
        ):
            head = "{path=" + path + "; isDirectory="
            at = shown.find("{")
            if not shown.startswith(head, at):
                raise OSError(f"unrecognized FileStatus rendering: {shown!r}")
            out.append((path, shown.startswith("true", at + len(head))))
        return out

    def exists(self, path: str) -> bool:
        fs, p = self._resolve(path)
        return fs.exists(p)

    def is_dir(self, path: str) -> bool:
        fs, p = self._resolve(path)
        return fs.isDirectory(p)  # false when absent

    def list_entries(self, path: str) -> list[tuple[str, bool]]:
        fs, p = self._resolve(path)
        if not fs.isDirectory(p):
            return []
        return [
            (full.rsplit("/", 1)[1], is_dir)
            for full, is_dir in self._statuses(fs.listStatus(p))
        ]

    def list_nested_files(self, path: str) -> list[tuple[str, str]]:
        """As ``LocalFS.list_nested_files``: one glob over both levels,
        whose ``[!_.]*`` components skip the hidden names."""
        visible = "[!_.]*"  # a name not starting with HIDDEN_PREFIXES
        pattern = f"{_glob_literal(path.rstrip('/'))}/{visible}/{visible}"
        fs, p = self._resolve(pattern)
        out = []
        for full, is_dir in self._statuses(fs.globStatus(p)):
            if not is_dir:
                _root, d, f = full.rsplit("/", 2)
                out.append((d, f))
        return out

    def list_files_recursive(self, path: str) -> list[tuple[str, int]]:
        return [(os.path.basename(r), n) for r, n, _ in self.file_stats(path)]

    def file_stats(self, path: str) -> list[tuple[str, int, int]]:
        """As ``LocalFS.file_stats``; mtime is in milliseconds (the
        Hadoop FileStatus resolution)."""
        fs, p = self._resolve(path)
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
        fs, p = self._resolve(path)
        fs.mkdirs(p)

    def rename(self, src: str, dst: str, overwrite: bool = False) -> None:
        fs, p_src = self._resolve(src)
        self._rename(fs, p_src, src, dst, overwrite)

    def _rename(self, fs, p_src, src: str, dst: str, overwrite: bool) -> None:
        """``rename`` with ``src``'s FileSystem and Path already built."""
        p_dst = self._p(dst)
        if overwrite:
            # delete-then-rename: NOT atomic — callers must tolerate the
            # dst-absent window (the ledger does; see module docstring).
            # Deleting an absent dst is a no-op returning false.
            fs.delete(p_dst, True)
        elif fs.exists(p_dst):
            # Hadoop's rename does NOT uniformly fail on an existing dst:
            # when dst is a DIRECTORY it moves src INTO it (dst/srcName,
            # returns true) — the swap protocol's rename(tmp, pdir) would
            # then bury the compacted files one level deep and readers
            # would see an empty partition. Refuse explicitly, matching
            # LocalFS; the residual check-then-act window is serialized
            # by the warehouse lock like the local impl's.
            raise FileExistsError(f"rename target exists: {dst}")
        if not fs.rename(p_src, p_dst):
            raise OSError(f"hadoop rename failed: {src} -> {dst}")

    def delete(self, path: str, recursive: bool = False) -> None:
        fs, p = self._resolve(path)
        fs.delete(p, recursive)

    def read_text(self, path: str) -> str:
        fs, p = self._resolve(path)
        # one probe: a missing file raised from open() would cost a
        # Java exception's conversion, many more round trips
        if not fs.exists(p):
            raise FileNotFoundError(path)
        stream = fs.open(p)
        try:
            chunks = [stream.readNBytes(_ANSWER_BYTES)]
            while len(chunks[-1]) == _ANSWER_BYTES:
                chunks.append(stream.readNBytes(_ANSWER_BYTES))
        finally:
            stream.close()
        return b"".join(chunks).decode("utf-8")

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        fs, p_tmp = self._resolve(tmp)
        out = fs.create(p_tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        self._rename(fs, p_tmp, tmp, path, overwrite=True)


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
