"""Filesystem metadata I/O for the persistent streaming indexes, routed
through the Hadoop FileSystem API so index paths can live on ANY
Spark-reachable filesystem (local, HDFS, S3A, ABFS, DBFS), not just the
driver's local disk (r08 ADVICE: ``os.listdir`` discovery broke on
object-store URIs).

Design notes:

- Every helper resolves the filesystem FROM THE PATH via
  ``Path.getFileSystem`` on the active session's Hadoop configuration —
  a plain ``/tmp/...`` path hits ``RawLocalFileSystem`` (bit-identical
  behavior to the old ``os.*`` calls, which is what the streaming test
  suite pins), an ``s3a://...`` path hits whatever connector the
  cluster ships.
- These are METADATA ops (per-batch directory listings, the pinned
  ``_meta.json``, compaction staging): a few py4j round-trips per
  micro-batch, never per row.
- ``rename`` refuses an existing destination BEFORE calling Hadoop —
  ``FileSystem.rename`` would otherwise move the source INSIDE an
  existing destination directory on some implementations (POSIX-style),
  silently corrupting the compaction layout where ``os.rename`` raised.
- Object-store caveat the compaction protocol already absorbs: S3A's
  rename is a copy-then-delete, not atomic. The staged protocol
  (``_SUCCESS``-gated staging dir, originals deleted only after staging
  is complete, recovery on entry) never depends on rename atomicity —
  a crash mid-rename leaves a complete ``_SUCCESS``-ed staging dir and
  the recovery path finishes the move.
- ``sources/sinks.upsert_parquet``'s staging uses the same protocol on
  local paths; migrating it to these helpers is mechanical when an
  object-store deployment needs it.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import SparkSession

# Hadoop accepts single-slash scheme URIs too (file:/tmp/x), so scheme
# detection must match "scheme:" prefixes, not just "://".
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def _local_only(path: str) -> bool:
    """True when no SparkSession is active AND the path carries no URI
    scheme — i.e. a plain local path that ``os.*`` can serve directly.
    This keeps session-less probes working (r09 ADVICE: a monitoring or
    cron process calling ``needs_compaction`` between stopped jobs was
    documented as 'pure local-FS metadata walk' and must not require
    building a JVM just to stat directories). Scheme-qualified paths
    (``s3a://``, ``hdfs://``, even ``file:/``) still require a session,
    since only Hadoop can resolve their connectors."""
    return SparkSession.getActiveSession() is None and not _SCHEME_RE.match(path)


def _fs_path(path: str):
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "fsio needs an active SparkSession to resolve the filesystem "
            "for scheme-qualified path " + path
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def exists(path: str) -> bool:
    if _local_only(path):
        return os.path.exists(path)
    fs, jpath, _ = _fs_path(path)
    return bool(fs.exists(jpath))


def is_dir(path: str) -> bool:
    if _local_only(path):
        return os.path.isdir(path)
    fs, jpath, _ = _fs_path(path)
    return bool(fs.exists(jpath)) and bool(fs.getFileStatus(jpath).isDirectory())


def listdir(path: str) -> list[str]:
    """Child NAMES of a directory; [] when the path does not exist
    (callers guard with is_dir/exists where the distinction matters)."""
    if _local_only(path):
        return os.listdir(path) if os.path.isdir(path) else []
    fs, jpath, _ = _fs_path(path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def mkdirs(path: str) -> None:
    if _local_only(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, jpath, _ = _fs_path(path)
    fs.mkdirs(jpath)


def delete(path: str) -> None:
    """Recursive delete; no-op when missing. RAISES when the path existed
    but the filesystem reported failure (r09 ADVICE, medium): the
    compaction protocol relies on delete-or-raise — if an original batch
    dir survives a silent false return after the merged staging dir is
    renamed in, its rows are double-counted on every later index read.
    ``shutil.rmtree`` raised here; ``FileSystem.delete`` returning false
    without throwing is a real mode on object stores, so re-check."""
    if _local_only(path):
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
        return
    fs, jpath, _ = _fs_path(path)
    if not fs.exists(jpath):
        return
    if not fs.delete(jpath, True) and fs.exists(jpath):
        raise OSError(f"delete failed (FileSystem.delete returned false): {path}")


def rename(src: str, dst: str) -> None:
    """Move ``src`` to ``dst``, refusing an existing destination (the
    ``os.rename`` contract the compaction protocol was written against —
    see module docstring for why this must be checked HERE)."""
    if _local_only(src) and _local_only(dst):
        if os.path.exists(dst):
            raise FileExistsError(f"rename destination exists: {dst}")
        os.rename(src, dst)
        return
    fs, jsrc, jvm = _fs_path(src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    if fs.exists(jdst):
        raise FileExistsError(f"rename destination exists: {dst}")
    if not fs.rename(jsrc, jdst):
        raise OSError(f"rename failed: {src} -> {dst}")


class ChecksumError(OSError):
    """A file's bytes do not match its Hadoop checksum (``.crc``) sidecar."""


def read_text(path: str) -> str:
    """The file's text; raises :class:`ChecksumError` when the filesystem
    verifies checksums and the bytes fail them."""
    from py4j.protocol import Py4JJavaError

    if _local_only(path):
        with open(path, encoding="utf-8") as f:
            return f.read()
    fs, jpath, jvm = _fs_path(path)
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "org.apache.hadoop.fs.ChecksumException":
            raise ChecksumError(f"{path}: {e.java_exception.getMessage()}") from None
        raise
    finally:
        stream.close()


def write_text(path: str, text: str) -> None:
    """Crash-safe write (r09 ADVICE, low): write a sibling temp file and
    move it into place, so a crash mid-write can never leave a TRUNCATED
    file at ``path``. Locally the move is an atomic replace. Through
    Hadoop, replacing an EXISTING file deletes it before the rename, so
    a crash in between leaves the path missing; batchdir writes its
    ``_meta.json`` once, to a path that does not exist yet, so that
    window never opens for it. The stray temp is overwritten by the next
    write."""
    tmp = path + ".__fsio_tmp__"
    if _local_only(path):
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
        os.replace(tmp, path)  # atomic on POSIX, overwrites dst
        return
    fs, jtmp, jvm = _fs_path(tmp)
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    if fs.exists(jpath) and not fs.delete(jpath, False):
        raise OSError(f"write_text: cannot replace existing {path}")
    if not fs.rename(jtmp, jpath):
        raise OSError(f"write_text: rename failed: {tmp} -> {path}")


def list_files_recursive(path: str) -> list[tuple[str, int]]:
    """All FILES under ``path`` recursively as (full path string, size
    bytes); [] when missing. Path strings are URI-style ('/'-separated
    on every filesystem), so callers parse partition dirs by splitting
    on '/'."""
    if _local_only(path):
        out: list[tuple[str, int]] = []
        for root, _dirs, files in os.walk(path):
            for name in files:
                p = os.path.join(root, name)
                out.append((p, os.path.getsize(p)))
        return out
    fs, jpath, _ = _fs_path(path)
    if not fs.exists(jpath):
        return []
    it = fs.listFiles(jpath, True)
    out2: list[tuple[str, int]] = []
    while it.hasNext():
        st = it.next()
        out2.append((st.getPath().toString(), int(st.getLen())))
    return out2
