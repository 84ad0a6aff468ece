"""Table-metadata I/O: the filesystem handle, the local fast path and the
small-file read / write / list contract shared by the table layer.

Governed tables keep many tiny metadata files (manifests, stats
sidecars, markers, lock entries). Paths on the local filesystem — plain
paths, or ``file:/...`` without an authority, when the default
filesystem is local — are served with Python I/O: one syscall per read,
write or listing instead of 3-6 py4j round trips (~4-9 ms each). Every
other path (``file://``, ``hdfs://``, ``s3a://``, a non-local
``fs.defaultFS``) takes the Hadoop ``FileSystem`` route.

The contract is the same on both routes:

- :func:`read_bytes` returns None only when the path is absent or is a
  directory; any other failure (permissions, a checksum mismatch)
  raises.
- :func:`write_bytes` writes a sibling ``.tmp`` and replaces the target,
  so readers see the old bytes or the new ones, never a torn file.
  Locally the replace is ``os.replace`` (atomic); on the Hadoop route it
  is delete then rename, so a reader can briefly see no file.
- :func:`list_dir` returns ``(name, is_dir)`` pairs, ``[]`` for an
  absent directory, and never the ``.<name>.crc`` sidecars Hadoop's
  checksummed local filesystem keeps.
- :func:`delete` returns whether something was removed (False for an
  absent path); the local route also removes a file's ``.crc`` sidecar.
- :func:`create_new` creates a file only when it is absent, and says
  whether it did.

Other mutations (rename, mkdirs, setTimes) stay direct Hadoop calls on
:func:`fs`.
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import urlsplit

from pyspark.sql import SparkSession


def _cache_key(path: str) -> str:
    """``scheme://authority`` of ``path``, lower-cased as Hadoop's own
    FileSystem cache keys it: two buckets or namenodes of one scheme are
    two filesystems, while ``file:/x`` and ``file:///x`` (no authority)
    share one. Schemeless paths key on "" — they resolve against
    ``fs.defaultFS``, which need not be local."""
    parts = urlsplit(path)
    return f"{parts.scheme}://{parts.netloc}".lower() if parts.scheme else ""


def _handle(spark: SparkSession, path: str) -> tuple:
    """(jvm, FileSystem, is-local) for ``path``, cached per session and
    :func:`_cache_key`: ``getFileSystem`` returns the same JVM object for
    a scheme and authority anyway, so repeating the lookup only adds
    round trips."""
    key = _cache_key(path)
    try:
        cache = spark._cdp_fs_cache
    except AttributeError:
        cache = spark._cdp_fs_cache = {}
    ent = cache.get(key)
    if ent is None:
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        try:
            local = str(fs.getScheme()) == "file"
        except Exception:  # FileSystem subclasses may not implement it
            local = False
        ent = cache[key] = (jvm, fs, local)
    return ent


def fs(spark: SparkSession, path: str) -> tuple:
    """(jvm, Hadoop FileSystem) for ``path`` — the cached handle."""
    return _handle(spark, path)[:2]


def local_path(spark: SparkSession, path: str) -> str | None:
    """The plain OS path when ``path`` takes the local route, else None."""
    if "://" in path or not _handle(spark, path)[2]:
        return None
    if path.startswith("file:"):
        return path[5:] or "/"
    return path


def exists(spark: SparkSession, path: str) -> bool:
    lp = local_path(spark, path)
    if lp is not None:
        return os.path.exists(lp)
    jvm, hfs = fs(spark, path)
    return bool(hfs.exists(jvm.org.apache.hadoop.fs.Path(path)))


def read_bytes(spark: SparkSession, path: str) -> bytes | None:
    """The whole file; None when it is absent or a directory."""
    lp = local_path(spark, path)
    if lp is not None:
        try:
            with open(lp, "rb") as fh:
                return fh.read()
        except (FileNotFoundError, IsADirectoryError, NotADirectoryError):
            return None
    jvm, hfs = fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    try:
        stream = hfs.open(p)
    except Exception:
        if not hfs.exists(p) or hfs.getFileStatus(p).isDirectory():
            return None
        raise
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def read_json(spark: SparkSession, path: str) -> dict | None:
    """The JSON object stored at ``path``; None when the file is absent
    or does not hold a JSON object. Read errors raise (:func:`read_bytes`)."""
    raw = read_bytes(spark, path)
    if raw is None:
        return None
    try:
        doc = json.loads(raw.decode())
    except ValueError:
        return None
    return doc if isinstance(doc, dict) else None


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """tmp-write + replace, creating parent directories. The local route
    also drops any ``.crc`` sidecar a Hadoop-route write left for the
    file or its tmp (the checksummed local filesystem would otherwise
    refuse the new bytes)."""
    lp = local_path(spark, path)
    if lp is not None:
        d, name = os.path.split(lp)
        os.makedirs(d or "/", exist_ok=True)
        tmp = f"{lp}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        for side in (f"{d}/.{name}.crc", f"{d}/.{name}.tmp.crc"):
            try:
                os.remove(side)
            except OSError:
                pass
        os.replace(tmp, lp)
        return
    jvm, hfs = fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    final, tmp = Path(path), Path(path + ".tmp")
    hfs.mkdirs(final.getParent())
    out = hfs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    hfs.delete(final, False)
    hfs.rename(tmp, final)


def create_new(spark: SparkSession, path: str, data: bytes) -> bool:
    """Create ``path`` holding ``data`` only when it does not exist yet;
    False when it does. On the local route one exclusive ``open`` decides
    between concurrent callers; the Hadoop route's non-overwriting
    ``create`` is atomic where the filesystem makes it so (HDFS)."""
    lp = local_path(spark, path)
    if lp is not None:
        os.makedirs(os.path.dirname(lp) or "/", exist_ok=True)
        try:
            fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as fh:
            fh.write(data)
        return True
    jvm, hfs = fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    try:
        out = hfs.create(p, False)
    except Exception:
        if hfs.exists(p):
            return False
        raise
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    return True


def delete(spark: SparkSession, path: str, recursive: bool) -> bool:
    """Remove the file or directory ``path`` (a non-empty directory only
    when ``recursive``). False when it was absent, or when a recursive
    delete left entries that a concurrent writer created meanwhile — as
    Hadoop's own recursive delete reports it, without raising."""
    lp = local_path(spark, path)
    if lp is not None:
        try:
            if os.path.isdir(lp) and not os.path.islink(lp):
                if not recursive:
                    os.rmdir(lp)
                    return True
                shutil.rmtree(lp, ignore_errors=True)
                return not os.path.lexists(lp)
            os.remove(lp)
        except (FileNotFoundError, NotADirectoryError):
            return False
        d, name = os.path.split(lp)
        try:
            os.remove(f"{d}/.{name}.crc")
        except OSError:
            pass
        return True
    jvm, hfs = fs(spark, path)
    return bool(hfs.delete(jvm.org.apache.hadoop.fs.Path(path), recursive))


def list_dir(spark: SparkSession, path: str) -> list[tuple[str, bool]]:
    """``(name, is_dir)`` for each entry of the directory ``path``
    (unordered); ``[]`` when it is absent."""
    lp = local_path(spark, path)
    if lp is not None:
        try:
            with os.scandir(lp) as it:
                return [
                    (e.name, e.is_dir()) for e in it
                    if not (e.name[:1] == "." and e.name.endswith(".crc"))
                ]
        except (FileNotFoundError, NotADirectoryError):
            return []
    jvm, hfs = fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    try:
        sts = hfs.listStatus(p)
    except Exception:
        if not hfs.exists(p):
            return []
        raise
    return [(st.getPath().getName(), bool(st.isDirectory())) for st in sts]
