"""Tiny Hadoop-FileSystem helpers (py4j; no extra dependencies).

Driver-side file operations that must work on WHATEVER filesystem a path
points at — ``file://`` locally, ``hdfs://`` / ``s3a://`` on a cluster.
Python ``os``/``open`` silently operate on the driver's local disk, which
is exactly the failure mode these helpers exist to avoid (a marker or
header file landing next to the driver instead of next to the data).

Used by ``operators.similarity.ensure_ivf_index`` (index commit markers)
and ``sources.neo4j_sink.export_neo4j_bulk_csv`` (header files).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _raw_fs(spark: SparkSession, path: str):
    """Like :func:`_fs` but unwrapping a ChecksumFileSystem (the local
    filesystem) to its raw form. Small single-object files written by
    CONCURRENT committers (commit markers: last write wins) must not
    go through the checksum wrapper — two same-path writers interleave
    the data file and the ``.crc`` sidecar into a PERMANENT mismatch
    (observed in the two-writer compaction race), whereas raw same-
    length offset-0 writes settle to one writer's bytes. HDFS/S3A are
    not ChecksumFileSystems and pass through unchanged (their single-
    object writes are already lease-protected / atomic PUTs)."""
    fs, p = _fs(spark, path)
    try:
        return fs.getRawFileSystem(), p
    except Exception:  # not a ChecksumFileSystem wrapper
        return fs, p


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def write_text(spark: SparkSession, path: str, content: str) -> None:
    """Create/overwrite a single small file with ``content`` (utf-8).

    One object write: on S3 this is a single atomic PUT (visible all or
    nothing); on HDFS/local the file appears at create and fills at
    close, so readers that can observe a mid-write file must tolerate a
    short/empty read (see ``read_text`` callers). Local writes go
    through the RAW filesystem (no ``.crc`` sidecar) so concurrent
    same-path committers cannot interleave data and sidecar into a
    permanent checksum mismatch — see :func:`_raw_fs`.
    """
    fs, p = _raw_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    """Read a small file fully as utf-8 text.

    Goes through commons-io on the JVM side: py4j passes ``byte[]``
    arguments one-way, so a read-into-buffer loop from Python would see
    none of the bytes the JVM wrote into the buffer. Reads RAW (no
    checksum verification locally) to mirror :func:`write_text` —
    these are small commit/parameter files whose protocols carry their
    own validity checks.
    """
    fs, p = _raw_fs(spark, path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def try_read_text(spark: SparkSession, path: str) -> str | None:
    """:func:`read_text`, tolerating the mid-write artifacts a
    CONCURRENT single-object committer can produce — file absent, a
    short/empty read, a torn read, or the local ChecksumFileSystem's
    crc-sidecar mismatch (observed in the two-writer compaction race:
    the reader catches the marker between data and .crc rewrite) —
    by returning ``None`` instead of raising. For marker/commit-
    protocol readers that carry their own retry/rebuild semantics."""
    try:
        return read_text(spark, path)
    except Exception:  # noqa: BLE001 - any read failure here means
        return None  # "not observable yet"; the caller retries/rebuilds


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.delete(p, recursive))


def list_dir(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Direct children of ``path`` as ``(name, mtime_ms)`` pairs, ``[]``
    if the directory is absent. Flat listing only — the callers (GC
    sweeps) decide per-child, they don't want recursion."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [
        (s.getPath().getName(), int(s.getModificationTime()))
        for s in fs.listStatus(p)
    ]


def list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """RECURSIVE leaf-file listing as ``(full_path, size_bytes)`` pairs,
    ``[]`` if absent. Hidden/metadata FILES (``_SUCCESS``, ``.crc``)
    are skipped — the callers (``operators.layout``) want the data
    files a scan would actually open.

    ``file:`` paths walk in pure Python: the Hadoop ``RemoteIterator``
    costs ~3 py4j round-trips PER FILE (~5 ms each — measured 48 s to
    list a 10k-file generation, which made the engine's own listing
    the metadata wall the manifest exists to remove). Remote
    filesystems (hdfs://, s3a://) keep the iterator — their round
    trips are the filesystem's own and a cluster deployment fronts
    big listings with the manifest anyway."""
    import os

    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    qualified = fs.makeQualified(p).toString()
    if qualified.startswith("file:"):
        local = qualified[len("file:"):]
        out: list[tuple[str, int]] = []
        if os.path.isfile(local):
            name = os.path.basename(local)
            if not name.startswith(("_", ".")):
                out.append((qualified, int(os.path.getsize(local))))
            return out
        for root, _dirs, names in os.walk(local):
            for n in names:
                if n.startswith(("_", ".")):
                    continue
                full = os.path.join(root, n)
                try:
                    sz = os.path.getsize(full)
                except OSError:  # raced with a concurrent delete
                    continue
                out.append((f"file:{full}", int(sz)))
        return out
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        s = it.next()
        name = s.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append((s.getPath().toString(), int(s.getLen())))
    return out


def mtime(spark: SparkSession, path: str) -> int:
    """Modification time of ``path`` in epoch millis, 0 if absent.
    Works on any configured filesystem (the ``os.path.getmtime``
    replacement for cache keys over possibly-remote inputs)."""
    fs, p = _fs(spark, path)
    try:
        return int(fs.getFileStatus(p).getModificationTime())
    except Exception:
        return 0
