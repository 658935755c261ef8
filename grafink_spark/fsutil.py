"""Hadoop FileSystem helpers — one place for filesystem mutations.

Everything that touches storage paths (swaps, partition deletes,
commit markers) goes through the JVM Hadoop FileSystem API so the same
code works for local paths AND hdfs:// / s3a:// URIs. A shutil/os-based
implementation would silently no-op on remote URIs (ADVICE r1:
sources/partitions.py:97).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p, jvm


def exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def qualified_path(spark: SparkSession, path: str) -> str:
    """The decoded path part of ``path`` made absolute by its
    filesystem (``/data/ids`` for ``ids`` run from ``/data`` or for
    ``hdfs://nn/data/ids``), without a trailing slash."""
    fs, p, _ = _fs_and_path(spark, path)
    return str(fs.makeQualified(p).toUri().getPath()).rstrip("/")


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete a file or directory tree. Returns True if something was
    removed, False if the path did not exist."""
    fs, p, _ = _fs_and_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, p_dst, jvm = _fs_and_path(spark, dst)
    return bool(fs.rename(jvm.org.apache.hadoop.fs.Path(src), p_dst))


def swap(spark: SparkSession, tmp: str, target: str) -> None:
    """Replace ``target`` with ``tmp`` (delete-then-rename).

    NOT atomic: a crash between the delete and the rename leaves
    ``target`` missing while the fully-written ``tmp`` survives.
    Callers that must not lose ``target`` (CDC tables, purge rewrites)
    call :func:`complete_interrupted_swap` on startup/replay to close
    that window — ``tmp`` is always completely written (Spark commits
    ``_SUCCESS``) before swap() runs, so finishing the rename is
    always the correct recovery."""
    fs, t, jvm = _fs_and_path(spark, target)
    fs.delete(t, True)
    fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), t)


def complete_interrupted_swap(
    spark: SparkSession, tmp: str, target: str
) -> bool:
    """Recovery for :func:`swap`'s crash window: if ``target`` is
    missing but a COMPLETE ``tmp`` (has Spark's ``_SUCCESS`` marker)
    exists, finish the interrupted rename. Returns True if recovered.
    A tmp without ``_SUCCESS`` is a dead partial write — left alone
    (the caller's normal path overwrites it)."""
    if exists(spark, target) or not exists(spark, tmp):
        return False
    if not exists(spark, tmp.rstrip("/") + "/_SUCCESS"):
        return False
    return rename(spark, tmp, target)


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p, _ = _fs_and_path(spark, path)
    fs.mkdirs(p)


def touch(spark: SparkSession, path: str) -> None:
    """Create an empty file (parents included) — used for commit
    markers. Overwrites an existing file of the same name."""
    fs, p, _ = _fs_and_path(spark, path)
    fs.create(p, True).close()


def read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file (KV tables, markers). None if absent."""
    fs, p, jvm = _fs_and_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, content: str) -> None:
    """Atomically replace a small text file: write a sibling tmp, then
    delete-and-rename (same pattern as swap())."""
    tmp = path + ".__tmp__"
    fs, p_tmp, _ = _fs_and_path(spark, tmp)
    out = fs.create(p_tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    swap(spark, tmp, path)
