"""Filesystem helpers routed through the Hadoop FileSystem API.

Every table-maintenance path in the engine (staged partition swap,
manifest commits, existence probes) goes through these helpers instead
of ``os``/``shutil`` so the same code works on any Hadoop-supported
store (``file://``, ``hdfs://``, ``s3a://``…) — the reference got this
for free from Postgres; a Spark engine owns its storage protocol.

Semantics relied on elsewhere (documented Hadoop contracts):

* ``rename(src, dst)`` with ``dst`` absent is atomic on local FS and
  HDFS (the commit primitive). On S3-like stores rename is a copy —
  production there should map these tables onto a transactional format
  (Delta/Iceberg); the protocol in ``operators.txn`` is the same one
  those formats implement in their log layer.
* Hadoop ``rename`` moves ``src`` *into* ``dst`` when ``dst`` is an
  existing directory — callers must ensure the destination is absent
  (the swap/recovery protocols do).
* Names starting with ``_`` or ``.`` are invisible to Spark/Hadoop
  input listings — staging and marker files use them.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _jvm(spark: SparkSession):
    return spark._jvm  # noqa: SLF001 — py4j gateway, classic (non-Connect) only


def jpath(spark: SparkSession, path: str):
    return _jvm(spark).org.apache.hadoop.fs.Path(path)


def hadoop_fs(spark: SparkSession, path: str):
    """FileSystem instance owning ``path`` (scheme-resolved)."""
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    return jpath(spark, path).getFileSystem(conf)


def path_exists(spark: SparkSession, path: str) -> bool:
    return hadoop_fs(spark, path).exists(jpath(spark, path))


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry names of a directory ([] if it doesn't exist)."""
    fs = hadoop_fs(spark, path)
    p = jpath(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def table_exists(spark: SparkSession, path: str) -> bool:
    """Path exists and has at least one non-hidden child (or is a
    file). The probe replaces ``try: read.parquet(...) except`` —
    a transient read error must propagate, not silently count as
    'table absent' and drop previously-landed data."""
    fs = hadoop_fs(spark, path)
    p = jpath(spark, path)
    if not fs.exists(p):
        return False
    if fs.getFileStatus(p).isFile():
        return True
    return any(not n.startswith(("_", ".")) for n in list_names(spark, path))


def makedirs(spark: SparkSession, path: str) -> None:
    hadoop_fs(spark, path).mkdirs(jpath(spark, path))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    return hadoop_fs(spark, path).delete(jpath(spark, path), recursive)


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomic on local FS / HDFS when ``dst`` is absent; returns the
    FileSystem's success flag (False e.g. when ``dst`` exists).

    Missing ``src`` is normalized to False as well: HDFS already
    returns false there, but RawLocalFileSystem throws
    FileNotFoundException — the swap/commit protocols are written
    against the returns-false contract (a failed rename must fail
    CLOSED so the caller can retry from a fresh listing), so the two
    filesystems must agree."""
    try:
        return hadoop_fs(spark, src).rename(jpath(spark, src), jpath(spark, dst))
    except Exception as exc:  # Py4JJavaError wrapping java.io.FileNotFoundException
        if "FileNotFoundException" in str(exc):
            return False
        raise


def rename_no_replace(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomically claim ``dst``: move ``src`` there ONLY if ``dst`` does
    not exist; exactly one of N racing claimants can ever win.

    Why ``rename`` is not enough on local filesystems: Hadoop's
    RawLocalFileSystem guards renameTo with a CHECK-THEN-RENAME — two
    concurrent claimants can both pass the existence check and both
    "succeed" (POSIX rename(2) replaces the destination), silently
    losing the first winner's file. Measured: 24 racing threads → 2
    winners. On ``file://`` the claim is therefore ``link(2)`` (an
    atomic fails-closed primitive — creating a hardlink at an existing
    path raises) followed by unlinking the source. Other schemes (HDFS,
    object-store committers) keep ``FileSystem.rename``, whose
    namespace-level no-replace semantics are atomic server-side."""
    u = _jvm(spark).java.net.URI(src)
    if u.getScheme() not in (None, "file"):
        return rename(spark, src, dst)
    import os

    def _local(p: str) -> str:
        return p[len("file:"):] if p.startswith("file:") else p

    lsrc, ldst = _local(src), _local(dst)
    try:
        os.link(lsrc, ldst)
    except FileExistsError:  # lost the claim race
        return False
    except FileNotFoundError:  # src swept (e.g. vacuum) — fail closed
        return False
    # carry the ChecksumFileSystem sidecar to the new name (winner only;
    # best-effort — a missing crc just skips read verification)
    def _crc(p: str) -> str:
        head, tail = os.path.split(p)
        return os.path.join(head, f".{tail}.crc")

    try:
        os.link(_crc(lsrc), _crc(ldst))
    except OSError:
        pass
    for leftover in (lsrc, _crc(lsrc)):
        try:
            os.unlink(leftover)
        except OSError:
            pass
    return True


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a small text file (driver-side, via the FS API)."""
    fs = hadoop_fs(spark, path)
    out = fs.create(jpath(spark, path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def replace_text(spark: SparkSession, path: str, text: str) -> None:
    """Replace a small text file through a rename, so a reader finds
    the old text, the new text or (after a crash between the delete and
    the rename) no file — never a torn write."""
    tmp = f"{path}.tmp"
    write_text(spark, tmp, text)
    delete(spark, path, recursive=False)
    if not rename(spark, tmp, path):
        raise OSError(f"cannot move {tmp} to {path}")


def read_text(spark: SparkSession, path: str) -> str:
    stream = hadoop_fs(spark, path).open(jpath(spark, path))
    try:
        return _jvm(spark).org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
