"""Small-file text I/O through the JVM Hadoop FileSystem API.

Index builders persist tiny JSON sidecars (LSH params, BM25 corpus
stats, IVF centroids, volume metadata) next to their parquet data.  The
parquet goes through Spark's Hadoop FileSystem, so the sidecar must too
— a local ``open()`` would silently break every persisted-index path on
object stores (s3a://, hdfs://, ...).  These helpers route the bytes
through the same FileSystem the data files use, resolved from the
active Hadoop configuration, so a sidecar lands wherever its index
lands.

Sidecar names start with ``_`` so Spark's default PathFilter hides them
from the sibling dataset's file listing.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(conf), jpath, conf, jvm


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` (UTF-8) to ``path``, overwriting, via Hadoop FS."""
    fs, jpath, _, _ = _fs_and_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on its Hadoop FileSystem."""
    fs, jpath, _, _ = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def list_names(spark: SparkSession, directory: str) -> list[str]:
    """Names of the entries directly under ``directory`` (``[]`` when it
    does not exist) — a Hadoop FS listing, so it works on any supported
    filesystem and URI scheme (``file://``, ``s3a://``, ...), not just a
    local POSIX path."""
    fs, jpath, _, _ = _fs_and_path(spark, directory)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def has_parquet_files(spark: SparkSession, directory: str) -> bool:
    """True iff ``directory`` exists and directly contains at least one
    visible ``*.parquet`` file."""
    return any(
        name.endswith(".parquet") and not name.startswith(("_", "."))
        for name in list_names(spark, directory)
    )


def read_text(spark: SparkSession, path: str) -> str:
    """Read ``path`` as UTF-8 text via Hadoop FS."""
    fs, jpath, conf, jvm = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, conf, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        stream.close()


def partition_columns(spark: SparkSession, path: str) -> tuple[str, ...]:
    """The partition columns a ``partitionBy`` table at ``path`` was
    written with, read from its ``key=value`` directory layout (outer
    to inner; ``()`` for a flat table).  Hidden ``_``/``.`` entries
    (sidecars, tombstones, staging) are skipped."""
    fs, jpath, _, _ = _fs_and_path(spark, path)
    cols: list[str] = []
    while True:
        sub = next(
            (
                st.getPath()
                for st in fs.listStatus(jpath)
                if st.isDirectory()
                and "=" in st.getPath().getName()
                and not st.getPath().getName().startswith(("_", "."))
            ),
            None,
        )
        if sub is None:
            return tuple(cols)
        cols.append(sub.getName().split("=", 1)[0])
        jpath = sub
