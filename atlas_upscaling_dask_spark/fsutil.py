"""Small-file I/O and directory swaps through the JVM Hadoop FileSystem API.

Index builders persist tiny JSON sidecars (LSH params, BM25 corpus
stats, IVF centroids, volume metadata) next to their parquet data.  The
parquet goes through Spark's Hadoop FileSystem, so the sidecar must too
— a local ``open()`` would silently break every persisted-index path on
object stores (s3a://, hdfs://, ...).  These helpers route the bytes
through the same FileSystem the data files use, resolved from the
active Hadoop configuration, so a sidecar lands wherever its index
lands.  ``read_json``/``write_json`` are the one sidecar codec and
``staged_swap`` the one staged table rewrite (compaction, purge).

Sidecar names start with ``_`` so Spark's default PathFilter hides them
from the sibling dataset's file listing.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


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


def read_json(spark: SparkSession, path: str):
    """Parse the UTF-8 JSON sidecar at ``path`` via Hadoop FS."""
    fs, jpath, conf, jvm = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, conf, False)
        return json.loads(bytes(baos.toByteArray()).decode("utf-8"))
    finally:
        stream.close()


def write_json(spark: SparkSession, path: str, obj, indent: int | None = None) -> None:
    """Serialize ``obj`` as the JSON sidecar at ``path`` (overwriting)."""
    write_text(spark, path, json.dumps(obj, indent=indent))


def data_file_sizes(spark: SparkSession, directory: str) -> list[int]:
    """Byte sizes of the ``*.parquet`` data files under ``directory``
    (``[]`` when it does not exist), skipping hidden (``_``/``.``)
    entries such as a tombstone set."""
    fs, jpath, _, _ = _fs_and_path(spark, directory)
    sizes: list[int] = []
    todo = [jpath] if fs.exists(jpath) else []
    while todo:
        for st in fs.listStatus(todo.pop()):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                todo.append(st.getPath())
            elif name.endswith(".parquet"):
                sizes.append(int(st.getLen()))
    return sizes


def staged_swap(
    spark: SparkSession,
    path: str,
    stage: str,
    write: Callable[[str], None],
    check: Callable[[], T],
    drop: tuple[str, ...] = (),
) -> T:
    """Replace the table at ``path`` by the one ``write(path + stage)``
    writes, carrying over hidden ``_`` entries (sidecars, tombstones)
    the staged write lacks, except those in ``drop``.  Two renames swap
    the staging in; ``path.__old__`` is deleted only after ``check()``
    (whose value is returned) passed.  Single writer, NOT transactional:
    a crash between the renames leaves the data in ``path.__old__``
    (recovery: ``mv path.__old__ path``; a left-over one refuses the
    next swap), and readers can error in the rename window.
    """
    base = path.rstrip("/")
    fs, jpath, conf, jvm = _fs_and_path(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    staging, old = Path(base + stage), Path(base + ".__old__")
    if fs.exists(old):
        raise FileExistsError(
            f"{base}.__old__ exists: an earlier swap of {base} did not "
            f"finish (recovery: move it back to {base})"
        )
    write(base + stage)
    staged = set(list_names(spark, base + stage))
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("_") and name not in staged and name not in drop:
            jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, st.getPath(), fs, Path(staging, name), False, conf
            )
    for src, dst in ((jpath, old), (staging, jpath)):
        if not fs.rename(src, dst):
            raise OSError(f"could not rename {src} to {dst}")
    # keep .__old__ until the swapped-in table is confirmed readable —
    # if this check throws, recovery is `mv path.__old__ path`
    out = check()
    fs.delete(old, True)
    return out


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
