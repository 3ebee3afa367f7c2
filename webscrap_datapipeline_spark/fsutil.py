"""Hadoop FileSystem helpers shared by every module that touches paths
outside a DataFrame reader/writer: streaming index maintenance and
retention (``streaming/index_core``, ``dedup_stream``, ``ann_stream``),
the one whole-directory replace protocol, :func:`fs_swap` plus
:func:`fs_heal_swap`, through which the pipeline's warehouse, the state
store, the streaming warehouse sink and the ANN and LSH index
bootstraps and migration commit, and :func:`write_batch_partition`,
through which the sinks, the bootstraps and the ANN migration write a
``__batch_id`` partition.

One home instead of per-module copies (round-9 review: three modules
had each open-coded the same Path/getFileSystem boilerplate — a
URI-scheme or py4j fix to one would have silently missed the others).
Everything goes through the scheme's OWN FileSystem, never
``os.path``: the paths are s3a://, hdfs://, or executor-only URIs in
any real deployment, where a driver-local ``os.path.exists`` reports
an existing table as absent."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) pair for ``path`` under the session's Hadoop
    configuration."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence through the Hadoop FileSystem API, not ``os.path``."""
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def fs_delete(spark: SparkSession, path: str) -> bool:
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.delete(jpath, True))


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename within ONE FileSystem. ``dst`` is qualified against
    ``src``'s FileSystem before the call: an unqualified dst on a
    cross-scheme/authority pair would otherwise resolve INSIDE src's FS
    and fail from within it with a confusing false/throw (round-9
    ADVICE) — a genuine cross-FS move is a copy, not a rename, and is
    rejected here explicitly.

    Atomicity is the FILESYSTEM's: atomic on HDFS and local; on object
    stores (s3a://) rename is a non-atomic copy+delete, so callers
    relying on rename-as-commit (e.g. index compaction publish) degrade
    there to harmless-duplicate semantics and O(data) cost — each such
    caller documents its own degradation."""
    fs, jsrc = hadoop_fs(spark, src)
    jvm = spark._jvm
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    dst_scheme = jdst.toUri().getScheme()
    if dst_scheme is not None and dst_scheme != fs.getUri().getScheme():
        raise ValueError(
            f"fs_rename is same-FileSystem only: src={src!r} dst={dst!r} "
            "resolve to different schemes (a cross-FS move is a copy job, "
            "not a rename)"
        )
    return bool(fs.rename(jsrc, fs.makeQualified(jdst)))


def fs_swap(spark: SparkSession, path: str, staging: str) -> None:
    """Replace ``path`` with the fully written ``staging`` directory:
    rename ``path`` aside to its fixed ``.old`` sibling, rename
    ``staging`` in, delete the aside copy. Readers see the old content
    until the second rename. A crash between the two renames leaves
    only ``.old``, which :func:`fs_heal_swap` restores — call it
    before reading ``path``. Every rename's result is checked: a
    FileSystem that reports failure raises instead of going on."""
    fs_heal_swap(spark, path)
    old = path + ".old"
    if fs_exists(spark, path) and not fs_rename(spark, path, old):
        raise IOError(f"fs_swap: rename {path} -> {old} failed")
    if not fs_rename(spark, staging, path):
        raise IOError(f"fs_swap: rename {staging} -> {path} failed")
    fs_delete(spark, old)


def fs_heal_swap(spark: SparkSession, path: str) -> None:
    """Finish a :func:`fs_swap` that crashed: with ``path`` missing its
    ``.old`` sibling is the last complete content and is renamed back;
    with ``path`` present a leftover ``.old`` is stale and deleted."""
    old = path + ".old"
    if not fs_exists(spark, old):
        return
    if fs_exists(spark, path):
        fs_delete(spark, old)
    elif not fs_rename(spark, old, path):
        raise IOError(f"fs_heal_swap: rename {old} -> {path} failed")


def write_batch_partition(df: DataFrame, base: str, batch_id: int) -> int:
    """Write ``df`` as the ``__batch_id=<batch_id>`` partition of the
    parquet table under ``base``, replacing what that partition held: a
    replayed batch rewrites exactly its own output. Returns the row
    count, observed on the write's own job.

    An empty ``df`` leaves no partition (and a replayed empty batch
    deletes the one it had). An empty partition would carry no
    ``.maxts`` sidecar, and a fold that takes it in stamps none on its
    chunk, so time retention could never expire that chunk.

    The id is in the path only, never in the plan: a per-batch literal
    is inlined into generated code, so every batch would compile new
    classes."""
    path = f"{base.rstrip('/')}/__batch_id={batch_id}"
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
    rows = int(obs.get["n"])
    if rows == 0:
        fs_delete(df.sparkSession, path)
    return rows


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file (overwrite) through the Hadoop
    FileSystem API — marker/sidecar files next to data the engine
    manages (e.g. compaction age markers), valid on any scheme."""
    fs, jpath = hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file written by :func:`fs_write_text`;
    None when absent."""
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return str(
            spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        )
    finally:
        stream.close()


def fs_dir_size(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` (0 if absent) — the size-tiered
    compaction picker's input. One namenode round-trip
    (getContentSummary), no data read."""
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return 0
    return int(fs.getContentSummary(jpath).getLength())


def list_child_names(spark: SparkSession, path: str, dirs_only: bool = False) -> list[str]:
    """Names (not full paths) of the direct children of ``path``;
    empty if the path does not exist."""
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        if dirs_only and not st.isDirectory():
            continue
        out.append(st.getPath().getName())
    return out
