"""Hadoop-FileSystem helpers for driver-side path checks.

Driver code must NOT use ``pathlib``/``os.path`` for data paths: those
only work for ``file:`` URIs, silently returning False for ``hdfs://``
/ ``s3a://`` — on a real cluster a bootstrap check that always fails
would silently skip dedup against the persisted store (round-2 ADVICE,
streaming/neardup.py). These helpers resolve the path against the
session's Hadoop configuration, so the scheme decides the filesystem
exactly as it does for reads/writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on its OWN filesystem (scheme-aware)."""
    fs, hpath = _fs_and_path(spark, path)
    return bool(fs.exists(hpath))


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path`` if present; True iff it existed."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return False
    return bool(fs.delete(hpath, True))


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename ``src`` to ``dst`` on src's filesystem. Atomic on POSIX
    and HDFS; NOT atomic on S3A (copy+delete) — callers that need an
    atomic pointer flip on object stores should front it with a
    consistent metadata service."""
    fs, hsrc = _fs_and_path(spark, src)
    hdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    return bool(fs.rename(hsrc, hdst))


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file (overwrite). For pointer/metadata files
    only — data goes through DataFrame writers."""
    fs, hpath = _fs_and_path(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file written by ``fs_write_text``."""
    fs, hpath = _fs_and_path(spark, path)
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def fs_total_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` (0 if absent) — one metadata call
    (``getContentSummary``), no job. Size gates (e.g. the tombstone
    broadcast-vs-shuffle decision) use this instead of a count() so
    the gate itself never costs a scan."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return 0
    return int(fs.getContentSummary(hpath).getLength())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job.
    A local directory of Spark-written parquet declares the schema
    Spark recorded in one data file's footer (read on the driver
    through pyarrow); partition columns are still discovered from the
    directory names, so the frame has the schema inference would give.
    Any other path (an hdfs://, s3a:// or file: URI), or a file
    without Spark's footer entry, takes the inferring read."""
    import json
    import os

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    if os.path.isdir(path):
        files = ds.dataset(path, format="parquet").files
        meta = pq.read_metadata(files[0]).metadata if files else None
        recorded = (meta or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata")
        if recorded is not None:
            schema = T.StructType.fromJson(json.loads(recorded))
            return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def fs_create_exclusive(spark: SparkSession, path: str) -> bool:
    """Atomically create an empty marker file; True iff THIS caller
    created it (the reservation primitive pointer_publish's race-free
    version claim rides). For ``file:`` URIs this goes through
    ``java.io.File.createNewFile`` — a true O_CREAT|O_EXCL, no
    check-then-create window; HDFS ``create(path, overwrite=false)``
    is atomic server-side (throws if the file exists). Object stores
    without atomic create-exclusive keep a residual window — front a
    pointer directory there with a consistent metadata service, as
    the fs_rename docstring already prescribes."""
    fs, hpath = _fs_and_path(spark, path)
    if fs.getUri().getScheme() == "file":
        f = spark._jvm.java.io.File(hpath.toUri().getPath())
        parent = f.getParentFile()
        if parent is not None:
            parent.mkdirs()
        return bool(f.createNewFile())
    try:
        fs.create(hpath, False).close()
        return True
    except Exception:
        return False


def fs_list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of immediate subdirectories of ``path`` ([] if absent)."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)
            if st.isDirectory()]


def pointer_versions(spark: SparkSession, ptr_dir: str) -> list[int]:
    """Committed versions of a versioned pointer directory — files
    named ``v=<n>`` each holding one target path. Versioned files
    sidestep the rename-over-existing ambiguity (Hadoop's
    ``FileSystem.rename`` refuses an existing destination on most
    implementations, POSIX overwrites): a publish renames a staged
    file to a FRESH name, which is atomic on every backend, and
    readers resolve MAX(version)."""
    fs, hpath = _fs_and_path(spark, ptr_dir)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("v=") and name[2:].isdigit():
            out.append(int(name[2:]))
    return sorted(out)


def pointer_current(spark: SparkSession, ptr_dir: str) -> str | None:
    """The newest committed pointer target, or None if never
    published."""
    vs = pointer_versions(spark, ptr_dir)
    if not vs:
        return None
    return fs_read_text(spark, f"{ptr_dir}/v={vs[-1]}").strip()


def pointer_publish(spark: SparkSession, ptr_dir: str, target: str) -> int:
    """Atomically publish ``target`` as the pointer's new current
    value; returns the new version id. Version claims go through an
    exclusive-create RESERVATION (r09 ADVICE — the exists-probe +
    read-back form narrowed but did not close the lost-publish race:
    on POSIX rename-overwrite, publisher B whose probe ran before A's
    rename could still clobber A's landed ``v=n`` while both reported
    success): a publisher first atomically creates
    ``.v=<n>.claim`` (``fs_create_exclusive`` — O_CREAT|O_EXCL on
    file://, atomic create on HDFS); only the claim winner ever
    renames its staged content onto ``v=<n>``, so no two publishers
    can target the same version and a landed publish can never be
    overwritten. Losers fall through to n+1 — both racers' targets
    end up in the history. Claim markers are never deleted (bytes:
    zero; deleting one would re-open its version for a publisher
    holding a stale listing). Superseded versions stay readable
    (pointer history) until the caller prunes them."""
    import os

    vs = pointer_versions(spark, ptr_dir)
    n = (vs[-1] + 1) if vs else 0
    stage = f"{ptr_dir}/.stage_p{os.getpid()}"
    while True:
        dst = f"{ptr_dir}/v={n}"
        # exists() first: cheap fast-forward past landed versions a
        # stale listing missed, without burning a claim probe on each
        if fs_exists(spark, dst) or not fs_create_exclusive(
                spark, f"{ptr_dir}/.v={n}.claim"):
            n += 1
            continue
        fs_write_text(spark, stage, target + "\n")
        if not fs_rename(spark, stage, dst):
            raise IOError(
                f"pointer_publish: rename onto claimed version failed "
                f"({stage} -> {dst})")
        return n
