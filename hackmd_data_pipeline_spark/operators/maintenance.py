"""Table-maintenance operators: file statistics and partition
retention.

Small files are the silent killer of a 100 TB lake: a micro-batched
ingest (the reference writes ~100-record gz objects, reference
config/config.yaml:16) leaves millions of tiny files whose per-file
open/footer cost dominates scans. ``table_file_stats`` measures a
table's files, which is how the store compactions
(``dedup_store.compact_store``) size their rewrites.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """File count / total bytes / mean file size of a parquet table."""
    sizes = []
    for root, _dirs, files in os.walk(path):
        sizes.extend(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return {"n_files": len(sizes), "total_bytes": sum(sizes),
            "mean_bytes": (sum(sizes) // len(sizes)) if sizes else 0}


def retention_sweep(spark: SparkSession, path: str, partition_col: str,
                    keep_from: str) -> dict:
    """Retention enforcement for a value-partitioned table: drop every
    ``{partition_col}={value}`` directory whose value sorts below
    ``keep_from`` (ISO dates compare lexicographically, so a date
    cutoff is just a string): the partition-scoped DELETE of the
    hypertable-style lifecycle (reference's managed Postgres tables
    age out rows with DELETEs; a lakehouse table ages out whole
    partitions).

    Scale posture: purely metadata-driven — list immediate partition
    dirs, delete whole directories via the scheme-aware Hadoop
    FileSystem API (sources/fs.py; pathlib would silently no-op on
    hdfs:// and s3a://). Cost is O(partitions dropped), zero data
    read, no job launched. Each directory delete is atomic on
    HDFS/POSIX; on S3A a failed sweep re-run is idempotent (already-
    deleted partitions are simply absent).

    Directory names carry Hive's URL-style escaping (a timestamp
    partition is ``ts=2024-01-01 00%3A00%3A00``; a NULL partition is
    ``__HIVE_DEFAULT_PARTITION__``), so values are UNESCAPED before
    comparing — comparing the escaped form mis-buckets any value whose
    escape sequences sort differently from their characters (round-3
    ADVICE). NULL partitions are never dropped by a value cutoff; they
    are reported under ``skipped`` for the caller to decide.

    Returns {"dropped": [...], "kept": [...], "skipped": [...]}
    (unescaped) partition values.
    """
    import urllib.parse

    from ..sources.fs import fs_delete, fs_list_dirs

    prefix = f"{partition_col}="
    dropped, kept, skipped = [], [], []
    for name in fs_list_dirs(spark, path):
        if not name.startswith(prefix):
            continue
        raw = name[len(prefix):]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            skipped.append(raw)
            continue
        value = urllib.parse.unquote(raw)
        if value < keep_from:
            fs_delete(spark, f"{path.rstrip('/')}/{name}")
            dropped.append(value)
        else:
            kept.append(value)
    return {"dropped": sorted(dropped), "kept": sorted(kept),
            "skipped": sorted(skipped)}
