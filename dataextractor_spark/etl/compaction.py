"""Small-file compaction for partitioned Parquet lakes.

The reference's lake writes one fixed-key object per monthly run
(`extract-data-dota.py:131,135,…` — overwrite hides the problem at its
tiny scale). A real 100 TB lake ingesting continuously has the opposite
problem: thousands of kilobyte-sized files per partition (one per
micro-batch task), which destroys scan performance — every file costs a
driver-side listing entry, a footer read, and a task-scheduling slot.
Compaction rewrites each date-partition into few large files without
changing a single row.

`etl.pipeline.full_load` does not create this problem: it writes its
partitioned datasets through a rebalance on the partition columns, so
an overwrite lands about one file per partition value, not one per
fetch partition and value. Compaction is for the paths that add files
over time: appends and streaming sinks.

Design for scale:
- One shuffle, keyed by the partition columns plus a bounded salt,
  so each partition directory lands in exactly `files_per_partition`
  writer tasks → that many output files. Hash repartitioning (not
  `coalesce`) keeps the scan wide — coalesce would collapse the read
  parallelism too, serializing the decode of the very small files we
  are trying to absorb.
- Spark refuses to overwrite a path it is reading (correctly — a
  mid-job failure would destroy the source), so the rewrite stages to
  a sibling directory and swaps via rename. On a real object-store
  lake this swap is the atomic-commit step a table format
  (Iceberg/Delta) provides natively; the staging/commit split here is
  the same protocol minus the manifest.
- Compaction is a pure rewrite: tests assert file-count collapse AND
  multiset row equality, not just counts.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import SparkSession, functions as F

_SALT = "__compact_salt"


@dataclass(frozen=True)
class CompactionReport:
    files_before: int
    files_after: int
    rows: int


def data_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def compact(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    *,
    files_per_partition: int = 1,
) -> CompactionReport:
    """Rewrite the partitioned Parquet dataset at ``path`` so each
    partition directory holds at most ``files_per_partition`` data
    files. Pure rewrite: the row multiset is unchanged."""
    if files_per_partition < 1:
        raise ValueError(
            f"files_per_partition must be >= 1, got {files_per_partition}"
        )
    before = len(data_files(path))
    df = spark.read.parquet(path)
    if _SALT in df.columns:
        raise ValueError(
            f"input dataset already has a {_SALT!r} column — the salting "
            "withColumn would silently replace it"
        )
    missing = [c for c in partition_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"partition_cols {missing} not in dataset columns {df.columns}"
        )
    rows = df.count()

    # Bounded salt: fans each partition's rows across at most
    # files_per_partition writer tasks (skew-free for huge partitions,
    # exact file cap for all). Distinct salts may hash to the same
    # reducer, so the cap is "at most", never "more than".
    salted = df.withColumn(
        _SALT, (F.spark_partition_id() % files_per_partition).cast("int")
    )
    keys = [F.col(c) for c in partition_cols] + [F.col(_SALT)]

    staging = path.rstrip("/") + ".compact-staging"
    backup = path.rstrip("/") + ".compact-backup"
    shutil.rmtree(staging, ignore_errors=True)
    (
        salted.repartition(*keys)
        .drop(_SALT)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(staging)
    )
    # Commit: swap directories. The data always exists somewhere, but
    # the two renames are NOT one atomic step: a crash between them
    # leaves nothing at `path` — the dataset then sits intact at the
    # .compact-backup sibling and recovery = rename it back (readers
    # that want crash-transparency should check for the backup path).
    # On object stores "rename" is copy+delete and this scheme doesn't
    # apply at all — use a table format (Iceberg/Delta) whose metadata
    # commit is atomic, and treat this module as the local-FS tier.
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)

    return CompactionReport(before, len(data_files(path)), rows)
