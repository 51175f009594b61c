"""Small-file compaction for partitioned Parquet lakes.

The reference's lake writes one fixed-key object per monthly run
(`extract-data-dota.py:131,135,…` — overwrite hides the problem at its
tiny scale). A real 100 TB lake ingesting continuously has the opposite
problem: thousands of kilobyte-sized files per partition (one per
micro-batch task), which destroys scan performance — every file costs a
driver-side listing entry, a footer read, and a task-scheduling slot.
Compaction rewrites each fragmented partition into few large files
without changing a single row.

`etl.pipeline.full_load` does not create this problem: it writes its
partitioned datasets through a rebalance on the partition columns, so
an overwrite lands about one file per partition value. Its output is
already compact, and compacting it costs one directory listing and no
Spark job. Compaction is for the paths that add files over time:
appends and streaming sinks, where only the recent partitions are
fragmented.

Design for scale:
- One listing, grouped by leaf partition directory. Only the
  directories holding more than `files_per_partition` files are read
  and rewritten, so the bytes rewritten scale with the fragmented
  partitions, not with the table. When none is over the cap, no Spark
  job runs and no directory moves.
- The layout is checked from the listing: every data file must sit
  under `col=value` directories named in `partition_cols` order.
- Partition values are read back as the strings in the directory
  names (a user schema types the partition columns STRING), so every
  rewritten directory keeps its exact name: type inference would read
  `part=000` as the integer 0 and write it back as `part=0`. The
  session's own inference setting is left alone.
- One shuffle, keyed by the partition columns plus a bounded salt,
  so each partition directory lands in at most `files_per_partition`
  writer tasks → that many output files. Hash repartitioning (not
  `coalesce`) keeps the scan wide — coalesce would collapse the read
  parallelism too, serializing the decode of the very small files we
  are trying to absorb. The rewritten rows are counted by an
  `Observation` on the same write, not by a separate job.
- Spark refuses to overwrite a path it is reading (correctly — a
  mid-job failure would destroy the source), so the rewrite stages to
  the sibling `<path>.compact-staging` and commits one partition at a
  time: the old directory moves to `<path>.compact-backup/<rel>`, then
  its staged replacement moves into place. Partitions that are not
  rewritten never move. On a real object-store lake this commit is the
  atomic step a table format (Iceberg/Delta) provides natively; the
  staging/commit split here is the same protocol minus the manifest.
- Crash recovery: the data always exists somewhere, but each
  partition's two renames are not one atomic step. A crash between
  them leaves that partition missing at `path` and intact in the
  backup; a crash after them leaves the new copy at `path` and the old
  one in the backup. So recovery is: move back every backup partition
  that is missing at `path`, then delete the backup and the staging
  directory. `compact` refuses to start while a backup exists, so it
  never deletes the only copy of a partition.
- Compaction is a pure rewrite: tests assert file-count collapse AND
  multiset row equality, not just counts.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

_SALT = "__compact_salt"


@dataclass(frozen=True)
class CompactionReport:
    files_before: int
    files_after: int
    #: rows of the rewritten partitions only (0 when none was over the cap)
    rows_rewritten: int
    partitions_rewritten: int


def data_files(root: str) -> list[str]:
    out = []
    for dirpath, dirs, files in os.walk(root):
        # Spark's file listing skips these directories too (e.g. the
        # `_temporary` a failed writer leaves behind).
        dirs[:] = [
            d for d in dirs
            if not d.startswith(".") and (not d.startswith("_") or "=" in d)
        ]
        out.extend(
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def _partition_files(root: str, partition_cols: list[str]) -> dict[str, list[str]]:
    """The data files under ``root`` grouped by leaf partition directory,
    keyed by its path relative to ``root`` ("." when ``partition_cols``
    is empty). Raises unless every file sits under ``col=value``
    directories named in ``partition_cols`` order."""
    groups: dict[str, list[str]] = {}
    for f in data_files(root):
        rel = os.path.relpath(os.path.dirname(f), root)
        parts = [] if rel == "." else rel.split(os.sep)
        cols = [p.split("=", 1)[0] if "=" in p else None for p in parts]
        if cols != partition_cols:
            raise ValueError(
                f"partition_cols {partition_cols} not in dataset columns: "
                f"{os.path.relpath(f, root)!r} lies under directories {parts}"
            )
        groups.setdefault(rel, []).append(f)
    return groups


def compact(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    *,
    files_per_partition: int = 1,
) -> CompactionReport:
    """Rewrite each partition directory of the Parquet dataset at
    ``path`` that holds more than ``files_per_partition`` data files
    into at most that many. Other partitions are not touched. Pure
    rewrite: the row multiset and the directory names are unchanged."""
    if files_per_partition < 1:
        raise ValueError(
            f"files_per_partition must be >= 1, got {files_per_partition}"
        )
    root = path.rstrip("/")
    staging = root + ".compact-staging"
    backup = root + ".compact-backup"
    if os.path.exists(backup):
        raise FileExistsError(
            f"{backup} exists: an earlier compaction of {path} did not finish. "
            "Move back each partition there that is missing at the path, "
            "then delete it."
        )
    groups = _partition_files(root, partition_cols)
    before = sum(map(len, groups.values()))
    dirty = sorted(rel for rel, files in groups.items() if len(files) > files_per_partition)
    if not dirty:
        return CompactionReport(before, before, 0, 0)

    def under(base: str, rel: str) -> str:
        return os.path.normpath(os.path.join(base, rel))

    dirs = [under(root, rel) for rel in dirty]
    inferred = spark.read.option("basePath", root).parquet(*dirs).schema
    if _SALT in inferred.names:
        raise ValueError(
            f"input dataset already has a {_SALT!r} column — the salting "
            "withColumn would silently replace it"
        )
    schema = StructType([
        StructField(f.name, StringType()) if f.name in partition_cols else f
        for f in inferred
    ])
    df = spark.read.schema(schema).option("basePath", root).parquet(*dirs)

    # Bounded salt: fans each partition's rows across at most
    # files_per_partition writer tasks (skew-free for huge partitions,
    # exact file cap for all). Distinct salts may hash to the same
    # reducer, so the cap is "at most", never "more than".
    salted = df.withColumn(
        _SALT, (F.spark_partition_id() % files_per_partition).cast("int")
    )
    keys = [F.col(c) for c in partition_cols] + [F.col(_SALT)]
    rows = Observation("compact")
    shutil.rmtree(staging, ignore_errors=True)
    (
        salted.repartition(*keys)
        .drop(_SALT)
        .observe(rows, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(staging)
    )
    staged = _partition_files(staging, partition_cols)
    renamed = sorted(set(staged) - set(dirty))
    if renamed:
        shutil.rmtree(staging)
        raise RuntimeError(
            f"the rewrite would rename partitions {renamed}; {path} is unchanged"
        )

    # Commit one partition at a time (recovery: module docstring). A
    # dirty directory with no staged replacement held no rows.
    for rel in dirty:
        old = under(backup, rel)
        os.makedirs(os.path.dirname(old), exist_ok=True)
        os.rename(under(root, rel), old)
        if rel in staged:
            os.rename(under(staging, rel), under(root, rel))
    shutil.rmtree(backup)
    shutil.rmtree(staging, ignore_errors=True)

    after = before - sum(len(groups[rel]) for rel in dirty) + sum(map(len, staged.values()))
    return CompactionReport(before, after, rows.get["n"], len(dirty))
