"""Bucketed table layout: pre-shuffle data ONCE at write time so every
subsequent join/aggregation on the bucket key is exchange-free.

At 100 TB this is the difference between re-shuffling a fact table on
every query and never shuffling it again: lineitem bucketed by
l_orderkey joins orders bucketed by o_orderkey with ZERO runtime
exchanges (tests/test_plans.py asserts this on the actual plan).
The same layout serves repeated aggregations on the bucket key.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from dataextractor_spark.scratch import scratch_dir


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int,
    *,
    sort_key: str | None = None,
) -> None:
    """Persist as a bucketed (+ optionally sorted) external table.
    Sorting within buckets additionally lets sort-merge joins skip
    their sort step.

    The files go to a fresh per-call ``scratch.scratch_dir``, not the
    session's shared warehouse: each call re-points ``table`` at its own
    directory, so two runs from one working directory never share a
    location, and a DataFrame read after an earlier call keeps scanning
    that call's files."""
    # the name becomes a table identifier AND a directory name —
    # restrict to a plain identifier so a hostile/typo'd name
    # (backticks, '../..') can't escape either context
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(
            f"table must be a plain SQL identifier, got {table!r}"
        )
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_key is not None:
        w = w.sortBy(sort_key)
    path = os.path.join(scratch_dir(f"bucketed-{table}-"), table)
    w.format("parquet").option("path", path).saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read back with bucket metadata intact (spark.table, not a raw
    path read — the path read would lose bucketing info)."""
    return spark.table(table)
