"""Small-file compaction: file-count collapse + exact row preservation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dataextractor_spark.catalog import load_table
from dataextractor_spark.etl.compaction import CompactionReport, compact, data_files
from tests.conftest import SF_SMALL


def _content_hash(df):
    """Order-insensitive multiset hash of every row."""
    return (
        df.select(
            F.sum(
                F.xxhash64(F.to_json(F.struct(*sorted(df.columns)))).cast(
                    "decimal(38,0)"
                )
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()
    )


def _fragmented_copy(spark, tmp_path):
    """Write orders partitioned by month with deliberately many tiny
    files per partition (the post-ingest state compaction exists for)."""
    path = str(tmp_path / "orders_lake")
    o = load_table(spark, SF_SMALL, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    o.repartition(8).write.partitionBy("month").parquet(path)
    return path


def test_compact_collapses_files_and_preserves_rows(spark, tmp_path):
    path = _fragmented_copy(spark, tmp_path)
    months = spark.read.parquet(path).select("month").distinct().count()
    before_hash = _content_hash(spark.read.parquet(path))
    n_before = len(data_files(path))
    assert n_before > months  # genuinely fragmented

    report = compact(spark, path, ["month"], files_per_partition=1)

    assert isinstance(report, CompactionReport)
    assert report.files_before == n_before
    # exactly one file per partition directory
    assert report.files_after == months
    after_hash = _content_hash(spark.read.parquet(path))
    assert after_hash == before_hash


def test_compact_file_cap_respected(spark, tmp_path):
    path = _fragmented_copy(spark, tmp_path)
    months = spark.read.parquet(path).select("month").distinct().count()
    over = [
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith("month=") and len(data_files(os.path.join(path, d))) > 2
    ]
    assert over  # the cap has something to do
    over_rows = spark.read.parquet(path).filter(F.col("month").isin(over)).count()
    report = compact(spark, path, ["month"], files_per_partition=2)
    # "at most" cap: salt values may collide onto one reducer
    assert months <= report.files_after <= 2 * months
    assert report.partitions_rewritten == len(over)
    assert report.rows_rewritten == over_rows


def test_compact_idempotent(spark, tmp_path):
    path = _fragmented_copy(spark, tmp_path)
    compact(spark, path, ["month"])
    h1 = _content_hash(spark.read.parquet(path))
    r2 = compact(spark, path, ["month"])
    assert r2.files_before == r2.files_after
    assert (r2.rows_rewritten, r2.partitions_rewritten) == (0, 0)
    assert _content_hash(spark.read.parquet(path)) == h1


def test_compact_input_contract_guards(spark, tmp_path):
    """compact() validates up front: a non-positive file cap, a
    pre-existing salt column when a rewrite is needed (withColumn would
    silently replace it), and data files that are not under
    partition_cols directories all raise before any directory is
    touched."""
    import pytest

    from dataextractor_spark.etl.compaction import _SALT, compact

    p = str(tmp_path / "ds")
    spark.range(10).selectExpr("id", "id % 2 as part").write.partitionBy(
        "part"
    ).parquet(p)
    with pytest.raises(ValueError, match="files_per_partition"):
        compact(spark, p, ["part"], files_per_partition=0)
    with pytest.raises(ValueError, match="not in dataset columns"):
        compact(spark, p, ["nope"])
    with pytest.raises(ValueError, match="not in dataset columns"):
        compact(spark, p, [])
    p2 = str(tmp_path / "ds2")
    for _ in range(2):  # two files per partition: a rewrite is needed
        spark.range(4).selectExpr("id", f"id as {_SALT}", "id % 2 as part").coalesce(
            1
        ).write.mode("append").partitionBy("part").parquet(p2)
    with pytest.raises(ValueError, match="silently replace"):
        compact(spark, p2, ["part"])
    # the guarded failures must not have moved/removed the dataset
    assert spark.read.parquet(p).count() == 10


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_compact_keeps_partition_names(spark, tmp_path):
    """Zero-padded string partition values keep their directory names:
    type inference would read part=000 as 0 and write it back as part=0."""
    path = str(tmp_path / "padded")
    spark.range(30).selectExpr(
        "id", "lpad(cast(id % 3 as string), 3, '0') as part"
    ).repartition(4).write.partitionBy("part").parquet(path)
    names = ["part=000", "part=001", "part=002"]
    assert sorted(d for d in os.listdir(path) if "=" in d) == names
    assert len(data_files(path)) > 3  # genuinely fragmented

    def rows():
        return _rows(spark.read.schema("id BIGINT, part STRING").parquet(path))

    before = rows()
    report = compact(spark, path, ["part"])
    assert sorted(d for d in os.listdir(path) if "=" in d) == names
    assert report.files_after == 3
    assert rows() == before


def test_compact_rewrites_only_fragmented_partitions(spark, tmp_path):
    """Half the partitions are fragmented: only those are rewritten, and
    every file of the other half keeps its inode and mtime."""
    path = str(tmp_path / "mixed")
    spark.range(60).selectExpr("id", "id % 6 as p").coalesce(1).write.partitionBy(
        "p"
    ).parquet(path)
    for _ in range(2):
        spark.range(60, 90).selectExpr("id", "id % 3 as p").coalesce(1).write.mode(
            "append"
        ).partitionBy("p").parquet(path)
    counts = {d: len(data_files(os.path.join(path, d))) for d in os.listdir(path) if "=" in d}
    assert counts == {"p=0": 3, "p=1": 3, "p=2": 3, "p=3": 1, "p=4": 1, "p=5": 1}
    untouched = {
        f: (st.st_ino, st.st_mtime_ns)
        for d in ("p=3", "p=4", "p=5")
        for f in data_files(os.path.join(path, d))
        for st in [os.stat(f)]
    }
    before = _rows(spark.read.parquet(path))
    dirty_rows = spark.read.parquet(path).filter("p < 3").count()

    report = compact(spark, path, ["p"])

    assert (report.partitions_rewritten, report.rows_rewritten) == (3, dirty_rows)
    assert (report.files_before, report.files_after) == (12, 6)
    assert {f: (os.stat(f).st_ino, os.stat(f).st_mtime_ns) for f in untouched} == untouched
    for d in ("p=0", "p=1", "p=2"):
        assert len(data_files(os.path.join(path, d))) == 1
    assert _rows(spark.read.parquet(path)) == before


def test_compact_of_a_compact_lake_runs_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "clean")
    spark.range(20).selectExpr("id", "id % 4 as p").coalesce(1).write.partitionBy(
        "p"
    ).parquet(path)
    sc = spark.sparkContext
    group = "compact-clean-lake"
    sc.setJobGroup(group, "compaction of a lake with no partition over the cap")
    try:
        report = compact(spark, path, ["p"])
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        spark.range(1).count()  # the group does see a job when one runs
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert report == CompactionReport(4, 4, 0, 0)
