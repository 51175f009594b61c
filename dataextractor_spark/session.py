"""SparkSession factory with scale-ready defaults.

The reference runs a single eager process (extract-data-dota.py:112-209);
our engine's unit of execution is a SparkSession configured for a large
cluster: AQE (runtime re-planning, skew-join splitting, partition
coalescing), sensible shuffle parallelism, Arrow transfers for the
Python boundary, and a fixed UTC session timezone so event-time results
are deterministic across environments.

Spark's Python workers are forked from ``dataextractor_spark.pydaemon``
(``spark.python.daemon.module``) rather than ``pyspark.daemon``. It runs
the same daemon, but stops every Python task from re-reading the
unchanged ``pyspark.zip`` directory, about 0.15 s per task on CPython
3.10/3.11 (see that module). Workers must be able to import this
package, which the engine's UDFs, pickled by reference, already need.

Locally we run ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
code runs unchanged with ``--master yarn``/``k8s`` because nothing here
assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conf pins that results depend on, applied by ``get_session`` and
#: again by ``catalog.load_table`` (the external driver builds its own
#: session, and load_table is the mandatory first touch of any data).
#:
#: - UTC timezone: epoch math and date_format over LTZ timestamps read
#:   the session tz, so results must not depend on the caller's.
#: - InferFiltersFromGenerate excluded (SPARK-36715 family): the rule
#:   synthesizes `size(arr) > 0` above an explode; predicate pushdown
#:   then inlines the array expression into the scan filter with every
#:   attribute reference substituted by its defining expression. For
#:   higher-order-function pipelines (transform over transform, e.g.
#:   winnowing fingerprints) that substitution re-evaluates inner
#:   arrays per lambda element — O(len^2+) per row, a measured 23x
#:   slowdown at sf0.1. explode() already emits nothing for empty
#:   arrays, so the inferred filter only ever saves the per-row empty
#:   check; dropping the rule is strictly safe.
SESSION_PINS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def get_session(
    app_name: str = "dataextractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    Parameters are env-overridable so the same entrypoints serve tests
    (small local), bench (local[$SPARK_GRAFT_CPUS] @ sf0.1), and a real
    cluster.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptivity: let Spark re-plan at runtime -----------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Python boundary: always Arrow-batched -------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "dataextractor_spark.pydaemon")
        # --- local-mode resources (ignored under a cluster manager) --
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in {**SESSION_PINS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
