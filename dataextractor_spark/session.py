"""SparkSession factory with scale-ready defaults.

The reference runs a single eager process (extract-data-dota.py:112-209);
our engine's unit of execution is a SparkSession configured for a large
cluster: AQE (runtime re-planning, skew-join splitting, partition
coalescing), sensible shuffle parallelism, Arrow transfers for the
Python boundary. It sets no session timezone and excludes no optimizer
rule: the catalog hands out timestamps as TIMESTAMP_NTZ and every query
states its time arithmetic without a zone, so results are the same in
any session. (Spark's ``date_trunc``/``date_format`` still cast an NTZ
value through the session zone, so a wall-clock time inside that zone's
spring-forward gap would shift by the gap; no fixture time falls in one.)

Spark's Python workers are forked from ``dataextractor_spark.pydaemon``
(``spark.python.daemon.module``) rather than ``pyspark.daemon``. It runs
the same daemon, but stops every Python task from re-reading the
unchanged ``pyspark.zip`` directory, about 0.15 s per task on CPython
3.10/3.11 (see that module). Workers must be able to import this
package, which the engine's UDFs, pickled by reference, already need.

Spark keeps one daemon, with its own pool of workers, per distinct
worker environment. SQL Python runners (pandas and Python UDFs) add
``SPARK_SIMPLIFIED_TRACEBACK=1`` to that environment, but RDD-backed
Python (the ``fetch`` REST source, ``createDataFrame`` of local rows)
does not, so a session that mixes the two would run two daemons.
``spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK`` gives every worker the
same environment, and the session one pool. The side effect: a caller
who turns ``spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled``
off still gets simplified UDF tracebacks.

Locally we run ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
code runs unchanged with ``--master yarn``/``k8s`` because nothing here
assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        # --- local-mode resources (ignored under a cluster manager) --
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
