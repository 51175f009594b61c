"""Spark 4 Python DataSource for the REST connector: the
``spark.read.format("rest_fixture")`` face of sources/rest.py.

SURVEY.md §4.3 lists "DataSource V2 reader" as the finished form of
the REST source. Spark 4's Python DataSource API is exactly that
surface for PySpark: the engine plans the scan (one input partition
per endpoint here, so fetch parallelism = endpoint count), executors
run ``read(partition)``, and downstream transforms/filter pushdown
compose like any other relation — versus the one-stage mapPartitions
fetch in sources/rest.py (kept: it handles request lists of ANY size,
e.g. 10⁶ match-id lookups, where partitions are request slices
rather than endpoints).

Determinism: the transport is the same FixtureTransport the rest of
the repo uses (reference_fixtures() — the 13-dataset OpenDota fake,
opendotaapi.py:95-123 et al.); nothing touches a network. A real
deployment swaps ``transport_factory`` for http_transport_factory via
the ``transport`` option. Each partition still gets its own token
bucket and bounded-backoff retry loop (A2/A3 parity).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from dataextractor_spark.sources.rest import (
    RESULT_SCHEMA,
    FixtureTransport,
    RestRequest,
    TokenBucket,
    _fetch_one,
)


class RestEndpointPartition(InputPartition):
    def __init__(self, endpoint: str):
        self.endpoint = endpoint


class RestFixtureDataSource(DataSource):
    """Options:
    - ``endpoints``: comma-separated endpoint paths (required).
    - ``max_retries`` (default 3), ``rate`` req/s per partition
      (default 0 = unlimited), ``backoff_s`` (default 0).
    """

    @classmethod
    def name(cls) -> str:
        return "rest_fixture"

    def schema(self) -> str:
        return RESULT_SCHEMA

    def reader(self, schema) -> "RestFixtureReader":
        return RestFixtureReader(self.options)


class RestFixtureReader(DataSourceReader):
    def __init__(self, options):
        self._endpoints = [
            e.strip()
            for e in options.get("endpoints", "").split(",")
            if e.strip()
        ]
        if not self._endpoints:
            raise ValueError("rest_fixture requires an 'endpoints' option")
        self._max_retries = int(options.get("max_retries", "3"))
        self._rate = float(options.get("rate", "0"))
        self._backoff_s = float(options.get("backoff_s", "0"))

    def partitions(self):
        # One planned input partition per endpoint: the scheduler
        # spreads endpoints across executor cores, giving the
        # concurrency the reference's sequential loop
        # (extract-data-dota.py:126-199) never had.
        return [RestEndpointPartition(e) for e in self._endpoints]

    def read(self, partition: RestEndpointPartition):
        # Executor-side: one transport + one bucket per partition.
        from dataextractor_spark.etl.pipeline import reference_fixtures

        transport = FixtureTransport(reference_fixtures())
        bucket = TokenBucket(rate=self._rate)
        yield _fetch_one(
            transport,
            bucket,
            RestRequest(endpoint=partition.endpoint),
            max_retries=self._max_retries,
            backoff_s=self._backoff_s,
        )


def register(spark) -> None:
    """Idempotent format registration."""
    spark.dataSource.register(RestFixtureDataSource)
