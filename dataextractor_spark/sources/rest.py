"""Distributed REST source with retry, backoff, and rate limiting
(Tier-A parity: A1 _make_request opendotaapi.py:55-93, A2 rate-limit
:79-82, A3 transport retry :45-53 — SURVEY.md §2.1).

Differences from the reference, by design:
- DISTRIBUTED: the reference fetches 13 endpoints sequentially on one
  thread (extract-data-dota.py:126-199). Here the request list is
  sliced into partitions and every executor core fetches its
  partition of requests concurrently, with a per-partition session
  and token bucket. 10⁶ entity-detail lookups
  (A13's match_id getters) become an embarrassingly parallel scan.
- BOUNDED retries: the reference recurses forever on HTTP 429
  (opendotaapi.py:79-82) and swallows errors to None (A23). We retry
  with exponential backoff up to a budget, then RECORD the failure in
  the result row (status + error columns) — per-request isolation
  without silent data loss.
- INJECTABLE transport: tests and the oracle demo run on
  ``FixtureTransport`` (an in-memory URL→payload map), so nothing in
  this repo ever touches a network.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession

#: (status_code, body) — the whole transport contract.
Response = tuple[int, str]
#: transport: url, params → Response. Must be constructible on executors,
#: hence the factory indirection below.
Transport = Callable[[str, Mapping[str, str]], Response]
TransportFactory = Callable[[], Transport]

RETRYABLE_STATUSES = frozenset({429, 500, 502, 503, 504})

RESULT_SCHEMA = (
    "endpoint string, request_id string, status int, body string, "
    "error string, attempts int"
)


@dataclass(frozen=True)
class RestRequest:
    """One logical GET: endpoint path + query params + caller's id."""

    endpoint: str
    request_id: str = ""
    params: tuple[tuple[str, str], ...] = ()


@dataclass
class TokenBucket:
    """Per-partition client-side rate limiter: ``rate`` requests/sec
    with burst up to ``capacity``. Replaces the reference's fixed
    sleep(60) 429 penalty with smooth pacing that avoids tripping the
    server limit in the first place."""

    rate: float
    capacity: float = 1.0
    _tokens: float = field(default=0.0, init=False)
    _last: float = field(default=0.0, init=False)

    def acquire(self) -> None:
        if self.rate <= 0:
            return
        now = time.monotonic()
        if self._last == 0.0:
            self._tokens = self.capacity
        self._tokens = min(self.capacity, self._tokens + (now - self._last) * self.rate)
        self._last = now
        if self._tokens < 1.0:
            wait = (1.0 - self._tokens) / self.rate
            time.sleep(wait)
            # the sleep earned exactly the deficit (one whole token,
            # now spent). Restart accrual from the POST-sleep clock —
            # leaving _last at the pre-sleep instant would re-credit
            # the wait on the next call and transiently admit ~2× the
            # configured rate.
            self._last = time.monotonic()
            self._tokens = 0.0
        else:
            self._tokens -= 1.0


class FixtureTransport:
    """Deterministic in-memory transport: {(endpoint, frozen_params):
    (status, body)} — the test/oracle path (SURVEY.md §7 hard part d:
    REST determinism)."""

    def __init__(self, fixtures: Mapping[str, Response]):
        self._fixtures = dict(fixtures)

    def __call__(self, url: str, params: Mapping[str, str]) -> Response:
        key = url
        if params:
            key = url + "?" + "&".join(f"{k}={v}" for k, v in sorted(params.items()))
        if key not in self._fixtures:
            return 404, json.dumps({"error": f"no fixture for {key}"})
        return self._fixtures[key]


def http_transport_factory(
    base_url: str, timeout_s: float = 30.0
) -> TransportFactory:
    """Real-network transport (requests + urllib3 Retry mounted on a
    per-partition session — the A3 policy applied to EVERY call, fixing
    the reference inconsistency where 35 of 36 getters bypass the retry
    session, SURVEY.md §2.1 A3). Import-gated: this container has no
    network, so construction is lazy and tests never touch it."""

    def factory() -> Transport:
        import requests  # noqa: PLC0415 — executor-side lazy import
        from requests.adapters import HTTPAdapter
        from urllib3.util.retry import Retry

        session = requests.Session()
        retry = Retry(
            total=3,
            backoff_factor=1,
            status_forcelist=sorted(RETRYABLE_STATUSES),
        )
        session.mount("https://", HTTPAdapter(max_retries=retry))
        session.mount("http://", HTTPAdapter(max_retries=retry))

        def get(url: str, params: Mapping[str, str]) -> Response:
            r = session.get(base_url + url, params=dict(params), timeout=timeout_s)
            return r.status_code, r.text

        return get

    return factory


def page_requests(
    endpoint: str,
    n_pages: int,
    *,
    page_param: str = "page",
    start: int = 0,
    params: tuple[tuple[str, str], ...] = (),
    id_prefix: str = "page",
) -> list[RestRequest]:
    """Offset/page-number pagination as a REQUEST FAN-OUT: for APIs
    whose pages are independently addressable (?page=k), the whole
    range is a list of requests ``fetch`` executes in parallel across
    executors — pagination at cluster speed, not protocol speed."""
    return [
        RestRequest(
            endpoint,
            f"{id_prefix}{p}",
            tuple(sorted((*params, (page_param, str(p))))),
        )
        for p in range(start, start + n_pages)
    ]


#: cursor policy: (status, body, params_used) → params for the NEXT
#: page, or None to stop. Pure function of the page just fetched.
CursorFn = Callable[[int, "str | None", Mapping[str, str]], "Mapping[str, str] | None"]


def fetch_cursor(
    spark: SparkSession,
    endpoint: str,
    transport_factory: TransportFactory,
    *,
    next_params: CursorFn,
    first_params: Mapping[str, str] | None = None,
    max_pages: int = 64,
    max_retries: int = 3,
    backoff_s: float = 1.0,
    rate_limit: float = 0.0,
) -> DataFrame:
    """Bounded cursor-chain pagination (the keyset / less_than_id
    style the OpenDota publicMatches API uses).

    A cursor chain is serial BY PROTOCOL — page k's params come from
    page k-1's body — so the walk runs on the driver with the same
    bounded-retry/backoff/rate-limit policy as the distributed path,
    and stops at ``max_pages`` (never the reference's unbounded
    recursion, opendotaapi.py:79-82) or when ``next_params`` returns
    None. The collected pages (RESULT_SCHEMA rows, request_id =
    "page<k>") become a DataFrame, so everything downstream
    (normalize → flatten → sink) is distributed.

    Scale note: cursor latency is O(pages) on any cluster size. For
    bulk crawls, shard the keyspace: run one bounded chain per
    disjoint id-range (or use ``page_requests`` + ``fetch`` when pages
    are independently addressable) so chains proceed in parallel."""
    transport = transport_factory()
    bucket = TokenBucket(rate=rate_limit)
    rows: list[tuple] = []
    params: dict[str, str] = dict(first_params or {})
    for k in range(max_pages):
        req = RestRequest(endpoint, f"page{k}", tuple(sorted(params.items())))
        row = _fetch_one(
            transport, bucket, req, max_retries=max_retries, backoff_s=backoff_s
        )
        rows.append(row)
        nxt = next_params(row[2], row[3], dict(params))
        if nxt is None:
            break
        params = dict(nxt)
    return spark.createDataFrame(rows, RESULT_SCHEMA)


def _fetch_one(
    transport: Transport,
    bucket: TokenBucket,
    req: RestRequest,
    *,
    max_retries: int,
    backoff_s: float,
    sleeper: Callable[[float], None] = time.sleep,
) -> tuple[str, str, int, str | None, str | None, int]:
    """Fetch with bounded exponential backoff on retryable statuses.
    Returns a RESULT_SCHEMA row; never raises for HTTP-level failures
    (the error travels in the row; empty bodies get the reference's
    empty-body guard, opendotaapi.py:70-72)."""
    attempts = 0
    status, body, error = 0, None, None
    while attempts <= max_retries:
        attempts += 1
        bucket.acquire()
        try:
            status, body = transport(req.endpoint, dict(req.params))
        except Exception as exc:  # transport/network error
            status, body, error = -1, None, f"{type(exc).__name__}: {exc}"
        else:
            error = None
            if status == 200 and (body is None or body.strip() == ""):
                error = "empty response body"
            elif status == 200:
                break
            elif status not in RETRYABLE_STATUSES:
                error = f"http {status}"
                break
            else:
                error = f"http {status} (retryable)"
        if attempts <= max_retries:
            sleeper(backoff_s * (2 ** (attempts - 1)))
    return (
        req.endpoint,
        req.request_id,
        status,
        body if status == 200 else None,
        error,
        attempts,
    )


def fetch(
    spark: SparkSession,
    requests_list: Iterable[RestRequest],
    transport_factory: TransportFactory,
    *,
    rate_limit_per_partition: float = 0.0,
    max_retries: int = 3,
    backoff_s: float = 1.0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Execute a batch of REST requests as a distributed scan.

    The request list is sliced straight into ``num_partitions`` input
    partitions (default: one per request, at most 64), so the scan has
    no shuffle. Each partition builds ONE transport (connection reuse ≙
    the reference's Session) and one token bucket, and fetches its
    requests in the same Python worker that hands the result rows to
    Spark. That keeps the fetch to one Python stage: every Python stage
    has a fixed cost per task (about 0.05 s from submit to function
    entry on 4 cores, 0.2 s before ``pydaemon``), and that cost
    dominates a small fetch.
    Result schema: (endpoint, request_id, status, body, error,
    attempts) — callers normalize `body` with etl.normalize / from_json.

    The result is lazy: every action on it fetches again. A caller that
    reads it more than once persists it first (see ``full_load``).
    """
    reqs = list(requests_list)
    if not reqs:
        return spark.createDataFrame([], RESULT_SCHEMA)
    n_parts = num_partitions or min(len(reqs), 64)

    def run_partition(part: Iterator[RestRequest]) -> Iterator[tuple]:
        transport = transport_factory()
        bucket = TokenBucket(rate=rate_limit_per_partition)
        for req in part:
            yield _fetch_one(
                transport, bucket, req, max_retries=max_retries, backoff_s=backoff_s
            )

    rows = spark.sparkContext.parallelize(reqs, n_parts).mapPartitions(run_partition)
    return spark.createDataFrame(rows, RESULT_SCHEMA)
