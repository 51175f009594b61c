"""REST source connector tests (A1-A3 parity) — all fixture-fed,
nothing touches a network (SURVEY.md §7 hard part d)."""

from __future__ import annotations

import json
import os

from dataextractor_spark.etl.compaction import compact, data_files
from dataextractor_spark.etl.pipeline import (
    DatasetSpec,
    demo_match_payload,
    full_load,
    MATCH_SCHEMA,
    matches_transform,
)
from dataextractor_spark.plans.inspect import physical_plan
from dataextractor_spark.sources.rest import (
    FixtureTransport,
    RestRequest,
    TokenBucket,
    _fetch_one,
    fetch,
    page_requests,
)


def test_fetch_ok_and_404(spark):
    transport = FixtureTransport(
        {
            "/heroes": (200, json.dumps([{"id": 1}, {"id": 2}])),
            # /missing not registered → 404
        }
    )
    df = fetch(
        spark,
        [RestRequest("/heroes", "h"), RestRequest("/missing", "m")],
        lambda: transport,
        backoff_s=0.0,
    )
    rows = {r.request_id: r for r in df.collect()}
    assert rows["h"].status == 200 and rows["h"].error is None
    assert json.loads(rows["h"].body) == [{"id": 1}, {"id": 2}]
    # 404 is NOT retryable: one attempt, error recorded, no body
    assert rows["m"].status == 404
    assert rows["m"].attempts == 1
    assert rows["m"].body is None and "http 404" in rows["m"].error


def test_fetch_params_in_fixture_key(spark):
    transport = FixtureTransport(
        {"/matches?page=2": (200, json.dumps([{"id": 9}]))}
    )
    df = fetch(
        spark,
        [RestRequest("/matches", "p2", params=(("page", "2"),))],
        lambda: transport,
        backoff_s=0.0,
    )
    [r] = df.collect()
    assert r.status == 200 and json.loads(r.body) == [{"id": 9}]


def test_fetch_empty_request_list(spark):
    df = fetch(spark, [], FixtureTransport({}))
    assert df.count() == 0
    assert df.columns == ["endpoint", "request_id", "status", "body", "error", "attempts"]


class FlakyTransport:
    """Retryable failures for the first ``fail_times`` calls, then 200."""

    def __init__(self, fail_times: int, status: int = 503):
        self.fail_times = fail_times
        self.status = status
        self.calls = 0

    def __call__(self, url, params):
        self.calls += 1
        if self.calls <= self.fail_times:
            return self.status, ""
        return 200, json.dumps([{"ok": True}])


def test_retry_with_backoff_recovers():
    """Bounded retry (vs the reference's unbounded 429 recursion,
    opendotaapi.py:79-82): a 503,503,200 sequence succeeds with
    attempts=3; sleeps follow exponential backoff."""
    sleeps: list[float] = []
    row = _fetch_one(
        FlakyTransport(2),
        TokenBucket(rate=0),
        RestRequest("/x", "x"),
        max_retries=3,
        backoff_s=1.0,
        sleeper=sleeps.append,
    )
    assert row[2] == 200 and row[5] == 3  # status, attempts
    assert sleeps == [1.0, 2.0]


def test_retry_budget_exhausted():
    row = _fetch_one(
        FlakyTransport(99, status=429),
        TokenBucket(rate=0),
        RestRequest("/x", "x"),
        max_retries=2,
        backoff_s=0.0,
        sleeper=lambda s: None,
    )
    endpoint, _, status, body, error, attempts = row
    assert status == 429 and attempts == 3 and body is None
    assert "retryable" in error


def test_empty_body_guard():
    """200 with empty body → error recorded (opendotaapi.py:70-72)."""

    row = _fetch_one(
        lambda u, p: (200, "  "),
        TokenBucket(rate=0),
        RestRequest("/x", "x"),
        max_retries=0,
        backoff_s=0.0,
        sleeper=lambda s: None,
    )
    assert row[4] == "empty response body"


def test_full_load_pipeline(spark, tmp_path):
    """E2E: fixture fetch → explicit-schema normalize → transform →
    partitioned overwrite parquet → read-back counts (A19/A18/A16)."""
    transport = FixtureTransport(
        {
            "/publicMatches": (200, demo_match_payload(6)),
            "/heroes": (200, json.dumps([{"id": 1, "localized_name": "AM"}])),
        }
    )
    datasets = [
        DatasetSpec(
            name="matches",
            requests=[RestRequest("/publicMatches", "p0")],
            schema=MATCH_SCHEMA,
            transform=matches_transform,
            partition_by=("dt",),
        ),
        DatasetSpec(
            name="heroes",
            requests=[RestRequest("/heroes", "h0")],
            schema="id BIGINT, localized_name STRING",
        ),
    ]
    report = full_load(spark, datasets, lambda: transport, str(tmp_path))
    assert report.ok == {"matches": 6, "heroes": 1}
    back = spark.read.parquet(str(tmp_path / "matches"))
    assert "radiant_hero_1" in back.columns and "radiant_team" not in back.columns
    assert back.filter("dt IS NULL").count() == 0
    # idempotent overwrite (A18): second run, same counts
    report2 = full_load(spark, datasets, lambda: transport, str(tmp_path))
    assert report2.ok == report.ok


def test_full_load_failure_isolation(spark, tmp_path):
    """One dataset 404s: with raise_on_failure=False the others load
    and the failure is REPORTED, not swallowed to None (anti-A23)."""
    transport = FixtureTransport({"/heroes": (200, json.dumps([{"id": 7}]))})
    datasets = [
        DatasetSpec("broken", [RestRequest("/nope", "n")], "id BIGINT"),
        DatasetSpec("heroes", [RestRequest("/heroes", "h")], "id BIGINT"),
    ]
    report = full_load(
        spark, datasets, lambda: transport, str(tmp_path), raise_on_failure=False
    )
    assert report.ok == {"heroes": 1}
    assert "broken" in report.failed and "failed requests" in report.failed["broken"]


def test_reference_full_load_all_13(spark, tmp_path):
    """Complete A19 parity: the reference's 13-dataset monthly full
    load runs end-to-end on fixtures — list, map-constants, and
    transformed match datasets all land as typed Parquet."""
    from dataextractor_spark.etl.pipeline import (
        reference_datasets,
        reference_fixtures,
    )

    transport = FixtureTransport(reference_fixtures())
    specs = reference_datasets()
    assert len(specs) == 13
    report = full_load(spark, specs, lambda: transport, str(tmp_path))
    assert not report.failed
    assert set(report.ok) == {s.name for s in specs}
    # constants became string-keyed 2-column dims (A11 semantics)
    lobby = spark.read.parquet(str(tmp_path / "lobby_types"))
    assert dict(lobby.dtypes) == {"lobby_id": "string", "name": "string"}
    assert report.ok["lobby_types"] == 4
    # heroes kept their array-typed roles column (FIXTURES.md §2c)
    heroes = spark.read.parquet(str(tmp_path / "heroes"))
    assert dict(heroes.dtypes)["roles"] == "array<string>"
    # matches were flattened + date-partitioned (A5-A8)
    matches = spark.read.parquet(str(tmp_path / "matches"))
    assert "radiant_hero_1" in matches.columns and "dt" in matches.columns
    # sparse field null-in-first-row did not get mistyped (anti-§1.3)
    teams = spark.read.parquet(str(tmp_path / "teams"))
    assert dict(teams.dtypes)["tag"] == "string"
    assert teams.filter("tag IS NULL").count() == 1


def test_python_datasource_partition_per_endpoint(spark):
    """format("rest_fixture") plans one input partition per endpoint
    and returns one successful row per endpoint."""
    from pyspark.sql import functions as F

    from dataextractor_spark.etl.pipeline import reference_fixtures
    from dataextractor_spark.sources.rest_datasource import register

    register(spark)
    eps = sorted(reference_fixtures())
    df = (
        spark.read.format("rest_fixture")
        .option("endpoints", ",".join(eps))
        .load()
    )
    rows = df.collect()
    assert len(rows) == len(eps)
    assert df.rdd.getNumPartitions() == len(eps)
    assert all(r.status == 200 and r.attempts == 1 for r in rows)
    assert sorted(r.endpoint for r in rows) == eps
    # body payloads are the same fixtures the mapInPandas path serves
    fx = reference_fixtures()
    assert all(r.body == fx[r.endpoint][1] for r in rows)


def test_python_datasource_requires_endpoints(spark):
    import pytest as _pytest

    from dataextractor_spark.sources.rest_datasource import register

    register(spark)
    with _pytest.raises(Exception):
        spark.read.format("rest_fixture").load().collect()


def test_fetch_cursor_walks_keyset_and_stops(spark):
    """Cursor pagination: every page's cursor comes from the previous
    body, the empty page ends the walk, and each cursor is visited
    exactly once (VERDICT r2 item 7)."""
    from dataextractor_spark.operators.rest_source import (
        _PAGE_SIZE,
        _paged_fixtures,
    )
    from dataextractor_spark.sources.rest import fetch_cursor

    calls: list[str] = []
    fx = FixtureTransport(_paged_fixtures())

    def spy(url, params):
        key = url
        if params:
            key += "?" + "&".join(f"{k}={v}" for k, v in sorted(params.items()))
        calls.append(key)
        return fx(url, params)

    def next_params(status, body, params):
        recs = json.loads(body) if status == 200 and body else []
        if len(recs) < _PAGE_SIZE:
            return None
        return {"less_than_match_id": str(min(r["match_id"] for r in recs))}

    out = fetch_cursor(
        spark, "/publicMatches", lambda: spy, next_params=next_params
    ).collect()
    assert [r.request_id for r in out] == ["page0", "page1", "page2", "page3"]
    assert all(r.status == 200 for r in out)
    assert json.loads(out[-1].body) == []  # empty probe recorded, then stop
    assert len(calls) == len(set(calls)) == 4  # no cursor fetched twice


def test_fetch_cursor_bounded_by_max_pages(spark):
    """An endpoint that never exhausts must stop at max_pages — the
    bounded replacement for the reference's unbounded 429 recursion."""
    from dataextractor_spark.sources.rest import fetch_cursor

    body = json.dumps([{"match_id": 1}])
    out = fetch_cursor(
        spark,
        "/infinite",
        lambda: (lambda url, params: (200, body)),
        next_params=lambda s, b, p: {"page": str(int(p.get("page", "0")) + 1)},
        max_pages=5,
    ).collect()
    assert len(out) == 5


def test_page_requests_fan_out(spark):
    """Offset pagination is a request fan-out: page_requests builds the
    range, fetch executes it distributed, every page lands."""
    from dataextractor_spark.sources.rest import page_requests

    reqs = page_requests("/items", 3, params=(("limit", "2"),))
    fx = FixtureTransport(
        {
            f"/items?limit=2&page={p}": (200, json.dumps([{"p": p}]))
            for p in range(3)
        }
    )
    out = fetch(spark, reqs, lambda: fx).collect()
    assert sorted(r.request_id for r in out) == ["page0", "page1", "page2"]
    assert all(r.status == 200 for r in out)


def test_full_load_concurrent_equals_sequential(spark, tmp_path):
    """max_concurrency>1 submits dataset loads from driver threads;
    results (row counts per dataset, parquet contents) must be
    identical to the sequential run, with isolation preserved."""
    from dataextractor_spark.etl.pipeline import reference_datasets, reference_fixtures

    specs = reference_datasets()
    transport = FixtureTransport(reference_fixtures())
    seq = full_load(spark, specs, lambda: transport, str(tmp_path / "seq"))
    conc = full_load(
        spark, specs, lambda: transport, str(tmp_path / "conc"), max_concurrency=4
    )
    assert seq.ok == conc.ok and not conc.failed
    for name in conc.ok:
        a = sorted(
            map(tuple, spark.read.parquet(f"{tmp_path}/seq/{name}").collect())
        )
        b = sorted(
            map(tuple, spark.read.parquet(f"{tmp_path}/conc/{name}").collect())
        )
        assert a == b, name


def test_fetch_has_no_shuffle(spark):
    """The request list is sliced straight into input partitions: no
    Exchange in the plan, one partition per request by default, and
    ``num_partitions`` still sets the count."""
    reqs = page_requests("/items", 3)
    fx = FixtureTransport({})
    df = fetch(spark, reqs, lambda: fx)
    assert "Exchange" not in physical_plan(df, "simple")
    assert df.rdd.getNumPartitions() == 3
    assert fetch(spark, reqs, lambda: fx, num_partitions=2).rdd.getNumPartitions() == 2


class OnceOnlyPageTransport:
    """Five records per ``?page=k``; page 1 answers 200 on its first call
    and 404 on every later one. Each call appends its page to a log
    opened with O_APPEND: the fetching Python workers are separate
    processes, so the log is the only count they share."""

    def __init__(self, log_path: str):
        self.log_path = log_path

    def __call__(self, url, params):
        page = params["page"]
        seen = []
        if os.path.exists(self.log_path):
            with open(self.log_path, encoding="utf-8") as f:
                seen = f.read().split()
        fd = os.open(self.log_path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, f"{page}\n".encode())
        finally:
            os.close(fd)
        if page == "1" and page in seen:
            return 404, json.dumps({"error": "page 1 is gone"})
        return 200, json.dumps([{"id": 10 * int(page) + i} for i in range(5)])


def test_full_load_fetches_each_request_once(spark, tmp_path):
    """The failure check and the write read one fetch. If the write
    fetched again, page 1's second answer (404) would drop its rows
    from the lake while the check had passed."""
    log = str(tmp_path / "calls.log")
    spec = DatasetSpec("pages", page_requests("/items", 3), "id BIGINT")
    report = full_load(
        spark, [spec], lambda: OnceOnlyPageTransport(log), str(tmp_path / "lake")
    )
    assert report.ok == {"pages": 15} and not report.failed
    with open(log, encoding="utf-8") as f:
        assert sorted(f.read().split()) == ["0", "1", "2"]
    ids = sorted(r.id for r in spark.read.parquet(str(tmp_path / "lake" / "pages")).collect())
    assert ids == [10 * p + i for p in range(3) for i in range(5)]


def test_full_load_failure_report_is_bounded(spark, tmp_path):
    """Many failed requests: the report counts them all and quotes at
    most three errors."""
    spec = DatasetSpec("broken", page_requests("/nope", 10), "id BIGINT")
    report = full_load(
        spark, [spec], lambda: FixtureTransport({}), str(tmp_path), raise_on_failure=False
    )
    msg = report.failed["broken"]
    assert msg.startswith("RuntimeError: 10 failed requests for 'broken'; e.g. [")
    sample = msg.split("e.g. ", 1)[1]
    assert sample.count("http 404") == 3


def _spread_pages(n_pages: int, per_page: int, days: int) -> dict:
    """publicMatches pages whose records cover ``days`` São Paulo dates,
    so every date gets rows from every page."""
    fx = {}
    for p in range(n_pages):
        recs = json.loads(demo_match_payload(per_page, 1_750_000_000 + 3600 * p))
        for i, rec in enumerate(recs):
            rec["match_id"] += 100 * p
            rec["start_time"] += 86_400 * (i % days) - 3600 * i
        fx[f"/publicMatches?page={p}"] = (200, json.dumps(recs))
    return fx


def test_partitioned_full_load_writes_one_file_per_dt(spark, tmp_path):
    """A dt-partitioned load of pages that each span several days writes
    one data file per dt directory (not one per fetch partition and
    day), so compacting that output rewrites nothing.
    Six pages, because with three a round-robin request shuffle can put
    all of them in one fetch partition and hide the file fan-out."""
    spec = DatasetSpec(
        name="matches",
        requests=page_requests("/publicMatches", 6),
        schema=MATCH_SCHEMA,
        transform=matches_transform,
        partition_by=("dt",),
    )
    fx = FixtureTransport(_spread_pages(6, 8, 4))
    report = full_load(spark, [spec], lambda: fx, str(tmp_path))
    assert report.ok == {"matches": 48}
    path = str(tmp_path / "matches")
    dt_dirs = sorted(d for d in os.listdir(path) if d.startswith("dt="))
    assert len(dt_dirs) == 4
    for d in dt_dirs:
        assert len(data_files(os.path.join(path, d))) == 1, d

    def rows():
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    before = rows()
    rep = compact(spark, path, ["dt"])
    assert rep.files_before == rep.files_after == 4
    assert rep.rows_rewritten == 0
    assert rows() == before
