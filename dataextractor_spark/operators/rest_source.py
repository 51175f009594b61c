"""Registry entries for the REST source + full-load pipeline
(Tier-A parity A1-A8 end-to-end), fixture-fed so the driver's
correctness runner exercises the complete fetch→normalize→flatten→
tz-convert dataflow deterministically with no network.

The oracle is a VALUES literal computed from the same deterministic
payload generator — proving the distributed pipeline reproduces the
reference's E2 output (opendotaapi.py:95-123) record-for-record.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataextractor_spark.etl.pipeline import (
    MATCH_SCHEMA,
    demo_match_payload,
    matches_transform,
)
from dataextractor_spark.registry import query
from dataextractor_spark.sources.rest import (
    FixtureTransport,
    RestRequest,
    fetch,
)

_N_MATCHES = 8
_BASE_TS = 1750000000


def _expected_rows() -> list[tuple]:
    """Reference semantics computed independently (plain Python):
    epoch UTC → América/Sao_Paulo (fixed UTC-3 since 2019)."""
    rows = []
    for i in range(_N_MATCHES):
        st = _BASE_TS + i * 3600
        local = datetime.utcfromtimestamp(st) - timedelta(hours=3)
        rows.append(
            (
                8_000_000_000 + i,
                i % 2 == 0,
                1 + i,  # radiant_hero_1
                42 + i,  # dire_hero_5
                1800 + 60 * i,
                local.strftime("%Y-%m-%d %H:%M:%S"),
                local.strftime("%Y-%m-%d"),
            )
        )
    return rows


def _values_sql() -> str:
    vals = ",\n        ".join(
        f"({m}, {str(w).upper()}, {h1}, {d5}, {dur}, '{ts}', '{dt}')"
        for (m, w, h1, d5, dur, ts, dt) in _expected_rows()
    )
    return f"""
    SELECT CAST(match_id AS BIGINT) AS match_id,
           radiant_win,
           radiant_hero_1,
           dire_hero_5,
           CAST(duration AS BIGINT) AS duration,
           start_local,
           dt
    FROM (VALUES
        {vals}
    ) AS t(match_id, radiant_win, radiant_hero_1, dire_hero_5, duration,
           start_local, dt)
    ORDER BY match_id
    """


@query("rest_publicmatches_pipeline", oracle=_values_sql())
def rest_publicmatches_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 end-to-end on the distributed REST source: fixture transport
    → mapPartitions fetch → explicit-schema JSON normalize → array
    flatten (A5/A6) → epoch→São Paulo (A7) → date key (A8)."""
    transport = FixtureTransport(
        {"/publicMatches": (200, demo_match_payload(_N_MATCHES, _BASE_TS))}
    )
    raw = fetch(
        spark,
        [RestRequest(endpoint="/publicMatches", request_id="page0")],
        lambda: transport,
    )
    from dataextractor_spark.etl.pipeline import normalize_payloads, DatasetSpec

    records = normalize_payloads(
        raw,
        DatasetSpec(name="matches", requests=(), schema=MATCH_SCHEMA),
    )
    shaped = matches_transform(records)
    return shaped.select(
        "match_id",
        "radiant_win",
        "radiant_hero_1",
        "dire_hero_5",
        "duration",
        F.date_format("ts_local", "yyyy-MM-dd HH:mm:ss").alias("start_local"),
        "dt",
    ).orderBy("match_id")


@query(
    "rest_datasource_scan",
    oracle="""
    SELECT CAST(200 AS INT) AS status,
           CAST(13 AS BIGINT) AS n_endpoints,
           CAST(13 AS BIGINT) AS total_attempts
    """,
)
def rest_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 Python DataSource face of the REST connector:
    spark.read.format("rest_fixture") plans one input partition per
    endpoint (13-way concurrent fetch of the reference's full-load
    set, vs its sequential loop extract-data-dota.py:126-199) and the
    fixture transport makes the result exact: 13 endpoints, all HTTP
    200, one attempt each — which the VALUES oracle pins."""
    from dataextractor_spark.etl.pipeline import reference_fixtures
    from dataextractor_spark.sources.rest_datasource import register

    register(spark)
    eps = ",".join(sorted(reference_fixtures()))
    df = spark.read.format("rest_fixture").option("endpoints", eps).load()
    return df.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_endpoints"),
        F.sum("attempts").cast("long").alias("total_attempts"),
    )


# -- cursor pagination (parity-plus: the reference fetches exactly one
# unpaginated page, opendotaapi.py:103; real crawls walk the keyset) --

_PAGE_SIZE = 4
_N_PAGES = 3
_TOP_ID = 8_999_999_999


def _paged_records(page: int) -> list[dict]:
    """Matches for one keyset page: ids strictly descending across
    pages (OpenDota publicMatches ordering), MATCH_SCHEMA-shaped."""
    recs = []
    for j in range(_PAGE_SIZE):
        i = page * _PAGE_SIZE + j
        mid = _TOP_ID - i
        recs.append(
            {
                "match_id": mid,
                "match_seq_num": 6_700_000_000 + i,
                "radiant_win": i % 2 == 0,
                "start_time": _BASE_TS + i * 3600,
                "duration": 1800 + 60 * i,
                "lobby_type": 7,
                "game_mode": 22,
                "avg_rank_tier": 50 + i,
                "cluster": 236,
                "radiant_team": [1 + i, 11 + i, 21 + i, 31 + i, 41 + i],
                "dire_team": [2 + i, 12 + i, 22 + i, 32 + i, 42 + i],
            }
        )
    return recs


def _paged_fixtures() -> dict[str, tuple[int, str]]:
    """Fixture map for the full cursor walk: page 0 is the bare
    endpoint, page k keys on less_than_match_id = min id of page k-1,
    and the walk's final probe returns an empty array."""
    import json as _json

    fx: dict[str, tuple[int, str]] = {}
    key = "/publicMatches"
    for p in range(_N_PAGES):
        recs = _paged_records(p)
        fx[key] = (200, _json.dumps(recs))
        key = f"/publicMatches?less_than_match_id={min(r['match_id'] for r in recs)}"
    fx[key] = (200, "[]")
    return fx


def _paged_expected() -> list[tuple]:
    rows = []
    for p in range(_N_PAGES):
        recs = _paged_records(p)
        rows.append(
            (
                f"page{p}",
                len(recs),
                min(r["match_id"] for r in recs),
                max(r["match_id"] for r in recs),
                sum(r["duration"] for r in recs),
            )
        )
    return rows


def _paged_values_sql() -> str:
    vals = ",\n        ".join(
        f"('{pg}', {n}, {lo}, {hi}, {dur})"
        for (pg, n, lo, hi, dur) in _paged_expected()
    )
    return f"""
    SELECT page,
           CAST(n_matches AS BIGINT)      AS n_matches,
           CAST(min_match_id AS BIGINT)   AS min_match_id,
           CAST(max_match_id AS BIGINT)   AS max_match_id,
           CAST(total_duration AS BIGINT) AS total_duration
    FROM (VALUES
        {vals}
    ) AS t(page, n_matches, min_match_id, max_match_id, total_duration)
    ORDER BY page
    """


@query("rest_paged_scan", oracle=_paged_values_sql())
def rest_paged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor-chain pagination end-to-end (sources/rest.fetch_cursor):
    walk the publicMatches keyset — page k's less_than_match_id comes
    from page k-1's minimum match_id — until a short/empty page, then
    normalize every page's body distributed and aggregate per page.
    The VALUES oracle spans all pages, pinning that the walk visited
    each cursor exactly once, stopped on the empty page, and lost no
    records at page boundaries. (Keyset semantics per the public
    OpenDota API; the reference itself never paginates.)"""
    import json as _json

    from dataextractor_spark.sources.rest import fetch_cursor

    transport = FixtureTransport(_paged_fixtures())

    def next_params(status, body, params):
        if status != 200 or body is None:
            return None
        recs = _json.loads(body)
        if len(recs) < _PAGE_SIZE:
            return None  # short/empty page ⇒ keyset exhausted
        return {"less_than_match_id": str(min(r["match_id"] for r in recs))}

    raw = fetch_cursor(
        spark,
        "/publicMatches",
        lambda: transport,
        next_params=next_params,
        max_pages=10,
    )
    recs = (
        raw.filter((F.col("status") == 200) & F.col("body").isNotNull())
        .select(
            F.col("request_id").alias("page"),
            F.explode(F.from_json("body", f"array<struct<{MATCH_SCHEMA}>>")).alias(
                "rec"
            ),
        )
        .select("page", "rec.*")
    )
    return (
        recs.groupBy("page")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("match_id").alias("min_match_id"),
            F.max("match_id").alias("max_match_id"),
            F.sum("duration").alias("total_duration"),
        )
        .orderBy("page")
    )
