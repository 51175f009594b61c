"""Full-load pipeline orchestration (Tier-A parity: A19
extract-data-dota.py:112-209, A18 idempotent overwrite, A16/A17 sinks).

The reference loops 13 datasets sequentially, swallowing errors to
None per dataset (A23). Here a pipeline is DATA: a list of
DatasetSpec(name, requests, schema, transform); `full_load` runs every
dataset through the distributed REST source → explicit-schema
normalization → partitioned Parquet overwrite, isolating failures per
dataset WITHOUT swallowing them (each failure is re-raised unless the
caller opts into collect mode, and always lands in the returned
report). Sinks take any Hadoop-FS URI — the same call writes
``file:/tmp/...`` in tests and ``s3a://bucket/...`` in production
(replacing the reference's manual Arrow-buffer→put_object dance,
extract-data-dota.py:55-83).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from dataextractor_spark.sources.rest import RestRequest, TransportFactory, fetch


@dataclass(frozen=True)
class DatasetSpec:
    """One dataset in the full load: where to fetch it, how to type it,
    how to reshape it (the A5/A7/A11-style transform), how to
    partition it at rest.

    payload_kind:
    - "array":  JSON array of records (list endpoints, A12/A14)
    - "object": a single JSON object → 1-row table
      (extract-data-dota.py:100-101 single-dict promotion)
    - "map":    a {key: value} constants object unpivoted to a 2-column
      dim with STRING keys (A11, opendotaapi.py:136); ``schema`` then
      names the two output columns, e.g. "lobby_id STRING, name STRING"
    """

    name: str
    requests: Sequence[RestRequest]
    schema: str  # DDL for one record ("match_id BIGINT, ..." )
    payload_kind: str = "array"
    transform: Callable[[DataFrame], DataFrame] | None = None
    partition_by: tuple[str, ...] = ()


@dataclass
class LoadReport:
    ok: dict[str, int] = field(default_factory=dict)  # dataset → rows
    failed: dict[str, str] = field(default_factory=dict)  # dataset → error


def normalize_payloads(raw: DataFrame, spec: DatasetSpec) -> DataFrame:
    """REST result rows → typed records: parse each 200-status body
    against the dataset's EXPLICIT schema (no sampled inference —
    SURVEY.md §1.3), exploding top-level JSON arrays into rows."""
    ok = raw.filter((F.col("status") == 200) & F.col("body").isNotNull())
    if spec.payload_kind == "array":
        parsed = ok.select(
            F.explode(
                F.from_json("body", f"array<struct<{spec.schema}>>")
            ).alias("rec")
        )
    elif spec.payload_kind == "object":
        parsed = ok.select(F.from_json("body", f"struct<{spec.schema}>").alias("rec"))
    elif spec.payload_kind == "map":
        key_col, value_col = [
            part.strip().split()[0] for part in spec.schema.split(",")
        ]
        return ok.select(
            F.explode(F.from_json("body", "map<string,string>")).alias(
                key_col, value_col
            )
        )
    else:
        raise ValueError(f"unknown payload_kind {spec.payload_kind!r}")
    return parsed.select("rec.*")


def _failed_requests(raw: DataFrame) -> tuple[int, list[str]]:
    """(number of failed requests, up to 3 of their errors) of a
    ``fetch`` result. The count is observed while one job passes over
    ``raw``, which also fills its cache when ``raw`` is persisted. Only
    when the count is non-zero does a second job take 3 errors, so the
    driver never receives more than 3 failed rows."""
    seen = Observation()
    raw.observe(seen, F.count_if(F.col("status") != 200).alias("n")).write.format(
        "noop"
    ).mode("overwrite").save()
    n = seen.get["n"]
    if not n:
        return 0, []
    return n, [r.error for r in raw.filter(F.col("status") != 200).head(3)]


def full_load(
    spark: SparkSession,
    datasets: Sequence[DatasetSpec],
    transport_factory: TransportFactory,
    out_base: str,
    *,
    raise_on_failure: bool = True,
    rate_limit_per_partition: float = 0.0,
    max_concurrency: int = 1,
) -> LoadReport:
    """Run every dataset: fetch → normalize → transform → overwrite
    Parquet at ``{out_base}/{name}`` (fixed per-dataset location ≙ the
    reference's fixed S3 keys, extract-data-dota.py:131-199, so
    monthly reruns stay idempotent).

    Each request is fetched exactly once. The fetch result is persisted
    (MEMORY_AND_DISK, so a lost block is recomputed from lineage); one
    job fills the cache and counts the failed requests, the write reads
    the cache, and the cache is dropped as soon as the write ends or
    fails. Any failed request fails the dataset before anything is
    written, so a request never lands as a silent gap. The reported row
    count is read back from the written files.

    A dataset with ``partition_by`` is written through a rebalance on
    those columns, so AQE sizes the output files and splits skewed keys:
    a load writes about one file per partition value, not one per fetch
    partition and value.

    Independent datasets are independent Spark ACTIONS, and Spark's
    scheduler accepts jobs from multiple driver threads — so
    ``max_concurrency > 1`` submits up to that many dataset loads at
    once from a thread pool (the fix for the reference's strictly
    sequential 13-dataset loop, extract-data-dota.py:126-199). Each
    dataset keeps its own failure isolation; with
    ``raise_on_failure``, in-flight datasets finish before the first
    error re-raises (no half-written partial batch beyond the failed
    dataset itself). On a cluster, pair with fair-scheduler pools so
    concurrent jobs share executors proportionally.
    """

    def load_one(spec: DatasetSpec) -> int:
        raw = fetch(
            spark,
            spec.requests,
            transport_factory,
            rate_limit_per_partition=rate_limit_per_partition,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_bad, sample = _failed_requests(raw)
            if n_bad:
                raise RuntimeError(
                    f"{n_bad} failed requests for {spec.name!r}; e.g. {sample}"
                )
            df = normalize_payloads(raw, spec)
            if spec.transform is not None:
                df = spec.transform(df)
            writer = df.write
            if spec.partition_by:
                writer = df.hint("rebalance", *spec.partition_by).write.partitionBy(
                    *spec.partition_by
                )
            writer.mode("overwrite").parquet(f"{out_base}/{spec.name}")
        finally:
            raw.unpersist()
        # the schema is known: reading it from a footer would cost a job
        return spark.read.schema(df.schema).parquet(f"{out_base}/{spec.name}").count()

    report = LoadReport()
    if max_concurrency <= 1:
        for spec in datasets:
            try:
                report.ok[spec.name] = load_one(spec)
            except Exception as exc:
                # per-dataset isolation (A19's null-guards) minus the
                # reference's silent swallow (A23): record AND surface.
                report.failed[spec.name] = f"{type(exc).__name__}: {exc}"
                if raise_on_failure:
                    raise
        return report

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
        futures = {spec.name: pool.submit(load_one, spec) for spec in datasets}
        first_error: Exception | None = None
        for name, fut in futures.items():  # insertion order → deterministic report
            try:
                report.ok[name] = fut.result()
            except Exception as exc:
                report.failed[name] = f"{type(exc).__name__}: {exc}"
                first_error = first_error or exc
    if first_error is not None and raise_on_failure:
        raise first_error
    return report


# --------------------------------------------------------------------------
# Reference-shaped demo pipeline (publicMatches + constants), fixture-fed.
# Record shapes follow FIXTURES.md §2a/2b.
# --------------------------------------------------------------------------

MATCH_SCHEMA = (
    "match_id BIGINT, match_seq_num BIGINT, radiant_win BOOLEAN, "
    "start_time BIGINT, duration BIGINT, lobby_type INT, game_mode INT, "
    "avg_rank_tier INT, cluster INT, "
    "radiant_team ARRAY<INT>, dire_team ARRAY<INT>"
)


def matches_transform(df: DataFrame) -> DataFrame:
    """The E2 dataflow (opendotaapi.py:95-123) as one narrow plan:
    flatten both 5-hero arrays (A5), drop them (A6), epoch→São Paulo
    local time (A7), derive the dt partition key (A8)."""
    from dataextractor_spark.etl.normalize import flatten_array_column, with_local_date

    df = flatten_array_column(df, "radiant_team", "radiant_hero", 5)
    df = flatten_array_column(df, "dire_team", "dire_hero", 5)
    df = df.withColumn("start_ts", F.timestamp_seconds("start_time"))
    return with_local_date(df, "start_ts")


def demo_match_payload(n: int = 8, base_ts: int = 1750000000) -> str:
    """Deterministic publicMatches-shaped payload (FIXTURES.md §2a)."""
    recs = []
    for i in range(n):
        recs.append(
            {
                "match_id": 8_000_000_000 + i,
                "match_seq_num": 6_700_000_000 + i,
                "radiant_win": i % 2 == 0,
                "start_time": base_ts + i * 3600,
                "duration": 1800 + 60 * i,
                "lobby_type": 7,
                "game_mode": 22,
                "avg_rank_tier": 50 + i,
                "cluster": 236,
                "radiant_team": [1 + i, 11 + i, 21 + i, 31 + i, 41 + i],
                "dire_team": [2 + i, 12 + i, 22 + i, 32 + i, 42 + i],
            }
        )
    return json.dumps(recs)


# --------------------------------------------------------------------------
# The reference's complete 13-dataset full load (extract-data-dota.py:
# 126-199) as declarative specs + deterministic fixtures. Record shapes
# per FIXTURES.md §2; the hero_rankings endpoint is /rankings here — the
# reference's get_hero_rankings re-fetches /heroes by mistake
# (opendotaapi.py:627-641, SURVEY.md A14), a bug we do not reproduce.
# --------------------------------------------------------------------------

CONSTANTS_FIXTURES: dict[str, dict[str, str]] = {
    "lobby_types": {
        "0": "lobby_type_unranked", "1": "lobby_type_practice",
        "5": "lobby_type_ranked_team", "7": "lobby_type_ranked",
    },
    "game_modes": {
        "1": "game_mode_all_pick", "2": "game_mode_captains_mode",
        "22": "game_mode_all_draft",
    },
    "clusters": {"111": "us_west", "136": "europe_west", "236": "peru"},
}


def _list_fixture(name: str, n: int = 5) -> str:
    """Deterministic list payloads per dataset family."""
    if name == "heroes":
        roles = [["Carry", "Escape"], ["Support"], ["Nuker", "Carry"],
                 ["Durable"], ["Pusher", "Support"]]
        return json.dumps(
            [
                {
                    "id": i + 1,
                    "name": f"npc_dota_hero_{i + 1}",
                    "localized_name": f"Hero {i + 1}",
                    "primary_attr": ["agi", "str", "int"][i % 3],
                    "attack_type": ["Melee", "Ranged"][i % 2],
                    "roles": roles[i % len(roles)],
                    "legs": 2,
                }
                for i in range(n)
            ]
        )
    if name in ("teams", "leagues", "pro_players", "pro_matches"):
        return json.dumps(
            [
                {
                    "entity_id": 1000 + i,
                    "rating": 1400.0 + 7.5 * i,
                    "wins": 100 + i,
                    "losses": 80 + i,
                    "name": f"{name}_{i}",
                    "tag": None if i == 0 else f"T{i}",
                }
                for i in range(n)
            ]
        )
    # hero_rankings / item_timings / lane_roles / misc_scenarios
    return json.dumps(
        [
            {
                "hero_id": i + 1,
                "bucket": f"b{i % 3}",
                "games": 50 + 3 * i,
                "wins": 25 + 2 * i,
                "score": round(0.4 + 0.05 * i, 2),
            }
            for i in range(n)
        ]
    )


LIST_SCHEMA_ENTITY = (
    "entity_id BIGINT, rating DOUBLE, wins BIGINT, losses BIGINT, "
    "name STRING, tag STRING"
)
LIST_SCHEMA_SCENARIO = (
    "hero_id BIGINT, bucket STRING, games BIGINT, wins BIGINT, score DOUBLE"
)
HEROES_SCHEMA = (
    "id BIGINT, name STRING, localized_name STRING, primary_attr STRING, "
    "attack_type STRING, roles ARRAY<STRING>, legs BIGINT"
)


def reference_fixtures() -> dict[str, tuple[int, str]]:
    """url → (status, body) for the whole 13-dataset load."""
    fx: dict[str, tuple[int, str]] = {
        "/publicMatches": (200, demo_match_payload()),
        "/heroes": (200, _list_fixture("heroes")),
    }
    for name, d in CONSTANTS_FIXTURES.items():
        fx[f"/constants/{name}"] = (200, json.dumps(d))
    for name in ("teams", "leagues", "proPlayers", "proMatches"):
        fx[f"/{name}"] = (200, _list_fixture(name.lower().replace("propl", "pro_pl").replace("proma", "pro_ma")))
    for name in ("rankings", "itemTimings", "laneRoles", "misc"):
        fx[f"/scenarios/{name}"] = (200, _list_fixture(name))
    return fx


def reference_datasets() -> list[DatasetSpec]:
    """The 13 datasets of the reference full load (A19), typed and
    declarative. Constants become broadcast-able string-keyed dims;
    list endpoints get explicit schemas (no bounded inference)."""
    specs: list[DatasetSpec] = [
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
            schema=HEROES_SCHEMA,
        ),
    ]
    key_cols = {"lobby_types": "lobby_id", "game_modes": "game_mode_id",
                "clusters": "cluster_id"}
    for name in CONSTANTS_FIXTURES:
        specs.append(
            DatasetSpec(
                name=name,
                requests=[RestRequest(f"/constants/{name}", name)],
                schema=f"{key_cols[name]} STRING, name STRING",
                payload_kind="map",
            )
        )
    for name, endpoint in (
        ("teams", "/teams"), ("leagues", "/leagues"),
        ("pro_players", "/proPlayers"), ("pro_matches", "/proMatches"),
    ):
        specs.append(
            DatasetSpec(
                name=name,
                requests=[RestRequest(endpoint, name)],
                schema=LIST_SCHEMA_ENTITY,
            )
        )
    for name, endpoint in (
        ("hero_rankings", "/scenarios/rankings"),
        ("item_timings", "/scenarios/itemTimings"),
        ("lane_roles", "/scenarios/laneRoles"),
        ("misc_scenarios", "/scenarios/misc"),
    ):
        specs.append(
            DatasetSpec(
                name=name,
                requests=[RestRequest(endpoint, name)],
                schema=LIST_SCHEMA_SCENARIO,
            )
        )
    return specs
