"""The REST-to-lake workload: a seeded OpenDota-shaped API served from
page files, the reference's 13-dataset full load into a Parquet lake,
compaction of the match partitions, and one read-back aggregate.

The API is generated once per set-up: ``publicMatches`` as independently
addressable pages (``?page=k``) of match records spread over a span of
days, plus the twelve smaller reference endpoints (heroes, three
constants maps, four entity lists, four scenario lists). The engine
reaches it only through a transport the benchmark owns, which reads the
page files and logs every call, so the number of fetches per request
and the time spent fetching are measured where they happen.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np

from dataextractor_spark.etl.pipeline import (
    MATCH_SCHEMA, DatasetSpec, matches_transform, reference_datasets,
)
from dataextractor_spark.sources.rest import page_requests

#: page layout of the generated publicMatches endpoint
N_PAGES = 12
PER_PAGE = 500
SPAN_DAYS = 30
BASE_TS = 1_740_000_000


class FileTransport:
    """A transport over page files: ``<root><endpoint>[/page<k>].json``.
    Each call appends ``<pid> <seconds>`` to the call log. Appends of
    one short line with O_APPEND are atomic, so concurrent executor
    workers can share the log."""

    def __init__(self, root: str, log_path: str):
        self.root = root
        self.log_path = log_path

    def __call__(self, url: str, params) -> tuple[int, str]:
        t0 = time.perf_counter()
        path = self.root + url
        path += f"/page{params['page']}.json" if "page" in params else ".json"
        try:
            with open(path, encoding="utf-8") as f:
                status, body = 200, f.read()
        except FileNotFoundError:
            status, body = 404, json.dumps({"error": f"no page {url} {dict(params)}"})
        line = f"{os.getpid()} {time.perf_counter() - t0:.6f}\n"
        fd = os.open(self.log_path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, line.encode())
        finally:
            os.close(fd)
        return status, body


def read_call_log(log_path: str) -> tuple[int, float]:
    """(calls, seconds inside the transport) logged so far."""
    if not os.path.exists(log_path):
        return 0, 0.0
    with open(log_path, encoding="utf-8") as f:
        secs = [float(line.split()[1]) for line in f if line.strip()]
    return len(secs), sum(secs)


@dataclass
class Api:
    """A generated API on disk and what a correct load must land."""

    root: str
    json_bytes: int
    match_rows_per_dt: dict[str, int]
    dataset_rows: dict[str, int]
    n_pages: int


def _write(path: str, payload) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    body = json.dumps(payload)
    with open(path, "w", encoding="utf-8") as f:
        f.write(body)
    return len(body.encode())


def generate_api(root: str, seed: int, n_pages: int = N_PAGES, per_page: int = PER_PAGE) -> Api:
    """Write the seeded API under ``root``; return its expected loads."""
    rng = np.random.default_rng([seed, 7])
    n = n_pages * per_page
    start = BASE_TS + rng.integers(0, SPAN_DAYS * 86_400, n)
    heroes = rng.integers(1, 125, (n, 10))
    match_id0 = 8_000_000_000 + int(rng.integers(0, 10**6))
    recs = [
        {
            "match_id": match_id0 + i,
            "match_seq_num": 6_700_000_000 + i,
            "radiant_win": bool(rng.integers(0, 2)),
            "start_time": int(start[i]),
            "duration": int(rng.integers(900, 4800)),
            "lobby_type": int(rng.choice([0, 5, 7])),
            "game_mode": int(rng.choice([1, 2, 22])),
            "avg_rank_tier": int(rng.integers(10, 81)),
            "cluster": int(rng.choice([111, 136, 236])),
            "radiant_team": [int(h) for h in heroes[i, :5]],
            "dire_team": [int(h) for h in heroes[i, 5:]],
        }
        for i in range(n)
    ]
    size = 0
    for p in range(n_pages):
        size += _write(f"{root}/publicMatches/page{p}.json", recs[p * per_page:(p + 1) * per_page])
    # the dt partition key is the match's São Paulo local date (UTC-3,
    # no daylight saving since 2019)
    dts = np.datetime_as_string((start - 3 * 3600).astype("datetime64[s]"), unit="D")
    keys, counts = np.unique(dts, return_counts=True)
    per_dt = {str(k): int(c) for k, c in zip(keys, counts)}

    rows: dict[str, int] = {}
    n_heroes = 124
    roles = ["Carry", "Disabler", "Durable", "Escape", "Initiator", "Nuker", "Pusher", "Support"]
    size += _write(f"{root}/heroes.json", [
        {
            "id": i + 1,
            "name": f"npc_dota_hero_{i + 1}",
            "localized_name": f"Hero {i + 1}",
            "primary_attr": ["agi", "str", "int", "all"][int(rng.integers(0, 4))],
            "attack_type": ["Melee", "Ranged"][int(rng.integers(0, 2))],
            "roles": [roles[j] for j in sorted(rng.choice(8, int(rng.integers(1, 4)), replace=False))],
            "legs": int(rng.choice([0, 2, 4, 6])),
        }
        for i in range(n_heroes)
    ])
    rows["heroes"] = n_heroes
    for name, k in (("lobby_types", 10), ("game_modes", 25), ("clusters", 60)):
        size += _write(f"{root}/constants/{name}.json", {str(100 + i): f"{name}_{i}" for i in range(k)})
        rows[name] = k
    for name, endpoint in (
        ("teams", "teams"), ("leagues", "leagues"),
        ("pro_players", "proPlayers"), ("pro_matches", "proMatches"),
    ):
        k = int(rng.integers(200, 1000))
        size += _write(f"{root}/{endpoint}.json", [
            {
                "entity_id": 1000 + i,
                "rating": round(float(rng.normal(1500, 150)), 2),
                "wins": int(rng.integers(0, 500)),
                "losses": int(rng.integers(0, 500)),
                "name": f"{name}_{i}",
                "tag": None if rng.random() < 0.1 else f"T{i}",
            }
            for i in range(k)
        ])
        rows[name] = k
    for name, endpoint in (
        ("hero_rankings", "rankings"), ("item_timings", "itemTimings"),
        ("lane_roles", "laneRoles"), ("misc_scenarios", "misc"),
    ):
        k = int(rng.integers(500, 2000))
        size += _write(f"{root}/scenarios/{endpoint}.json", [
            {
                "hero_id": int(rng.integers(1, n_heroes + 1)),
                "bucket": f"b{int(rng.integers(0, 8))}",
                "games": int(rng.integers(1, 5000)),
                "wins": int(rng.integers(0, 2500)),
                "score": round(float(rng.random()), 4),
            }
            for _ in range(k)
        ])
        rows[name] = k
    return Api(root, size, per_dt, rows, n_pages)


def datasets(api: Api):
    """The reference's 13 dataset specs, with matches fanned out over
    the generated pages and partitioned by ``dt``."""
    matches = DatasetSpec(
        name="matches",
        requests=page_requests("/publicMatches", api.n_pages),
        schema=MATCH_SCHEMA,
        transform=matches_transform,
        partition_by=("dt",),
    )
    return [matches] + [s for s in reference_datasets() if s.name != "matches"]


def lake_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under one lake table directory."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


MATCH_COLUMNS = (
    "match_id, match_seq_num, radiant_win, start_time, duration, lobby_type, "
    "game_mode, avg_rank_tier, cluster"
)


def matches_fingerprint(con, lake: str) -> tuple:
    """Rows per dt plus an order-free checksum over the match columns, a
    first and a last hero column and dt, read with DuckDB. A rewrite that
    keeps the row multiset keeps both."""
    src = f"read_parquet('{lake}/matches/*/*.parquet', hive_partitioning = true)"
    per_dt = dict(con.execute(f"SELECT CAST(dt AS VARCHAR), count(*) FROM {src} GROUP BY 1").fetchall())
    checksum = con.execute(
        f"SELECT sum(hash({MATCH_COLUMNS}, radiant_hero_1, dire_hero_5, "
        f"CAST(dt AS VARCHAR))::HUGEINT) FROM {src}"
    ).fetchone()[0]
    return {str(k): int(v) for k, v in per_dt.items()}, checksum
