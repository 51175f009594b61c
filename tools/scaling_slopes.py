#!/usr/bin/env python
"""Measure time-vs-rows scaling slopes for the top-cost kernels
(r11 verdict item 2: the one 100 TB claim that was argued, never
measured).

Method — weak scaling by DISJOINT replication, the shape a 100×
scale-up actually takes (more data of the same structure, not a
denser version of the same keys):

- lineitem ×m: copy i shifts l_orderkey/l_partkey/l_suppkey by
  i·(max_key+1) — m disjoint co-purchase / incidence graphs, each
  isomorphic to the base graph, so wedge counts, LPA sweeps, and
  clustering volumes scale exactly ×m by construction;
- documents ×m: copy i shifts doc_id and suffixes EVERY token with
  "_i". A per-copy token bijection maps the shingle set bijectively,
  so within-copy Jaccard structure (and thus the planted near-dup
  pairs and LSH bucket profile) is EXACTLY preserved, while
  cross-copy shingle overlap is zero — no artificial cross-copy
  near-dups inflating candidate counts;
- embeddings ×m: copy i shifts vec_id and circularly rotates the
  embedding by i coordinates — a coordinate bijection preserving all
  norms and within-copy cosines, while cross-copy vectors are
  unrelated. Measured out to 16× because ivf_cell_count(n) = n/64
  caps at 256: below the cap the k-means fit is Θ(n·k) = Θ(n²/64)
  (slope → 2), at the cap it is Θ(n·256) (slope → 1) — the
  asymptotic regime a 100 TB corpus lives in; the 8×→16× pair
  straddles the cap and should show the flattening.

Layout policy is held IDENTICAL across scales (bench.py's restage
file counts, scaled ×m for split tables, embeddings kept single-file
per the round-8 finding), so the slope measures the algorithm, not a
layout change. Timing is bench.py's own loop on its session: min over
--reps noop-sink runs, with the scales of one table as the loop's
sides, so every query's scales interleave per rep.

Output: one JSON line per query with per-step ratios and the
least-squares slope of ln(t) vs ln(m); full detail written to the
gitignored SLOPES_local.json. Shuffle partitions come from
SPARK_GRAFT_SHUFFLE_PARTITIONS, as for every session.

    python tools/scaling_slopes.py [--reps N] [--only q1,q2] [--scales 1,2,4]
"""

from __future__ import annotations

import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from bench import (  # noqa: E402
    _RESTAGE_FILES, Side, _copy_fixture, bench_session, scratch_dir,
    time_queries,
)

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: query -> the table that scales (all other tables stay at base size)
TARGETS = {
    "flagship_pricing_summary": "lineitem",
    "graph_triangle_count": "lineitem",
    "graph_label_propagation": "lineitem",
    "graph_local_clustering": "lineitem",
    "dedup_minhash_lsh": "documents",
    "sim_ivfpq_search": "embeddings",
}

SCALES = {
    "lineitem": (1, 2, 4),
    "documents": (1, 2, 4),
    "embeddings": (1, 2, 4, 8, 16),
}


def _scaled_copy(df, table, i):
    """Copy ``i`` of one table, disjoint from copies != i (see module
    docstring for why each transform preserves within-copy structure)."""
    if table == "lineitem":
        if i == 0:
            return df
        shifts = {c: None for c in ("l_orderkey", "l_partkey", "l_suppkey")}
        row = df.agg(*[F.max(c).alias(c) for c in shifts]).first()
        out = df
        for c in shifts:
            out = out.withColumn(c, F.col(c) + F.lit(i * (row[c] + 1)))
        return out
    if table == "documents":
        if i == 0:
            return df
        max_id = df.agg(F.max("doc_id")).first()[0]
        return (
            df.withColumn("doc_id", F.col("doc_id") + F.lit(i * (max_id + 1)))
            .withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda x: F.concat(x, F.lit(f"_{i}")),
                    ),
                    " ",
                ),
            )
            .withColumn("n_chars", F.length("text"))
        )
    if table == "embeddings":
        if i == 0:
            return df
        max_id = df.agg(F.max("vec_id")).first()[0]
        rot = i % 64
        return df.withColumn(
            "vec_id", F.col("vec_id") + F.lit(i * (max_id + 1))
        ).withColumn(
            "embedding",
            F.concat(
                F.slice("embedding", rot + 1, 64 - rot),
                F.slice("embedding", 1, rot),
            ),
        )
    raise ValueError(table)


def build_scaled_dir(spark, table: str, m: int) -> str:
    """A full fixture dir where ``table`` is replicated ×m (disjoint
    copies) and every other table is byte-copied at base size."""
    from dataextractor_spark.catalog import TABLES, load_table

    out = scratch_dir(f"slope_{table}_{m}x_")
    for t in TABLES:
        src = f"{BASE}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if t != table:
            _copy_fixture(src, dst)
            continue
        base_df = load_table(spark, BASE, t, validate=False)
        df = _scaled_copy(base_df, t, 0)
        for i in range(1, m):
            df = df.unionByName(_scaled_copy(base_df, t, i))
        n_files = _RESTAGE_FILES.get(t, 1) * m
        if n_files <= 1:
            df.coalesce(1).write.mode("overwrite").parquet(dst)
        else:
            df.repartition(n_files).write.mode("overwrite").parquet(dst)
    return out


def fit_slope(ms, ts):
    xs = [math.log(m) for m in ms]
    ys = [math.log(t) for t in ts]
    xb = sum(xs) / len(xs)
    yb = sum(ys) / len(ys)
    num = sum((x - xb) * (y - yb) for x, y in zip(xs, ys))
    den = sum((x - xb) ** 2 for x in xs)
    return num / den


def main() -> int:
    from dataextractor_spark.registry import load_all

    reps = 2
    if "--reps" in sys.argv[1:]:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    only = None
    if "--only" in sys.argv[1:]:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    if "--scales" in sys.argv[1:]:
        forced = tuple(
            int(s) for s in sys.argv[sys.argv.index("--scales") + 1].split(",")
        )
        for t in SCALES:
            SCALES[t] = forced

    spark = bench_session("scaling-slopes")
    specs = load_all()
    targets = {
        q: t for q, t in TARGETS.items() if only is None or q in only
    }

    # embeddings single-file at EVERY scale (layout-policy parity);
    # scaled dirs are built once and shared by all queries on a table
    dirs: dict[tuple[str, int], str] = {}
    for q, t in targets.items():
        for m in SCALES[t]:
            if (t, m) not in dirs:
                print(f"# staging {t} x{m}", file=sys.stderr)
                dirs[(t, m)] = build_scaled_dir(spark, t, m)

    best: dict[tuple[str, int], float] = {}
    for t in dict.fromkeys(targets.values()):
        names = [q for q, qt in targets.items() if qt == t]
        sides = {m: Side(specs, sf_dir=dirs[(t, m)]) for m in SCALES[t]}
        for m, runs in time_queries(spark, BASE, names, sides, reps).items():
            for q, run in runs.items():
                best[(q, m)] = run.wall
                print(f"# {q} x{m}: {run.wall:.2f}s", file=sys.stderr)

    results = {}
    for q, t in targets.items():
        ms = list(SCALES[t])
        ts = [best[(q, m)] for m in ms]
        steps = {
            f"{a}x->{b}x": round(
                math.log(tb / ta) / math.log(b / a), 3
            )
            for (a, ta), (b, tb) in zip(
                zip(ms, ts), list(zip(ms, ts))[1:]
            )
        }
        results[q] = {
            "table": t,
            "secs": {f"{m}x": round(s, 3) for m, s in zip(ms, ts)},
            "step_slopes": steps,
            "lsq_slope": round(fit_slope(ms, ts), 3),
        }
        print(json.dumps({"query": q, **results[q]}))

    out = {
        "metric": "scaling_slopes",
        "base": BASE,
        "reps": reps,
        "method": "disjoint-replication weak scaling, min over reps",
        "results": results,
    }
    with open(os.path.join(ROOT, "SLOPES_local.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print("# wrote SLOPES_local.json", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
