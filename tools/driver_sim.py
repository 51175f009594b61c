#!/usr/bin/env python
"""Driver-contract simulation: run the FULL `__spark_entry__` surface
the way the external harness does and write `DRIVER_SIM_r{N}.json`.

This mechanizes the per-round manual sweep of rounds 7-11 (same spirit
as tools/rotate_priority_order.py for the rotation): a VANILLA
SparkSession — not dataextractor_spark.session.get_session, because
the driver builds its own — with a hostile non-UTC session timezone,
then for every `queries()` entry either the strict driver-mode DuckDB
comparison (tests/oracle.py `compare_to_oracle`: columns + row count +
tolerant values + typed canonical hash form) or, for the rows-only
class, a positive-row-count check. Record format matches the driver's
CORRECTNESS_r{N}.json per-query schema exactly, wrapped with the sweep
metadata header the DRIVER_SIM files carry.

After ``entry()`` and after each query the sweep also diffs the
session's state: conf entries, temp views, user functions and
registered data sources. Whatever a step added or changed is listed
under ``session_writes`` in the header and in the printed summary, so
a query that quietly writes to the caller's session shows up by name.
Only three queries register what they exist to show; ``entry`` and
every other query leave the session as they found it.

    python tools/driver_sim.py 12            # writes DRIVER_SIM_r12.json
    python tools/driver_sim.py 12 --dry-run  # run + print, write nothing

Queries that sink files write to a fresh per-call directory
(``dataextractor_spark.scratch.scratch_dir``), so a sweep may run next
to another sweep, a bench run or the pytest suite.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
SESSION_TZ = "America/New_York"  # hostile tz probe, per the verify skill


def session_state(spark) -> dict[str, set[str]]:
    """What a query could leave behind in the caller's session. Spark
    has no public listing of registered data sources, so the names are
    read from the session's DataSourceManager by reflection."""
    dsm = spark._jsparkSession.sessionState().dataSourceManager()
    field = dsm.getClass().getDeclaredField("runtimeDataSourceBuilders")
    field.setAccessible(True)
    return {
        "conf": {f"{k}={v}" for k, v in spark.conf.getAll.items()},
        "views": {t.name for t in spark.catalog.listTables() if t.isTemporary},
        "functions": {r[0] for r in spark.sql("SHOW USER FUNCTIONS").collect()},
        "sources": set(field.get(dsm).keys()),
    }


def state_diff(before: dict, after: dict) -> dict[str, list[str]]:
    """Entries of ``after`` missing from ``before``, per kind (a changed
    conf value shows as its new ``key=value``)."""
    return {k: sorted(after[k] - before[k]) for k in after if after[k] - before[k]}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 1 or not args[0].isdigit():
        print(__doc__, file=sys.stderr)
        return 1
    round_no = int(args[0])
    dry_run = "--dry-run" in sys.argv

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.session.timeZone", SESSION_TZ)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from tests.oracle import compare_to_oracle

    writes: dict[str, dict] = {}
    state = session_state(spark)

    def note_writes(step: str) -> None:
        nonlocal state
        after = session_state(spark)
        if diff := state_diff(state, after):
            writes[step] = diff
        state = after

    t0 = time.time()
    entry_rows = len(entry_mod.entry(spark).collect())
    assert entry_rows > 0, "entry() returned no rows"
    note_writes("entry")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    records: dict[str, dict] = {}
    n_green = 0
    for name, fn in qs.items():
        # named BEFORE it runs, so Spark's own stderr lines (ERRORs
        # logged by the JVM during the query) sit under its name
        print(f"[{len(records) + 1}/{len(qs)}] {name}", file=sys.stderr,
              flush=True)
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            if name in oracles:
                sr, orr = compare_to_oracle(fn(spark, SF_DIR), oracles[name], SF_DIR)
                rec.update(
                    rows_match=True,
                    schema_match=True,
                    hash_match=True,
                    spark_rows=sr,
                    oracle_rows=orr,
                )
                n_green += 1
            else:
                sr = fn(spark, SF_DIR).count()
                rec.update(spark_rows=sr, err="no_oracle")
                if isinstance(sr, int) and sr > 0:
                    n_green += 1
        except Exception as exc:  # record reds, never abort the sweep
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
        records[name] = rec
        note_writes(name)
        if rec["err"] not in (None, "no_oracle"):
            print(f"[{len(records)}/{len(qs)}] {name}: RED", file=sys.stderr,
                  flush=True)

    out = {
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "session_tz": SESSION_TZ,
        "n_queries": len(qs),
        "n_green": n_green,
        "session_writes": writes,
        "queries": records,
    }
    reds = {n: r["err"] for n, r in records.items() if r["err"] not in (None, "no_oracle")}
    print(
        json.dumps(
            {
                "n_queries": len(qs),
                "n_green": n_green,
                "reds": reds,
                "entry_rows": entry_rows,
                "session_writes": writes,
                "wall_s": round(time.time() - t0, 1),
            }
        )
    )
    if not dry_run:
        path = ROOT / f"DRIVER_SIM_r{round_no:02d}.json"
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {path.name}", file=sys.stderr)
    return 0 if not reds else 2


if __name__ == "__main__":
    raise SystemExit(main())
