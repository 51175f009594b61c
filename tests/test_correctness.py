"""The gate: every registered query with an oracle must hash-match
DuckDB on the same parquet (mirrors the driver's sf0.01 check; runs at
sf0.001 by default for speed — set SPARK_GRAFT_ORACLE_SF to override).

Queries without an oracle must at least execute and return a stable
schema (the driver's rows-only check).
"""

from __future__ import annotations

import os

import pytest

from dataextractor_spark.registry import load_all
from tests.conftest import SF_ORACLE
from tests.oracle import compare_to_oracle

SPECS = load_all()
ORACLED = sorted(n for n, s in SPECS.items() if s.oracle)
ROWS_ONLY = sorted(n for n, s in SPECS.items() if not s.oracle)


def test_registry_nonempty():
    assert len(SPECS) >= 10


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, name):
    spec = SPECS[name]
    df = spec.fn(spark, SF_ORACLE)
    compare_to_oracle(df, spec.oracle, SF_ORACLE)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    spec = SPECS[name]
    df = spec.fn(spark, SF_ORACLE)
    # must execute and expose a stable, named schema
    n = df.count()
    assert n >= 0
    assert all(c for c in df.columns)


#: queries for each kind of session write an operator must not make: a
#: k-means fit (a session-wide conf toggle), SQL text over catalog
#: frames (temp views), and file sinks (a path shared between runs)
THREADED = (
    "sim_ann_ivf_kmeans",
    "sql_shipping_priority",
    "sql_parameterized_args",
    "agg_grouping_sets",
    "source_json_roundtrip",
    "etl_partitioned_sink",
)


def test_two_threads_leave_session_as_found(spark):
    """Two threads of one non-UTC session run the same queries in
    opposite orders. Every result must still be right (oracled ones
    against DuckDB, rows-only ones against a sequential run in the same
    session), and afterwards the session's conf and table/view list
    must equal the snapshot taken before any table was loaded."""
    from concurrent.futures import ThreadPoolExecutor

    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    conf0 = s.conf.getAll
    tables0 = sorted((t.name, t.isTemporary) for t in s.catalog.listTables())

    def rows(name):
        return sorted(map(tuple, SPECS[name].fn(s, SF_ORACLE).collect()))

    expected = {n: rows(n) for n in THREADED if not SPECS[n].oracle}

    def run(order):
        for name in order:
            spec = SPECS[name]
            if spec.oracle:
                compare_to_oracle(spec.fn(s, SF_ORACLE), spec.oracle, SF_ORACLE)
            else:
                assert rows(name) == expected[name], name

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(run, THREADED), pool.submit(run, THREADED[::-1])]
        for f in futs:
            f.result(timeout=900)

    assert s.conf.getAll == conf0
    assert sorted(
        (t.name, t.isTemporary) for t in s.catalog.listTables()
    ) == tables0


#: the queries whose rows followed the session timezone once the
#: catalog stopped pinning it to UTC; rest_publicmatches_pipeline
#: loads no catalog table, so it runs first, in an untouched session
TZ_QUERIES = (
    "rest_publicmatches_pipeline",
    "etl_epoch_roundtrip",
    "time_tumbling_window",
    "agg_regression_trend",
    "streaming_watermark_frontier",
    "streaming_dedup_replay_audit",
)


def test_results_do_not_depend_on_session_timezone(spark):
    """Fresh sessions in UTC, America/New_York and Asia/Kolkata run
    TZ_QUERIES in order. Oracled queries must match DuckDB, rows-only
    ones must equal the UTC session's rows, and each session's conf
    must be the same after the queries as before them."""
    utc_rows = {}
    for tz in ("UTC", "America/New_York", "Asia/Kolkata"):
        s = spark.newSession()
        s.conf.set("spark.sql.session.timeZone", tz)
        conf0 = s.conf.getAll
        for name in TZ_QUERIES:
            spec = SPECS[name]
            df = spec.fn(s, SF_ORACLE)
            if spec.oracle:
                compare_to_oracle(df, spec.oracle, SF_ORACLE)
                continue
            rows = sorted(map(tuple, df.collect()))
            assert rows == utc_rows.setdefault(name, rows), (tz, name)
        assert s.conf.getAll == conf0, tz


def test_bucketed_query_keeps_its_own_tables(spark):
    """join_bucketed_colocated saves its bucketed tables under fixed
    names. Building it again on a larger catalog must not change what a
    frame built earlier reads: each build's tables get their own
    location, not a shared warehouse directory."""
    larger = os.path.join(os.path.dirname(SF_ORACLE), "sf0.01")
    if not os.path.isdir(larger):
        pytest.skip("no sf0.01 catalog next to the oracle catalog")
    spec = SPECS["join_bucketed_colocated"]
    first = spec.fn(spark, SF_ORACLE)
    spec.fn(spark, larger)
    compare_to_oracle(first, spec.oracle, SF_ORACLE)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_comparator_rejects_each_divergence_class(spark):
    """Meta-test of the gate itself: every green row in the ledger is
    only as strong as compare_to_oracle's willingness to fail. Each
    divergence class the driver hashes — value, column name, row
    count, and int-vs-float type class (the round-3
    pretrain_corpus_recipe artifact) — must raise, and the matching
    result must pass."""
    df = spark.createDataFrame([(1, 1.5, "x")], "a int, b double, c string")
    compare_to_oracle(
        df, "SELECT 1 AS a, 1.5 AS b, 'x' AS c", SF_ORACLE
    )  # sanity: identical result is green
    for bad_sql, cls in [
        ("SELECT 2 AS a, 1.5 AS b, 'x' AS c", "value"),
        ("SELECT 1 AS wrong, 1.5 AS b, 'x' AS c", "column name"),
        (
            "SELECT 1 AS a, 1.5 AS b, 'x' AS c "
            "UNION ALL SELECT 1, 1.5, 'x'",
            "row count",
        ),
        ("SELECT CAST(1 AS DOUBLE) AS a, 1.5 AS b, 'x' AS c", "type class"),
        ("SELECT 1 AS a, 1.5000013 AS b, 'x' AS c", "above-tolerance float"),
        ("SELECT 1 AS a, 1.5 AS b, 'X' AS c", "string case"),
    ]:
        with pytest.raises(AssertionError):
            compare_to_oracle(df, bad_sql, SF_ORACLE)
    # Conservative by design: the strict pass distinguishes -0.0 from
    # 0.0 (repr-level), because the driver's value hash MIGHT — Spark
    # preserves the sign of a rounded negative underflow where DuckDB
    # normalizes it, so a query emitting -0.0 must be flagged locally
    # rather than risk a red driver row. Keep signs out of rounded
    # outputs (e.g. round(x, 2) + 0.0 collapses -0.0) if this fires.
    df_negzero = spark.createDataFrame([(-0.0,)], "a double")
    with pytest.raises(AssertionError):
        # DuckDB normalizes the literal -0.0 to 0.0, so this IS a
        # repr-level divergence and must be flagged
        compare_to_oracle(df_negzero, "SELECT -0.0 AS a", SF_ORACLE)
    # ...while a sign-preserving oracle spelling compares green
    compare_to_oracle(
        df_negzero, "SELECT CAST('-0.0' AS DOUBLE) AS a", SF_ORACLE
    )


def test_comparator_is_order_insensitive(spark):
    """The other way the gate can fail us: a FALSE red. Identical
    multisets presented in different row and column orders — with
    duplicate rows, shared sort-key prefixes, and string NULLs in the
    mix — must compare green, both in the tolerant and the strict
    driver-mode pass."""
    rows = [
        (1, 2.5, "x"),
        (1, 2.5, "x"),  # exact duplicate row
        (1, 2.5, None),  # NULL in an object-dtype column
        (2, 2.5, "x"),  # shares float with row 1
        (1, 3.25, "y"),
    ]
    df = spark.createDataFrame(
        list(reversed(rows)), "a int, b double, c string"
    )
    values = ", ".join(
        f"({a}, {b!r}, {'NULL' if c is None else repr(c)})"
        for a, b, c in rows
    )
    # column order deliberately differs (c, b, a vs a, b, c)
    compare_to_oracle(
        df,
        f"SELECT c, b, a FROM (VALUES {values}) t(a, b, c)",
        SF_ORACLE,
    )


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_output_is_canonicalizer_safe(spark, name):
    """Round-2 regression guard: the external harness canonicalizes
    results with pandas sort_values, which dies on unhashable cells
    (list/dict) — agg_approx_percentile's array column was the only
    red row that round. No registered query, oracled OR rows-only,
    may emit array/map/struct/binary output columns."""
    df = SPECS[name].fn(spark, SF_ORACLE)
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        assert not t.startswith(("array", "map", "struct", "binary")), (
            name,
            f.name,
            t,
        )
