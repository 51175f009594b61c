"""Golden-plan regression net (round-12, r11 verdict item 3).

Plan quality used to be protected by per-round manual audits plus the
anti-pattern gates; the host's ~±18% bench noise means a lost
broadcast or an added shuffle would otherwise surface only as a bench
mystery. Each query in GOLDEN_QUERIES has its expression-id-normalized
formatted physical plan committed under tests/goldens/plans/; any
change to tree shape, join strategy, exchange placement, pushed
filters, or read schemas fails here with a unified diff.

Mutation-checked (COVERAGE.md round-12 section): dropping the
broadcast() hint from join_broadcast_dim flips its plan to a
sort-merge join and this gate reports exactly that diff.

Refresh deliberately with `python tools/capture_plan_goldens.py`
after a plan change is understood and wanted.
"""

from __future__ import annotations

import difflib
import pathlib

import pytest

from dataextractor_spark.plans.golden import GOLDEN_QUERIES, normalized_plan
from dataextractor_spark.registry import load_all

from .conftest import SF_SMALL

GOLDEN_DIR = pathlib.Path(__file__).resolve().parent / "goldens" / "plans"


def test_golden_set_matches_committed_files():
    """The golden dir and GOLDEN_QUERIES must agree exactly — a golden
    without a gate entry (or vice versa) is a silent coverage hole."""
    # lpa_sweep_kernel is the r13 pseudo-golden (a kernel frame, not a
    # registry query) gated by test_lpa_sweep_kernel_golden below.
    on_disk = {p.stem for p in GOLDEN_DIR.glob("*.txt")} - {"lpa_sweep_kernel"}
    assert on_disk == set(GOLDEN_QUERIES), (
        f"only on disk: {sorted(on_disk - set(GOLDEN_QUERIES))}; "
        f"only in GOLDEN_QUERIES: {sorted(set(GOLDEN_QUERIES) - on_disk)}"
    )


@pytest.mark.parametrize("name", GOLDEN_QUERIES)
def test_golden_plan_matches(spark, name):
    golden = (GOLDEN_DIR / f"{name}.txt").read_text()
    actual = normalized_plan(load_all()[name].fn(spark, SF_SMALL))
    if actual != golden:
        diff = "\n".join(difflib.unified_diff(
            golden.splitlines(), actual.splitlines(),
            f"goldens/plans/{name}.txt", "current plan", lineterm=""))
        raise AssertionError(
            f"physical plan for {name} drifted from its golden.\n"
            f"If the change is intended, refresh with\n"
            f"  python tools/capture_plan_goldens.py {name}\n"
            f"and justify it in the commit message.\n{diff}")


def test_lpa_sweep_kernel_golden(spark):
    """r13 (VERDICT r12 item 3/5): the LPA sweep-sharing claim — one
    up-front edges exchange, every sweep's join reusing it — is now a
    committed, gated PLAN property, not a timing argument. The
    un-pinned kernel frame is explained with AQE off (static planning
    runs ReuseExchange, making the sharing visible as ReusedExchange
    nodes) and compared byte-for-byte to its golden; a regression that
    re-introduces a per-sweep edge shuffle changes the tree and fails
    the diff. The explicit ReusedExchange floor is a readable summary
    of the same fact."""
    from dataextractor_spark.plans.golden import lpa_kernel_golden_text

    actual = lpa_kernel_golden_text(spark, SF_SMALL)
    assert actual.count("ReusedExchange") >= 2, (
        "the sweep kernel no longer shares exchanges across sweeps"
    )
    golden_path = GOLDEN_DIR / "lpa_sweep_kernel.txt"
    golden = golden_path.read_text()
    if golden != actual:
        import difflib
        diff = "\n".join(difflib.unified_diff(
            golden.splitlines(), actual.splitlines(),
            "goldens/plans/lpa_sweep_kernel.txt", "current plan",
            lineterm=""))
        raise AssertionError(
            "the LPA sweep-kernel plan drifted from its golden.\n"
            "If the change is intended, refresh with\n"
            "  python tools/capture_plan_goldens.py lpa_sweep_kernel\n"
            f"and justify it in the commit message.\n{diff}")


def test_triangle_closing_join_auto_sizing(spark, monkeypatch):
    """The closing-join strategy is picked by code only: the per-task
    build mass estimated from the parquet footer row count against the
    task slot's execution-memory share. Pins four contracts: at fixture
    size both kernels keep the measured-fastest hash build; a row count
    at the SLOPES_r12 16x-OOM scale flips BOTH kernels' plans to the
    spillable SortMergeJoin; a kernel driven without a table (property
    tests) keeps the hash build through its parameter default; and an
    unreadable table degrades to the hash build rather than raising."""
    from dataextractor_spark.operators import graph_ops as G

    specs = load_all()
    kernels = ("graph_triangle_count", "graph_local_clustering")
    assert G._closing_join_hint(spark, SF_SMALL) == "shuffle_hash"
    assert G._closing_join_hint(spark, "/nonexistent") == "shuffle_hash"
    for name in kernels:
        plan = normalized_plan(specs[name].fn(spark, SF_SMALL))
        assert "ShuffledHashJoin LeftSemi" in plan, name
        assert "SortMergeJoin LeftSemi" not in plan, name

    pairs = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "u long, v long")
    for kernel in (G.triangle_stats, G.local_clustering_cc):
        plan = normalized_plan(kernel(pairs))
        assert "ShuffledHashJoin LeftSemi" in plan, kernel.__name__

    # 16x the sf0.1 row count on this session's heap/slots must cross
    # the budget (57.6 MB est vs 38.4 MB at 8g/32 slots; any smaller
    # test session only shrinks the budget further).
    monkeypatch.setattr(G, "_parquet_num_rows", lambda sf, t: 16 * 600_000)
    assert G._closing_join_hint(spark, SF_SMALL) == "merge"
    for name in kernels:
        plan = normalized_plan(specs[name].fn(spark, SF_SMALL))
        assert "SortMergeJoin LeftSemi" in plan, name
        assert "ShuffledHashJoin" not in plan, name


@pytest.mark.parametrize("mem", ["8g", "8gb", "8192", "8192m"])
def test_closing_join_reads_memory_strings_like_spark(spark, monkeypatch, mem):
    """Every spelling Spark accepts for an 8 GiB heap sizes the closing
    join as 8 GiB: half the rows that fill that budget keep the hash
    build, twice as many flip to sort-merge. A bare number is MiB to
    Spark; reading it as bytes would collapse the budget to sort-merge
    at every size, and a ``gb`` suffix must not raise."""
    from dataextractor_spark.operators import graph_ops as G

    sc = spark.sparkContext
    conf = sc.getConf().set("spark.driver.memory", mem)
    monkeypatch.setattr(sc, "getConf", lambda: conf)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    budget = 0.6 * 8 * 2**30 / sc.defaultParallelism / 4.0
    rows_at_budget = int(
        budget * parts / (G._EDGES_PER_ROW * G._BUILD_BYTES_PER_EDGE)
    )

    monkeypatch.setattr(G, "_parquet_num_rows", lambda sf, t: rows_at_budget // 2)
    assert G._closing_join_hint(spark, SF_SMALL) == "shuffle_hash"
    monkeypatch.setattr(G, "_parquet_num_rows", lambda sf, t: rows_at_budget * 2)
    assert G._closing_join_hint(spark, SF_SMALL) == "merge"
