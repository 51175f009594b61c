"""Golden-plan snapshots: the round-10/11 manual plan-parity procedure
(expression-id-normalized explain diff) factored into reusable code.

Why: plan quality was protected only by per-round manual audits plus
the anti-pattern gates; a lost broadcast hint or an accidental extra
shuffle introduced by a refactor would surface only as a bench mystery
on a host with ~±18% timing noise. A committed, normalized formatted
plan per guarded query turns that into an immediate CI diff.

Normalization makes the snapshot deterministic across SparkSessions:

- expression ids (``#123``) are renumbered by first appearance
  (``#E1``, ``#E2``, …) — Spark allocates them from a JVM-global
  counter, so raw ids differ between runs of identical plans;
- ``plan_id=N`` markers (broadcast/exchange references) are renumbered
  the same way;
- file-scan locations keep only the basename (the fixture directory
  is a test-host detail, the table identity is not);
- trailing whitespace is stripped (explainString pads tree lines).

Everything else — operator tree shape, join strategies, exchange
placement, pushed filters, read schemas — is compared verbatim: those
ARE the plan properties the snapshot exists to pin.

Capture / refresh with ``python tools/capture_plan_goldens.py``
(writes tests/goldens/plans/<query>.txt); the gate is
tests/test_plan_goldens.py.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import DataFrame

from .inspect import physical_plan

#: queries whose normalized formatted plans are pinned as goldens: the
#: five most expensive registry queries (iterative kernels whose scale
#: story depends on their plan shape), one representative per join
#: mode/family, and the flagship. Kept here (not in the test) so the
#: capture tool and the gate can never disagree about the set.
GOLDEN_QUERIES: tuple[str, ...] = (
    # top-5 most expensive (BENCH_detail r11) — the audited kernels
    "sim_ivfpq_search",
    "graph_label_propagation",
    "graph_local_clustering",
    "graph_triangle_count",
    "dedup_minhash_lsh",
    # one representative per join mode/family
    "join_star_revenue",            # multi-way equi star
    "join_broadcast_dim",           # broadcast hint
    "join_semi_customers_with_orders",   # left semi
    "join_anti_customers_without_orders",  # left anti
    "join_theta_size_bands",        # theta / non-equi
    "join_range_bucketed",          # keyless range via bucket replication
    "join_asof_latest_order",       # as-of (merge form)
    "join_full_outer_daily_activity",    # full outer
    "join_cross_grid_revenue",      # cross grid × broadcast agg
    "join_salted_skew",             # skew-salted equi
    "join_null_safe_eq",            # null-safe equality
    # the flagship (scan → partial agg → one exchange)
    "flagship_pricing_summary",
    # round-12 widening: one representative per remaining major
    # family, each pinning the plan property its family's scale story
    # depends on
    "window_rank_topn",          # partitioned window (no global sort)
    "agg_rollup",                # Expand + partial/final agg
    "dedup_exact",               # hash-partitioned groupBy dedup
    "sim_topk_cosine",           # broadcast query set + per-query top-k
    "time_session_window",       # session windowing (batch form)
    "udf_arrow_map_tokencount",  # Arrow-batched Python (never BatchEval)
    "text_pack_sequences",       # greedy sequence packing pipeline
    "curation_pipeline",         # multi-stage filter/enrich chain
)

_EXPR_ID = re.compile(r"#(\d+)")
_PLAN_ID = re.compile(r"plan_id=(\d+)")
_LOCATION = re.compile(r"(InMemoryFileIndex\s*\[)[^\]]*[/\\]([^/\\\]]+)\]")
#: auto-named higher-order-function variables ("lambda x_17#123"):
#: python-side F.transform/F.aggregate/F.zip_with lambdas get their
#: name suffix from a SESSION-GLOBAL counter, so the same query built
#: after different session history carries different suffixes even
#: though the plan is identical (found when sim_topk_cosine's golden
#: drifted purely by x_1→x_6 renames depending on module test order;
#: SQL-string lambdas like "x -> ..." keep their literal names and
#: never hit this). The expression id right after the name already
#: carries identity, so the suffix is renumbered like the ids.
_LAMBDA_VAR = re.compile(r"(lambda [A-Za-z]+_)(\d+)(?=#)")
#: ``Scan ExistingRDD`` argument strings for localCheckpoint'ed frames
#: carry two run-varying artifacts: the RDD id (session-global counter
#: — MapPartitionsRDD[60] in an isolated run, [12798] after a full
#: suite) and the creation callsite (``NativeMethodAccessorImpl.java:0``
#: on a warm JVM vs ``<unknown>:0`` on a fresh one — JIT reflection
#: inflation detail). Both are identity-free; scrub them. Found when
#: the round-12 golden gate went red under full-suite order only.
_RDD_REF = re.compile(r"(\w+RDD)\[\d+\]( at \w+ at )[^,\s]*")


def normalize_plan(plan: str) -> str:
    """Expression-id-renumbered, lambda-var-renumbered,
    location-scrubbed plan text."""
    ids: dict[str, str] = {}

    def _renum(m: re.Match) -> str:
        raw = m.group(1)
        if raw not in ids:
            ids[raw] = f"E{len(ids) + 1}"
        return f"#{ids[raw]}"

    plan = _EXPR_ID.sub(_renum, plan)

    pids: dict[str, str] = {}

    def _renum_pid(m: re.Match) -> str:
        raw = m.group(1)
        if raw not in pids:
            pids[raw] = str(len(pids) + 1)
        return f"plan_id={pids[raw]}"

    plan = _PLAN_ID.sub(_renum_pid, plan)

    lvars: dict[str, str] = {}

    def _renum_lvar(m: re.Match) -> str:
        raw = m.group(2)
        if raw not in lvars:
            lvars[raw] = f"N{len(lvars) + 1}"
        return m.group(1) + lvars[raw]

    plan = _LAMBDA_VAR.sub(_renum_lvar, plan)
    plan = _RDD_REF.sub(r"\1[<id>]\2<site>", plan)
    plan = _LOCATION.sub(r"\1<dir>/\2]", plan)
    return "\n".join(line.rstrip() for line in plan.splitlines()).strip() + "\n"


@contextmanager
def _scoped_conf(spark, pinned: dict[str, str]):
    """Set ``pinned`` on the session around a capture, then restore
    each key to its previous value (or unset it if it had none)."""
    conf = spark.conf
    prev = {k: conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, p in prev.items():
            if p is None:
                conf.unset(k)
            else:
                conf.set(k, p)


def normalized_plan(df: DataFrame) -> str:
    """Normalized formatted physical plan of ``df`` (golden format).

    Two confs are pinned (and restored) around the explain:

    - ``spark.sql.debug.maxToStringFields=400`` so wide plans (the
      32-perm MinHash signature struct) are never
      "... N more fields"-truncated — a truncated golden would
      silently stop diffing the very columns it pins;
    - ``spark.sql.autoBroadcastJoinThreshold=-1`` so a broadcast in
      the snapshot can come ONLY from an explicit hint. At sf0.001
      every dim auto-broadcasts, so without this a dropped
      ``F.broadcast``/catalog hint — the exact 100 TB regression the
      goldens exist to catch, since size estimates are what the hint
      protects against at scale — would leave the snapshot unchanged
      (verified during the round-12 mutation check).
    """
    pinned = {
        "spark.sql.debug.maxToStringFields": "400",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with _scoped_conf(df.sparkSession, pinned):
        return normalize_plan(physical_plan(df, "formatted"))


def lpa_kernel_golden_text(spark, sf_dir: str) -> str:
    """Normalized plan of the UN-PINNED LPA sweep kernel (r13, closing
    the r12 VERDICT evidence gap: the per-sweep ReusedExchange claim
    was never visible in a committed dump because every capture
    started at the final pin's RDD scan). Builds the exact edge frame
    graph_label_propagation feeds the kernel, explains the pre-pin
    ``_lpa_labels_plan`` frame with AQE OFF — the static planner runs
    the ReuseExchange rule at planning time, so the sweep-shared
    edges exchange appears as explicit ReusedExchange nodes instead
    of an invisible runtime stage-cache hit — and normalizes like any
    other golden (auto-broadcast disabled inside normalized_plan, so
    the join shape is the scale-relevant one). Gate:
    tests/test_plan_goldens.py::test_lpa_sweep_kernel_golden."""
    from dataextractor_spark.catalog import load_table
    from dataextractor_spark.operators.graph_ops import (
        _incidence_arcs,
        _lpa_labels_plan,
    )
    from dataextractor_spark.pins import pin

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_suppkey", "l_partkey").distinct().transform(pin)
    edges = _incidence_arcs(pairs).transform(pin)
    with _scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        return normalized_plan(_lpa_labels_plan(edges))
