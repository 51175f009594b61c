"""The three workloads and the closed loop they share.

Every workload sets up ``setups`` times (stage inputs, start a session,
warm up; the median is ``setup_s``), keeps the last session, then runs
whole passes of its ops back to back, one client, until the measured
time reaches the requested seconds. Verification reads outputs kept
from the timed ops and runs outside the timed window. With tracing on,
the same loop runs with Spark's event log and call spans enabled and
the result carries the per-layer metrics instead.
"""

from __future__ import annotations

import functools
import importlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import duckdb
from pyspark.sql import functions as F

from dataextractor_spark import catalog, session
from dataextractor_spark.etl.compaction import compact
from dataextractor_spark.etl.pipeline import full_load
from dataextractor_spark.registry import load_all
from perfbench import datagen, ingest, oracle, queries
from perfbench.trace import PeakRss, Spans, event_log_file, fold_event_log, union_ms

#: public kernel entry points timed as the ``functions`` layer
KERNELS = {
    "kmeans": ("kmeans_fit", "assign_cells"),
    "pq": ("pq_fit", "pq_encode"),
    "pagerank": ("pagerank",),
    "graph": ("connected_components",),
    "asof": ("asof_join",),
    "skew": ("salted_join",),
}


#: per-layer metrics only the ingest workload exercises, with their units
INGEST_UNITS = {
    "sources.rest.transport_calls_per_request": "ratio",
    "sources.rest.transport_s": "s/cycle",
    "etl.pipeline.load_s": "s/op",
    "etl.pipeline.jobs_per_load": "count/op",
    "etl.pipeline.files_written": "count/cycle",
    "etl.pipeline.bytes_written": "B/cycle",
    "etl.compaction.compact_s": "s/op",
    "etl.compaction.files_before": "count/op",
    "etl.compaction.files_after": "count/op",
    "etl.compaction.bytes_rewritten": "B/op",
    "ingest.records_per_s": "1/s",
    "ingest.written_bytes_per_input_byte": "ratio",
    "ingest.stored_bytes_per_input_byte": "ratio",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Loop:
    """One workload run: set-ups, the measured closed loop, verification
    and the metrics. Subclasses stage inputs, warm up, list a pass's
    ops and verify."""

    app = "perfbench"

    def __init__(self, seed: int, work: str, cores: int, trace: bool):
        self.seed = seed
        self.work = work
        self.cores = cores
        self.trace = trace
        self.spark = None
        self.data = ""
        self.errors: list[str] = []
        self.untimed_s = 0.0  # verification inside the loop, excluded from wall
        self.spans = Spans()
        self.op_index = 0

    # -- hooks --------------------------------------------------------------

    def stage(self, data_dir: str) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def pass_ops(self, p: int):
        """[(op name, callable returning {phase: seconds})] for pass p."""
        raise NotImplementedError

    def verify(self) -> None:
        raise NotImplementedError

    def layer_metrics(self, ops, measured_s: float, fold) -> dict:
        """Workload-specific per-layer metrics; zero where a layer is
        not exercised, so every run reports the same names."""
        return {name: (0.0, unit) for name, unit in INGEST_UNITS.items()}

    # -- shared machinery -------------------------------------------------

    def conf(self) -> dict[str, str]:
        tmp = os.environ["TMPDIR"]
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        conf = {
            "spark.sql.files.maxPartitionBytes": "4194304",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # The heap is committed and touched at JVM start, so its
            # resident size is the same in every run: left to grow, G1
            # expanded it by anywhere from 0.5 to 1 GB, which swamped
            # every other change in peak_rss_mb.
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def tag(self, group: str) -> None:
        """Name the jobs that follow (traced runs only)."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    def _install_spans(self) -> None:
        """Wrap the package's public layer entry points. This has to
        happen before ``registry.load_all`` imports the operators,
        because they bind these names when they are imported."""
        self.spans.wrap(catalog, "load_table", "catalog")
        for mod, names in KERNELS.items():
            m = importlib.import_module(f"dataextractor_spark.functions.{mod}")
            for n in names:
                self.spans.wrap(m, n, "functions")

    def run(self, seconds: float, setups: int) -> dict:
        if self.trace:
            self._install_spans()
        self.prepare()
        setup_s, session_s = [], []
        for k in range(setups):
            if self.spark is not None:
                self.spark.stop()
                shutil.rmtree(self.data, ignore_errors=True)
            t0 = time.perf_counter()
            self.data = os.path.join(self.work, f"in{k}")
            self.stage(self.data)
            t1 = time.perf_counter()
            self.spark = session.get_session(app_name=self.app, extra_conf=self.conf())
            session_s.append(time.perf_counter() - t1)
            self.tag(f"setup{k}")
            self.warm()
            setup_s.append(time.perf_counter() - t0)
            _log(f"setup {k}: stage {t1 - t0:.2f} s, session {session_s[-1]:.2f} s, "
                 f"total {setup_s[-1]:.2f} s")
        self.spans_before = self.spans.snapshot()
        with PeakRss() as rss:
            ops, measured_s = self._measure(seconds)
        peak = rss.peak
        _log(f"measured {len(ops)} ops in {measured_s:.2f} s")
        self.tag("verify")
        t0 = time.perf_counter()
        try:
            self.verify()
        except Exception as exc:  # noqa: BLE001 — a broken check is a failed check
            self.errors.append(f"verification raised {type(exc).__name__}: {exc}")
        _log(f"verified in {time.perf_counter() - t0:.2f} s, {len(self.errors)} errors")
        failed = sum(1 for o in ops if not o["ok"])
        walls = [o["wall"] for o in ops if o["ok"]] or [measured_s]
        if self.trace:
            app_id = self.spark.sparkContext.applicationId
            self.spark.stop()
            fold = fold_event_log(event_log_file(self.event_dir, app_id))
            metrics = self.common_layers(ops, measured_s, fold, session_s)
            metrics.update(self.layer_metrics(ops, measured_s, fold))
            metrics["error_rate"] = (failed / len(ops), "ratio")
        else:
            metrics = {
                "setup_s": (statistics.median(setup_s), "s"),
                "op_p50_s": (statistics.median(walls), "s"),
                "ops_per_s": (len(ops) / measured_s, "1/s"),
                "peak_rss_mb": (peak / 2**20, "MB"),
            }
        for e in self.errors[:10]:
            _log(f"error: {e}")
        return {
            "correct": not self.errors and failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def prepare(self) -> None:
        """One-time work before the first set-up (imports, query specs)."""

    def _measure(self, seconds: float):
        ops = []
        t0 = time.perf_counter()
        p = 0
        while True:
            for name, fn in self.pass_ops(p):
                i = self.op_index
                self.op_index += 1
                rec = {"i": i, "name": name, "ok": True}
                u0 = self.untimed_s
                s = time.perf_counter()
                try:
                    rec["phases"] = fn(i)
                except Exception:  # noqa: BLE001 — a failing op counts, the run goes on
                    rec["ok"] = False
                    self.errors.append(f"{name} raised: {traceback.format_exc(limit=3)}")
                rec["wall"] = time.perf_counter() - s - (self.untimed_s - u0)
                _log(f"op {i} {name}: {rec['wall']:.3f} s{'' if rec['ok'] else ' FAILED'}")
                ops.append(rec)
            p += 1
            if time.perf_counter() - t0 - self.untimed_s >= seconds:
                break
        return ops, time.perf_counter() - t0 - self.untimed_s

    def common_layers(self, ops, measured_s: float, fold, session_s) -> dict:
        """Per-layer metrics every workload reports, from the call spans
        and the folded event log of the measured ops."""
        groups = fold["groups"]
        n = len(ops)
        (c0, s0), (c1, s1) = self.spans_before, self.spans.snapshot()
        calls = {k: v - c0.get(k, 0) for k, v in c1.items()}
        secs = {k: v - s0.get(k, 0.0) for k, v in s1.items()}

        def phase_sum(phase: str, key: str) -> float:
            return sum(groups.get(f"op{o['i']}|{phase}", {}).get(key, 0) for o in ops)

        def all_ops(key: str) -> float:
            return sum(g[key] for gid, g in groups.items() if gid and gid.startswith("op"))

        op_groups = [(gid, g) for gid, g in groups.items() if gid and gid.startswith("op")]
        gaps = []
        for o in ops:
            spans = [
                span
                for ph in (o.get("phases") or {})
                for span in groups.get(f"op{o['i']}|{ph}", {}).get("spans", [])
            ]
            gaps.append(max(0.0, o["wall"] - union_ms(spans) / 1000.0))
        build = sum((o.get("phases") or {}).get("build", 0.0) for o in ops)
        exec_ = sum((o.get("phases") or {}).get("exec", 0.0) for o in ops)
        setup_jobs = sum(
            g["layer_jobs"].get("catalog", 0) for gid, g in groups.items() if gid and gid.startswith("setup")
        ) / max(1, len(session_s))
        kernel_jobs = sum(g["layer_jobs"].get("functions", 0) for _, g in op_groups)
        run_ms = all_ops("run_ms")
        return {
            "session.get_session_s": (statistics.median(session_s), "s"),
            "catalog.load_table_calls": (calls.get("catalog", 0) / n, "count/op"),
            "catalog.load_table_s": (secs.get("catalog", 0.0) / n, "s/op"),
            "catalog.first_touch_jobs": (setup_jobs, "count"),
            "operators.build_s": (build / n, "s/op"),
            "operators.build_share": (build / (build + exec_) if build + exec_ else 0.0, "ratio"),
            "operators.build_jobs": (phase_sum("build", "jobs") / n, "count/op"),
            "operators.build_stages": (phase_sum("build", "stages") / n, "count/op"),
            "operators.build_tasks": (phase_sum("build", "tasks") / n, "count/op"),
            "functions.kernel_calls": (calls.get("functions", 0) / n, "count/op"),
            "functions.kernel_s": (secs.get("functions", 0.0) / n, "s/op"),
            "functions.kernel_jobs": (kernel_jobs / n, "count/op"),
            "engine.exec_s": (exec_ / n, "s/op"),
            "engine.exec_jobs": (phase_sum("exec", "jobs") / n, "count/op"),
            "engine.exec_stages": (phase_sum("exec", "stages") / n, "count/op"),
            "engine.exec_tasks": (phase_sum("exec", "tasks") / n, "count/op"),
            "engine.driver_gap_s": (sum(gaps) / n, "s/op"),
            "engine.executor_run_s": (run_ms / 1e3 / n, "s/op"),
            "engine.executor_cpu_s": (all_ops("cpu_ns") / 1e9 / n, "s/op"),
            "engine.gc_s": (all_ops("gc_ms") / 1e3 / n, "s/op"),
            "engine.shuffle_read_bytes": (all_ops("shuffle_read") / n, "B/op"),
            "engine.shuffle_write_bytes": (all_ops("shuffle_write") / n, "B/op"),
            "engine.spill_bytes": (all_ops("spill") / n, "B/op"),
            "engine.peak_exec_mem_bytes": (max((g["peak_mem"] for _, g in op_groups), default=0), "B"),
            "engine.input_rows": (all_ops("input_rows") / n, "rows/op"),
            "engine.slot_busy_ratio": (run_ms / 1e3 / (measured_s * self.cores), "ratio"),
            "engine.aqe_replans": (fold["aqe_replans"] / n, "count/op"),
            "trace.op_mean_s": (sum(o["wall"] for o in ops) / n, "s"),
        }


# --- olap_sf01 and scaled_8x ---------------------------------------------------


class QueryLoop(Loop):
    """Registered queries over a generated catalog. One op = build the
    DataFrame (``spec.fn``) then collect its rows; the rows are kept and
    checked after the timed window against the query's DuckDB oracle on
    the same files, and across passes for determinism."""

    names: tuple[str, ...] = ()
    replicas = 1

    def prepare(self) -> None:
        specs = load_all()
        self.specs = {n: specs[n] for n in self.names}
        self.warmup = specs[queries.WARMUP]
        self.rows: dict[str, list] = {n: [] for n in self.names}
        self.cols: dict[str, list] = {}

    def stage(self, data_dir: str) -> None:
        tables = datagen.catalog(self.seed)
        if self.replicas > 1:
            tables = datagen.replicate(tables, self.replicas, self.seed)
        datagen.write_catalog(tables, data_dir, files_scale=self.replicas)

    def warm(self) -> None:
        for t in catalog.TABLES:
            catalog.load_table(self.spark, self.data, t)
        # One query outside the measured list warms the JVM's planning,
        # code generation and collect paths, and one Python worker per
        # core is started; otherwise the first ops of a pass pay for
        # both, whichever queries the seeded order puts there.
        self.warmup.fn(self.spark, self.data).collect()
        self.spark.range(0, self.cores, 1, self.cores).mapInPandas(
            lambda batches: batches, "id long"
        ).collect()

    def pass_ops(self, p: int):
        order = list(self.names)
        random.Random(self.seed * 1_000_003 + p).shuffle(order)
        return [(n, self._op(n)) for n in order]

    def _op(self, name: str):
        def op(i: int) -> dict:
            self.tag(f"op{i}|build")
            t0 = time.perf_counter()
            df = self.specs[name].fn(self.spark, self.data)
            t1 = time.perf_counter()
            self.tag(f"op{i}|exec")
            rows = df.collect()
            t2 = time.perf_counter()
            self.cols[name] = df.columns
            self.rows[name].append(rows)
            return {"build": t1 - t0, "exec": t2 - t1}

        return op

    def verify(self) -> None:
        con = oracle.duck(self.data)
        try:
            for name in self.names:
                runs = self.rows[name]
                if not runs:
                    continue
                cols = self.cols[name]
                first = oracle.canonical(cols, [tuple(r) for r in runs[0]])
                for again in runs[1:]:
                    if oracle.canonical(cols, [tuple(r) for r in again]) != first:
                        self.errors.append(f"{name}: rows differ between passes")
                sql = self.specs[name].oracle
                try:
                    if sql:
                        oracle.compare(cols, [tuple(r) for r in runs[0]], con, sql)
                    elif not runs[0]:
                        self.errors.append(f"{name}: empty result")
                except oracle.Mismatch as exc:
                    self.errors.append(f"{name}: {exc}")
        finally:
            con.close()


class OlapSf01(QueryLoop):
    app = "perfbench-olap_sf01"
    names = queries.OLAP_SF01


class Scaled8x(QueryLoop):
    app = "perfbench-scaled_8x"
    names = queries.SCALED_8X
    replicas = 8


# --- ingest_lake ---------------------------------------------------------------


class IngestLake(Loop):
    """One pass = one monthly cycle: ``full_load`` of each of the 13
    reference datasets (one op each; matches fans out over the API's
    pages and is partitioned by ``dt``), ``compact`` on matches, and one
    read-back aggregate over the lake."""

    app = "perfbench-ingest_lake"

    def prepare(self) -> None:
        self.lake = os.path.join(self.work, "lake")
        self.calls_log = os.path.join(self.work, "transport-calls.log")
        self.cycles: list[dict] = []
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 2")

    def stage(self, data_dir: str) -> None:
        self.api = ingest.generate_api(os.path.join(data_dir, "api"), self.seed)
        self.specs = ingest.datasets(self.api)

    def _transport(self):
        return functools.partial(ingest.FileTransport, self.api.root, self.calls_log)

    def warm(self) -> None:
        heroes = [s for s in self.specs if s.name == "heroes"]
        full_load(self.spark, heroes, self._transport(), os.path.join(self.data, "warm-lake"))

    def pass_ops(self, p: int):
        cycle: dict = {"loaded": {}, "files": 0, "bytes": 0}
        self.cycles.append(cycle)
        calls0 = ingest.read_call_log(self.calls_log)

        def load(spec):
            def op(i: int) -> dict:
                self.tag(f"op{i}|exec")
                t0 = time.perf_counter()
                report = full_load(self.spark, [spec], self._transport(), self.lake)
                dt = time.perf_counter() - t0
                u0 = time.perf_counter()
                cycle["loaded"][spec.name] = report.ok.get(spec.name)
                files, size = ingest.lake_files(os.path.join(self.lake, spec.name))
                cycle["files"] += files
                cycle["bytes"] += size
                cycle["requests"] = cycle.get("requests", 0) + len(spec.requests)
                if spec.name == "matches":
                    cycle["matches_files"] = files
                    cycle["before"] = ingest.matches_fingerprint(self.duck, self.lake)
                self.untimed_s += time.perf_counter() - u0
                return {"exec": dt}

            return op

        def compact_op(i: int) -> dict:
            self.tag(f"op{i}|exec")
            t0 = time.perf_counter()
            rep = compact(self.spark, os.path.join(self.lake, "matches"), ["dt"])
            dt = time.perf_counter() - t0
            u0 = time.perf_counter()
            cycle["compaction"] = rep
            cycle["compacted_bytes"] = ingest.lake_files(os.path.join(self.lake, "matches"))[1]
            cycle["after"] = ingest.matches_fingerprint(self.duck, self.lake)
            self.untimed_s += time.perf_counter() - u0
            return {"exec": dt}

        def readback(i: int) -> dict:
            self.tag(f"op{i}|exec")
            t0 = time.perf_counter()
            rows = (
                self.spark.read.parquet(os.path.join(self.lake, "matches"))
                .groupBy("dt")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("duration").alias("duration"))
                .collect()
            )
            dt = time.perf_counter() - t0
            u0 = time.perf_counter()
            cycle["readback"] = {str(r["dt"]): r["n"] for r in rows}
            calls, secs = ingest.read_call_log(self.calls_log)
            cycle["transport_calls"] = calls - calls0[0]
            cycle["transport_s"] = secs - calls0[1]
            _, cycle["stored_bytes"] = ingest.lake_files(self.lake)
            self.untimed_s += time.perf_counter() - u0
            return {"exec": dt}

        return (
            [(f"load:{s.name}", load(s)) for s in self.specs]
            + [("compact:matches", compact_op), ("readback:matches", readback)]
        )

    def verify(self) -> None:
        want_dt = self.api.match_rows_per_dt
        want = {**self.api.dataset_rows, "matches": sum(want_dt.values())}
        for k, c in enumerate(self.cycles):
            if "readback" not in c:
                continue  # an op of this cycle failed and is already counted
            for name, n in want.items():
                if c["loaded"].get(name) != n:
                    self.errors.append(f"cycle {k}: {name} landed {c['loaded'].get(name)} rows, want {n}")
            if c.get("before", ({},))[0] != want_dt:
                self.errors.append(f"cycle {k}: rows per dt after load differ from the API")
            if c.get("after") != c.get("before"):
                self.errors.append(f"cycle {k}: compaction changed the match rows")
            if c["readback"] != want_dt:
                self.errors.append(f"cycle {k}: read-back rows per dt differ from the API")
        self.duck.close()

    def layer_metrics(self, ops, measured_s: float, fold) -> dict:
        groups = fold["groups"]
        done = [c for c in self.cycles if "readback" in c]
        nc = max(1, len(done))
        loads = [o for o in ops if o["name"].startswith("load:") and o["ok"]]
        comps = [o for o in ops if o["name"].startswith("compact:") and o["ok"]]
        load_jobs = sum(groups.get(f"op{o['i']}|exec", {}).get("jobs", 0) for o in loads)
        records = sum(sum(v for v in c["loaded"].values() if v) for c in done)
        written = sum(c["bytes"] + c["compacted_bytes"] for c in done)
        values = {
            "sources.rest.transport_calls_per_request":
                sum(c["transport_calls"] for c in done) / max(1, sum(c["requests"] for c in done)),
            "sources.rest.transport_s": sum(c["transport_s"] for c in done) / nc,
            "etl.pipeline.load_s": sum(o["wall"] for o in loads) / max(1, len(loads)),
            "etl.pipeline.jobs_per_load": load_jobs / max(1, len(loads)),
            "etl.pipeline.files_written": sum(c["files"] for c in done) / nc,
            "etl.pipeline.bytes_written": sum(c["bytes"] for c in done) / nc,
            "etl.compaction.compact_s": sum(o["wall"] for o in comps) / max(1, len(comps)),
            "etl.compaction.files_before": sum(c["compaction"].files_before for c in done) / nc,
            "etl.compaction.files_after": sum(c["compaction"].files_after for c in done) / nc,
            "etl.compaction.bytes_rewritten": sum(c["compacted_bytes"] for c in done) / nc,
            "ingest.records_per_s": records / measured_s,
            "ingest.written_bytes_per_input_byte": written / nc / self.api.json_bytes,
            "ingest.stored_bytes_per_input_byte":
                sum(c["stored_bytes"] for c in done) / nc / self.api.json_bytes,
        }
        return {name: (values[name], unit) for name, unit in INGEST_UNITS.items()}

WORKLOADS = {"olap_sf01": OlapSf01, "scaled_8x": Scaled8x, "ingest_lake": IngestLake}
