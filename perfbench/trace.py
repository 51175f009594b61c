"""Measurement helpers: call spans around the package's public
functions, the Spark event-log fold, and a peak-RSS sampler for the
benchmark's process tree.

Spans are recorded from outside the package: `Spans.wrap` replaces a
module attribute with a timing wrapper. Jobs are attributed through
Spark local properties, which the event log carries on every job start:
``spark.jobGroup.id`` names the op and phase, ``perfbench.layer`` names
the wrapped layer a job fired under.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

LAYER_PROP = "perfbench.layer"


class Spans:
    """Call counts and wall seconds per wrapped function. Nested calls
    into the same layer count once, at the outermost call."""

    def __init__(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)

    def wrap(self, module, name: str, layer: str) -> None:
        fn = getattr(module, name)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if self._depth[layer]:
                return fn(*args, **kwargs)
            sc = _active_context()
            prev = sc.getLocalProperty(LAYER_PROP) if sc else None
            if sc:
                sc.setLocalProperty(LAYER_PROP, layer)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.secs[layer] += time.perf_counter() - t0
                self.calls[layer] += 1
                self._depth[layer] -= 1
                if sc:
                    sc.setLocalProperty(LAYER_PROP, prev)

        setattr(module, name, timed)

    def snapshot(self) -> tuple[dict, dict]:
        return dict(self.calls), dict(self.secs)


def _active_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


# --- event log ---------------------------------------------------------------

_TASK_SUMS = (
    "run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write", "spill", "input_rows",
)


def _new_group() -> dict:
    g = {k: 0 for k in _TASK_SUMS}
    g.update(jobs=0, stages=0, tasks=0, peak_mem=0, layer_jobs=defaultdict(int), spans=[])
    return g


def fold_event_log(path: str) -> dict:
    """Fold one uncompressed, unrolled Spark event log into per-job-group
    totals: jobs, completed stages, tasks, task-metric sums, the peak
    execution memory of any task, jobs per layer property, and job
    [start, end] intervals in ms. Jobs without a group fold under
    ``None``. Also returns the number of adaptive re-plans logged while
    the most recently started job belonged to a group ``op...``."""
    groups: dict = defaultdict(_new_group)
    job_group: dict[int, object] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, object] = {}
    done_stages: set[int] = set()
    aqe = 0
    measuring = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                gid = props.get("spark.jobGroup.id")
                measuring = gid is not None and gid.startswith("op")
                jid = e["Job ID"]
                job_group[jid] = gid
                job_start[jid] = e["Submission Time"]
                g = groups[gid]
                g["jobs"] += 1
                g["layer_jobs"][props.get(LAYER_PROP)] += 1
                for sid in e.get("Stage IDs", []):
                    if sid not in done_stages:
                        stage_group[sid] = gid
            elif ev == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in job_start:
                    groups[job_group[jid]]["spans"].append((job_start[jid], e["Completion Time"]))
            elif ev == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                done_stages.add(sid)
                groups[stage_group.get(sid)]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                g = groups[stage_group.get(e["Stage ID"])]
                g["tasks"] += 1
                m = e.get("Task Metrics") or {}
                g["run_ms"] += m.get("Executor Run Time", 0)
                g["cpu_ns"] += m.get("Executor CPU Time", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill"] += m.get("Disk Bytes Spilled", 0)
                g["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                g["peak_mem"] = max(g["peak_mem"], m.get("Peak Execution Memory", 0))
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate") and measuring:
                aqe += 1
    out = {gid: {**g, "layer_jobs": dict(g["layer_jobs"])} for gid, g in groups.items()}
    return {"groups": out, "aqe_replans": aqe}


def union_ms(spans) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_file(log_dir: str, app_id: str) -> str:
    """The finished (uncompressed, unrolled) log of application ``app_id``."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path


# --- memory ------------------------------------------------------------------


def _processes() -> dict[int, tuple[int, str, int, int]]:
    """{pid: (ppid, name, vsize bytes, resident pages)} of live processes."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue  # the process ended between the listing and the read
        fields = tail.split()
        out[int(d)] = (int(fields[1]), head.split("(", 1)[1], int(fields[20]), int(fields[21]))
    return out


def _tree(root: int, procs: dict) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, *_rest) in procs.items():
        children[ppid].append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    return _tree(root, _processes())


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and its descendants. A child of the
    JVM that still runs the JVM's executable is between fork and exec,
    sharing the JVM's pages, and is not counted again: the JVM forks
    short-lived helpers (``chmod``) while it writes files, and counting
    one caught before its exec added the whole JVM a second time. (The
    Python workers, forked from Spark's Python daemon without an exec,
    hold memory of their own and are counted.)"""
    procs = _processes()
    page = os.sysconf("SC_PAGE_SIZE")
    total = procs[root][3] if root in procs else 0
    for pid in _tree(root, procs):
        ppid, _name, _vsize, rss = procs[pid]
        if procs[ppid][1] == "java" and _exe(pid) == _exe(ppid):
            continue
        total += rss
    return total * page


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the driver JVM and the Python workers) until stopped."""

    def __init__(self, interval_s: float = 0.25):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(root))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
