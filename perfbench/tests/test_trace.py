"""Process-tree memory, interval union, and the event-log fold on a
recorded two-query log."""

import json
import os
import signal
import subprocess
import sys
import time

from perfbench.trace import _tree_rss_bytes, descendants, fold_event_log, union_ms

LOG = os.path.join(os.path.dirname(__file__), "data", "two_queries.eventlog")
EXPECTED = os.path.join(os.path.dirname(__file__), "data", "two_queries.expected.json")


def test_tree_rss_counts_forked_and_execed_children():
    """Forks of a non-JVM parent (how Spark's Python workers start) and
    exec'd children both count; only unexec'd children of a JVM are
    skipped, which needs a JVM to show."""
    me = os.getpid()
    alone = _tree_rss_bytes(me)
    pid = os.fork()
    if pid == 0:
        time.sleep(3)
        os._exit(0)
    try:
        time.sleep(0.2)
        with_fork = _tree_rss_bytes(me)
        assert with_fork > alone * 1.5
        child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(3)"])
        try:
            time.sleep(1.0)
            assert pid in descendants(me) and child.pid in descendants(me)
            assert _tree_rss_bytes(me) > with_fork
        finally:
            child.kill()
            child.wait()
    finally:
        os.kill(pid, signal.SIGKILL)
        os.waitpid(pid, 0)


def test_union_of_job_intervals():
    assert union_ms([]) == 0
    assert union_ms([(0, 10)]) == 10
    assert union_ms([(0, 10), (5, 20), (30, 35)]) == 25
    assert union_ms([(30, 35), (0, 10), (10, 12)]) == 17


def test_fold_of_a_recorded_two_query_log():
    """The log was recorded from two registered queries, each tagged
    ``op<i>|build`` and ``op<i>|exec``; the expected job counts per
    group were read from Spark's status tracker during the recording."""
    with open(EXPECTED) as f:
        want = json.load(f)
    fold = fold_event_log(LOG)
    groups = fold["groups"]
    for gid, jobs in want["jobs"].items():
        assert groups.get(gid, {}).get("jobs", 0) == jobs, gid
    for gid in ("op0|exec", "op1|exec"):
        g = groups[gid]
        assert g["stages"] >= 1 and g["tasks"] >= g["stages"]
        assert g["run_ms"] > 0 and g["cpu_ns"] > 0 and g["input_rows"] > 0
        assert len(g["spans"]) == g["jobs"]
        assert all(e >= s for s, e in g["spans"])
    # stage and task totals are attributed, none are lost
    assert sum(g["tasks"] for g in groups.values()) == want["tasks"]
    assert sum(g["stages"] for g in groups.values()) == want["stages"]
    assert fold["aqe_replans"] == want["aqe_replans"]
