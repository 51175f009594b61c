"""Benchmark entry point.

    python3 perfbench/run.py --workload {olap_sf01,scaled_8x,ingest_lake} \
        --seed N --seconds S --trace {0,1}

Runs from the root of a source checkout. It generates the workload's
inputs from the seed, sets the engine up several times (the median is
``setup_s``), measures a closed loop with one client on
``local[<cores>]`` for at least ``--seconds`` of whole passes, verifies
every output outside the timed window, and prints one JSON object as
its last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same loop with Spark's event log and
call spans on and reports the per-layer metrics. Exits 2 without a result when the
engine package is not next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dataextractor_spark"

#: set-ups per run; setup_s is their median
SETUPS = 3
#: driver heap of the local-mode JVM (fixed size, see Loop.conf)
DRIVER_MEM = "2g"
#: shuffle partitions, pinned so the caller's environment cannot move them
SHUFFLE_PARTITIONS = "32"


def _pin_environment(work: str) -> int:
    """Pin everything a result depends on besides the code: cores,
    shuffle partitions, driver heap, time zone, scratch and temp
    locations, and the import path of Spark's Python workers. Returns
    the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TZ": "UTC",  # Spark hands timestamps to Python in the local zone
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": SHUFFLE_PARTITIONS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    })
    time.tzset()
    sys.path.insert(0, ROOT)
    return cores


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: no {PACKAGE}/ package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        cores = _pin_environment(work)
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        result = WORKLOADS[args.workload](args.seed, work, cores, bool(args.trace)).run(
            args.seconds, SETUPS
        )
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


def _stop_spark() -> None:
    """Stop the session and the JVM it started, then wait until every
    process the run started (the JVM, Spark's Python daemon and its
    workers) has ended."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    from perfbench.trace import descendants

    started = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while started and time.monotonic() < deadline:
        started = [p for p in started if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


if __name__ == "__main__":
    sys.exit(main())
