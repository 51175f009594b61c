"""The engine's Python worker daemon (dataextractor_spark.pydaemon).

The stamp check runs in a fresh interpreter, so the patched
``zipimporter`` never reaches this pytest process. The Spark tests show
that ``get_session`` wires the daemon and that files added with
``addPyFile`` after the workers started are still found.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv[1]: a scratch directory. Prints "ok" when every check holds.
STAMP_CHECK = r"""
import importlib, os, sys, zipfile, zipimport
from dataextractor_spark import pydaemon

reads = []
read_directory = zipimport._read_directory
def counting_read(archive):
    reads.append(archive)
    return read_directory(archive)
zipimport._read_directory = counting_read
pydaemon.install()

archive = os.path.join(sys.argv[1], "lib.zip")
def write(files):
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)

write({"first.py": "X = 1\n", "pkg/__init__.py": "", "pkg/a.py": "A = 1\n"})
sys.path.insert(0, archive)
import first, pkg.a  # a root importer and a pkg/ importer of the archive
importers = [f for f in sys.path_importer_cache.values()
             if isinstance(f, zipimport.zipimporter) and f.archive == archive]
assert len(importers) == 2, importers

reads.clear()
importlib.invalidate_caches()  # first call: no stamp yet, so both re-read
assert reads == [archive, archive], reads

reads.clear()
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads == [], reads  # unchanged archive: never re-read

size = os.path.getsize(archive)
write({"first.py": "X = 1\n", "second.py": "Y = 2\n",
       "pkg/__init__.py": "", "pkg/a.py": "A = 1\n", "pkg/b.py": "B = 2\n"})
assert os.path.getsize(archive) != size
importlib.invalidate_caches()
assert reads == [archive, archive], reads  # rewritten in place: every importer re-reads
import second, pkg.b
assert (second.Y, pkg.b.B) == (2, 2)

reads.clear()
importlib.invalidate_caches()
assert reads == [], reads
print("ok")
"""


def test_zip_directory_is_reread_only_when_the_archive_changed(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", STAMP_CHECK, str(tmp_path)],
        cwd=ROOT, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0 and proc.stdout.strip() == "ok", proc.stderr


# Prints "ok" when a get_session session runs RDD-backed and SQL Python
# through one worker factory. A fresh process, because the suite's
# session also runs Python data sources, whose planner workers are
# factories of their own.
ONE_POOL_CHECK = r"""
from pyspark.sql import functions as F
from dataextractor_spark.session import get_session
from dataextractor_spark.sources.rest import FixtureTransport, RestRequest, fetch

spark = get_session(app_name="one-worker-pool", master="local[2]", shuffle_partitions=2)
fx = FixtureTransport({"/a": (200, "{}"), "/b": (200, "[]")})
assert fetch(spark, [RestRequest("/a"), RestRequest("/b")], lambda: fx).count() == 2
spark.range(4).mapInPandas(lambda it: it, "id long").collect()
spark.range(4).select(F.udf(lambda x: x + 1, "long")("id")).collect()
spark.createDataFrame([(1, "a"), (2, "b")], "n int, s string").collect()
workers = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().pythonWorkers()
assert workers.size() == 1, workers.keySet().toString()
spark.stop()
print("ok")
"""


def test_rdd_and_sql_python_share_one_worker_pool():
    proc = subprocess.run(
        [sys.executable, "-c", ONE_POOL_CHECK],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("ok"), proc.stderr[-3000:]


def test_python_workers_run_the_engine_daemon(spark):
    def probe(_):
        import zipimport

        from dataextractor_spark import pydaemon

        yield zipimport.zipimporter.invalidate_caches is pydaemon._invalidate_if_changed

    n = 4
    assert spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect() == [True] * n


def test_py_files_added_after_the_first_python_job_are_importable(spark, tmp_path):
    sc = spark.sparkContext
    n = 4
    sc.parallelize(range(n), n).map(lambda x: x).collect()  # workers up and primed
    archive = tmp_path / "graft_added_zip.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("graft_added_zip.py", "VALUE = 'zip'\n")
    module = tmp_path / "graft_added_py.py"
    module.write_text("VALUE = 'py'\n")
    sc.addPyFile(str(archive))
    sc.addPyFile(str(module))

    def load(_):
        import graft_added_py
        import graft_added_zip

        yield graft_added_zip.VALUE, graft_added_py.VALUE

    assert sc.parallelize(range(n), n).mapPartitions(load).collect() == [("zip", "py")] * n
