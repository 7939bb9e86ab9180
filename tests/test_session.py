"""Session helpers: ``spread_input`` only spreads bare file scans; Python
workers start through the engine's daemon (lazy zip-cache invalidation),
from any driver working directory."""
from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.session import is_bare_scan, spread_input


def test_spread_input_refuses_transformed_scan(spark, sf_dir):
    """A filtered DataFrame is refused loudly: its ``.rdd`` split planning
    could run a job, and a caller re-reading its files would drop the
    filter. The bare scan it came from is spread and keeps every row."""
    scan = spark.read.parquet(f"{sf_dir}/documents.parquet")
    filtered = scan.filter(F.col("doc_id") < 10)
    assert is_bare_scan(scan) and not is_bare_scan(filtered)
    with pytest.raises(ValueError, match="untransformed file scan"):
        spread_input(filtered)
    spread = spread_input(scan)
    assert spread.rdd.getNumPartitions() >= \
        spark.sparkContext.defaultParallelism
    assert spread.count() == scan.count()


def test_worker_zip_invalidation_is_lazy(spark):
    """Worker setup calls ``importlib.invalidate_caches()`` once per task.
    Under the engine's daemon that re-reads no zip directory; on CPython
    3.10-3.12 it otherwise makes each of a worker's 16 zipimporters (on
    ``pyspark.zip``, py4j's zip, the spark-core jar) re-read its archive's
    central directory, every task."""
    n = spark.sparkContext.defaultParallelism

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd
        importers = sum(isinstance(v, zipimport.zipimporter)
                        for v in sys.path_importer_cache.values())
        reads = [0]
        read_directory = zipimport._read_directory

        def counted(path):
            reads[0] += 1
            return read_directory(path)
        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [importers], "reads": [reads[0]]})

    got = (spark.range(n, numPartitions=n)
           .mapInPandas(probe, "importers long, reads long").toPandas())
    assert len(got) == n
    assert (got["importers"] >= 1).all(), got   # the case the fix is for
    assert (got["reads"] == 0).all(), got


_RELOAD_SCRIPT = r"""
import importlib.machinery, os, sys, tempfile, zipfile, zipimport
from colbert_live_spark.daemon import install_lazy_zip_invalidation

z = os.path.join(tempfile.mkdtemp(), "mods.zip")
with zipfile.ZipFile(z, "w") as f:
    f.writestr("zmod_a.py", "A = 1\n")
# three importers on one archive, made before the patch
sys.path[:0] = [z + "/lib1", z + "/lib2", z]
import zmod_a
assert zmod_a.A == 1
original = zipimport.zipimporter.invalidate_caches
install_lazy_zip_invalidation()
if sys.version_info >= (3, 13):   # already lazy: the patch is a no-op
    assert zipimport.zipimporter.invalidate_caches is original
sys.path.insert(0, z + "/lib3")   # and one made after it
importlib.machinery.PathFinder.find_spec("zmod_none")
assert sum(getattr(v, "archive", None) == z
           for v in sys.path_importer_cache.values()) == 4

with zipfile.ZipFile(z, "w") as f:
    f.writestr("zmod_a.py", "A = 1\n")
    f.writestr("zmod_b.py", "B = 2\n")
reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
importlib.invalidate_caches()
assert reads == [], reads
import zmod_b
assert zmod_b.B == 2
assert reads.count(z) == 1, reads
print("ok")
"""


def test_lazy_zip_invalidation_rereads_changed_archive():
    """The lazy form keeps invalidation's meaning: a rewritten archive's
    new module imports after ``importlib.invalidate_caches()``, and the
    archive is re-read once, on the next lookup, however many importers
    point at it. Runs in a subprocess: the patch is process-global."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", _RELOAD_SCRIPT], cwd=repo,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


_WORKER_IMPORT_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from colbert_live_spark.session import get_spark

def where(batches):
    import colbert_live_spark
    for pdf in batches:
        yield pdf.assign(path=colbert_live_spark.__file__)

spark = get_spark("worker-import", cores=1)
rows = spark.range(1, numPartitions=1).mapInPandas(
    where, "id long, path string").collect()
spark.stop()
print(rows[0].path)
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    """Python workers start and import the engine when the driver runs
    outside the checkout with no ``PYTHONPATH``: the session puts the
    package's parent dir on the workers' path. Runs in a subprocess: it
    needs its own JVM and working directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", _WORKER_IMPORT_SCRIPT, repo],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1].startswith(
        os.path.join(repo, "colbert_live_spark")), out.stdout
