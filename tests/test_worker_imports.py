"""The package's narrowing of ``importlib.invalidate_caches`` on Python workers.

pyspark calls ``importlib.invalidate_caches()`` before every task; importing
``wikicrawler_spark`` inside a task makes that skip re-reading the archives
Spark ships (``$SPARK_HOME/python``, ``$SPARK_HOME/jars``). These tests fail,
rather than pass on the stock cost, if pyspark moves the call or a worker
runs without the wrapper, and they check that ``addPyFile`` still reaches
the workers.
"""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa

import wikicrawler_spark
from wikicrawler_spark.corpus import corpus_df
from wikicrawler_spark.kernel import extract_spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hooked(spark, n_tasks):
    """Per row of an ``n_tasks``-task stage: whether the worker runs the
    package's wrapper once the package is imported, and whether a reload
    of the package keeps that one wrapper."""
    def run(batches):
        import importlib
        import zipimport

        import wikicrawler_spark  # what every package task imports

        wrapper = zipimport.zipimporter.invalidate_caches
        hooked = getattr(wrapper, "keeps_spark_archives", False)
        importlib.reload(wikicrawler_spark)
        once = zipimport.zipimporter.invalidate_caches is wrapper
        for b in batches:
            yield pa.RecordBatch.from_pydict({"hooked": [hooked] * b.num_rows,
                                              "once": [once] * b.num_rows})
    rows = (spark.range(0, 2 * n_tasks, 1, n_tasks)
            .mapInArrow(run, "hooked boolean, once boolean").collect())
    return [(r.hooked, r.once) for r in rows]


def _import_value(module):
    def run(batches):
        import importlib

        value = importlib.import_module(module).VALUE
        for b in batches:
            yield pa.RecordBatch.from_pydict({"value": [value] * b.num_rows})
    return run


def test_pyspark_still_invalidates_in_task_setup():
    """The call the wrapper narrows is still made per task by pyspark."""
    from pyspark import worker_util

    src = inspect.getsource(worker_util.setup_spark_files)
    assert "importlib.invalidate_caches()" in src


def test_session_workers_run_the_wrapper(spark):
    """Session workers run the wrapper, once per process; the driver, which
    runs no task, keeps the stock method."""
    assert _hooked(spark, 4) == [(True, True)] * 8
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "keeps_spark_archives")


def test_only_spark_archives_keep_their_directory(tmp_path, monkeypatch):
    """The wrapper keeps the directory of Spark's own ``pyspark.zip`` and
    still re-reads an archive anywhere else. Installing it twice keeps the
    first wrapper."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)  # restored after
    wikicrawler_spark._keep_spark_archives()
    wrapper = zipimport.zipimporter.invalidate_caches
    wikicrawler_spark._keep_spark_archives()
    assert zipimport.zipimporter.invalidate_caches is wrapper

    spark_zip = os.path.join(os.environ["SPARK_HOME"], "python", "lib", "pyspark.zip")
    kept = zipimport.zipimporter(spark_zip)
    files = kept._files
    kept.invalidate_caches()
    assert kept._files is files

    user_zip = str(tmp_path / "user.zip")
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("first.py", "")
    user = zipimport.zipimporter(user_zip)
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("second.py", "")
    user.invalidate_caches()
    assert user.find_spec("second") is not None and user.find_spec("first") is None


_REUSED_WORKER = r"""
import json
import pyarrow as pa
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")


def seen(batches):
    import os
    import sys
    import zipimport

    import wikicrawler_spark  # noqa: F401

    zips = {z.archive: z for z in sys.path_importer_cache.values()
            if isinstance(z, zipimport.zipimporter)}
    pyspark_zip = [a for a in zips if a.endswith(os.sep + "pyspark.zip")]
    out = {"pid": os.getpid(), "files": [id(zips[a]._files) for a in pyspark_zip],
           "archives": pyspark_zip}
    for b in batches:
        yield pa.RecordBatch.from_pydict({"s": [json.dumps(out)] * b.num_rows})


print(json.dumps([json.loads(spark.range(0, 1, 1, 1).mapInArrow(seen, "s string")
                             .collect()[0].s) for _ in range(3)]))
spark.stop()
"""


def test_reused_worker_keeps_the_pyspark_zip_directory():
    """At local[1], consecutive tasks on the one reused worker see the same
    ``_files`` dict for the ``pyspark.zip`` importer: pyspark's per-task
    ``invalidate_caches`` did not re-read the archive."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", _REUSED_WORKER], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    tasks = json.loads(out.stdout.strip().splitlines()[-1])
    assert len({t["pid"] for t in tasks}) == 1, tasks  # one reused worker
    assert tasks[0]["archives"], tasks  # the worker imports pyspark from its zip
    assert tasks[0]["files"] == tasks[1]["files"] == tasks[2]["files"], tasks


def test_add_py_file_mid_session(spark, tmp_path):
    """After the workers ran a package task, a ``.py`` and then a ``.zip``
    added with ``addPyFile`` are importable by the next task. This checks
    ``addPyFile`` end to end with the wrapper installed; it does not isolate
    the SparkFiles directory's invalidation, since a ``FileFinder`` also
    refreshes when its directory's mtime changes."""
    sc = spark.sparkContext
    extract_spans(corpus_df(spark, 8, partitions=4)).collect()  # a package task

    tag = uuid.uuid4().hex[:12]
    plain = f"wcs_added_py_{tag}"
    (tmp_path / f"{plain}.py").write_text("VALUE = 11\n")
    sc.addPyFile(str(tmp_path / f"{plain}.py"))
    rows = spark.range(0, 4, 1, 4).mapInArrow(_import_value(plain), "value long").collect()
    assert [r.value for r in rows] == [11] * 4

    zipped = f"wcs_added_zip_{tag}"
    with zipfile.ZipFile(tmp_path / f"{zipped}.zip", "w") as z:
        z.writestr(f"{zipped}.py", "VALUE = 22\n")
    sc.addPyFile(str(tmp_path / f"{zipped}.zip"))
    rows = spark.range(0, 4, 1, 4).mapInArrow(_import_value(zipped), "value long").collect()
    assert [r.value for r in rows] == [22] * 4
