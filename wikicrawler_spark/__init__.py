"""wikicrawler_spark — a from-scratch PySpark-native reimplementation of the
data-processing capabilities of GRAYgoose124/wikicrawler (reference read-only
at /root/reference/).

The engine is DataFrame/SQL-first: extraction is one fused, Arrow-batched
``mapInArrow`` kernel (no per-row Python UDFs anywhere); everything
relational (joins, aggregations, windows, top-k, dedup) is native Catalyst.
The recursive crawl of the reference is re-expressed as iterative
bounded-shuffle frontier expansion with Bloom-filter dedup and salted
repartitioning (see ``frontier.py``).

Layout (mirrors SURVEY.md §7):
  schemas.py       canonical StructTypes (docs/spans/visited/lineage/metrics)
  corpus.py        deterministic synthetic interleaved-doc generator
  html_tokenizer.py streaming regex HTML tokenizer used by the kernel
  kernel.py        the vectorized extraction kernel (mapInArrow)
  extract_job.py   scan -> anti-join visited -> salted repartition -> kernel
  bloom.py         NativeBloom: JVM-built, codegen-probed Bloom filter
  frontier.py      iterative frontier BFS with checkpoint/resume
  analytics.py     word-freq / LLR collocations / argmax / slicing (native)
  similarity.py    jaro-winkler most-similar (vectorized pandas UDF)
  sentiment.py     deterministic lexicon sentiment scorer
  latexconv.py     LaTeX -> unicode paragraph transform
  pipeline/        training-data ops: dedup, simsearch, text quality, multimodal
"""

import os
import zipimport

from pyspark.taskcontext import TaskContext

__version__ = "0.1.0"


def _keep_spark_archives() -> None:
    """Stop ``importlib.invalidate_caches()`` re-reading Spark's own archives.

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that
    makes every cached ``zipimporter`` re-parse its archive's directory,
    one importer per imported package path: about 28k entries of
    ``pyspark.zip``, the py4j zip and the spark-core jar, some 150 ms a
    task. Those archives sit under ``$SPARK_HOME/python`` and
    ``$SPARK_HOME/jars`` (as given and resolved) and do not change during
    a run, so their importers keep the directory they read. Every other
    archive (``--py-files``, ``addPyFile``, the SparkFiles directory,
    which a standalone worker keeps under ``$SPARK_HOME/work``) and every
    directory finder is invalidated as before.

    Every worker that unpickles a package function imports this module
    first, inside the task, so the narrowing is in place from a worker's
    second task on. It is installed only there (see the bottom of this
    module): a driver or any other program importing the package keeps
    the stock behaviour. It wraps the method once per process; a
    re-import keeps the one wrapper.
    """
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "keeps_spark_archives", False):
        return
    home = os.environ.get("SPARK_HOME")
    kept = tuple(os.path.join(root, sub, "")
                 for root in ({home, os.path.realpath(home)} if home else ())
                 for sub in ("python", "jars"))

    def invalidate_caches(self):
        if not self.archive.startswith(kept):
            stock(self)

    invalidate_caches.keeps_spark_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if TaskContext.get() is not None:  # a Python worker running a task
    _keep_spark_archives()
