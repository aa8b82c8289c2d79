#!/usr/bin/env python
"""North-rule scaling run: fused extraction submitted through
``spark-submit --py-files`` at N and 4N cores.

    python bench.py [--seed S]

Zips ``wikicrawler_spark/``, writes one seeded ``corpus.corpus_df`` corpus
of 4N parquet files, then submits

    spark-submit --master local[k] --py-files <zip> bench.py --inner k <corpus>

for k = N = max(1, nproc // 4) and k = 4N = nproc, the two levels
alternating over ROUNDS rounds. Each submission runs one untimed warm pass
and PASSES timed passes of ``kernel.extract_from_parquet`` with one task per
file, so both levels run the same tasks. Every pass's
``(count, bit_xor(xxhash64(doc_id, spans)))`` digest must equal the first.

Prints one JSON line::

    {"metric": "extraction_docs_per_sec", "value": <median docs/s at 4N>,
     "unit": "docs/s", "correct": <every digest equal>,
     "scaling": {"docs": ..., "levels": [N, 4N], "docs_per_s": {...},
                 "efficiency": (median_4N / median_N) / (4N / N),
                 "cpu_s": {...}, "cores_used": {...}, ...}}

A level's figure is the median over all its timed passes; no pass is
re-run, dropped or capped. ``cpu_s`` lists, per level and submission, the
user+system CPU seconds of the whole submission (the spark-submit JVM and
every Python process under it, from ``getrusage(RUSAGE_CHILDREN)`` once all
are reaped); ``cores_used`` is that over the submission's wall time.
``perfbench/run.py`` is the benchmark of record; this script is a thin CLI
over its harness.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import zipfile

from perfbench.harness import (
    NPROC, become_subreaper, driver_memory, median, reap_descendants)

REPO = os.path.dirname(os.path.abspath(__file__))
DOCS_PER_FILE = 4000
ROUNDS = 3
#: timed passes per submission, after one warm pass
PASSES = 3


def zip_package(path: str) -> None:
    """The package's ``.py`` files, as ``--py-files`` ships them."""
    pkg = os.path.join(REPO, "wikicrawler_spark")
    with zipfile.ZipFile(path, "w") as z:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))


def submit(zip_path: str, cores: int, corpus: str, work: str) -> dict:
    """Run the inner job through spark-submit at ``local[cores]`` and return
    its result line. The package must come from ``zip_path``."""
    cmd = ["spark-submit", "--master", f"local[{cores}]",
           "--driver-memory", driver_memory(),
           "--conf", "spark.ui.enabled=false",
           "--conf", "spark.ui.showConsoleProgress=false",
           "--conf", f"spark.pyspark.python={sys.executable}",
           "--conf", f"spark.local.dir={os.path.join(work, 'spark-local')}",
           "--py-files", zip_path, os.path.join(REPO, "bench.py"),
           "--inner", str(cores), corpus]
    # run outside the repository, so no process finds the package there
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=work, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"local[{cores}] failed ({proc.returncode}): {proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    if not out["package"].startswith(zip_path):
        raise RuntimeError(f"package imported from {out['package']}, not {zip_path}")
    return out


def digest(spans_df) -> list[int]:
    """``[count, bit_xor(xxhash64(doc_id, spans))]`` of an extraction result."""
    from pyspark.sql import functions as F

    row = spans_df.agg(F.count("*"), F.expr("bit_xor(xxhash64(doc_id, spans))")).collect()[0]
    return [row[0], row[1]]


def inner(cores: int, corpus: str) -> None:
    """The submitted job: one warm and PASSES timed fused passes."""
    # sys.path starts with this script's directory, the repository; drop
    # it so the package resolves through --py-files
    sys.path.remove(REPO)
    from pyspark.sql import SparkSession

    import wikicrawler_spark
    from wikicrawler_spark.kernel import extract_from_parquet

    spark = SparkSession.builder.appName(f"wcs_bench_{cores}").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    n_files = len([f for f in os.listdir(corpus) if f.endswith(".parquet")])
    passes = []
    for _ in range(1 + PASSES):
        t0 = time.monotonic()
        d = digest(extract_from_parquet(spark, corpus, num_tasks=n_files))
        passes.append({"secs": time.monotonic() - t0, "digest": d})
    spark.stop()
    print(json.dumps({"cores": cores, "package": wikicrawler_spark.__file__,
                      "warm": passes[0], "timed": passes[1:]}))


def write_corpus(path: str, n_files: int, seed: int, work: str, zip_path: str) -> None:
    from perfbench.harness import start_session, stop_session
    from wikicrawler_spark import corpus

    spark = start_session(NPROC, work)
    try:
        spark.sparkContext.addPyFile(zip_path)  # the generator runs in Python workers
        corpus.corpus_df(spark, DOCS_PER_FILE * n_files, seed=seed,
                         partitions=n_files).write.parquet(path)
    finally:
        stop_session(spark)


def children_cpu_s() -> float:
    """User+system CPU seconds of every descendant reaped so far."""
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ru.ru_utime + ru.ru_stime


def run(seed: int, work: str) -> dict:
    levels = (max(1, NPROC // 4), NPROC)
    n_docs = DOCS_PER_FILE * levels[1]
    zip_path = os.path.join(work, "wikicrawler_spark.zip")
    zip_package(zip_path)
    corpus = os.path.join(work, "corpus")
    write_corpus(corpus, levels[1], seed, work, zip_path)
    reap_descendants()

    rates: dict[int, list[float]] = {k: [] for k in levels}
    cpu_s: dict[int, list[float]] = {k: [] for k in levels}
    cores_used: dict[int, list[float]] = {k: [] for k in levels}
    digests = []
    for _ in range(ROUNDS):
        for k in levels:
            cpu0, t0 = children_cpu_s(), time.monotonic()
            out = submit(zip_path, k, corpus, work)
            reap_descendants()  # nothing of one level runs during the next
            cpu, wall = children_cpu_s() - cpu0, time.monotonic() - t0
            cpu_s[k].append(round(cpu, 2))
            cores_used[k].append(round(cpu / wall, 2))
            rates[k] += [n_docs / p["secs"] for p in out["timed"]]
            digests += [tuple(p["digest"]) for p in (out["warm"], *out["timed"])]

    med = {k: median(v) for k, v in rates.items()}
    lo, hi = levels
    return {
        "metric": "extraction_docs_per_sec",
        "value": round(med[hi], 1),
        "unit": "docs/s",
        "correct": digests[0][0] == n_docs and all(d == digests[0] for d in digests),
        "scaling": {
            "docs": n_docs,
            "levels": list(levels),
            "rounds": ROUNDS,
            "passes": PASSES,
            "docs_per_s": {str(k): round(v, 1) for k, v in med.items()},
            "pass_docs_per_s": {str(k): [round(r, 1) for r in v] for k, v in rates.items()},
            "efficiency": round((med[hi] / med[lo]) / (hi / lo), 3),
            "cpu_s": {str(k): v for k, v in cpu_s.items()},
            "cores_used": {str(k): v for k, v in cores_used.items()},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    # internal: the submitted job at local[k] over a corpus directory
    ap.add_argument("--inner", type=int, help=argparse.SUPPRESS)
    ap.add_argument("corpus", nargs="?", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.inner:
        inner(args.inner, args.corpus)
        return 0

    work = tempfile.mkdtemp(prefix="wcs_bench_")
    try:
        result = run(args.seed, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    # every process the run starts, each spark-submit JVM and the Python
    # workers it forks included, has ended and been reaped before this one exits
    become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    try:
        code = main()
    finally:
        reap_descendants()
    sys.exit(code)
