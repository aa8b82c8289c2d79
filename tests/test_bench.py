"""The north-rule form of the scaling run: ``bench.py``'s inner job
submitted through ``spark-submit --py-files``."""

from __future__ import annotations

import bench
from wikicrawler_spark import corpus
from wikicrawler_spark.kernel import extract_spans


def test_spark_submit_digest_equals_in_process(spark, tmp_path):
    """At local[2], every pass of the submitted job imports the package from
    the zip and returns the digest of in-process ``extract_spans``."""
    path = str(tmp_path / "corpus")
    corpus.corpus_df(spark, 400, partitions=2).write.parquet(path)
    zip_path = str(tmp_path / "wikicrawler_spark.zip")
    bench.zip_package(zip_path)

    out = bench.submit(zip_path, 2, path, str(tmp_path))

    want = bench.digest(extract_spans(spark.read.parquet(path)))
    assert out["cores"] == 2
    assert [p["digest"] for p in (out["warm"], *out["timed"])] == [want] * (1 + bench.PASSES)
