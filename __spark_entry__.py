"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship job: the full mapInArrow extraction
kernel over interleaved docs built from /root/testdata/sf0.001 documents,
returning the flat span rows.

``queries()`` / ``oracle_sql()`` expose every implemented operator
(SURVEY.md §2 + the training-data pipeline ops); the SQL-expressible ones
carry a DuckDB oracle that recomputes the identical result (floats rounded
before ranking, shared md5-based hash primitive — see
wikicrawler_spark/queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from wikicrawler_spark import queries as _q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved-doc extraction over sf0.001 — raw docs wrapped
    from documents.parquet, one fused kernel pass, flat span rows out."""
    from wikicrawler_spark.kernel import extract_spans, explode_spans

    docs = _q.wrapped_docs(spark, "/root/testdata/sf0.001")
    return explode_spans(extract_spans(docs))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
