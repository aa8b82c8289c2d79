"""The extract job: scan -> anti-join visited -> salted repartition ->
kernel -> spans, plus metrics over the committed spans (SURVEY.md §3.2).
Each crawl wave (``frontier.crawl``) composes these pieces with
``kernel.extract_spans``.

This is the Spark re-expression of the reference's ``retrieve`` path
(/root/reference/src/wikicrawler/core/grabber.py:159-199): cache-probe
short-circuit becomes an exact ``left_anti`` join (optionally Bloom-tagged),
fetch+parse becomes the fused mapInArrow kernel, and the SQLite upsert
becomes an idempotent append keyed by (doc_id, wave).

Scale design:
  * The anti-join's visited side is the big shuffle risk at 10^12 docs.
    The Bloom filter (bloom.py) does not prune it: it tags the candidates
    in one codegen pass, and the one exact join still reads every visited
    doc_id. The crawl probes ``visited ∪ frontier``, a Union with no
    partitioning, so no file layout of the visited snapshot saves that
    join its exchange; AQE broadcasts it when it is small.
  * Salted repartition spreads docs evenly before the Python stage: AQE can
    re-split skewed JOIN partitions but not a skewed UDF stage (SURVEY §4.2),
    and upstream partitioning (e.g. by crawl wave or by source bucket) is
    routinely skewed. Hashing doc_id with a wave salt gives uniform task
    sizes; Arrow batch caps bound per-batch memory for giant docs.
  * Metrics come from the DATA PATH (native aggregation over the part
    files the kernel tasks committed), not accumulators — accumulators are
    not exactly-once under task retries (SURVEY §4.2 item 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .kernel import WIKI_BASE

LINK_PREFIX = WIKI_BASE + "/wiki/"


def anti_join_visited(docs: DataFrame, visited: DataFrame,
                      bloom=None, spark=None) -> DataFrame:
    """Drop already-visited docs. The exact left_anti join is the
    authority (false positives from the Bloom would drop docs — never
    allowed). With a ``NativeBloom``, ``docs`` is probed once
    (``NativeBloom.tag``) and the same single join matches only rows
    tagged ``maybe``: a row the filter rules out is kept without a match.
    One plan over ``docs``, so an un-materialized ``docs`` is computed
    once, and a ``docs`` already hash-partitioned by ``doc_id`` keeps
    that partitioning through the probe."""
    if bloom is not None and spark is not None:
        tagged = bloom.tag(docs, "doc_id")
        seen = visited.select(F.col("doc_id").alias("__seen_id"))
        return tagged.join(
            seen, (F.col("doc_id") == F.col("__seen_id")) & F.col("maybe"),
            "left_anti").drop("maybe")
    return docs.join(visited.select("doc_id"), "doc_id", "left_anti")


def salted_repartition(docs: DataFrame, num_partitions: int, salt: int = 0) -> DataFrame:
    """Uniform task sizing for the kernel stage: hash(doc_id, salt) spreads
    docs regardless of upstream key skew. ``salt`` varies per wave so a
    pathological doc_id set cannot hit the same partitioning twice."""
    return docs.repartition(num_partitions, F.xxhash64("doc_id", F.lit(salt)))


def links_of(spans_df: DataFrame) -> DataFrame:
    """Extracted wikilink edges: (src_doc_id, dst_doc_id). Only absolutized
    in-wiki link spans resolve back to doc_ids (corpus hrefs are
    /wiki/<family>_<idx>, absolutized by the kernel per grabber.py:224)."""
    return (
        spans_df.select(F.col("doc_id").alias("src_doc_id"), F.inline("spans"))
        .filter((F.col("kind") == "link") & F.col("media_ref").startswith(LINK_PREFIX))
        .select(
            "src_doc_id",
            F.concat(F.lit("wiki/"),
                     F.substring(F.col("media_ref"), len(LINK_PREFIX) + 1, 1 << 20)
                     ).alias("dst_doc_id"),
        )
    )


def partition_metrics(spans_df: DataFrame, wall_ms: dict[int, int]) -> DataFrame:
    """Per-task exactly-once metrics from the data path (FIXTURES.md
    metrics schema): one row per ``(wave, partition_id)`` of ``spans_df``,
    whose rows carry the wave and the kernel task that committed them.
    ``wall_ms`` maps each wave to its wall clock, timed around its jobs
    (per-task timing would need a kernel side-channel; counts are the
    scaling-relevant signal)."""
    wall = F.create_map(*(F.lit(v) for kv in sorted(wall_ms.items()) for v in kv))
    return (
        spans_df.groupBy("wave", "partition_id")
        .agg(
            F.count("*").alias("docs_in"),
            F.sum(F.size("spans")).cast("long").alias("spans_out"),
            F.sum(
                F.size(F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("link")))
            ).cast("long").alias("links_out"),
        )
        .select(
            "wave", "partition_id", "docs_in", "spans_out", "links_out",
            wall[F.col("wave")].cast("long").alias("wall_ms"),
        )
    )
