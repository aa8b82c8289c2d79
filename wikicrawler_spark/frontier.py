"""Iterative bounded-shuffle frontier expansion — the crawl (SURVEY.md §3.3).

Re-expresses the reference's recursive traversal (autosearch chain at
/root/reference/src/wikicrawler/arbiter/oracle.py:37-66; the depth-first
``traverse`` stub at core/crawler.py:7-13) as wavewise BFS:

    frontier_0 = seeds
    wave i: docs ⋈ frontier  ->  extract kernel  ->  link spans
            -> dropDuplicates -> Bloom-pruned exact anti-join vs visited
            -> (optional deterministic per-wave cap = "bounded shuffle")
            -> frontier_{i+1};  visited ∪= frontier_i

Each wave is one batch job; control crosses driver<->cluster once per wave.
Checkpointing writes wave-numbered parquet directories whose ``_SUCCESS``
markers emulate Iceberg's atomic snapshot commit (SURVEY §4.2 item 5);
resume = read the last complete wave and continue. Per-partition lineage
and metrics are appended per wave.

Scale design notes:
  * The frontier is usually tiny relative to the corpus -> broadcast-join it
    into the docs scan (no shuffle of the big side). Above
    ``broadcast_threshold`` rows it falls back to a shuffle hash join where
    AQE handles skew splitting.
  * Hot-article fan-in (10^4 inlinks onto one "List of…" page) is defused
    BEFORE the anti-join by dropDuplicates on dst (map-side partial
    aggregation collapses duplicates per partition) and the kernel stage is
    salted per wave (extract_job.salted_repartition).
  * The per-wave cap uses sort-limit (deterministic: lowest doc_ids win),
    NOT a bare LIMIT whose row choice depends on partition order — resume
    and the two-parallelism bench must see identical waves.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .extract_job import (
    anti_join_visited,
    links_of,
    partition_metrics,
    run_extract,
    salted_repartition,
)
from .schemas import LINEAGE_SCHEMA, VISITED_SCHEMA


@dataclass
class CrawlResult:
    waves: int
    visited: DataFrame
    spans: DataFrame | None
    lineage: DataFrame | None
    metrics: DataFrame | None
    wave_sizes: list = field(default_factory=list)
    #: per-wave stage walls (seconds), one dict per wave run here:
    #: count / spans(kernel+write) / bloom / frontier(links+anti-join+write)
    #: / visited(write), plus, with a ckpt_dir, a near-zero 'aux_submit'
    #: wall for the lineage+metrics checkpoint writes (they run on the aux
    #: pool and are joined before crawl() returns) — the crawl's own cost
    #: breakdown, so checkpoint tax vs compute is measurable per run
    wave_stages: list = field(default_factory=list)


def _wave_dir(ckpt_dir: str, wave: int, name: str) -> str:
    return os.path.join(ckpt_dir, f"wave={wave:05d}", name)


def _is_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def last_complete_wave(ckpt_dir: str) -> int:
    """Highest wave whose post-wave state (next_frontier AND visited)
    committed — the _SUCCESS pair emulates an atomic snapshot commit."""
    if not os.path.isdir(ckpt_dir):
        return -1
    best = -1
    for entry in os.listdir(ckpt_dir):
        if entry.startswith("wave="):
            w = int(entry.split("=")[1])
            if _is_complete(_wave_dir(ckpt_dir, w, "next_frontier")) and _is_complete(
                _wave_dir(ckpt_dir, w, "visited")
            ):
                best = max(best, w)
    return best


def _write_visited_bucketed(spark, df: DataFrame, path: str,
                            n_buckets: int, wave: int) -> DataFrame:
    """Write visited as a Spark-native bucketed+sorted parquet table and
    return the CATALOG-backed DataFrame (the bucketing spec only exists in
    the catalog; reading the path directly would lose it). Table name is
    derived from the checkpoint path so concurrent crawls don't collide."""
    import re as _re

    tbl = "wcs_visited_{}_{:05d}".format(
        _re.sub(r"[^A-Za-z0-9]", "_", path)[-48:].strip("_"), wave
    )
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        # repartition on the bucket key first: a bucketed write emits one
        # file per (task, bucket) pair, so writing straight from the
        # union's ~(buckets + frontier) partitions sprayed O(P x buckets)
        # tiny files per wave (guide §6 small-files). Clustered by doc_id
        # into n_buckets tasks it writes ~one file per bucket.
        df.repartition(n_buckets, F.col("doc_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "doc_id").sortBy("doc_id")
        .option("path", path).saveAsTable(tbl)
    )
    return spark.table(tbl)


def crawl(
    spark,
    docs: DataFrame,
    seeds: list[str],
    *,
    max_waves: int = 10,
    per_wave_limit: int | None = None,
    ckpt_dir: str | None = None,
    resume: bool = False,
    use_bloom: bool = True,
    bloom_fpr: float = 0.01,
    num_partitions: int | None = None,
    broadcast_threshold: int = 1_000_000,
    keep_spans: bool = True,
    latex: bool = False,
    visited_buckets: int | None = None,
) -> CrawlResult:
    """Run the frontier BFS from ``seeds`` over the ``docs`` table.

    Returns visited/spans/lineage/metrics DataFrames (unioned across waves;
    when ``ckpt_dir`` is set they are re-read from the checkpoint parquet so
    the logical plan does not grow with wave count).
    """
    from .bloom import NativeBloom

    start_wave = 0
    spans_parts: list[DataFrame] = []
    lineage_parts: list[DataFrame] = []
    metrics_parts: list[DataFrame] = []
    wave_sizes: list[int] = []
    wave_stages: list[dict] = []

    n_visited_start = 0
    if resume and ckpt_dir is not None and (lw := last_complete_wave(ckpt_dir)) >= 0:
        frontier = spark.read.parquet(_wave_dir(ckpt_dir, lw, "next_frontier"))
        visited = spark.read.parquet(_wave_dir(ckpt_dir, lw, "visited"))
        start_wave = lw + 1
        if use_bloom:
            n_visited_start = visited.count()
        # recover already-committed per-wave outputs so the result is whole
        for w in range(lw + 1):
            for name, parts in (("spans", spans_parts), ("lineage", lineage_parts),
                                ("metrics", metrics_parts)):
                p = _wave_dir(ckpt_dir, w, name)
                if _is_complete(p):
                    if name != "spans" or keep_spans:
                        parts.append(spark.read.parquet(p))
    else:
        frontier = spark.createDataFrame(
            [(s, None) for s in seeds], "doc_id string, parent_doc_id string"
        )
        visited = spark.createDataFrame([], VISITED_SCHEMA)

    # One incremental Bloom filter for the whole crawl: capacity fixed up
    # front (merge requires identical bit geometry); each wave ORs in a
    # distributed build over ONLY the new frontier — O(|frontier|) per wave
    # instead of re-scanning the whole visited set (which grows without
    # bound). Sized from the resumed visited count + a headroom factor; if
    # the crawl outgrows it the FPR degrades gracefully (the exact
    # anti-join stays authoritative).
    bloom = None
    if use_bloom:
        # JVM bit_or word aggregation build, codegen probe; the geometry
        # is fixed here so each wave ORs in only the new frontier
        bloom = NativeBloom(max((n_visited_start + len(seeds)) * 8, 65536),
                            bloom_fpr)
        if n_visited_start:
            bloom.merge_from(visited, "doc_id")

    # aux writer pool: lineage/metrics appends run as concurrent Spark
    # jobs (scheduler-safe); drained in the finally below so a wave-loop
    # exception never leaves writes racing the caller's teardown, and
    # joined on the success path where a failed aux write re-raises
    from concurrent.futures import ThreadPoolExecutor

    aux_pool = ThreadPoolExecutor(max_workers=2,
                                  thread_name_prefix="wcs-crawl-aux")
    aux_futures: list = []
    aux_waves: list[int] = []  # waves whose lineage/metrics went to ckpt

    try:
        for wave in range(start_wave, max_waves):
            t0 = time.monotonic()
            stages: dict = {}
            _t = t0

            def _mark(name: str) -> None:
                nonlocal _t
                now = time.monotonic()
                stages[name] = round(now - _t, 3)
                _t = now

            n_frontier = frontier.count()
            _mark("count")
            if n_frontier == 0:
                break
            wave_sizes.append(n_frontier)

            f_ids = frontier.select("doc_id").dropDuplicates()
            join_side = F.broadcast(f_ids) if n_frontier <= broadcast_threshold else f_ids
            wave_docs = docs.join(join_side, "doc_id")
            if num_partitions:
                # scale-adaptive task count (guide §2): a 2-doc seed wave
                # must not fan into num_partitions near-empty kernel tasks
                # (and as many checkpoint files); cap at ~4 docs/task and
                # grow with the frontier up to the configured ceiling.
                n_parts = max(1, min(num_partitions, (n_frontier + 3) // 4))
                wave_docs = salted_repartition(wave_docs, n_parts, salt=wave)

            spans = run_extract(spark, wave_docs)

            if ckpt_dir is not None:
                spans_path = _wave_dir(ckpt_dir, wave, "spans")
                spans.write.mode("overwrite").parquet(spans_path)
                spans = spark.read.parquet(spans_path)
            else:
                # materialize the kernel output once — links_of, metrics and the
                # returned union all reuse it instead of re-running extraction
                spans = spans.localCheckpoint(eager=True)
            _mark("spans")
            if keep_spans:
                spans_parts.append(spans)

            # next frontier: extracted wikilinks, deduped, minus visited ∪ current
            links = links_of(spans)  # (src_doc_id, dst_doc_id)
            candidates = (
                links.groupBy("dst_doc_id")
                .agg(F.min("src_doc_id").alias("parent_doc_id"))  # deterministic parent
                .withColumnRenamed("dst_doc_id", "doc_id")
            )
            visited_now = visited.select("doc_id").unionByName(frontier.select("doc_id"))

            if bloom is not None:
                # OR in just this wave's frontier ids (distributed JVM
                # word aggregation; driver receives only the set words)
                bloom.merge_from(frontier, "doc_id")
            _mark("bloom")
            nxt = anti_join_visited(candidates, visited_now, bloom=bloom, spark=spark)
            if per_wave_limit is not None:
                nxt = nxt.orderBy("doc_id").limit(per_wave_limit)

            wall_ms = int((time.monotonic() - t0) * 1000)

            lineage = frontier.select(
                F.lit(wave).cast("int").alias("wave"),
                "doc_id",
                "parent_doc_id",
                F.spark_partition_id().cast("int").alias("partition_id"),
                F.current_timestamp().alias("ts"),
            )
            metrics = partition_metrics(spans, wave, wall_ms)

            new_visited = visited.unionByName(
                frontier.select("doc_id", F.lit(wave).cast("int").alias("wave"))
            )

            if ckpt_dir is not None:
                # Per-wave snapshot commit. lineage/metrics are observability
                # metadata — NOT needed for resume correctness (resume's
                # authoritative state is the synchronous (next_frontier,
                # visited) _SUCCESS pair; their recovery is already
                # best-effort per `_is_complete`) and both derive from parquet
                # already committed (frontier: previous wave; spans: above).
                # Writing them inline cost ~0.5 s of serial job overhead each
                # per wave (measured r5, BENCH/BASELINE.md crawl breakdown), so
                # they append ASYNCHRONOUSLY on the aux pool; futures join
                # before the crawl returns, failures re-raise there (r4 ask #6).
                for name, df in (("lineage", lineage), ("metrics", metrics)):
                    aux_futures.append(aux_pool.submit(
                        lambda d=df, p=_wave_dir(ckpt_dir, wave, name):
                        d.write.mode("overwrite").parquet(p)))
                _mark("aux_submit")
                aux_waves.append(wave)
                nxt.write.mode("overwrite").parquet(_wave_dir(ckpt_dir, wave, "next_frontier"))
                nxt = spark.read.parquet(_wave_dir(ckpt_dir, wave, "next_frontier"))
                _mark("frontier")
                if visited_buckets:
                    # bucketed-by-doc_id visited table: the NEXT wave's exact
                    # anti-join co-locates on the visited side (no exchange on
                    # the table that grows without bound; only the tiny
                    # maybe_seen probe shuffles into the bucket layout). In
                    # production this is an Iceberg table with a bucket(doc_id)
                    # partition transform — there the layout survives sessions;
                    # parquet bucketing metadata lives in the session catalog,
                    # so a RESUME in a fresh session reads the same files as
                    # plain parquet (correct, just unbucketed until rewritten).
                    new_visited = _write_visited_bucketed(
                        spark, new_visited,
                        _wave_dir(ckpt_dir, wave, "visited"),
                        visited_buckets, wave,
                    )
                else:
                    new_visited.write.mode("overwrite").parquet(_wave_dir(ckpt_dir, wave, "visited"))
                    new_visited = spark.read.parquet(_wave_dir(ckpt_dir, wave, "visited"))
                _mark("visited")
            else:
                # keep plans bounded without a checkpoint dir
                nxt = nxt.localCheckpoint(eager=True)
                _mark("frontier")
                new_visited = new_visited.localCheckpoint(eager=True)
                _mark("visited")

            stages["wave"] = wave
            stages["total"] = round(time.monotonic() - t0, 3)
            wave_stages.append(stages)
            if ckpt_dir is None:
                # no checkpoint to re-read: return the live plans (ts /
                # partition_id re-evaluate per action, as before r5)
                lineage_parts.append(lineage)
                metrics_parts.append(metrics)
            visited = new_visited
            frontier = nxt
    finally:
        # join aux writers even when a wave step raises: the caller's
        # teardown (tmp-dir cleanup, session stop) must never race an
        # in-flight lineage/metrics write, and the pool's threads must
        # not leak. On the exception path a failed aux write stays
        # secondary (the primary error propagates); on the success path
        # the f.result() loop below re-raises it.
        aux_pool.shutdown(wait=True)

    # all lineage/metrics snapshots are durable before the crawl
    # returns; a failed aux write re-raises here
    for f in aux_futures:
        f.result()

    # re-read this invocation's lineage/metrics from the checkpoint parquet
    # (recovered waves already are): the returned DataFrames are then
    # deterministic across actions (current_timestamp/partition_id are
    # frozen in the files) and byte-identical to the checkpointed snapshot,
    # matching the docstring contract — and consumers don't re-execute the
    # lineage plan the aux write already evaluated
    for w in aux_waves:
        lineage_parts.append(spark.read.parquet(_wave_dir(ckpt_dir, w, "lineage")))
        metrics_parts.append(spark.read.parquet(_wave_dir(ckpt_dir, w, "metrics")))

    def _union(parts: list[DataFrame]) -> DataFrame | None:
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # waves counts the CRAWL's total waves (recovered + run here), matching
    # visited/spans/lineage which also include recovered waves; wave_sizes
    # still lists only this invocation's waves (sizes of recovered waves
    # live in the recovered metrics DataFrame).
    return CrawlResult(
        waves=start_wave + len(wave_sizes),
        visited=visited,
        spans=_union(spans_parts),
        lineage=_union(lineage_parts) or spark.createDataFrame([], LINEAGE_SCHEMA),
        metrics=_union(metrics_parts),
        wave_sizes=wave_sizes,
        wave_stages=wave_stages,
    )
