"""Iterative bounded-shuffle frontier expansion — the crawl (SURVEY.md §3.3).

Re-expresses the reference's recursive traversal (autosearch chain at
/root/reference/src/wikicrawler/arbiter/oracle.py:37-66; the depth-first
``traverse`` stub at core/crawler.py:7-13) as wavewise BFS:

    frontier_0 = seeds
    wave i: docs ⋈ frontier  ->  extract kernel  ->  link spans
            -> groupBy dst -> Bloom-tagged exact anti-join vs visited ∪ frontier_i
            -> (optional deterministic per-wave cap = "bounded shuffle")
            -> frontier_{i+1};  visited ∪= frontier_i

Each wave is one batch job; control crosses driver<->cluster once per wave.
Every wave commits a snapshot: one ``wave=NNNNN`` directory per wave under
``ckpt_dir`` (a staging dir removed at interpreter exit when none is given),
emulating Iceberg's atomic snapshot commit (SURVEY §4.2 item 5). A wave
writes three tables, ``spans``, ``next_frontier`` and ``visited``, and
commits when the last two hold ``_SUCCESS`` and its ``_manifest.json`` (the
visited count and the wave's wall) is in place, written last with an
atomic rename. Resume reads the last committed wave and continues; a wave
without a manifest re-runs. Every checkpoint read declares its schema from
``schemas.py``, so a read starts no schema-inference job, and no job
counts rows: the visited count comes from the manifest, the next wave's
size from the ``next_frontier`` parquet footers. ``visited`` is a plain
parquet snapshot like every other table, and the crawl registers nothing
in the session catalog.

The result's spans are the committed waves' ``spans`` read as one scan.
Lineage and metrics are not written at all: like Iceberg's metadata
tables, they are queries over the snapshot set the commits already made
durable, read when the result is asked for them, so a crawl killed after
any commit loses neither. Each row keeps where it was committed, from the
scan's ``_metadata`` column: the wave directory, the part file (the task
that wrote it) and that file's modification time.

Scale design notes:
  * The frontier is usually tiny relative to the corpus -> broadcast-join it
    into the docs scan (no shuffle of the big side). Above
    ``BROADCAST_THRESHOLD`` rows it falls back to a shuffle hash join where
    AQE handles skew splitting.
  * Hot-article fan-in (10^4 inlinks onto one "List of…" page) is defused
    BEFORE the anti-join by a groupBy on dst that keeps the least source as
    the parent (map-side partial aggregation collapses duplicates per
    partition), and the kernel stage is salted per wave
    (extract_job.salted_repartition).
  * The Bloom filter probes the grouped candidates once
    (``NativeBloom.tag``) and the exact anti-join runs over the tagged rows
    in the same plan, so the wave's spans are scanned once and the
    candidates keep their ``doc_id`` partitioning into the join. The filter
    is merged once per wave: the wave's frontier, or, for the first wave a
    call runs, ``visited ∪ frontier``, so a resume builds it in that wave's
    merge rather than in a prologue of its own.
  * The kernel stage runs at most one round of tasks: no more tasks than
    ``num_partitions``, the session's cores, or one per 4 frontier docs.
    Every Python task pays a fixed start cost, so a second round on the
    same cores buys nothing for a small frontier.
  * The wave anti-joins its candidates against ``visited ∪ frontier``; the
    Union carries no partitioning, so that join broadcasts or shuffles
    both sides whatever the layout of the visited files.
  * The per-wave cap uses sort-limit (deterministic: lowest doc_ids win),
    NOT a bare LIMIT whose row choice depends on partition order — resume
    and the two-parallelism bench must see identical waves.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from . import staging
from .extract_job import (
    anti_join_visited,
    links_of,
    partition_metrics,
    salted_repartition,
)
from .kernel import extract_spans
from .schemas import (
    FRONTIER_SCHEMA,
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    SPANS_OUT_SCHEMA,
    VISITED_SCHEMA,
)

#: frontier rows up to which a wave broadcast-joins the frontier into the
#: docs scan; a larger frontier takes a shuffle join
BROADCAST_THRESHOLD = 1_000_000

#: declared schema of each table a wave writes, in write order
CKPT_SCHEMAS = {
    "spans": SPANS_OUT_SCHEMA,
    "next_frontier": FRONTIER_SCHEMA,
    "visited": VISITED_SCHEMA,
}

#: per-wave manifest, written last: its presence commits the wave
MANIFEST = "_manifest.json"

#: a committed part file's path: its wave and its part index
_PART_FILE = r"wave=(\d+)/[^/]+/part-(\d+)[^/]*$"


@dataclass
class CrawlResult:
    waves: int
    visited: DataFrame
    spans: DataFrame
    #: the snapshot set of the crawl: ``lineage`` and ``metrics`` are
    #: read from its committed waves
    ckpt_dir: str
    wave_sizes: list = field(default_factory=list)
    #: per-wave stage walls (seconds), one dict per wave run here:
    #: spans(kernel+write) / bloom (``merge_from`` of the wave's frontier;
    #: of ``visited ∪ frontier`` in the first wave of a call, which on a
    #: resume builds the filter from the checkpointed visited set) /
    #: frontier(links+anti-join+write) / visited(write+commit) — the
    #: crawl's own cost breakdown, so checkpoint tax vs compute is
    #: measurable per run
    wave_stages: list = field(default_factory=list)

    @property
    def lineage(self) -> DataFrame:
        """One row per visited doc, from the frontier that brought it in:
        wave 0's seeds, committed by wave 0's ``visited``, and wave w's
        docs, committed by wave w-1's ``next_frontier`` with their parents.
        ``partition_id`` is the index of the part file that committed the
        row and ``ts`` that file's modification time."""
        spark = self.visited.sparkSession
        if not self.waves:
            return spark.createDataFrame([], LINEAGE_SCHEMA)
        seeds = _read_committed(spark, self.ckpt_dir, [0], "visited").select(
            "wave", "doc_id", F.lit(None).cast("string").alias("parent_doc_id"),
            "partition_id", "ts")
        found = _read_committed(spark, self.ckpt_dir, range(self.waves - 1),
                                "next_frontier").select(
            (F.col("snapshot") + 1).alias("wave"), "doc_id", "parent_doc_id",
            "partition_id", "ts")
        return seeds.unionByName(found)

    @property
    def metrics(self) -> DataFrame:
        """One row per kernel task of each committed wave: the counts of
        the part file it wrote to the wave's ``spans``, and the wave's wall
        from its manifest."""
        spark = self.visited.sparkSession
        if not self.waves:
            return spark.createDataFrame([], METRICS_SCHEMA)
        wall_ms = {w: _read_manifest(self.ckpt_dir, w)["wall_ms"]
                   for w in range(self.waves)}
        spans = _read_committed(spark, self.ckpt_dir, range(self.waves), "spans")
        return partition_metrics(spans.withColumnRenamed("snapshot", "wave"), wall_ms)


def _wave_dir(ckpt_dir: str, wave: int, name: str) -> str:
    return os.path.join(ckpt_dir, f"wave={wave:05d}", name)


def _is_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _read_waves(spark, ckpt_dir: str, waves, name: str) -> DataFrame:
    """Table ``name`` of ``waves`` as one scan, read with its declared
    schema (a parquet read without one runs a schema-inference job). A
    committed wave wrote every table before its manifest, so a missing
    one raises."""
    return spark.read.schema(CKPT_SCHEMAS[name]).parquet(
        *(_wave_dir(ckpt_dir, w, name) for w in waves))


def _read_committed(spark, ckpt_dir: str, waves, name: str) -> DataFrame:
    """``_read_waves`` with each row tagged by where it was committed, from
    the scan's ``_metadata``: ``snapshot`` (its wave), ``partition_id``
    (the index of its part file, i.e. the task that wrote it) and ``ts``
    (that file's modification time)."""
    path = F.col("_metadata.file_path")
    return _read_waves(spark, ckpt_dir, waves, name).select(
        "*",
        F.regexp_extract(path, _PART_FILE, 1).cast("int").alias("snapshot"),
        F.regexp_extract(path, _PART_FILE, 2).cast("int").alias("partition_id"),
        F.col("_metadata.file_modification_time").alias("ts"),
    )


def _rows(ckpt_dir: str, wave: int, name: str) -> int:
    """Row count of one committed table, summed from its parquet footers
    on the driver: no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(_wave_dir(ckpt_dir, wave, name), "part-*")))


def _write_manifest(ckpt_dir: str, wave: int, manifest: dict) -> None:
    """Commit ``wave``: write its manifest beside the committed tables, in
    one atomic rename, so a reader sees the whole file or none."""
    path = _wave_dir(ckpt_dir, wave, MANIFEST)
    with open(path + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(path + ".tmp", path)


def _read_manifest(ckpt_dir: str, wave: int) -> dict:
    with open(_wave_dir(ckpt_dir, wave, MANIFEST)) as f:
        return json.load(f)


def last_complete_wave(ckpt_dir: str) -> int:
    """Highest wave whose snapshot committed: next_frontier AND visited
    hold ``_SUCCESS``, and the manifest written after them exists."""
    if not os.path.isdir(ckpt_dir):
        return -1
    best = -1
    for entry in os.listdir(ckpt_dir):
        if entry.startswith("wave="):
            w = int(entry.split("=")[1])
            if (_is_complete(_wave_dir(ckpt_dir, w, "next_frontier"))
                    and _is_complete(_wave_dir(ckpt_dir, w, "visited"))
                    and os.path.exists(_wave_dir(ckpt_dir, w, MANIFEST))):
                best = max(best, w)
    return best


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
    num_partitions: int | None = None,
    visited_buckets: int | None = None,
) -> CrawlResult:
    """Run the frontier BFS from ``seeds`` over the ``docs`` table.

    Returns visited/spans/lineage/metrics DataFrames read back from the
    committed snapshots of waves ``0 .. waves-1``, so the logical plan does
    not grow with wave count; lineage and metrics are read when asked for.
    Without ``ckpt_dir`` the snapshots go to a staging dir
    (``staging.stage_dir``), and ``resume`` has nothing to resume from.

    ``visited_buckets`` hash-partitions each wave's ``visited`` snapshot by
    ``doc_id`` into that many part files before the write. It sets the
    snapshot's file count only and has no effect on joins.
    """
    from .bloom import NativeBloom

    if ckpt_dir is None:
        ckpt_dir = staging.stage_dir("crawl")
    # a seed listed twice is one doc: it is visited once, in wave 0
    seeds = list(dict.fromkeys(seeds))
    start_wave = 0
    wave_sizes: list[int] = []
    wave_stages: list[dict] = []

    # rows in visited: the frontier is anti-joined against visited, so
    # each wave adds exactly its frontier count; the manifest carries it
    # across a resume
    n_visited = 0
    if resume and (lw := last_complete_wave(ckpt_dir)) >= 0:
        frontier = _read_waves(spark, ckpt_dir, [lw], "next_frontier")
        n_frontier = _rows(ckpt_dir, lw, "next_frontier")
        visited = _read_waves(spark, ckpt_dir, [lw], "visited")
        n_visited = _read_manifest(ckpt_dir, lw)["visited"]
        start_wave = lw + 1
    else:
        frontier = spark.createDataFrame([(s, None) for s in seeds], FRONTIER_SCHEMA)
        n_frontier = len(seeds)
        visited = spark.createDataFrame([], VISITED_SCHEMA)

    # One incremental Bloom filter for the whole crawl: capacity fixed up
    # front (merge requires identical bit geometry); each wave ORs in a
    # distributed build over ONLY the new frontier — O(|frontier|) per wave
    # instead of re-scanning the whole visited set (which grows without
    # bound). The first wave run here merges visited ∪ frontier instead,
    # so a resume fills the filter in that one merge and a resume with no
    # wave left runs no job. Sized from the resumed visited count + a
    # headroom factor; if the crawl outgrows it the FPR degrades
    # gracefully (the exact anti-join stays authoritative).
    bloom = NativeBloom(max((n_visited + len(seeds)) * 8, 65536)) if use_bloom else None

    for wave in range(start_wave, max_waves):
        if n_frontier == 0:
            break
        wave_sizes.append(n_frontier)
        t0 = time.monotonic()
        stages: dict = {}
        _t = t0

        def _mark(name: str) -> None:
            nonlocal _t
            now = time.monotonic()
            stages[name] = round(now - _t, 3)
            _t = now

        # unique by construction: seeds are deduped, and each next
        # frontier is one row per grouped dst_doc_id
        f_ids = frontier.select("doc_id")
        join_side = F.broadcast(f_ids) if n_frontier <= BROADCAST_THRESHOLD else f_ids
        wave_docs = docs.join(join_side, "doc_id")
        if num_partitions:
            # scale-adaptive task count (guide §2): a 2-doc seed wave
            # must not fan into num_partitions near-empty kernel tasks
            # (and as many checkpoint files); cap at ~4 docs/task and
            # grow with the frontier up to the configured ceiling, but
            # never past one round of tasks on the session's cores
            n_parts = max(1, min(num_partitions,
                                 spark.sparkContext.defaultParallelism,
                                 math.ceil(n_frontier / 4)))
            wave_docs = salted_repartition(wave_docs, n_parts, salt=wave)

        extract_spans(wave_docs).write.mode("overwrite").parquet(
            _wave_dir(ckpt_dir, wave, "spans"))
        spans = _read_waves(spark, ckpt_dir, [wave], "spans")
        _mark("spans")

        # next frontier: extracted wikilinks, deduped, minus visited ∪ current
        links = links_of(spans)  # (src_doc_id, dst_doc_id)
        candidates = (
            links.groupBy("dst_doc_id")
            .agg(F.min("src_doc_id").alias("parent_doc_id"))  # deterministic parent
            .withColumnRenamed("dst_doc_id", "doc_id")
        )
        visited_now = visited.select("doc_id").unionByName(frontier.select("doc_id"))

        if bloom is not None:
            # distributed JVM word aggregation; only the set words
            # come back
            bloom.merge_from(visited_now if wave == start_wave else frontier,
                             "doc_id")
        _mark("bloom")
        nxt = anti_join_visited(candidates, visited_now, bloom=bloom, spark=spark)
        if per_wave_limit is not None:
            nxt = nxt.orderBy("doc_id").limit(per_wave_limit)
        # visited ∪= this wave's frontier, planned before ``frontier`` moves on
        new_visited = visited.unionByName(
            frontier.select("doc_id", F.lit(wave).cast("int").alias("wave")))

        nxt.write.mode("overwrite").parquet(_wave_dir(ckpt_dir, wave, "next_frontier"))
        frontier = _read_waves(spark, ckpt_dir, [wave], "next_frontier")
        _mark("frontier")
        if visited_buckets:
            new_visited = new_visited.repartition(visited_buckets, "doc_id")
        new_visited.write.mode("overwrite").parquet(_wave_dir(ckpt_dir, wave, "visited"))
        visited = _read_waves(spark, ckpt_dir, [wave], "visited")
        n_visited += n_frontier
        _write_manifest(ckpt_dir, wave, {
            "visited": n_visited, "wall_ms": int((time.monotonic() - t0) * 1000)})
        _mark("visited")

        stages["wave"] = wave
        stages["total"] = round(time.monotonic() - t0, 3)
        wave_stages.append(stages)
        n_frontier = _rows(ckpt_dir, wave, "next_frontier")

    # waves counts the CRAWL's waves (resumed + run here) and the result
    # tables cover all of them; wave_sizes lists only this invocation's
    waves = start_wave + len(wave_sizes)
    return CrawlResult(
        waves=waves,
        visited=visited,
        spans=(_read_waves(spark, ckpt_dir, range(waves), "spans") if waves
               else spark.createDataFrame([], SPANS_OUT_SCHEMA)),
        ckpt_dir=ckpt_dir,
        wave_sizes=wave_sizes,
        wave_stages=wave_stages,
    )
