"""Frontier-expansion pipeline tests (SURVEY.md §5.2 item 4):
BFS closure on the known link_graph, dedup (no doc extracted twice),
resume-from-checkpoint == uninterrupted run, bounded-shuffle cap,
Bloom pre-filter correctness (no false positives ever drop docs).

Crawl runs are expensive (one Spark job round-trip per wave), so the two
canonical runs (with/without Bloom) are module fixtures shared across
assertions.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

from wikicrawler_spark import corpus
from wikicrawler_spark.bloom import NativeBloom
from wikicrawler_spark.extract_job import links_of
from wikicrawler_spark.frontier import CKPT_SCHEMAS, MANIFEST, crawl
from wikicrawler_spark.kernel import extract_spans


def expected_closure(seeds):
    """Pure-python BFS over corpus.link_graph_edges — independent of the
    engine (and of the kernel: edges come from the generator spec)."""
    seen = set(seeds)
    frontier = sorted(seeds)
    waves = [set(seeds)]
    while frontier:
        nxt = set()
        for i in frontier:
            for j in corpus.link_graph_edges(i):
                if j not in seen:
                    seen.add(j)
                    nxt.add(j)
        if not nxt:
            break
        waves.append(nxt)
        frontier = sorted(nxt)
    return seen, waves


def ids(nums):
    return [corpus.doc_id_for("link_graph", i) for i in nums]


@pytest.fixture(scope="module")
def graph_df(spark):
    return corpus.link_graph_df(spark).cache()


@pytest.fixture(scope="module")
def crawl_bloom(spark, graph_df):
    return crawl(spark, graph_df, ids([0, 1]), max_waves=30, use_bloom=True)


@pytest.fixture(scope="module")
def crawl_exact(spark, graph_df):
    return crawl(spark, graph_df, ids([0, 1]), max_waves=30, use_bloom=False)


def test_bfs_closure(crawl_exact):
    got = {r["doc_id"] for r in crawl_exact.visited.collect()}
    want, _ = expected_closure([0, 1])
    assert got == set(ids(sorted(want)))


def test_wave_structure_matches_bfs(crawl_exact):
    _, waves = expected_closure([0, 1])
    got = {(r["doc_id"], r["wave"]) for r in crawl_exact.visited.collect()}
    want = {(corpus.doc_id_for("link_graph", i), w)
            for w, wave in enumerate(waves) for i in wave}
    assert got == want


def test_no_doc_extracted_twice(crawl_bloom):
    docs_extracted = [r["doc_id"] for r in crawl_bloom.spans.select("doc_id").collect()]
    assert docs_extracted, "crawl extracted nothing"
    assert len(docs_extracted) == len(set(docs_extracted))
    dup_vis = crawl_bloom.visited.groupBy("doc_id").count().filter("count > 1").count()
    assert dup_vis == 0


def test_bloom_path_equals_exact_path(crawl_bloom, crawl_exact):
    """Bloom is a pre-filter only — identical closure and wave tagging."""
    a = {(r["doc_id"], r["wave"]) for r in crawl_bloom.visited.collect()}
    b = {(r["doc_id"], r["wave"]) for r in crawl_exact.visited.collect()}
    assert a == b


def test_metrics_and_lineage_populated(crawl_exact):
    m = crawl_exact.metrics.collect()
    assert sum(r["docs_in"] for r in m) > 0
    assert all(r["spans_out"] >= r["docs_in"] for r in m)
    parents = {r["doc_id"]: r["parent_doc_id"] for r in crawl_exact.lineage.collect()}
    assert parents[corpus.doc_id_for("link_graph", 0)] is None
    assert any(p is not None for p in parents.values())


def test_per_wave_limit_bounded_and_deterministic(spark, graph_df):
    seeds = ids([12])  # clique start: fan-out of 7 in one wave
    r1 = crawl(spark, graph_df, seeds, max_waves=3, per_wave_limit=4, use_bloom=False)
    r2 = crawl(spark, graph_df, seeds, max_waves=3, per_wave_limit=4, use_bloom=False)
    assert r1.wave_sizes == r2.wave_sizes
    assert all(s <= 4 for s in r1.wave_sizes[1:])
    a = sorted(r["doc_id"] for r in r1.visited.collect())
    b = sorted(r["doc_id"] for r in r2.visited.collect())
    assert a == b


def test_resume_equals_uninterrupted(spark, graph_df, tmp_path, crawl_exact):
    ck = str(tmp_path / "ckpt")
    partial = crawl(spark, graph_df, ids([0, 1]), max_waves=3, ckpt_dir=ck,
                    use_bloom=False)
    assert partial.waves == 3
    resumed = crawl(spark, graph_df, ids([0, 1]), max_waves=30, ckpt_dir=ck,
                    resume=True, use_bloom=False)
    got = {(r["doc_id"], r["wave"]) for r in resumed.visited.collect()}
    want = {(r["doc_id"], r["wave"]) for r in crawl_exact.visited.collect()}
    assert got == want
    # recovered spans cover every visited doc exactly once
    span_docs = [r["doc_id"] for r in resumed.spans.select("doc_id").collect()]
    assert len(span_docs) == len(set(span_docs)) == len(want)


@pytest.fixture(scope="module")
def ckpt3(spark, graph_df, tmp_path_factory):
    """A committed 3-wave checkpoint (waves 0-2) of the canonical crawl;
    tests copy it before they resume from it."""
    ck = str(tmp_path_factory.mktemp("frontier") / "ckpt3")
    assert crawl(spark, graph_df, ids([0, 1]), max_waves=3, ckpt_dir=ck,
                 use_bloom=False).waves == 3
    return ck


def _copy(ckpt: str, tmp_path) -> str:
    ck = str(tmp_path / "ckpt")
    shutil.copytree(ckpt, ck)
    return ck


#: what wave 2 has not yet committed when the crawl is killed at its start
#: or right after each of its stages (stage names as in
#: ``CrawlResult.wave_stages``); the bloom stage writes nothing, and the
#: lineage/metrics writes submitted at aux_submit may finish before the kill
KILLED_AFTER = {
    "start": ("spans", "lineage", "metrics", "next_frontier", "visited", MANIFEST),
    "spans": ("lineage", "metrics", "next_frontier", "visited", MANIFEST),
    "bloom": ("lineage", "metrics", "next_frontier", "visited", MANIFEST),
    "aux_submit": ("next_frontier", "visited", MANIFEST),
    "frontier": ("visited", MANIFEST),
    "visited": (MANIFEST,),
}


@pytest.mark.parametrize("use_bloom", [True, False], ids=["bloom", "exact"])
@pytest.mark.parametrize("stage", list(KILLED_AFTER))
def test_kill_and_resume_at_stage_boundary(spark, graph_df, ckpt3, tmp_path,
                                           crawl_exact, stage, use_bloom):
    """A crawl killed after any stage of its last wave resumes to the
    uninterrupted crawl's visited set, re-running that wave, and its spans
    and lineage cover each visited doc exactly once."""
    ck = _copy(ckpt3, tmp_path)
    wave2 = os.path.join(ck, "wave=00002")
    for name in KILLED_AFTER[stage]:
        path = os.path.join(wave2, name)
        if name == "spans":
            # killed mid-write: some part files, no _SUCCESS
            os.remove(os.path.join(path, "_SUCCESS"))
            for part in sorted(glob.glob(os.path.join(path, "part-*")))[1:]:
                os.remove(part)
        elif os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)

    resumed = crawl(spark, graph_df, ids([0, 1]), max_waves=30, ckpt_dir=ck,
                    resume=True, use_bloom=use_bloom)

    assert resumed.wave_stages[0]["wave"] == 2
    got = {(r["doc_id"], r["wave"]) for r in resumed.visited.collect()}
    want = {(r["doc_id"], r["wave"]) for r in crawl_exact.visited.collect()}
    assert got == want
    span_docs = [r["doc_id"] for r in resumed.spans.select("doc_id").collect()]
    assert len(span_docs) == len(set(span_docs))
    assert set(span_docs) == {d for d, _ in want}
    lineage_docs = sorted(r["doc_id"] for r in resumed.lineage.collect())
    assert lineage_docs == sorted(d for d, _ in want)


def _run_in_job_group(spark, group: str, fn):
    """``fn()``'s result and the stage names of each Spark job it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return out, [[tracker.getStageInfo(s).name for s in tracker.getJobInfo(j).stageIds]
                 for j in tracker.getJobIdsForGroup(group)]


def test_resume_prologue_job_count(spark, graph_df, ckpt3, tmp_path):
    """Resuming a 3-wave checkpoint with nothing left to run reads every
    checkpointed table with its declared schema (no schema-inference job)
    and takes the visited count from the manifest (no count job): the Bloom
    filter's ``merge_from`` over the visited set is all it runs."""
    ck = _copy(ckpt3, tmp_path)
    res, prologue = _run_in_job_group(spark, "wcs-resume-prologue", lambda: crawl(
        spark, graph_df, ids([0, 1]), max_waves=3, ckpt_dir=ck, resume=True,
        use_bloom=True))
    assert res.waves == 3 and res.wave_sizes == []
    names = [n for job in prologue for n in job]
    assert not [n for n in names if n.startswith("parquet at")], prologue
    assert all("bloom.py" in n for n in names), prologue  # no count job
    # the one Bloom merge_from, however many jobs the session's adaptive
    # execution splits it into
    _, merge = _run_in_job_group(spark, "wcs-merge-from", lambda: NativeBloom(
        65536).merge_from(res.visited, "doc_id"))
    assert len(prologue) <= len(merge), (prologue, merge)


def test_resumed_wave_takes_its_size_from_the_commit(spark, graph_df, ckpt3,
                                                     tmp_path, monkeypatch):
    """A resumed wave's size comes from the ``next_frontier`` footers that
    the previous wave committed, and the next one's from its own commit:
    the crawl runs no ``DataFrame.count`` job."""
    ck = _copy(ckpt3, tmp_path)
    rows = sum(pq.read_metadata(f).num_rows for f in
               glob.glob(os.path.join(ck, "wave=00002", "next_frontier", "part-*")))

    def no_count(self):
        raise AssertionError("crawl ran a count job")

    # the session's concrete DataFrame class, which defines count()
    monkeypatch.setattr(type(graph_df), "count", no_count)
    res = crawl(spark, graph_df, ids([0, 1]), max_waves=4, ckpt_dir=ck,
                resume=True, use_bloom=False)
    monkeypatch.undo()
    assert res.waves == 4
    assert res.wave_sizes == [rows] and rows > 0
    assert res.visited.count() == _manifest_visited(
        os.path.join(ck, "wave=00003", MANIFEST))


def _manifest_visited(path: str) -> int:
    with open(path) as f:
        return json.load(f)["visited"]


def _visited_facts(res, ck):
    """(doc_id, wave) set, visited row count and last manifest count of a
    crawl checkpointed at ``ck``."""
    rows = [(r["doc_id"], r["wave"]) for r in res.visited.collect()]
    manifest = sorted(glob.glob(os.path.join(ck, "wave=*", MANIFEST)))[-1]
    return set(rows), len(rows), _manifest_visited(manifest)


@pytest.mark.parametrize("seeds, same_as", [([0, 0, 1], [0, 1]), ([], None)],
                         ids=["duplicate_seeds", "no_seeds"])
def test_degenerate_seeds(spark, graph_df, tmp_path, seeds, same_as):
    """A seed listed twice is one doc, visited once in wave 0; no seeds
    give an empty crawl whose result tables are empty DataFrames with
    their declared schemas."""
    res = crawl(spark, graph_df, ids(seeds), max_waves=2,
                ckpt_dir=str(tmp_path / "a"), use_bloom=False)
    if same_as is None:
        assert (res.waves, res.wave_sizes) == (0, [])
        for name in ("visited", "spans", "lineage", "metrics"):
            df = getattr(res, name)
            assert df.schema == CKPT_SCHEMAS[name], name
            assert df.count() == 0, name
        return
    want = crawl(spark, graph_df, ids(same_as), max_waves=2,
                 ckpt_dir=str(tmp_path / "b"), use_bloom=False)
    assert res.wave_sizes == want.wave_sizes
    assert _visited_facts(res, str(tmp_path / "a")) == \
        _visited_facts(want, str(tmp_path / "b"))


@pytest.mark.parametrize("name", list(CKPT_SCHEMAS))
def test_checkpoint_schema_matches_declared(spark, ckpt3, name):
    """Checkpoint reads declare their schema, and a column renamed or
    retyped on the write side would read back as NULL without an error:
    what each table holds on disk must equal its declared schema by field
    name and data type."""
    path = os.path.join(ckpt3, "wave=00002", name)
    on_disk = spark.read.parquet(path).schema
    assert [(f.name, f.dataType.simpleString()) for f in on_disk] == \
        [(f.name, f.dataType.simpleString()) for f in CKPT_SCHEMAS[name]]


def test_links_of_extraction(spark, graph_df):
    spans = extract_spans(graph_df)
    edges = {(r["src_doc_id"], r["dst_doc_id"]) for r in links_of(spans).collect()}
    want = set()
    for i in range(corpus.LINK_GRAPH_N):
        for j in corpus.link_graph_edges(i):
            want.add((corpus.doc_id_for("link_graph", i),
                      corpus.doc_id_for("link_graph", j)))
    assert edges == want


# ---------------------------------------------------------------- bloom

def _ids_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id string")


def test_bloom_no_false_negatives(spark):
    items = _ids_df(spark, [f"wiki/x_{i}" for i in range(1000)])
    bf = NativeBloom(1000).merge_from(items, "doc_id")
    new, maybe = bf.split(items, "doc_id")
    assert new.count() == 0
    assert maybe.count() == 1000


def test_bloom_fpr_reasonable(spark):
    bf = NativeBloom(1000, fpr=0.01).merge_from(
        _ids_df(spark, [f"wiki/x_{i}" for i in range(1000)]), "doc_id")
    _, maybe = bf.split(_ids_df(spark, [f"wiki/y_{i}" for i in range(10000)]),
                        "doc_id")
    fp = maybe.count()
    assert fp < 500  # ~1% expected; generous bound


def test_distributed_bloom_build(spark):
    df = spark.range(2000).selectExpr("concat('wiki/z_', id) as doc_id").repartition(7)
    bf = NativeBloom(2000).merge_from(df, "doc_id")
    new, maybe = bf.split(df, "doc_id")
    assert new.count() == 0
    assert maybe.count() == 2000


def test_bloom_sign_bit_word(spark):
    """A key that sets bit 63 of a word (a negative bigint in Spark) must
    merge into the uint64 bitmap without overflow and probe as seen."""
    bf = NativeBloom(1)  # one 64-bit word
    key = _ids_df(spark, ["wiki/sign_bit_2"])
    bf.merge_from(key, "doc_id")
    assert int(bf.words[0]) >> 63 == 1
    new, maybe = bf.split(key, "doc_id")
    assert new.count() == 0
    assert maybe.count() == 1


def test_bloom_even_stride_sets_k_distinct_bits(spark):
    """Double hashing h1 + i*h2 over a 64-bit filter: an even h2 would
    cycle through at most 32 indices, so the k = 44 probes of one key
    would set fewer than k bits. The stride is forced odd, so they set
    exactly k distinct bits. This key's h2 mod 64 is 2 before the stride
    is made odd."""
    bf = NativeBloom(1)  # one 64-bit word
    assert (bf.n_bits, bf.k) == (64, 44)
    key = _ids_df(spark, ["wiki/even_stride_10"])
    bf.merge_from(key, "doc_id")
    assert bin(int(bf.words[0])).count("1") == bf.k
    new, maybe = bf.split(key, "doc_id")
    assert (new.count(), maybe.count()) == (0, 1)


def test_hot_skew_fanout(spark):
    """FIXTURES hot_skew: a 'List of…' doc with 10^4 links must fan the
    frontier out to every target in one wave (link-dense paragraphs feed
    the crawl even though their text is boilerplate-suppressed)."""
    hot = corpus.corpus_df(spark, 400, families=("hot_skew",), partitions=8)
    res = crawl(spark, hot, [corpus.doc_id_for("hot_skew", 0)], max_waves=3,
                use_bloom=True, num_partitions=8)
    assert res.wave_sizes[0] == 1
    assert res.wave_sizes[1] == 399  # full fan-out, deduped
    assert res.spans.count() == 400


def test_resume_with_bloom(spark, graph_df, tmp_path, crawl_exact):
    """Resume seeds the incremental Bloom from the checkpointed visited set;
    closure must still equal the exact path."""
    ck = str(tmp_path / "ckpt_bloom")
    crawl(spark, graph_df, ids([0, 1]), max_waves=3, ckpt_dir=ck, use_bloom=True)
    resumed = crawl(spark, graph_df, ids([0, 1]), max_waves=30, ckpt_dir=ck,
                    resume=True, use_bloom=True)
    got = {(r["doc_id"], r["wave"]) for r in resumed.visited.collect()}
    want = {(r["doc_id"], r["wave"]) for r in crawl_exact.visited.collect()}
    assert got == want


def test_visited_buckets_plain_snapshot_equals_exact(spark, graph_df,
                                                     tmp_path, crawl_exact):
    """visited_buckets only sets each visited snapshot's part-file count:
    the crawl equals the exact path, registers no catalog table, and a
    same-session resume reads the same visited set."""
    ck = str(tmp_path / "ck")

    def tables():
        return {t.name for t in spark.catalog.listTables()}

    before = tables()
    res = crawl(spark, graph_df, ids([0, 1]), max_waves=30, use_bloom=False,
                ckpt_dir=ck, visited_buckets=4)
    got = {(r["doc_id"], r["wave"]) for r in res.visited.collect()}
    assert got == {(r["doc_id"], r["wave"])
                   for r in crawl_exact.visited.collect()}
    assert res.waves == crawl_exact.waves
    assert tables() == before  # no wcs_visited_* (or any other) table

    snapshots = sorted(glob.glob(os.path.join(ck, "wave=*", "visited")))
    assert len(snapshots) == res.waves
    for snap in snapshots:
        assert 1 <= len(glob.glob(os.path.join(snap, "part-*"))) <= 4, snap

    resumed = crawl(spark, graph_df, ids([0, 1]), max_waves=30,
                    use_bloom=False, ckpt_dir=ck, resume=True,
                    visited_buckets=4)
    assert {(r["doc_id"], r["wave"]) for r in resumed.visited.collect()} == got
