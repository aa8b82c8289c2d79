"""The two workloads. Each is a closed loop: one driver, one job at a
time, ``local[NPROC]``, no other workload running.

Each workload function sets up (session start, seeded input generation,
warm-up), then repeats its timed call until ``run.seconds`` have passed
(at least once), checking every call's output, and returns its
end-to-end metrics plus, when tracing, its per-layer metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from harness import NPROC, SparkCounters, median, start_session, stop_session

#: input generation is repeated this many times; setup_s takes the median
SETUP_REPEATS = 3
#: a path counts as warm once its last pass is within this share of the
#: pass before it
STEADY_SHARE = 0.10
MAX_WARM_PASSES = 3
#: driver-side kernel probe: documents per probe
KERNEL_PROBE_DOCS = 1500

EXTRACT_DOCS = 16000
EXTRACT_FILES = NPROC
SAMPLE_PER_FAMILY = 3
#: timed declarative passes in the traced run, after one warm pass
STD_PASSES = 3
#: untimed passes of the N leg before its timed ones
N_LEG_WARM_PASSES = 2

CRAWL_DOCS = 2000
CRAWL_WAVES = 6
#: waves 0..RESUME_FROM-1 run once in set-up; every timed call resumes
#: the checkpointed crawl there and runs the remaining wave, so a run
#: holds several samples of one wave's cost
RESUME_FROM = 5

#: registry queries, timed in the traced extract run for per-layer
#: figures only: documents at 300 rows; the star schema large enough that
#: tpch_q5 keeps rows for every seed
REGISTRY_SF = 0.0006
STAR_SF = 0.005
REGISTRY_ROUNDS = 3
#: the staging/curation chain, a pandas UDF and a shuffle join
REGISTRY_QUERIES = (
    "training_corpus",      # kernel, staging, curation, MinHash-LSH, chunks
    "media_decode",         # pipeline.multimodal, pandas UDF
    "tpch_q5",              # multi-way shuffle join
)
#: queries that round a floating-point sum to this many decimals. At a
#: half-unit tie the summation order (Spark's partial sums vs DuckDB's)
#: decides which way it rounds: with seed 14, Nation 2's exact revenue is
#: 199709.0750, DuckDB gives 199709.08 and Spark 199709.07. Such a value
#: is checked to within one unit of its last decimal.
ROUNDED_PLACES = {"tpch_q5": 2}


def _digest_expr():
    from pyspark.sql import functions as F

    return [F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(doc_id, spans))").alias("h")]


def _timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, time.monotonic() - t0


def _setup_inputs(gen) -> float:
    """Run the seeded input generator SETUP_REPEATS times; median wall."""
    walls = [_timed(gen)[1] for _ in range(SETUP_REPEATS)]
    return median(walls)


def _dir_stats(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


# ------------------------------------------------------------ kernel probe

def kernel_probe(table) -> dict:
    """Time the extraction kernel in this process on one core, without
    Spark, over Arrow batches of ``table`` (doc_id, spans)."""
    from wikicrawler_spark.html_tokenizer import StreamParser
    from wikicrawler_spark.kernel import extract_doc, make_arrow_kernel

    table = table.slice(0, KERNEL_PROBE_DOCS)
    batches = table.to_batches(max_chunksize=4096)
    kern = make_arrow_kernel()
    out, kernel_s = _timed(lambda: list(kern(iter(batches))))
    spans_out = sum(len(b.column(1).flatten()) for b in out)

    docs = table.to_pylist()
    _, doc_s = _timed(lambda: [extract_doc(d["doc_id"], d["spans"]) for d in docs])

    def tokenize():
        for d in docs:
            parser = StreamParser()
            for s in sorted(d["spans"], key=lambda s: s["offset"]):
                if s["kind"] == "html" and s["text"]:
                    parser.feed(s["text"])

    _, tok_s = _timed(tokenize)
    return {
        "kernel.docs_per_s_1core": len(docs) / kernel_s,
        "kernel.tokenizer_s": tok_s,
        "kernel.assembly_s": doc_s - tok_s,
        "kernel.arrow_io_s": kernel_s - doc_s,
        "kernel.spans_out": spans_out,
    }


# ----------------------------------------------------------------- extract

def _extract_sample(seed: int, n_docs: int) -> dict:
    """A seeded sample of SAMPLE_PER_FAMILY input docs per corpus family,
    regenerated in this process: doc_id -> input doc."""
    from wikicrawler_spark import corpus

    fams = [f for f in corpus.FAMILIES if f not in ("hot_skew", "link_graph")]
    per_family_total = max(n_docs // len(fams), 1)
    rng = random.Random(seed)
    sample = {}
    for k, fam in enumerate(fams):
        # corpus_df maps range value v to family v % len(fams), index
        # v // len(fams)
        n_fam = len(range(k, n_docs, len(fams)))
        for idx in rng.sample(range(n_fam), min(SAMPLE_PER_FAMILY, n_fam)):
            doc = corpus.generate_doc(fam, idx, seed=seed, n_total=per_family_total)
            sample[doc["doc_id"]] = doc
    return sample


def _xor(values) -> int:
    h = 0
    for v in values:
        h ^= v
    return h


def extract(run) -> tuple[dict, dict]:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from wikicrawler_spark import corpus
    from wikicrawler_spark.kernel import extract_from_parquet, extract_spans

    t0 = time.monotonic()
    spark = run.session(NPROC)
    session_s = time.monotonic() - t0
    path = os.path.join(run.work, "corpus")
    with run.tracer.span("setup.generate"):
        gen_s = _setup_inputs(lambda: corpus.corpus_df(
            spark, EXTRACT_DOCS, seed=run.seed, partitions=EXTRACT_FILES)
            .write.mode("overwrite").parquet(path))

    paths = {
        "fused": lambda: extract_from_parquet(spark, path, num_tasks=EXTRACT_FILES),
        "std": lambda: extract_spans(spark.read.parquet(path)),
    }

    # check pass per path (also the first warm pass): every doc's hash to
    # this process, plus the output spans of a seeded per-family sample,
    # compared with the independent stdlib-parser oracle
    from oracle_extractor import oracle_extract

    sample = _extract_sample(run.seed, EXTRACT_DOCS)
    t_warm = time.monotonic()
    ref = {}
    hashes = {}
    for name, make in paths.items():
        with run.tracer.span(f"check.{name}"):
            rows = make().select(
                "doc_id", F.xxhash64("doc_id", "spans").alias("h"),
                F.when(F.col("doc_id").isin(list(sample)), F.col("spans")).alias("spans"),
            ).collect()
        hashes[name] = doc_hash = {r["doc_id"]: r["h"] for r in rows}
        ref[name] = (len(rows), _xor(doc_hash.values()))
        for r in rows:
            if r["doc_id"] in sample:
                doc = sample[r["doc_id"]]
                got = sorted((s.asDict() for s in r["spans"]), key=lambda s: s["offset"])
                run.ledger.check(got == oracle_extract(doc["doc_id"], doc["spans"]),
                                 f"extract: {name} {r['doc_id']} differs from oracle")
        run.ledger.check(len(doc_hash) == EXTRACT_DOCS and sample.keys() <= doc_hash.keys(),
                         f"extract: {name} returned {len(doc_hash)} docs, not {EXTRACT_DOCS}")
    run.ledger.check(ref["fused"] == ref["std"], "extract: fused != declarative digest")
    expected = ref["fused"]

    def one_pass(name: str) -> float:
        with run.tracer.span(f"pass.{name}"):
            row, wall = _timed(lambda: paths[name]().agg(*_digest_expr()).collect()[0])
        run.ledger.check((row["n"], row["h"]) == expected,
                         f"extract: {name} pass digest differs")
        return wall

    # warm-up: fused passes until two in a row agree within STEADY_SHARE
    warm = []
    while len(warm) < 2 or (abs(warm[-1] - warm[-2]) > STEADY_SHARE * warm[-2]
                            and len(warm) < MAX_WARM_PASSES):
        warm.append(one_pass("fused"))
    warm_s = time.monotonic() - t_warm
    setup_s = session_s + gen_s + warm_s

    counters = SparkCounters(spark) if run.trace else None
    walls = []
    end = time.monotonic() + run.seconds
    while not walls or time.monotonic() < end:
        if counters:
            counters.mark()
        walls.append(one_pass("fused"))
        if counters:
            counters.collect()

    fused_s = median(walls)
    e2e = {"setup_s": setup_s, "op_s": fused_s}
    layers: dict = {}
    if run.trace:
        layers.update(counters.layer_metrics(sum(walls), NPROC))
        std = [one_pass("std") for _ in range(1 + STD_PASSES)][1:]
        layers["extract.std_docs_per_s"] = EXTRACT_DOCS / median(std)
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        quarter = os.path.join(run.work, "corpus_quarter")
        os.makedirs(quarter, exist_ok=True)
        for f in files[:len(files) // 4]:
            shutil.copy(os.path.join(path, f), quarter)
        q_ids = pq.read_table(quarter, columns=["doc_id"]).column(0).to_pylist()
        q_expected = (len(q_ids), _xor(hashes["fused"][d] for d in q_ids))
        with run.tracer.span("n_leg"):
            n_leg = run.n_leg(quarter, q_expected)
        layers["extract.n_docs_per_s"] = n_leg["docs_per_s"]
        layers["extract.docs_per_s"] = EXTRACT_DOCS / fused_s
        layers["extract.scaling_eff"] = (layers["extract.docs_per_s"]
                                         / n_leg["docs_per_s"]) / 4
        with run.tracer.span("kernel_probe"):
            layers.update(kernel_probe(pq.read_table(path)))
        layers.update(registry_layers(run, spark))
        layers["setup.warm_passes"] = 1 + len(warm)
    return e2e, layers


def n_leg(work: str, path: str, seconds: float, expected: tuple) -> dict:
    """The N side of the scaling pair, run in a fresh JVM: the fused pass
    at ``local[NPROC // 4]`` over a quarter of the corpus files."""
    from wikicrawler_spark.kernel import extract_from_parquet

    cores = max(NPROC // 4, 1)
    spark = start_session(cores, work)
    try:
        n_files = len([f for f in os.listdir(path) if f.endswith(".parquet")])

        def one_pass():
            row, wall = _timed(lambda: extract_from_parquet(
                spark, path, num_tasks=n_files).agg(*_digest_expr()).collect()[0])
            return (row["n"], row["h"]) == tuple(expected), wall

        checks = [one_pass() for _ in range(N_LEG_WARM_PASSES)]
        walls = []
        while not walls or sum(walls) < seconds:
            checks.append(one_pass())
            walls.append(checks[-1][1])
        return {"docs_per_s": expected[0] / median(walls), "attempted": len(checks),
                "failed": sum(not ok for ok, _ in checks)}
    finally:
        stop_session(spark)


# ------------------------------------------------------------------- crawl

def _bfs(edges: dict, seeds: list, depth: int) -> set:
    seen = set(seeds)
    frontier = list(seeds)
    for _ in range(depth):
        nxt = []
        for node in frontier:
            for dst in edges.get(node, ()):
                if dst not in seen:
                    seen.add(dst)
                    nxt.append(dst)
        frontier = nxt
    return seen


def crawl(run) -> tuple[dict, dict]:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from wikicrawler_spark import corpus
    from wikicrawler_spark.bloom import NativeBloom
    from wikicrawler_spark.extract_job import anti_join_visited, links_of
    from wikicrawler_spark.frontier import crawl as run_crawl
    from wikicrawler_spark.kernel import extract_spans

    t0 = time.monotonic()
    spark = run.session(NPROC)
    session_s = time.monotonic() - t0
    path = os.path.join(run.work, "crawl_corpus")
    n_docs = run.crawl_docs
    with run.tracer.span("setup.generate"):
        gen_s = _setup_inputs(lambda: corpus.corpus_df(
            spark, n_docs, seed=run.seed, partitions=NPROC)
            .write.mode("overwrite").parquet(path))
    docs = spark.read.parquet(path)
    seeds = [corpus.doc_id_for("basic_article", 0),
             corpus.doc_id_for("media_interleaved", 0)]
    settings = dict(use_bloom=True, num_partitions=2 * NPROC,
                    visited_buckets=NPROC)

    ckpt = os.path.join(run.work, "ckpt")

    def waves(max_waves: int, resume: bool):
        res = run_crawl(spark, docs, seeds, max_waves=max_waves, ckpt_dir=ckpt,
                        resume=resume, **settings)
        return res, res.visited.count()

    # warm-up: one extraction pass over the whole corpus through the same
    # kernel and link selection a wave runs (its links are the edges of the
    # reference BFS), then the crawl's first RESUME_FROM waves, which every
    # timed call resumes from
    t_warm = time.monotonic()
    with run.tracer.span("setup.warm_edges"):
        edges: dict[str, set] = {}
        for r in links_of(extract_spans(docs)).collect():
            edges.setdefault(r["src_doc_id"], set()).add(r["dst_doc_id"])
    t_first = time.monotonic()
    with run.tracer.span("setup.first_waves") as sp:
        first, _ = waves(RESUME_FROM, resume=False)
    if run.tracer.enabled:
        _wave_spans(run.tracer, sp, t_first, first.wave_stages)
    warm_s = time.monotonic() - t_warm
    setup_s = session_s + gen_s + warm_s
    # reference: BFS to depth CRAWL_WAVES - 1 from the seeds
    want = _bfs(edges, seeds, CRAWL_WAVES - 1)

    counters = SparkCounters(spark) if run.trace else None
    results = []
    end = time.monotonic() + run.seconds
    while not results or time.monotonic() < end:
        for entry in os.listdir(ckpt):
            if entry.startswith("wave=") and int(entry[5:]) >= RESUME_FROM:
                shutil.rmtree(os.path.join(ckpt, entry))
        if counters:
            counters.mark()
        t_start = time.monotonic()
        with run.tracer.span("crawl.resume", index=len(results)) as sp:
            (res, n_visited), wall = _timed(lambda: waves(CRAWL_WAVES, resume=True))
        if counters:
            counters.collect()
        if run.tracer.enabled:
            _wave_spans(run.tracer, sp, t_start, res.wave_stages)
        visited = {r["doc_id"] for r in res.visited.select("doc_id").collect()}
        run.ledger.check(visited == want and n_visited == len(want),
                         f"crawl: visited {n_visited} docs, BFS reaches {len(want)}")
        if n_docs == 300_000 and run.seed == 42:
            run.ledger.check(n_visited == 24_385, f"crawl: visited {n_visited} != 24385")
        results.append((wall, res))

    e2e = {"setup_s": setup_s, "op_s": median([r[0] for r in results])}
    layers: dict = {}
    if run.trace:
        layers.update(counters.layer_metrics(sum(r[0] for r in results), NPROC))
        stages = [first.wave_stages + r[1].wave_stages for r in results]
        for key in ("count", "spans", "bloom", "aux_submit", "frontier", "visited"):
            layers[f"frontier.{key}_s"] = median(
                [sum(w.get(key, 0.0) for w in s) for s in stages])
        for w in range(CRAWL_WAVES):
            layers[f"frontier.wave{w}_s"] = median(
                [next((x["total"] for x in s if x["wave"] == w), 0.0) for s in stages])
        res = results[-1][1]
        layers["frontier.docs_per_s"] = median(
            [sum(r[1].wave_sizes) / r[0] for r in results])
        layers["frontier.ckpt_bytes"], layers["frontier.ckpt_files"] = _dir_stats(ckpt)

        # Bloom filter and anti-join, timed from outside on the final
        # visited set and the last wave's link candidates
        last = max(w["wave"] for w in res.wave_stages)
        spans = spark.read.parquet(os.path.join(ckpt, f"wave={last:05d}", "spans"))
        cands = (links_of(spans).select(F.col("dst_doc_id").alias("doc_id"))
                 .distinct().localCheckpoint(eager=True))
        visited_df = res.visited.select("doc_id").localCheckpoint(eager=True)
        # sized as the crawl sizes its own filter
        bloom = NativeBloom(max(len(seeds) * 8, 65536), 0.01)
        with run.tracer.span("bloom.merge_from"):
            _, layers["bloom.merge_from_s"] = _timed(
                lambda: bloom.merge_from(visited_df, "doc_id"))

        def split_counts():
            new, maybe = bloom.split(cands, "doc_id")
            return new.count(), maybe

        with run.tracer.span("bloom.split"):
            (_, maybe), layers["bloom.split_s"] = _timed(split_counts)
        n_fp = maybe.join(visited_df, "doc_id", "left_anti").count()
        n_cands = cands.count()
        layers["bloom.fp_ratio"] = n_fp / n_cands if n_cands else 0.0
        with run.tracer.span("extract_job.anti_join_visited"):
            kept, layers["extract_job.anti_join_visited_s"] = _timed(
                lambda: anti_join_visited(cands, visited_df, bloom=bloom,
                                          spark=spark).count())
        exact = cands.join(visited_df, "doc_id", "left_anti").count()
        run.ledger.check(kept == exact, "crawl: bloom anti-join != exact anti-join")
        with run.tracer.span("kernel_probe"):
            layers.update(kernel_probe(pq.read_table(path)))
        layers["setup.warm_passes"] = 2
    return e2e, layers


def _wave_spans(tracer, parent: dict, t_start: float, wave_stages: list) -> None:
    """Child spans of one crawl, rebuilt from ``CrawlResult.wave_stages``:
    one span per wave and, under it, one per stage in its recorded order."""
    t = t_start
    for w in wave_stages:
        wave = tracer.add(f"wave{w['wave']}", t, t + w["total"], parent=parent["id"])
        s = t
        for key, dur in w.items():
            if key in ("wave", "total"):
                continue
            tracer.add(f"frontier.{key}", s, s + dur, parent=wave["id"])
            s += dur
        t += w["total"]


# ---------------------------------------------------------------- registry

def _normalize(v):
    import math

    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_normalize(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _normalize(x)) for k, x in v.items()))
    return v


def _multiset(cols, rows) -> dict:
    out: dict = {}
    for r in rows:
        key = tuple(_normalize(r[c]) for c in cols)
        out[key] = out.get(key, 0) + 1
    return out


def _same_rounded(cols, got, want, places: int) -> bool:
    """Row multisets equal, except that a float may differ from the
    oracle's by one unit in its ``places``-th decimal."""
    def split(r):
        return (tuple(_normalize(r[c]) for c in cols if not isinstance(r[c], float)),
                tuple(r[c] for c in cols if isinstance(r[c], float)))

    tol = 10.0 ** -places * (1 + 1e-9)
    g, w = sorted(map(split, got)), sorted(map(split, want))
    return len(g) == len(w) and all(
        gk == wk and len(gv) == len(wv)
        and all(abs(a - b) <= tol for a, b in zip(gv, wv))
        for (gk, gv), (wk, wv) in zip(g, w))


def registry_layers(run, spark) -> dict:
    """Per-layer figures of the registry queries, the curation funnel and
    staging, measured on a traced run's session after its own timed calls:
    seeded tables written once, one warm round, then REGISTRY_ROUNDS timed
    rounds. Every call's output is checked against its DuckDB oracle."""
    import duckdb
    from pyspark.sql import functions as F
    from wikicrawler_spark import queries as Q
    from wikicrawler_spark.kernel import explode_spans, extract_spans
    from wikicrawler_spark.pipeline.curate import curate_kept
    from wikicrawler_spark.staging import cleanup_staged, stage_dir

    import tables

    sf_dir = os.path.join(run.work, "sf")
    with run.tracer.span("registry.generate"):
        tables.write_tables(sf_dir, run.seed, REGISTRY_SF, STAR_SF)

    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    registry_fns = Q.queries()
    oracles = Q.oracle_sql()
    want = {}
    with run.tracer.span("registry.oracles"):
        for name in REGISTRY_QUERIES:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            want[name] = (sorted(cols), [dict(zip(cols, r)) for r in res.fetchall()])
    con.close()

    def call(name: str) -> tuple[float, tuple[int, int]]:
        def run_query():
            df = registry_fns[name](spark, sf_dir)
            return df.columns, df.collect()

        with run.tracer.span(f"query.{name}"):
            (cols, data), wall = _timed(run_query)
        staged = _dir_stats(run.tmpdir)
        cleanup_staged()
        wcols, wrows = want[name]
        rows = [r.asDict() for r in data]
        if sorted(cols) != wcols:
            ok = False
        elif name in ROUNDED_PLACES:
            ok = _same_rounded(wcols, rows, wrows, ROUNDED_PLACES[name])
        else:
            ok = _multiset(wcols, rows) == _multiset(wcols, wrows)
        run.ledger.check(ok, f"registry: {name} differs from its oracle")
        return wall, staged

    with run.tracer.span("registry.warm_round"):
        for name in REGISTRY_QUERIES:
            call(name)
    walls = {name: [] for name in REGISTRY_QUERIES}
    round_staged = []
    for _ in range(REGISTRY_ROUNDS):
        with run.tracer.span("registry.round"):
            staged = [0, 0]
            for name in REGISTRY_QUERIES:
                wall, (b, f) = call(name)
                walls[name].append(wall)
                staged[0] += b
                staged[1] += f
        round_staged.append(staged)

    layers = {f"queries.{name}_s": median(w) for name, w in walls.items()}
    layers["staging.bytes_written"] = median([s[0] for s in round_staged])
    layers["staging.files_written"] = median([s[1] for s in round_staged])

    # curation funnel on the staged training body, as training_corpus
    # stages it
    spans = explode_spans(extract_spans(Q.wrapped_docs(spark, sf_dir)))
    body_path = stage_dir("perfbench_training_body")
    (spans.filter(F.col("kind") == "paragraph").select("doc_id", "text")
     .write.mode("overwrite").parquet(body_path))
    body = spark.read.parquet(body_path)
    layers["curate.rows_in"] = body.count()
    with run.tracer.span("curate.kept"):
        layers["curate.rows_kept"], layers["curate.kept_s"] = _timed(
            lambda: curate_kept(body).count())
    cleanup_staged()
    return layers


WORKLOADS = {"extract": extract, "crawl": crawl}
