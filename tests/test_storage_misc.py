"""Storage ops (S3/S6), analysis-level gating (A12), fmov (T6), and the
salted-repartition skew defusal."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikicrawler_spark import corpus
from wikicrawler_spark.extract_job import salted_repartition
from wikicrawler_spark.kernel import extract_spans
from wikicrawler_spark.storage import latest_view, merge_upsert, validate_doc_ids


def test_validate_doc_ids(spark):
    df = spark.createDataFrame(
        [("wiki/Star",), ("wiki/basic_article_000001",),
         ("http://evil.example/x",), ("",), ("wiki/has space",)],
        "doc_id string",
    )
    ok, bad = validate_doc_ids(df)
    assert {r["doc_id"] for r in ok.collect()} == {
        "wiki/Star", "wiki/basic_article_000001"}
    assert bad.count() == 3


def test_merge_upsert_last_write_wins(spark):
    existing = spark.createDataFrame(
        [("a", 0, "v0"), ("b", 0, "v0")], "doc_id string, wave int, payload string")
    updates = spark.createDataFrame(
        [("b", 1, "v1"), ("c", 1, "v1")], "doc_id string, wave int, payload string")
    got = {r["doc_id"]: (r["wave"], r["payload"])
           for r in merge_upsert(existing, updates).collect()}
    assert got == {"a": (0, "v0"), "b": (1, "v1"), "c": (1, "v1")}


def test_latest_view_idempotent(spark):
    rows = [("a", w, f"v{w}") for w in range(5)] * 2
    df = spark.createDataFrame(rows, "doc_id string, wave int, payload string")
    out = latest_view(df).collect()
    assert len(out) == 1 and out[0]["payload"] == "v4"


def test_analyze_level_gating(spark):
    from wikicrawler_spark.analytics import analyze

    df = spark.createDataFrame(
        [("d", "star cluster core star cluster core star cluster core")],
        "doc_id string, body string")
    assert set(analyze(df, level=1)) == {"word_freq"}
    assert set(analyze(df, level=2)) == {"word_freq", "bigrams"}
    lvl3 = analyze(df, level=3)
    assert set(lvl3) == {"word_freq", "bigrams", "trigrams"}
    assert lvl3["trigrams"].count() > 0


def test_autosearch_fmov(spark):
    from wikicrawler_spark.traversal import autosearch

    docs = [corpus.generate_doc("basic_article", i) for i in range(6)]
    df = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
        schema=corpus.DOC_SCHEMA,
    )
    spans = extract_spans(df).localCheckpoint()
    res = autosearch(spark, spans, docs[0]["doc_id"], n=2, move="freq")
    assert len(res.hops) == 2
    assert all(h.best_colloc is None for h in res.hops)  # fmov: word probe
    assert res.hops[0].top_word is not None


def test_salted_repartition_uniform(spark):
    """Skewed input partitioning (everything in 1 partition) must spread
    ~uniformly over the kernel stage's partitions."""
    docs = corpus.corpus_df(spark, 2000).coalesce(1)
    parts = (
        salted_repartition(docs, 16, salt=3)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in parts]
    assert len(counts) == 16
    assert max(counts) < 2 * (2000 / 16)  # no partition more than 2x mean


def test_asof_join_carries_matched_rows_nulls(spark):
    """A right row whose value is genuinely NULL must be carried AS NULL
    (DuckDB ASOF semantics), not skipped for an older row's value; with
    multiple value_cols every carried value comes from the SAME right row."""
    from wikicrawler_spark.joins import asof_join

    left = spark.createDataFrame([("u", 10), ("u", 20)], "user_id string, ts int")
    right = spark.createDataFrame(
        [("u", 5, 1.0, "a"), ("u", 15, None, "b")],
        "user_id string, ts int, v double, tag string",
    )
    rows = {r["ts"]: r for r in asof_join(
        left, right, on="ts", by="user_id", value_cols=["v", "tag"]
    ).collect()}
    assert rows[10]["v_asof"] == 1.0 and rows[10]["tag_asof"] == "a"
    # ts=20 matches the ts=15 right row: v is its real NULL, tag is its 'b'
    assert rows[20]["v_asof"] is None and rows[20]["tag_asof"] == "b"


def test_asof_join_rejects_carried_name_collision(spark):
    from wikicrawler_spark.joins import asof_join
    import pytest

    left = spark.createDataFrame([("u", 10, 9.9)],
                                 "user_id string, ts int, v_asof double")
    right = spark.createDataFrame([("u", 5, 1.0)],
                                  "user_id string, ts int, v double")
    with pytest.raises(ValueError, match="v_asof"):
        asof_join(left, right, on="ts", by="user_id", value_cols=["v"])


def test_staging_dirs_unique_and_cleaned(spark):
    """ADVICE r4: materialization boundaries must not leak staging dirs
    across invocations; paths are unique per call and cleanup_staged()
    (also registered atexit) removes everything this process reserved,
    stage() output included."""
    import os

    from wikicrawler_spark import staging

    a = staging.stage_dir("wcs_test_stage")
    b = staging.stage_dir("wcs_test_stage")
    assert a != b  # a second invocation can't overwrite the first
    os.makedirs(a, exist_ok=True)
    os.makedirs(b, exist_ok=True)
    with open(os.path.join(a, "part-0"), "w") as f:
        f.write("x")
    df = spark.createDataFrame([(1, "x"), (2, None)], "k long, v string")
    staged = staging.stage(df, "wcs_test_stage")
    assert sorted(staged.collect()) == sorted(df.collect())
    path = staging._STAGED[-1]
    assert path not in (a, b) and os.path.isdir(path)
    assert staged.inputFiles() and all(path in f for f in staged.inputFiles())
    staging.cleanup_staged()
    assert not any(os.path.exists(p) for p in (a, b, path))
    assert staging._STAGED == []
