"""Plan-shape regression tests: the physical-plan properties PLANS.md
claims, pinned as assertions so a refactor can't silently reintroduce a
shuffle/subtree-duplication regression. Counts use the pre-execution
executedPlan of the same session config the suite runs everywhere."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _counts(df):
    p = _plan(df)
    return {
        "exchange": p.count("Exchange"),
        "broadcast": p.count("BroadcastExchange"),
        "python": (p.count("MapInPandas") + p.count("MapInArrow")
                   + p.count("ArrowEvalPython")),
    }


@pytest.fixture(scope="module")
def q(spark):
    import __spark_entry__ as entrymod

    return {name: fn(spark, SF_DIR) for name, fn in entrymod.queries().items()
            if name in ("word_freq", "bigram_collocations",
                        "trigram_collocations", "pdf_layout_spans",
                        "extract_titles")}


def test_extraction_has_no_shuffle(spark):
    from wikicrawler_spark import corpus
    from wikicrawler_spark.kernel import extract_spans

    c = _counts(extract_spans(corpus.corpus_df(spark, 50)))
    assert c["exchange"] == 0
    assert c["python"] >= 1  # the kernel itself


def test_collocations_single_exchange(q):
    """The window-marginal formulation: ONE exchange for bigrams AND
    trigrams (the 4-scan join formulation had 4; see PLANS.md)."""
    for name in ("word_freq", "bigram_collocations", "trigram_collocations"):
        c = _counts(q[name])
        assert c["exchange"] == 1, (name, c)
        assert c["python"] == 0, (name, c)


def test_layout_classifier_shape(q):
    """Window formulation: <= 3 exchanges and no blocks-subtree
    triplication (the join-back formulation had 13; see PLANS.md).
    Python stages: 0 — this query synthesizes blocks natively."""
    c = _counts(q["pdf_layout_spans"])
    assert c["exchange"] <= 4, c
    assert c["python"] == 0, c


def test_extract_query_python_stage_count(q):
    """One fused kernel crossing; no stray per-row Python."""
    assert _counts(q["extract_titles"])["python"] <= 2


def test_training_corpus_kernel_runs_once(spark):
    """The extraction body is staged (staging.stage): the kernel runs once,
    inside the stage write, and the returned plan scans the staged parquet
    with no MapInArrow left in it. Without the boundary the kernel subtree
    re-ran once per downstream branch (11 times in the r4 audit)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["training_corpus"](spark, SF_DIR)
    assert "MapInArrow" not in _plan(df)


def test_mixing_op_plan_shapes(spark):
    """Training-mix ops (PLANS.md 'Training-mix assembly'): sampling is a
    pure narrow filter (ZERO exchanges), packing pays exactly ONE shuffle
    into its applyInPandas stage, contamination broadcasts the benchmark
    side (corpus side never hash-shuffles into the join)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    c = _counts(qs["stratified_sample"](spark, SF_DIR))
    assert c == {"exchange": 0, "broadcast": 0, "python": 0}, c

    p = _plan(qs["pack_sequences"](spark, SF_DIR))
    assert p.count("Exchange") == 1, p.count("Exchange")
    assert "FlatMapGroupsInPandas" in p

    c = _counts(qs["contamination_check"](spark, SF_DIR))
    assert c["broadcast"] >= 2, c  # bench grams + bench sizes
    # corpus side reaches the join without a hash exchange: total
    # non-broadcast exchanges are the two aggregations + two _spread
    # round-robins, never a corpus-side join repartition
    assert c["exchange"] - c["broadcast"] <= 5, c

    c = _counts(qs["mix_weights"](spark, SF_DIR))
    assert c["broadcast"] == 1 and c["python"] == 0, c


def test_repetition_scores_zero_exchange(spark):
    """r4 one-pass formulation: the token mode is the longest equal-run in
    the sorted token array (single F.aggregate scan), so the whole query is
    one narrow projection — ZERO exchanges, no join, no Python stage (the
    old explode + two-groupBy + join plan had 3 exchanges AND tokenized the
    text twice across un-CSE'd branches)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["repetition_scores"](spark, SF_DIR)
    c = _counts(df)
    assert c == {"exchange": 0, "broadcast": 0, "python": 0}, c
    # one tokenize: the split() appears exactly once in the optimized plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") <= 1, opt.count("split(")


def test_bm25_plan_shape(spark):
    """BM25: term filter sits under the postings aggregation (shuffle
    carries matching postings only), df/stats joins are broadcasts, no
    Python stage anywhere."""
    import __spark_entry__ as entrymod

    c = _counts(entrymod.queries()["bm25_search"](spark, SF_DIR))
    assert c["python"] == 0, c
    assert c["broadcast"] >= 2, c
