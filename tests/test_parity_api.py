"""Reference-API parity tests: page-dict view, search routing, autosearch
chain, markdown/media sinks, state persistence (SURVEY.md §2.1/§2.4)."""

from __future__ import annotations

import pytest

from wikicrawler_spark import corpus
from wikicrawler_spark.kernel import extract_doc, extract_spans
from wikicrawler_spark.page_view import page_view
from wikicrawler_spark.sinks import (
    markdown_doc,
    markdown_export,
    media_manifest,
    read_state,
    write_state,
)
from wikicrawler_spark.traversal import autosearch, found, is_disambiguation, search


@pytest.fixture(scope="module")
def spans_df(spark):
    docs = corpus.tiny_corpus()
    df = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
        schema=corpus.DOC_SCHEMA,
    )
    return extract_spans(df).localCheckpoint()


def test_page_view_shape_and_values(spark, spans_df):
    rows = {r["doc_id"]: r for r in page_view(spans_df).collect()}
    d = corpus.generate_doc("see_also_refs", 0)
    spans = extract_doc(d["doc_id"], d["spans"])
    r = rows[d["doc_id"]]
    assert r["url"] == "https://en.wikipedia.org/" + d["doc_id"]
    assert r["title"] == next(s["text"] for s in spans if s["kind"] == "title")
    assert list(r["paragraphs"]) == [s["text"] for s in spans if s["kind"] == "paragraph"]
    want_sa = {s["text"]: s["media_ref"] for s in spans if s["kind"] == "see_also"}
    assert dict(r["see_also"]) == want_sa
    want_refs = {s["text"]: s["media_ref"] for s in spans if s["kind"] == "reference"}
    assert dict(r["references"]) == want_refs
    # media doc: ordered refs incl. duplicates
    m = corpus.generate_doc("media_interleaved", 1)
    mspans = extract_doc(m["doc_id"], m["spans"])
    assert list(rows[m["doc_id"]]["media"]) == [
        s["media_ref"] for s in mspans if s["kind"] == "media"
    ]


def test_search_direct_and_title_match(spark, spans_df):
    direct = search(spans_df, "Sections 1").collect()
    assert len(direct) == 1 and direct[0]["via"] == "direct"
    assert direct[0]["doc_id"] == "wiki/sections_000001"

    matches = search(spans_df, "basic article").collect()
    assert matches and all(r["via"] == "title_match" for r in matches)
    assert matches[0]["rank"] == 1

    nothing = search(spans_df, "zzz-not-there").collect()
    assert nothing == []


def test_search_disambig_routing(spark, spans_df):
    res = search(spans_df, "Disambig 0").collect()
    assert res and all(r["via"] == "disambig" for r in res)
    # results are the disambiguation page's outgoing links
    d = corpus.generate_doc("disambig", 0)
    want_titles = {s["text"] for s in extract_doc(d["doc_id"], d["spans"])
                   if s["kind"] == "link"}
    assert {r["title"] for r in res} <= want_titles | set()


def test_found_offset(spark, spans_df):
    res = search(spans_df, "basic article")
    r0 = found(res, 0).collect()[0]
    r1 = found(res, 1).collect()[0]
    assert r0["rank"] == 1 and r1["rank"] == 2


def test_is_disambiguation(spark, spans_df):
    flags = {r["doc_id"]: r["is_disambig"]
             for r in is_disambiguation(spans_df).collect()}
    assert flags["wiki/disambig_000000"] is True
    assert flags["wiki/basic_article_000000"] is False


def test_autosearch_chain(spark, spans_df):
    res = autosearch(spark, spans_df, "wiki/basic_article_000000", n=3)
    assert len(res.hops) == 3
    assert res.hops[0].doc_id == "wiki/basic_article_000000"
    assert res.hops[0].top_word is not None
    # chain never revisits
    ids = [h.doc_id for h in res.hops]
    assert len(ids) == len(set(ids))
    # deterministic
    res2 = autosearch(spark, spans_df, "wiki/basic_article_000000", n=3)
    assert [h.doc_id for h in res2.hops] == ids


def test_markdown_doc_shape(spark, spans_df):
    rows = {r["doc_id"]: r["markdown"] for r in markdown_doc(spans_df).collect()}
    md = rows["wiki/basic_article_000000"]
    assert md.startswith("# Basic Article 0\n## Paragraphs\n")
    assert "### frequencies" in md and "### collocations" in md


def test_markdown_export_and_manifest(spark, spans_df, tmp_path):
    out = str(tmp_path / "md")
    markdown_export(spans_df, out, buckets=4)
    back = spark.read.text(out).collect()
    assert back and any("# Basic Article 0" in r["value"] for r in back)

    man = media_manifest(spans_df).collect()
    assert man and all(r["media_ref"] for r in man)
    m = corpus.generate_doc("media_interleaved", 0)
    want = [s["media_ref"] for s in extract_doc(m["doc_id"], m["spans"])
            if s["kind"] == "media"]
    got = [r["media_ref"] for r in sorted(
        (x for x in man if x["doc_id"] == m["doc_id"]), key=lambda r: r["seq"])]
    assert got == want


def test_state_roundtrip(tmp_path):
    p = str(tmp_path / "state" / "pointer.json")
    assert read_state(p) is None
    write_state(p, {"most_similar_colloc": "star cluster", "wave": 3})
    assert read_state(p) == {"most_similar_colloc": "star cluster", "wave": 3}
