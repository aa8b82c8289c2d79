"""Golden span-sequence tests — the BASELINE.json contract:
per-document span-sequence equality on (kind, text, media_ref, order).

Two layers:
  1. Hand-pinned literals (independent of BOTH implementations) for the
     cited paragraph/link/first-only/title rules.
  2. Full tiny-corpus cross-check of the Spark kernel against the
     independent stdlib-html.parser oracle (tests/oracle_extractor.py).
"""

from __future__ import annotations

import os

import pytest

from wikicrawler_spark import corpus
from wikicrawler_spark.kernel import extract_doc, extract_spans

from oracle_extractor import oracle_extract


def spans_of(pairs):
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": i}
        for i, (k, t, r) in enumerate(pairs)
    ]


def html_doc(*fragments):
    return [
        {"kind": "html", "text": f, "media_ref": None, "offset": i}
        for i, f in enumerate(fragments)
    ]


OPEN = '<div id="mw-content-text"><div class="mw-parser-output">'
CLOSE = "</div></div>"
WIKI = "https://en.wikipedia.org"


# ---------------------------------------------------------- hand-pinned

def test_paragraph_drop_rule():
    # grabber.py:221: '' and '\n' dropped, ' ' kept
    doc = html_doc(
        '<h1 id="firstHeading">T</h1>', OPEN,
        "<p>alpha beta.</p>", "<p></p>", "<p>\n</p>", "<p> </p>", CLOSE,
    )
    got = extract_doc("wiki/X", doc)
    assert got == spans_of([
        ("title", "T", None),
        ("paragraph", "alpha beta.", None),
        ("paragraph", " ", None),
    ])


def test_paragraph_links_rule():
    # grabber.py:224-225: '/wiki' prefix only, absolutized; get_text keeps
    # the anchor text inside the paragraph
    doc = html_doc(
        '<h1 id="firstHeading">T</h1>', OPEN,
        '<p>See <a href="/wiki/Star">the star</a> and '
        '<a href="https://other.org/x">ext</a>.</p>',
        CLOSE,
    )
    got = extract_doc("wiki/X", doc)
    assert got == spans_of([
        ("title", "T", None),
        ("paragraph", "See the star and ext.", None),
        ("link", "the star", WIKI + "/wiki/Star"),
    ])


def test_hrefless_anchor_divergence():
    # reference aborts the whole loop (grabber.py:226); our pinned
    # divergence guards per-anchor and keeps extracting (FIXTURES edge_cases)
    doc = html_doc(
        '<h1 id="firstHeading">T</h1>', OPEN,
        '<p>a <a>nohref</a> <a href="/wiki/B">b</a></p>',
        "<p>second</p>",
        CLOSE,
    )
    got = extract_doc("wiki/X", doc)
    kinds = [(s["kind"], s["text"]) for s in got]
    assert ("link", "b") in kinds
    assert ("paragraph", "second") in kinds


def test_first_divcol_and_references_only():
    # grabber.py:261,286: select(...)[0] — first block only
    doc = html_doc(
        '<h1 id="firstHeading">T</h1>', OPEN,
        '<div class="div-col"><a href="/wiki/A" title="A">a</a></div>',
        '<div class="div-col"><a href="/wiki/B" title="B">b</a></div>',
        '<ol class="references"><li><a class="external" href="http://e/1">r1</a></li></ol>',
        '<ol class="references"><li><a class="external" href="http://e/2">r2</a></li></ol>',
        CLOSE,
    )
    got = extract_doc("wiki/X", doc)
    sa = [s for s in got if s["kind"] == "see_also"]
    refs = [s for s in got if s["kind"] == "reference"]
    assert [(s["text"], s["media_ref"]) for s in sa] == [("A", WIKI + "/wiki/A")]
    assert [(s["text"], s["media_ref"]) for s in refs] == [("r1", "http://e/1")]


def test_see_also_titleless_skipped():
    doc = html_doc(
        '<h1 id="firstHeading">T</h1>', OPEN,
        '<div class="div-col">'
        '<a href="/wiki/A" title="A">a</a>'
        '<a href="/wiki/B">no title</a>'
        '<a href="/wiki/C" title="C">c</a></div>',
        CLOSE,
    )
    got = extract_doc("wiki/X", doc)
    sa = [(s["text"]) for s in got if s["kind"] == "see_also"]
    assert sa == ["A", "C"]


def test_toc_split_rule():
    # grabber.py:242: '<num> <name>'.split(' ', 1); url = page.url + href
    doc = html_doc(
        '<h1 id="firstHeading">T</h1>', OPEN,
        '<div id="toc"><ul>'
        '<li><a href="#h">1 History</a></li>'
        '<li><a href="#e">2.1 Early years</a></li>'
        "</ul></div>",
        CLOSE,
    )
    got = extract_doc("wiki/Star", doc)
    toc = [(s["text"], s["media_ref"]) for s in got if s["kind"] == "toc"]
    assert toc == [
        ("History", WIKI + "/wiki/Star#h"),
        ("Early years", WIKI + "/wiki/Star#e"),
    ]


def test_boilerplate_never_leaks():
    doc = html_doc(
        '<div id="mw-navigation"><p>nav para</p></div>',
        "<p>outside scope</p>",
        '<h1 id="firstHeading">T</h1>',
        OPEN,
        "<p>real content here</p>",
        '<p class="navbox"><a href="/wiki/A">a</a><a href="/wiki/B">b</a></p>',
        CLOSE,
        "<footer><p>footer</p></footer>",
    )
    got = extract_doc("wiki/X", doc)
    paras = [s["text"] for s in got if s["kind"] == "paragraph"]
    assert paras == ["real content here"]
    assert not [s for s in got if s["kind"] == "link"]


def test_media_interleaving_and_duplicates():
    ref1 = "https://upload.wikimedia.org/a.png"
    doc = [
        {"kind": "html", "text": '<h1 id="firstHeading">T</h1>', "media_ref": None, "offset": 0},
        {"kind": "html", "text": OPEN, "media_ref": None, "offset": 1},
        {"kind": "html", "text": "<p>one</p>", "media_ref": None, "offset": 2},
        {"kind": "media", "text": "cap", "media_ref": ref1, "offset": 3},
        {"kind": "html", "text": "<p>two</p>", "media_ref": None, "offset": 4},
        {"kind": "media", "text": None, "media_ref": ref1, "offset": 5},
        {"kind": "html", "text": CLOSE, "media_ref": None, "offset": 6},
    ]
    got = extract_doc("wiki/X", doc)
    assert got == spans_of([
        ("title", "T", None),
        ("paragraph", "one", None),
        ("media", "cap", ref1),
        ("paragraph", "two", None),
        ("media", None, ref1),  # duplicate kept, document order
    ])


def test_disambig_links_gated_on_category():
    body = [
        '<h1 id="firstHeading">T</h1>', OPEN,
        '<ul><li><a href="/wiki/A" title="A">a</a></li></ul>', CLOSE,
    ]
    cat_dis = ('<div id="catlinks" class="catlinks">'
               '<a href="/wiki/Category:Disambiguation_pages" '
               'title="Category:Disambiguation pages">d</a></div>')
    cat_norm = ('<div id="catlinks" class="catlinks">'
                '<a href="/wiki/Category:Stars" title="Category:Stars">s</a></div>')
    with_dis = extract_doc("wiki/X", html_doc(*body, cat_dis))
    without = extract_doc("wiki/X", html_doc(*body, cat_norm))
    assert [s["text"] for s in with_dis if s["kind"] == "link"] == ["A"]
    assert not [s for s in without if s["kind"] == "link"]
    assert [s["text"] for s in without if s["kind"] == "category"] == ["Category:Stars"]


def test_empty_doc():
    assert extract_doc("wiki/X", []) == []


def test_offsets_dense():
    doc = corpus.generate_doc("sections", 1)
    got = extract_doc(doc["doc_id"], doc["spans"])
    assert [s["offset"] for s in got] == list(range(len(got)))


def test_latex_conversion_gated():
    doc = html_doc(
        '<h1 id="firstHeading">T</h1>', OPEN,
        "<p>x \\alpha \\frac{1}{2} y</p>", CLOSE,
    )
    plain = extract_doc("wiki/X", doc, latex=False)
    conv = extract_doc("wiki/X", doc, latex=True)
    assert plain[1]["text"] == "x \\alpha \\frac{1}{2} y"
    assert conv[1]["text"] == "x α 1/2 y"


# ------------------------------------------------- oracle cross-check

@pytest.mark.parametrize("family", corpus.FAMILIES)
def test_kernel_matches_oracle_pure(family):
    n = 5 if family not in ("hot_skew",) else 3
    n_total = corpus.LINK_GRAPH_N if family == "link_graph" else 50
    for i in range(n):
        doc = corpus.generate_doc(family, i, n_total=n_total)
        got = extract_doc(doc["doc_id"], doc["spans"])
        want = oracle_extract(doc["doc_id"], doc["spans"])
        assert got == want, f"{doc['doc_id']}: kernel != oracle"


def test_kernel_matches_oracle_latex():
    doc = corpus.generate_doc("latex_math", 0)
    got = extract_doc(doc["doc_id"], doc["spans"], latex=True)
    want = oracle_extract(doc["doc_id"], doc["spans"], latex=True)
    assert got == want


# ------------------------------------------------- Spark end-to-end

def test_spark_kernel_equals_oracle(spark):
    docs = corpus.tiny_corpus()
    df = spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
        schema=corpus.DOC_SCHEMA,
    )
    out = {
        r["doc_id"]: [row.asDict() for row in r["spans"]]
        for r in extract_spans(df).collect()
    }
    assert len(out) == len(docs)
    for d in docs:
        want = oracle_extract(d["doc_id"], d["spans"])
        got = sorted(out[d["doc_id"]], key=lambda s: s["offset"])
        assert got == want, f"{d['doc_id']} diverged in Spark"


def test_spark_partitioning_invariance(spark):
    """Span sequences must not depend on input partitioning (SURVEY §4.3)."""
    docs = corpus.tiny_corpus()
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    outs = []
    for parts in (1, 7):
        df = spark.createDataFrame(rows, schema=corpus.DOC_SCHEMA).repartition(parts)
        outs.append({
            r["doc_id"]: [tuple(row) for row in r["spans"]]
            for r in extract_spans(df).collect()
        })
    assert outs[0] == outs[1]


@pytest.fixture(scope="module")
def shuffled_corpus(spark, tmp_path_factory):
    """The tiny corpus as 5 parquet files, about half its docs with their
    spans in shuffled order, plus the declarative extraction of it."""
    import random

    docs = corpus.tiny_corpus()
    rng = random.Random(7)
    rows = []
    for d in docs:
        spans = [tuple(s.values()) for s in d["spans"]]
        if rng.random() < 0.5:
            rng.shuffle(spans)  # out-of-order offsets: forces the sort path
        rows.append((d["doc_id"], spans))
    path = str(tmp_path_factory.mktemp("fused") / "corpus")
    spark.createDataFrame(rows, schema=corpus.DOC_SCHEMA) \
        .repartition(5).write.parquet(path)
    std = {r["doc_id"]: [tuple(s) for s in r["spans"]]
           for r in extract_spans(spark.read.parquet(path)).collect()}
    return path, std


@pytest.mark.parametrize("num_tasks", [1, 3, 5, 8, None])
def test_extract_from_parquet_equals_extract_spans(spark, shuffled_corpus,
                                                   num_tasks):
    """The scan-fused path (row-group splits read by pyarrow inside the
    Arrow workers) must produce byte-identical spans to the declarative
    spark.read.parquet -> extract_spans path, including across a shuffled
    span order (the fused kernel's sortedness fast path must not change
    results) and multi-file corpora, with fewer, as many and more tasks
    than splits."""
    from wikicrawler_spark.kernel import extract_from_parquet

    path, std = shuffled_corpus
    fused = {r["doc_id"]: [tuple(s) for s in r["spans"]]
             for r in extract_from_parquet(spark, path,
                                           num_tasks=num_tasks).collect()}
    assert fused == std


def test_extract_from_parquet_empty_corpus(spark, tmp_path):
    """A corpus directory written from a 0-row frame has no splits and
    returns an empty frame of the extraction schema."""
    from wikicrawler_spark.kernel import extract_from_parquet

    path = str(tmp_path / "empty")
    spark.createDataFrame([], corpus.DOC_SCHEMA).write.parquet(path)
    out = extract_from_parquet(spark, path, num_tasks=4)
    assert out.count() == 0
    assert out.schema == extract_spans(spark.read.parquet(path)).schema


def test_extract_from_parquet_balanced_placement(spark, tmp_path):
    """Four equal single-row-group files on four tasks: each task reads
    exactly one file, and the plan has no shuffle."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from wikicrawler_spark.kernel import extract_from_parquet

    path = str(tmp_path / "corpus")
    corpus.corpus_df(spark, 400, partitions=4).write.parquet(path)
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    file_rows = []
    for f in files:
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        assert md.num_row_groups == 1
        file_rows.append(md.num_rows)
    assert file_rows == [100] * 4

    out = extract_from_parquet(spark, path, num_tasks=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    per_task = dict(out.groupBy(F.spark_partition_id().alias("p"))
                    .count().collect())
    assert [per_task.get(p, 0) for p in range(4)] == file_rows


def test_latex_converter_extended_grammar():
    """Pinned conversions for the round-2 grammar extensions (reference
    pipes paragraphs through pylatexenc, grabber.py:177-180)."""
    from wikicrawler_spark.latexconv import latex_to_text as lt

    assert lt("a \\text{plain words} b") == "a plain words b"
    assert lt("\\mathrm{proof} and \\operatorname{argmax}") == "proof and argmax"
    assert lt("\\sqrt{x}") == "√(x)"
    assert lt("\\sqrt{\\frac{1}{2}}") == "√(1/2)"
    assert lt("mv^2 and x^{10}") == "mv² and x¹⁰"
    assert lt("x_i + y_{2}") == "xᵢ + y₂"
    assert lt("z^\\alpha stays") == "z^α stays"  # unmapped: marker kept
    assert lt("\\begin{equation}E = mc^2\\end{equation}") == "E = mc²"
    # r3: matrix-family environments render alignment ('&' -> ' ',
    # '\\\\' -> '; ', delimiter wrap per family) instead of the r2
    # leave-as-is divergence
    assert lt("\\begin{matrix}a & b\\end{matrix}") == "a b"
    assert lt("\\begin{pmatrix} a & b \\\\ c & d \\end{pmatrix}") \
        == "(a b; c d)"
    assert lt("\\begin{bmatrix}1&0\\\\0&1\\end{bmatrix}") == "[1 0; 0 1]"
    assert lt("\\begin{vmatrix}x\\end{vmatrix}") == "|x|"
    assert lt("\\sqrt[3]{x}") == "3√(x)"          # optional-arg root (r3)
    # cases renders rows/cols but no brace delimiter (the global brace
    # strip would delete it)
    assert lt("\\begin{cases}x & x>0 \\\\ 0 & else\\end{cases}") \
        == "x x>0; 0 else"
    assert lt("\\frac{a^{2}}{b}") == "a²/b"       # script-in-arg nesting (r3)
    # nested same-family matrices pair innermost-first (ADVICE r3 -> r4:
    # fixpoint loop + lookahead body; the old non-greedy body paired the
    # outer \begin with the INNER \end and left an orphan \end)
    assert lt("\\begin{pmatrix} a & \\begin{pmatrix} x \\\\ y "
              "\\end{pmatrix} \\\\ c & d \\end{pmatrix}") \
        == "(a (x; y); c d)"
    assert lt("\\begin{cases}x & \\begin{vmatrix}m\\end{vmatrix}"
              "\\end{cases}") == "x |m|"
    assert lt("no latex here") == "no latex here"


def test_latex_family_roundtrip():
    doc = corpus.generate_doc("latex_math", 0)
    got = extract_doc(doc["doc_id"], doc["spans"], latex=True)
    paras = [s["text"] for s in got if s["kind"] == "paragraph"]
    joined = " ".join(paras)
    assert "\\" not in joined and "{" not in joined
    assert "√(xᵢ)" in joined          # \sqrt{x_i}
    assert "mv²" in joined                 # mv^2
    assert "kinetic" in joined                  # \text{}
    assert "E = mc²" in joined             # environment-as-noop
