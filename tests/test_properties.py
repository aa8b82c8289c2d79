"""Property-based kernel invariants (SURVEY.md §5.2 item 5) — pure-python
``extract_doc`` (the per-document form of the mapInArrow kernel), so
hypothesis can explore thousands of documents without Spark overhead.

Invariants:
  * never crashes, on fixture-grammar docs OR on hostile random markup
  * offsets are dense 0..n-1
  * every link/see_also span's media_ref is an absolute wiki URL
  * deterministic (same input -> same output), input-span-offset driven
    (shuffling the input array order does not change output)
  * output kinds ⊆ the declared vocabulary
"""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from wikicrawler_spark import corpus
from wikicrawler_spark.kernel import extract_doc
from wikicrawler_spark.schemas import OUTPUT_KINDS

FAMS = st.sampled_from([f for f in corpus.FAMILIES if f != "link_graph"])


@given(family=FAMS, index=st.integers(0, 500), seed=st.integers(0, 10))
@settings(max_examples=120, deadline=None)
def test_fixture_docs_invariants(family, index, seed):
    doc = corpus.generate_doc(family, index, seed=seed, n_total=1000)
    out = extract_doc(doc["doc_id"], doc["spans"])
    assert [s["offset"] for s in out] == list(range(len(out)))
    for s in out:
        assert s["kind"] in OUTPUT_KINDS
        if s["kind"] == "link" and s["media_ref"] and s["media_ref"].startswith("http"):
            assert s["media_ref"].startswith("https://en.wikipedia.org/wiki")
        if s["kind"] == "see_also":
            assert s["media_ref"].startswith("https://en.wikipedia.org/wiki")
    # deterministic
    assert out == extract_doc(doc["doc_id"], doc["spans"])


@given(family=FAMS, index=st.integers(0, 100), shuffle_seed=st.integers(0, 99))
@settings(max_examples=60, deadline=None)
def test_input_order_comes_from_offsets(family, index, shuffle_seed):
    doc = corpus.generate_doc(family, index, n_total=200)
    base = extract_doc(doc["doc_id"], doc["spans"])
    shuffled = list(doc["spans"])
    random.Random(shuffle_seed).shuffle(shuffled)
    assert extract_doc(doc["doc_id"], shuffled) == base


_tag = st.sampled_from(["p", "div", "a", "h2", "span", "table", "li", "x"])
_word = st.text(alphabet="abcdef <>&\"'/=", min_size=0, max_size=12)


@st.composite
def hostile_fragment(draw):
    parts = []
    for _ in range(draw(st.integers(1, 6))):
        kind = draw(st.integers(0, 3))
        t = draw(_tag)
        if kind == 0:
            parts.append(f"<{t}>")
        elif kind == 1:
            parts.append(f"</{t}>")
        elif kind == 2:
            parts.append(draw(_word))
        else:
            parts.append(f'<{t} href="{draw(_word)}" class="{draw(_word)}">')
    return "".join(parts)


@given(frags=st.lists(hostile_fragment(), min_size=0, max_size=8),
       data=st.data())
@settings(max_examples=120, deadline=None)
def test_hostile_markup_never_crashes(frags, data):
    spans = []
    for i, f in enumerate(frags):
        kind = data.draw(st.sampled_from(["html", "text", "media"]))
        spans.append({
            "kind": kind,
            "text": f if kind != "media" else None,
            "media_ref": "https://x/y.png" if kind == "media" else None,
            "offset": i,
        })
    out = extract_doc("wiki/hostile", spans)
    assert [s["offset"] for s in out] == list(range(len(out)))
    assert all(s["kind"] in OUTPUT_KINDS for s in out)
    assert out == extract_doc("wiki/hostile", spans)


@given(family=FAMS, index=st.integers(0, 200), seed=st.integers(0, 5))
@settings(max_examples=100, deadline=None)
def test_fast_paragraph_path_equals_tree_path(family, index, seed):
    """The <p> fast path must be byte-identical to the tree path."""
    from wikicrawler_spark import kernel

    doc = corpus.generate_doc(family, index, seed=seed, n_total=500)
    try:
        kernel.FAST_PARAGRAPH_PATH = True
        fast = extract_doc(doc["doc_id"], doc["spans"])
        kernel.FAST_PARAGRAPH_PATH = False
        tree = extract_doc(doc["doc_id"], doc["spans"])
    finally:
        kernel.FAST_PARAGRAPH_PATH = True
    assert fast == tree


@st.composite
def fastpath_fragment(draw):
    """Fragments aimed at the heading/anchor fast paths and their fallback
    boundaries: h1-h6 / a / p with optional id/class/title/href attrs,
    self-closing tails, entities, nesting, and scope open/close around."""
    tag = draw(st.sampled_from(["h1", "h2", "h6", "a", "p", "hr"]))
    attrs = []
    if draw(st.booleans()):
        attrs.append(draw(st.sampled_from(
            ['id="firstHeading"', 'id="catlinks"', 'id="toc"', 'id="x"'])))
    if draw(st.booleans()):
        attrs.append('class="%s"' % draw(st.sampled_from(
            ["image", "navbox", "references", "div-col", "external",
             "mw-search-results", "plain wikitable"])))
    if draw(st.booleans()):
        attrs.append('href="%s"' % draw(st.sampled_from(
            ["/wiki/X", "/wiki/File:I.jpg", "http://e/x", ""])))
    if draw(st.booleans()):
        attrs.append('title="T%d"' % draw(st.integers(0, 3)))
    raw = (" " + " ".join(attrs)) if attrs else ""
    if draw(st.booleans()):
        raw += draw(st.sampled_from(["/", " /"]))
    inner = draw(st.sampled_from(
        ["", "plain text", "a &amp; b", "x<a href=\"/wiki/Y\" title=\"Y\">y</a>z",
         "<b>bold</b>", "\n"]))
    close = draw(st.sampled_from([f"</{tag}>", "", "</div>"]))
    return f"<{tag}{raw}>{inner}{close}"


@given(frags=st.lists(st.one_of(fastpath_fragment(), hostile_fragment()),
                      min_size=1, max_size=8),
       opens=st.booleans())
@settings(max_examples=200, deadline=None)
def test_fast_paths_equal_tree_on_adversarial_fragments(frags, opens):
    """All three fast paths (paragraph, heading, anchor) must be
    byte-identical to the tree path on adversarial fragments, including
    inside/outside content scope."""
    from wikicrawler_spark import kernel

    spans = []
    off = 0
    if opens:
        spans.append({"kind": "html", "media_ref": None, "offset": 0,
                      "text": '<div id="mw-content-text">'
                              '<div class="mw-parser-output">'})
        off = 1
    for i, f in enumerate(frags):
        spans.append({"kind": "html", "text": f, "media_ref": None,
                      "offset": off + i})
    try:
        kernel.FAST_PARAGRAPH_PATH = True
        fast = extract_doc("wiki/adv", spans)
        kernel.FAST_PARAGRAPH_PATH = False
        tree = extract_doc("wiki/adv", spans)
    finally:
        kernel.FAST_PARAGRAPH_PATH = True
    assert fast == tree


@st.composite
def container_fragment(draw):
    """Opener/closer container runs aimed at the fragment memo's classifier
    boundaries: multi-tag openers, scope classes, void/self-closing traps,
    whitespace in closers, mixed open+close (must fall back)."""
    kind = draw(st.integers(0, 3))
    tags = draw(st.lists(st.sampled_from(
        ["div", "span", "ol", "ul", "br", "img"]), min_size=1, max_size=3))
    def opener(t):
        a = draw(st.sampled_from(
            ["", ' class="mw-parser-output"', ' id="mw-content-text"',
             ' class="x y"', ' class="mw-parser-output" id="z"', " ", "/"]))
        return f"<{t}{a}>"
    if kind == 0:
        return "".join(opener(t) for t in tags)
    if kind == 1:
        return "".join(f"</{t}{draw(st.sampled_from(['', ' ']))}>" for t in tags)
    if kind == 2:  # mixed: classifier must reject
        return opener(tags[0]) + "x" + f"</{tags[0]}>"
    return f"</{tags[0]}>" + opener(tags[0])


@given(frags=st.lists(st.one_of(container_fragment(), fastpath_fragment(),
                                hostile_fragment()),
                      min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_memo_equals_python_tokenizer(frags):
    """The round-3 container-fragment memo must be byte-identical to the
    plain python tokenizer on adversarial fragment streams (including
    parser STATE: open-container stack + scope count, which outlive the
    fragment)."""
    from wikicrawler_spark import html_tokenizer as H

    def run():
        p = H.StreamParser()
        out = []
        for f in frags:
            for el, sc in p.feed(f):
                def ser(e):
                    if isinstance(e, str):
                        return e
                    return (e.tag, sorted(e.attrs.items()),
                            [ser(c) for c in e.children])
                out.append((ser(el), sc))
        out.append(("state", [(t, sorted(a.items())) for t, a in p._stack],
                    p._scope_count))
        return out

    try:
        H.CONTAINER_MEMO = False
        plain = run()
        H.CONTAINER_MEMO = True
        H._FRAG_MEMO.clear()
        memo = run()
        assert memo == plain
    finally:
        H.CONTAINER_MEMO = True


@st.composite
def paragraph_fragment(draw):
    """Fragments aimed at the paragraph fast path's acceptance boundary:
    every anchor-attr corner the python fast path's substring gates and
    _parse_attrs semantics create (spaced '=', data-* prefixes, duplicate
    attrs, empty hrefs, class-token variants), plus shapes that must be
    REJECTED into the tree path (extra p attrs, nested tags, unclosed
    anchors, self-closing tails, entities)."""
    cls = draw(st.sampled_from(
        ["", ' class="lead"', ' class="navbox"', ' class="a<b"',
         '  class="x y"', ' id="q"', ' class="lead" id="q"', ' ']))
    n_parts = draw(st.integers(0, 4))
    parts = []
    for _ in range(n_parts):
        kind = draw(st.integers(0, 3))
        if kind == 0:
            parts.append(draw(st.sampled_from(
                ["plain", " text ", "\n", "a > b", "x!", ""])))
        elif kind == 1:
            attrs = draw(st.sampled_from(
                ["", " ", ' href="/wiki/X"', ' href="/wiki/X" title="X"',
                 ' href="http://e/x"', ' href=""', ' href ="/wiki/Y"',
                 ' data-href="/wiki/Z"', ' class="image" href="/f.png"',
                 ' class ="image" href="/p.png"', ' data-class="image" href="/i.png"',
                 ' class="image"', ' href="/w" href="/wiki/D"',
                 ' class="x image y" href="/m.png"', ' title="class=" href="/wiki/T"']))
            atext = draw(st.sampled_from(["", "y", "link text", " s "]))
            parts.append(f"<a{attrs}>{atext}</a>")
        elif kind == 2:
            parts.append(draw(st.sampled_from(
                ["<b>bold</b>", "<a href='/q'>sq</a>", "<a/>", "<ax>y</ax>",
                 "<a href=\"/wiki/U\">unclosed", "</a>", "<a ><a>n</a></a>"])))
        else:
            parts.append(draw(st.sampled_from(["&amp;", "café", "\x1c"])))
    tail = draw(st.sampled_from(["</p>", "</p >", ""]))
    return f"<p{cls}>{''.join(parts)}{tail}"


@given(frags=st.lists(st.one_of(paragraph_fragment(), fastpath_fragment(),
                                hostile_fragment()),
                      min_size=1, max_size=6),
       opens=st.booleans())
@settings(max_examples=250, deadline=None)
def test_fast_paragraph_equals_tree_on_paragraph_fragments(frags, opens):
    """The python paragraph fast path must be byte-identical to the tree
    path on adversarial paragraph streams, in and out of content scope."""
    from wikicrawler_spark import kernel

    spans = []
    off = 0
    if opens:
        spans.append({"kind": "html", "media_ref": None, "offset": 0,
                      "text": '<div id="mw-content-text">'
                              '<div class="mw-parser-output">'})
        off = 1
    for i, f in enumerate(frags):
        spans.append({"kind": "html", "text": f, "media_ref": None,
                      "offset": off + i})

    try:
        kernel.FAST_PARAGRAPH_PATH = True
        fast = extract_doc("wiki/adv", spans)
        kernel.FAST_PARAGRAPH_PATH = False
        tree = extract_doc("wiki/adv", spans)
    finally:
        kernel.FAST_PARAGRAPH_PATH = True
    assert fast == tree
