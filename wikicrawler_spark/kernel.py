"""The vectorized extraction kernel.

One fused, Arrow-batched ``mapInArrow`` stage turns interleaved raw docs
``(doc_id, spans[kind∈{html,text,media}])`` into extracted span sequences
``(doc_id, spans[kind∈{title,paragraph,heading,link,media,wikitable,
see_also,toc,reference,category}])``.

Semantics reimplement the reference extractor (citations are to
/root/reference/src/wikicrawler/):

  title       core/grabber.py:188   first ``id="firstHeading"`` heading
  paragraph   core/grabber.py:219-222  every <p> under #mw-content-text
              .mw-parser-output; keep get_text() unless == '' or '\\n'
  link        core/grabber.py:224-225  per-<p> anchors with href^='/wiki';
              text -> 'https://en.wikipedia.org'+href. The reference aborts
              the whole paragraph loop on an href-less anchor (KeyError
              caught at :226); we deliberately guard per-anchor instead —
              divergence documented in FIXTURES.md 'edge_cases'.
  heading     core/grabber.py:50  header_regex '^h[1-6]$' is declared but
              never used by the reference; we implement it (north_star
              names heading extraction): h1-h6 in content scope.
  media       core/grabber.py:300-348  'a.image' anchors (whole page) plus
              pre-resolved kind='media' input spans; duplicates kept in
              document order (reference only skips already-downloaded paths).
  wikitable   north_star extension (absent from reference): tables with
              class 'wikitable'; serialized as rows joined by '\\n', cells
              by ' | '.
  see_also    core/grabber.py:275-298  FIRST '.div-col' only; anchors with
              href^='/wiki' AND a title attr (title-less skipped per-anchor).
  toc         core/grabber.py:231-247  '#toc' first block; each <li><a>
              label split(' ', 1) -> name; url = page.url + href.
  reference   core/grabber.py:249-273  FIRST '.references' only; per direct
              child tag the first 'a.external' (recursive).
  category    core/seeker.py:19-32  '#catlinks' anchors, title attr -> href.
  disambig    core/seeker.py:34-47,98-99  if any category title contains
              'Disambiguation', every content-scope anchor with a title
              attr and href^='/wiki/' is emitted as a link span
              (text=title, media_ref=relative href).
  search      core/seeker.py:49-68  '.mw-search-results' anchors with a
              title attr and href^='/wiki/' -> link spans, same shape.
  boilerplate core/grabber.py:214-217 (scope restriction) + an explicit
              link-density block classifier (readability/Boilerpipe-style):
              content-scope blocks whose link-text density exceeds
              LINK_DENSITY_MAX (e.g. navboxes) are dropped from paragraphs.

Canonical output order (SURVEY.md §1.3, pinned by goldens):
  title, body spans in document order (paragraph [+ its links], heading,
  media, wikitable, search-result links), disambiguation links, see_also,
  toc, reference, category. ``offset`` = dense 0-based index — computed
  here, never inferred from shuffle order.

No per-row Python UDFs: the only JVM↔Python crossing is this kernel's
Arrow batches.
"""

from __future__ import annotations

import os
import re
from typing import Iterable

from .html_tokenizer import Element, StreamParser, _parse_attrs
from .latexconv import latex_to_text
from .schemas import DOC_DDL

WIKI_BASE = "https://en.wikipedia.org"

# --- fast paragraph path -----------------------------------------------
# A self-contained <p> (optionally class-attributed) whose content is plain
# text and flat anchors, with no entities: handled by direct regex scanning
# instead of tree building. The guard set ("&"-free, pattern fullmatch)
# guarantees byte-identical output to the tree path; anything else falls
# back. Toggle for the equivalence property test.
FAST_PARAGRAPH_PATH = True
# class value excludes <> : the tree tokenizer splits fragments on '<'
# and bounds tags at the first '>', so a quoted value carrying either
# char parses as malformed markup there — the fast path must reject it
# the same way (r4 property-test find)
_FAST_P = re.compile(r'<p(?:\s+class="([^"<>]*)")?>(.*)</p>\Z', re.S)
_FAST_P_CONTENT = re.compile(r'(?:[^<]|<a(?:\s[^<>]*)?>[^<]*</a>)*\Z', re.S)
_FAST_A = re.compile(r"<a(\s[^<>]*)?>([^<]*)</a>", re.S)
# Sibling fast paths (same toggle, same byte-identical-or-fall-back rule):
# a self-contained heading / standalone anchor with tagless, entity-free
# content. [^<&]* forbids nested markup and entities; the trailing-'/'
# guard in the handlers rejects self-closing forms whose tree semantics
# differ ('<h2/>x</h2>' is an empty block + dropped text, not heading 'x').
_FAST_H = re.compile(r"<h([1-6])(\s[^<>]*)?>([^<&]*)</h\1>\Z")
_FAST_ANCHOR = re.compile(r"<a(\s[^<>]*)?>([^<&]*)</a>\Z")
# anchor classes whose tree-path handling goes beyond media/disambig —
# any hit falls back to the tree parser
_ANCHOR_SLOW_CLASSES = frozenset(
    {"references", "div-col", "mw-search-results", "navbox"})

# Link-density threshold for the explicit boilerplate classifier (E14).
# A <p> whose anchor text makes up more than this fraction of its total
# text is treated as navigation boilerplate. The reference achieves the
# same effect implicitly by scoping to .mw-parser-output; wiki-shaped
# fixture paragraphs stay far below this, navboxes far above.
LINK_DENSITY_MAX = 0.8


def _anchor_text_len(anchors) -> int:
    return sum(len(a.get_text()) for a in anchors)


def _serialize_wikitable(el: Element) -> str:
    rows = []
    for tr in el.find_all("tr"):
        cells = [c.get_text().strip() for c in tr.find_all(None) if c.tag in ("th", "td")]
        if cells:
            rows.append(" | ".join(cells))
    return "\n".join(rows)


def extract_doc(doc_id: str, spans: Iterable, *, latex: bool = False) -> list[dict]:
    """Extract one document. ``spans`` is an iterable of dicts/Rows with
    kind/text/media_ref/offset. Pure function — unit-testable without Spark."""

    def _get(s, k):
        return s[k] if isinstance(s, dict) else getattr(s, k)

    ordered = [
        (_get(s, "kind"), _get(s, "text"), _get(s, "media_ref"))
        for s in sorted(
            spans, key=lambda s: s["offset"] if isinstance(s, dict) else s.offset
        )
    ]
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": i}
        for i, (k, t, r) in enumerate(_extract_core(doc_id, ordered, latex))
    ]


def _extract_core(doc_id: str, ordered: Iterable, latex: bool = False) -> list[tuple]:
    """Core extraction over (kind, text, media_ref) tuples pre-sorted by
    offset (any single-pass iterable, e.g. a zip over flat Arrow columns).
    Returns output (kind, text, media_ref) tuples in canonical order;
    callers assign dense offsets by enumeration."""
    parser = StreamParser()

    title: str | None = None
    body: list[tuple[str, str | None, str | None]] = []  # (kind, text, media_ref)
    disambig_links: list[tuple[str, str]] = []  # (title_attr, relative href)
    see_also: list[tuple[str, str]] = []
    toc: list[tuple[str, str]] = []
    references: list[tuple[str, str]] = []
    categories: list[tuple[str, str]] = []
    seen_divcol = False
    seen_references = False
    seen_toc = False
    seen_catlinks = False

    page_url = WIKI_BASE + "/" + doc_id

    def handle_block(el: Element, in_scope: bool) -> None:
        nonlocal title, seen_divcol, seen_references, seen_toc, seen_catlinks
        tag = el.tag
        attrs = el.attrs
        el_id = attrs.get("id", "")
        classes = el.classes

        # title: reference searches the WHOLE page (grabber.py:188).
        if el_id == "firstHeading":
            if title is None:
                title = el.get_text()
            return

        # one subtree traversal for anchors, reused by every rule below
        anchors = ([el] if tag == "a" else []) + el.find_all("a")

        # media anchors: whole page, document order (grabber.py:320).
        for a in anchors:
            if "image" in a.classes:
                href = a.attrs.get("href")
                if href is not None:
                    cap = a.get_text()
                    body.append(("media", cap if cap else None,
                                 WIKI_BASE + "/" + href.lstrip("/")))

        # catlinks: whole page (seeker.py:27 uses page.find).
        if not seen_catlinks and el_id == "catlinks" and "catlinks" in classes:
            seen_catlinks = True
            for a in anchors:
                t = a.attrs.get("title")
                href = a.attrs.get("href")
                if t is not None and href is not None:
                    categories.append((t, href))
            return

        if not in_scope:
            return  # boilerplate: outside #mw-content-text .mw-parser-output

        if tag == "p":
            text = el.get_text()
            total = len(text)
            link_len = _anchor_text_len(anchors)
            # Boilerplate classification (E14): an explicit nav marker kills
            # the whole block; high link-text density only suppresses the
            # paragraph TEXT ("List of…" pages are link-dense but their
            # links still feed the crawl — grabber.py:224-225 collects
            # paragraph links for EVERY <p> regardless of text).
            is_nav = "navbox" in classes
            text_is_boiler = is_nav or (
                total > 0 and link_len / total > LINK_DENSITY_MAX
            )
            if not text_is_boiler and text != "" and text != "\n":
                body.append(("paragraph", latex_to_text(text) if latex else text, None))
            if not is_nav:
                for a in anchors:
                    href = a.attrs.get("href")
                    if href is not None and href.startswith("/wiki"):
                        body.append(("link", a.get_text(), WIKI_BASE + href))
        elif tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            body.append(("heading", el.get_text(), None))
        elif tag == "table" and "wikitable" in classes:
            body.append(("wikitable", _serialize_wikitable(el), None))
        elif el_id == "toc" and not seen_toc:
            seen_toc = True
            ul = el.find("ul")
            if ul is not None:
                for li in ul.find_all("li"):
                    a = li.find("a")
                    if a is None:
                        continue
                    label = a.get_text()
                    parts = label.split(" ", 1)
                    if len(parts) == 2:
                        name = parts[1]
                        href = a.attrs.get("href", "")
                        toc.append((name, page_url + href))
        elif "references" in classes and not seen_references:
            seen_references = True
            for child in el.direct_children_tags():
                link = None
                for a in child.find_all("a"):
                    if "external" in a.classes:
                        link = a
                        break
                if link is not None and "href" in link.attrs:
                    references.append((link.get_text(), link.attrs["href"]))
        elif "div-col" in classes and not seen_divcol:
            seen_divcol = True
            for a in anchors:
                href = a.attrs.get("href")
                if href is not None and href.startswith("/wiki"):
                    t = a.attrs.get("title")
                    if t is not None:  # title-less skipped (grabber.py:294-297)
                        see_also.append((t, WIKI_BASE + href))
        elif "mw-search-results" in classes:
            for a in anchors:
                href = a.attrs.get("href")
                t = a.attrs.get("title")
                if href is not None and href.startswith("/wiki/") and t is not None:
                    body.append(("link", t, href))
        elif "navbox" in classes:
            pass  # boilerplate block inside scope: dropped
        else:
            # Bare in-scope anchors (disambiguation pages list links outside
            # <p>, seeker.py:40-45) — also anchors nested in unclassified divs.
            for a in anchors:
                href = a.attrs.get("href")
                t = a.attrs.get("title")
                if href is not None and href.startswith("/wiki/") and t is not None:
                    disambig_links.append((t, href))

    def fast_paragraph(frag: str) -> bool:
        """Specialized handler for the dominant block shape: one <p> whose
        content is text + flat anchors, no entities. Semantically IDENTICAL
        to the tree path (handle_block's tag=='p' branch); proven by the
        fast-vs-tree property test. Returns False to fall back."""
        m = _FAST_P.match(frag)
        if not m or not _FAST_P_CONTENT.fullmatch(m.group(2)):
            return False
        classes = (m.group(1) or "").split()
        inner = m.group(2)
        in_scope = parser.in_content_scope
        pieces = []
        link_len = 0
        p_anchors = []  # (attrs, text)
        last = 0
        for am in _FAST_A.finditer(inner):
            pieces.append(inner[last:am.start()])
            atext = am.group(2)
            pieces.append(atext)
            link_len += len(atext)
            p_anchors.append((am.group(1) or "", atext))
            last = am.end()
        pieces.append(inner[last:])
        text = "".join(pieces)

        # media anchors are collected whether or not the block is in scope
        # (reference scans the whole page, grabber.py:320). Parse attrs
        # unconditionally (memoized): a substring pre-gate
        # ('class="' in rawattrs) would miss spaced '=' forms the tree
        # path's _parse_attrs accepts.
        for rawattrs, atext in p_anchors:
            attrs = _parse_attrs(rawattrs)
            if "image" in attrs.get("class", "").split():
                href = attrs.get("href")
                if href is not None:
                    body.append(("media", atext if atext else None,
                                 WIKI_BASE + "/" + href.lstrip("/")))
        if not in_scope:
            return True
        is_nav = "navbox" in classes
        total = len(text)
        text_is_boiler = is_nav or (total > 0 and link_len / total > LINK_DENSITY_MAX)
        if not text_is_boiler and text != "" and text != "\n":
            body.append(("paragraph", latex_to_text(text) if latex else text, None))
        if not is_nav:
            for rawattrs, atext in p_anchors:
                href = _parse_attrs(rawattrs).get("href")
                if href is not None and href.startswith("/wiki"):
                    body.append(("link", atext, WIKI_BASE + href))
        return True

    def fast_heading(frag: str) -> bool:
        """Self-contained <hN> with flat, entity-free content: replicates
        handle_block's firstHeading/heading branches exactly; any attr
        complication (other ids, self-closing tail) falls back."""
        nonlocal title
        m = _FAST_H.match(frag)
        if not m:
            return False
        raw = m.group(2) or ""
        if raw.rstrip().endswith("/"):
            return False  # '<h2 .../>' tree semantics differ
        attrs = _parse_attrs(raw)
        text = m.group(3)
        if attrs.get("id") == "firstHeading":
            if title is None:
                title = text
            return True
        if "id" in attrs:
            return False  # id='catlinks'/'toc' take other tree branches
        if parser.in_content_scope:
            body.append(("heading", text, None))
        return True

    def fast_anchor(frag: str) -> bool:
        """Standalone <a> with flat, entity-free content: replicates the
        tree path's media scan + bare-anchor (disambiguation) branch; ids
        and structural classes fall back."""
        m = _FAST_ANCHOR.match(frag)
        if not m:
            return False
        raw = m.group(1) or ""
        if raw.rstrip().endswith("/"):
            return False
        attrs = _parse_attrs(raw)
        if "id" in attrs:
            return False
        classes = attrs.get("class", "").split()
        if any(c in _ANCHOR_SLOW_CLASSES for c in classes):
            return False
        atext = m.group(2)
        if "image" in classes:
            href = attrs.get("href")
            if href is not None:
                body.append(("media", atext if atext else None,
                             WIKI_BASE + "/" + href.lstrip("/")))
        if parser.in_content_scope:
            href = attrs.get("href")
            t = attrs.get("title")
            if href is not None and href.startswith("/wiki/") and t is not None:
                disambig_links.append((t, href))
        return True

    for kind, text, ref in ordered:
        if kind == "html":
            if text:
                if FAST_PARAGRAPH_PATH and "&" not in text:
                    if (text.startswith("<p") and text.endswith("</p>")
                            and fast_paragraph(text)):
                        continue
                    if text.startswith("<h") and fast_heading(text):
                        continue
                    if text.startswith("<a") and fast_anchor(text):
                        continue
                for el, in_scope in parser.feed(text):
                    handle_block(el, in_scope)
        elif kind == "media":
            if ref is not None:
                body.append(("media", text if text else None, ref))
        elif kind == "text":
            if parser.in_content_scope:
                text = text or ""
                if text != "" and text != "\n":
                    body.append(("paragraph", latex_to_text(text) if latex else text, None))

    # Disambiguation gate: substring match on category titles
    # (seeker.py:98-99: any("Disambiguation" in cat for cat in categories)).
    is_disambig = any("Disambiguation" in t for t, _ in categories)

    out: list[tuple] = []

    def emit(kind: str, text: str | None, media_ref: str | None) -> None:
        out.append((kind, text, media_ref))

    if title is not None:
        emit("title", title, None)
    for kind, text, ref in body:
        emit(kind, text, ref)
    if is_disambig:
        for t, href in disambig_links:
            emit("link", t, href)
    for t, url in see_also:
        emit("see_also", t, url)
    for name, url in toc:
        emit("toc", name, url)
    for t, href in references:
        emit("reference", t, href)
    for t, href in categories:
        emit("category", t, href)
    return out


def make_arrow_kernel(*, latex: bool = False):
    """mapInArrow kernel: reads the ListArray<Struct> spans column through
    its FLAT child arrays (4 list conversions per batch) instead of
    materializing one python dict per span. Output is rebuilt as Arrow
    child arrays the same way."""
    import pyarrow as pa

    out_struct = pa.struct([
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ])
    schema = pa.schema([
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(out_struct), nullable=False),
    ])

    def kernel(batches):
        import numpy as np

        for batch in batches:
            doc_ids = batch.column(0).to_pylist()
            spans = batch.column(1)
            if isinstance(spans, pa.ChunkedArray):
                spans = spans.combine_chunks()
            lengths = spans.value_lengths().to_numpy(zero_copy_only=False)
            flat = spans.flatten()  # slice-safe
            kinds = flat.field("kind").to_pylist()
            texts = flat.field("text").to_pylist()
            refs = flat.field("media_ref").to_pylist()
            offs_np = flat.field("offset").to_numpy(zero_copy_only=False)

            # Vectorized batch-level check: if every doc's offsets arrive
            # already non-decreasing (the overwhelmingly common case — the
            # generator and any parquet round-trip preserve order), skip the
            # per-doc python sort AND the tuple rebuild entirely. A diff<0
            # is only legal at a doc boundary (cumulative-length - 1).
            d = np.diff(offs_np) if len(offs_np) > 1 else np.empty(0)
            bad = np.flatnonzero(d < 0)
            if bad.size:
                boundaries = np.cumsum(lengths)[:-1] - 1
                all_sorted = bool(np.isin(bad, boundaries).all())
            else:
                all_sorted = True
            soffs = None if all_sorted else offs_np.tolist()

            o_k: list = []
            o_t: list = []
            o_r: list = []
            o_o: list = []
            list_offsets = [0]
            pos = 0
            for i, did in enumerate(doc_ids):
                n = int(lengths[i])
                end = pos + n
                if all_sorted:
                    seg = zip(kinds[pos:end], texts[pos:end], refs[pos:end])
                else:
                    # stable sort on offset ONLY — a full-tuple sort would
                    # compare None texts (TypeError) and break input order
                    # on offset ties (extract_doc's stable sort keeps it)
                    seg = [
                        (k, t, r) for _, k, t, r in sorted(
                            zip(soffs[pos:end], kinds[pos:end],
                                texts[pos:end], refs[pos:end]),
                            key=lambda t: t[0],
                        )
                    ]
                pos = end
                outs = _extract_core(did, seg, latex)
                for j, (k, t, r) in enumerate(outs):
                    o_k.append(k)
                    o_t.append(t)
                    o_r.append(r)
                    o_o.append(j)
                list_offsets.append(len(o_k))
            struct = pa.StructArray.from_arrays(
                [pa.array(o_k, pa.string()), pa.array(o_t, pa.string()),
                 pa.array(o_r, pa.string()), pa.array(o_o, pa.int32())],
                fields=list(out_struct),
            )
            lst = pa.ListArray.from_arrays(pa.array(list_offsets, pa.int32()), struct)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, pa.string()), lst], schema=schema)

    return kernel


def extract_spans(docs_df, *, latex: bool = False):
    """DataFrame transform: raw interleaved docs -> extracted span docs.

    ``docs_df``: (doc_id string, spans array<struct<kind,text,media_ref,offset>>).
    Returns the same shape with output span kinds. ONE mapInArrow stage,
    no shuffle, no per-row Python; the nested column crosses as flat Arrow
    child arrays (``make_arrow_kernel``).
    """
    return docs_df.mapInArrow(make_arrow_kernel(latex=latex), schema=DOC_DDL)


def extract_from_parquet(spark, path: str, *, num_tasks: int | None = None):
    """Scan-fused extraction: distributes parquet ROW-GROUP splits to the
    Arrow workers, which read their split with pyarrow's C++ reader and run
    the kernel on the mmapped batches directly.

    Why this exists: for (doc_id, spans array<struct>) rows the standard
    ``spark.read.parquet -> mapInArrow`` path pays a JVM columnar->row
    conversion plus a row->Arrow re-encode of the deeply nested column
    before Python ever sees a byte (and the kernel itself is ~20% of the
    stage time — measured with the 50k-doc breakdown in BENCH/BASELINE.md).
    Co-locating the scan with the kernel removes both JVM conversions; the
    cluster still gets Spark's scheduling, retries, and speculative
    execution because each split is one ordinary task. On a production
    Iceberg table the split list comes from the table's file manifest
    (content files + row-group offsets) instead of a directory listing.

    Split placement: task ``t`` of ``spark.range(0, len(splits), 1,
    n_tasks)`` reads ``splits[i]`` for every id ``i`` in its contiguous,
    equal-count block of the range, so no task holds more than one split
    above any other and the plan has no Exchange. The split list rides in
    the task closure. This replaced a round-robin ``repartition(n_tasks)``
    of a split frame: Spark seeds each input partition's round robin with
    its partition id, so on ``local[4]`` four equal files came out as
    per-task doc counts [100, 100, 200] (one task idle, one doing two
    splits) behind an extra shuffle stage.

    Trade-off vs the declarative scan (documented, deliberate): no catalyst
    filter/column pushdown — correct here because extraction consumes every
    row and both columns. Anything with a predicate should use
    ``extract_spans(spark.read.parquet(...).filter(...))``.

    Returns the same (doc_id, spans) DataFrame as ``extract_spans``;
    equality is pinned by tests/test_kernel_golden.py.
    """
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
    splits = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            if md.row_group(rg).num_rows:
                splits.append((f, rg))
    if not splits:
        return spark.createDataFrame([], DOC_DDL)
    n_tasks = min(num_tasks or len(splits), len(splits))
    kern = make_arrow_kernel()

    def read_and_extract(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                fpath, rg = splits[i]
                tbl = pq.ParquetFile(fpath).read_row_group(
                    rg, columns=["doc_id", "spans"])
                yield from kern(tbl.to_batches(max_chunksize=4096))

    return spark.range(0, len(splits), 1, n_tasks).mapInArrow(
        read_and_extract, schema=DOC_DDL)


def explode_spans(spans_df):
    """Nested (doc_id, spans) -> flat span rows, natively (no Python)."""
    from pyspark.sql import functions as F

    return spans_df.select("doc_id", F.inline("spans"))
