"""Streaming HTML tokenizer for the extraction kernel.

The reference parses whole pages with BeautifulSoup
(/root/reference/src/wikicrawler/core/grabber.py:152). Here documents arrive
as *interleaved span sequences* — html fragments mixed with pre-resolved
media and text blocks — so the kernel needs a tokenizer that can:

  * consume html fragments one at a time, in document order,
  * keep container state across fragments (a ``<div id="mw-content-text">
    <div class="mw-parser-output">`` opener fragment and its ``</div></div>``
    closer arrive as separate spans),
  * hand back fully-parsed *block* elements (``<p>``, headings, tables,
    toc/references/see-also/catlinks containers) as lightweight trees.

This is intentionally NOT a general HTML5 parser: the grammar is the
wiki-shaped fixture grammar of FIXTURES.md §1.1 (double-quoted attributes,
properly nested block elements, each block fully contained in one fragment).
Correctness against real bs4 semantics is pinned by the golden tests plus the
independent stdlib-``html.parser`` oracle in ``tests/oracle_extractor.py``.

Pure Python, zero Spark imports — runs inside Arrow-batched
``mapInArrow`` workers (kernel.py).
"""

from __future__ import annotations

import re

_ATTR_RE = re.compile(r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*=\s*\"([^\"]*)\"")

_VOID_TAGS = frozenset({"br", "img", "hr", "meta", "link", "input", "wbr"})

_UNESCAPES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so &amp;lt; -> &lt; like html.unescape
)


def unescape(text: str) -> str:
    if "&" not in text:
        return text
    for ent, ch in _UNESCAPES:
        text = text.replace(ent, ch)
    return text


_EMPTY_ATTRS: dict = {}  # shared, never mutated — attrs are write-once at parse


class Element:
    """Minimal DOM node: tag, attrs, ordered children (Element | str).
    __slots__ + manual init: this type is built millions of times per task.
    Attr-less elements share one immutable dict (the common case — saves an
    allocation per element; nothing mutates attrs after construction)."""

    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict | None = None):
        self.tag = tag
        self.attrs = attrs if attrs is not None else _EMPTY_ATTRS
        self.children = []

    @property
    def classes(self) -> list[str]:
        return self.attrs.get("class", "").split()

    def get_text(self) -> str:
        """Concatenate all descendant text nodes, no separator — matches
        bs4 ``Tag.get_text()`` as used at grabber.py:188,220."""
        out: list[str] = []
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if isinstance(node, str):
                out.append(node)
            else:
                stack.extend(reversed(node.children))
        return "".join(out)

    def find_all(self, tag: str | None = None, *, cls: str | None = None) -> list["Element"]:
        """Recursive descendant search in document order — matches bs4
        ``find_all`` traversal order (grabber.py:219,224,292)."""
        found: list[Element] = []
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if isinstance(node, Element):
                if (tag is None or node.tag == tag) and (cls is None or cls in node.classes):
                    found.append(node)
                stack.extend(reversed(node.children))
        return found

    def find(self, tag: str | None = None, *, cls: str | None = None) -> "Element | None":
        hits = self.find_all(tag, cls=cls)
        return hits[0] if hits else None

    def direct_children_tags(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]


_ATTRS_CACHE: dict[str, dict] = {}
_ATTRS_CACHE_CAP = 65536


def _parse_attrs(raw: str) -> dict[str, str]:
    """Raw attr string -> dict, memoized: attr strings repeat heavily
    (class="mw-parser-output", class="wikitable", ...), and attr dicts are
    write-once by contract (see Element), so sharing one dict per distinct
    raw string is safe — same reasoning as the shared _EMPTY_ATTRS."""
    if "=" not in raw:
        return _EMPTY_ATTRS
    d = _ATTRS_CACHE.get(raw)
    if d is None:
        if len(_ATTRS_CACHE) >= _ATTRS_CACHE_CAP:
            _ATTRS_CACHE.clear()
        d = {k: unescape(v) for k, v in _ATTR_RE.findall(raw)}
        _ATTRS_CACHE[raw] = d
    return d


# Container-fragment memo: scope opener/closer fragments repeat VERBATIM
# across documents (every doc carries the same '<div id="mw-content-text">
# <div class="mw-parser-output">' opener and '</div></div>' closer — they
# were ~61% of all tree-path feed() calls in the round-3 census), and
# their effect on parser state is replayable without re-tokenizing:
#   * opener-only fragments (only non-void, non-self-closing open tags, no
#     inter-tag text) push (tag, attrs) container entries — feed() drops
#     any children of still-open elements at fragment end, so inter-tag
#     text wouldn't matter, but the classifier excludes it anyway;
#   * closer-only fragments replay _close(tag) per tag.
# Both rely on feed()'s invariant that _build is empty between calls
# (feed always flushes it), making the memoized effect state-independent.
# literal space ONLY between tag and attrs: the python loop splits on
# inner.find(" "), so a tab/newline separator makes it DROP the tag — the
# classifier must not accept what the loop rejects (review r3)
_OPENERS_ONLY = re.compile(r"(?:<([a-zA-Z][a-zA-Z0-9]*)((?: [^<>]*?)?)>)+\Z")
_OPEN_TAG = re.compile(r"<([a-zA-Z][a-zA-Z0-9]*)((?: [^<>]*?)?)>")
_CLOSERS_ONLY = re.compile(r"(?:</([a-zA-Z][a-zA-Z0-9]*)\s*>)+\Z")
_CLOSE_TAG = re.compile(r"</([a-zA-Z][a-zA-Z0-9]*)\s*>")

_FRAG_MEMO: dict[str, tuple | None] = {}
_FRAG_MEMO_CAP = 16384
#: test toggle — the equivalence property test flips it to pin memo
#: outputs byte-identical to the plain python loop
CONTAINER_MEMO = True


def _classify_container_fragment(fragment: str) -> tuple | None:
    """('open', [(tag, attrs, is_scope), ...]) | ('close', [tag, ...]) |
    None when the fragment needs the full tokenizer."""
    if fragment.startswith("</"):
        if _CLOSERS_ONLY.fullmatch(fragment):
            return ("close", [m.group(1).lower()
                              for m in _CLOSE_TAG.finditer(fragment)])
        return None
    if _OPENERS_ONLY.fullmatch(fragment):
        out = []
        for m in _OPEN_TAG.finditer(fragment):
            tag = m.group(1).lower()
            raw = m.group(2)
            if tag in _VOID_TAGS or raw.rstrip().endswith("/"):
                return None  # void/self-closing COMPLETE as blocks
            attrs = _parse_attrs(raw)
            out.append((tag, attrs,
                        "mw-parser-output" in attrs.get("class", "").split()))
        return ("open", out)
    return None


class StreamParser:
    """Incremental parser over html fragments of ONE document.

    ``feed(fragment)`` returns the list of block Elements that *completed*
    at stream top level (depth where their parent is an open container or
    the document root), each tagged with whether it sits inside the
    ``.mw-parser-output`` content scope — the reference's boilerplate
    restriction (grabber.py:214-217: only ``#mw-content-text
    .mw-parser-output`` children are article content).
    """

    def __init__(self) -> None:
        # Open-container stack entries: (tag, attrs, element_or_None).
        # Containers opened-but-not-closed across fragments carry None
        # (we never need their subtree, only their identity for scope).
        self._stack: list[tuple[str, dict[str, str]]] = []
        # count of open containers carrying class mw-parser-output — scope
        # membership is O(1) instead of scanning the stack per block
        self._scope_count = 0
        # While a block element is being built inside a fragment we keep a
        # build stack of Elements.
        self._build: list[Element] = []

    # -- scope predicates ---------------------------------------------------

    @property
    def in_content_scope(self) -> bool:
        return self._scope_count > 0

    @staticmethod
    def _is_scope(attrs: dict) -> bool:
        return "mw-parser-output" in attrs.get("class", "").split()

    def feed(self, fragment: str) -> list[tuple[Element, bool]]:
        """Parse one html fragment; return completed top-level blocks as
        (element, was_in_content_scope) in document order.

        Tokenizes with str.split('<') + one find('>') per piece — the hot
        loop of the whole kernel; measured ~1.7x faster than the previous
        regex finditer (no match objects). Semantics are UNCHANGED,
        including the malformed-input edge behavior the regex had:
        an unterminated '<foo ...' swallows the '<' and becomes text, '<>'
        keeps '>' as text, non-alpha tags are dropped but their trailing
        text is kept (pinned by the malformed-html goldens and the
        stdlib html.parser oracle)."""
        blocks: list[tuple[Element, bool]] = []
        # container-fragment memo fast path (see _classify_container_fragment).
        # The length gate keeps unique multi-KB paragraph fragments out of
        # the cache: without it the dict fills with None-valued full-text
        # keys and the cap-clear evicts the hot opener/closer entries the
        # memo exists for (review r3); real container runs are short.
        if CONTAINER_MEMO and len(fragment) <= 192 and fragment.startswith("<"):
            try:
                memo = _FRAG_MEMO[fragment]
            except KeyError:
                if len(_FRAG_MEMO) >= _FRAG_MEMO_CAP:
                    _FRAG_MEMO.clear()
                memo = _FRAG_MEMO[fragment] = \
                    _classify_container_fragment(fragment)
            if memo is not None:
                if memo[0] == "open":
                    for tag, attrs, is_scope in memo[1]:
                        self._stack.append((tag, attrs))
                        if is_scope:
                            self._scope_count += 1
                else:
                    for tag in memo[1]:
                        self._close(tag, blocks)
                return blocks
        build = self._build
        parts = fragment.split("<")
        text = parts[0]
        if text and build:
            build[-1].children.append(unescape(text) if "&" in text else text)
        for part in parts[1:]:
            gt = part.find(">")
            if gt <= 0:
                # gt == -1: unterminated tag — '<' dropped, rest is text.
                # gt == 0: '<>' — '>' and the rest are text.
                if part and build:
                    build[-1].children.append(
                        unescape(part) if "&" in part else part)
                continue
            inner = part[:gt]
            text = part[gt + 1:]
            while True:  # single-pass tag handling; breaks fall to text
                if inner[0] == "!":  # '<!-- comment -->' and doctypes
                    break
                if inner[0] == "/":
                    tag = inner[1:].strip().lower()
                    if tag.isalnum():
                        self._close(tag, blocks)
                    break
                selfclose = inner[-1] == "/"
                if selfclose:
                    inner = inner[:-1]
                sp = inner.find(" ")
                if sp == -1:
                    tag, rawattrs = inner.strip(), ""
                else:
                    tag, rawattrs = inner[:sp], inner[sp + 1:]
                if not tag or not tag[0].isalpha():
                    break  # malformed tag: ignored (corpus never emits these)
                tag = tag.lower()
                if not tag.isalnum():
                    break
                el = Element(tag, _parse_attrs(rawattrs))
                if selfclose or tag in _VOID_TAGS:
                    if build:
                        build[-1].children.append(el)
                    else:
                        blocks.append((el, self.in_content_scope))
                else:
                    if build:
                        build[-1].children.append(el)
                    build.append(el)
                break
            if text and build:
                build[-1].children.append(unescape(text) if "&" in text else text)
            # Bare top-level text between blocks is insignificant
            # whitespace in the fixture grammar; dropped.
        # Any elements still open at fragment end become cross-fragment
        # containers (scope markers): move them to the container stack.
        for el in self._build:
            self._stack.append((el.tag, el.attrs))
            if self._is_scope(el.attrs):
                self._scope_count += 1
        self._build = []
        return blocks

    def _close(self, tag: str, blocks: list[tuple[Element, bool]]) -> None:
        # Close the innermost matching build element first.
        for i in range(len(self._build) - 1, -1, -1):
            if self._build[i].tag == tag:
                el = self._build[i]
                del self._build[i:]
                if not self._build:
                    blocks.append((el, self.in_content_scope))
                return
        # Otherwise this closes a cross-fragment container.
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][0] == tag:
                self._scope_count -= sum(
                    1 for e in self._stack[i:] if self._is_scope(e[1]))
                del self._stack[i:]
                return
