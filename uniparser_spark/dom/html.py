"""HTML parsing to the mini-DOM.

Behavioral contract: the golden values of the reference CSS/selectolax
parser tests (/root/reference/test_parsers.py:170-305) — attribute
order preserved from source, comments kept as nodes, ``.text`` skips
comments, implied end tags for the common block/table/list cases.

Two engines build the same tree.  The fast one (``_fused_parse``)
tokenizes with the regexes below and reproduces the callback stream of
stdlib ``html.parser.HTMLParser`` with ``convert_charrefs=True``:
lowercased tag/attr names, entity-unescaped text and attribute values,
raw-text handling for script/style, comments, bogus markup treated
leniently.  The stdlib one (``_StdBridge``) is its behavioral reference
and also flushes the fast engine's unterminated constructs at EOF.
Parity is pinned by tests/test_dom_parity.py over the golden fixtures,
the synthetic corpus, and adversarial edge strings.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser as _StdHTMLParser
from typing import List, Optional, Tuple

from .nodes import Comment, Element, Text

_TAG_RE = re.compile(
    r"<([a-zA-Z][-.:0-9a-zA-Z]*)"  # tag name
    r"((?:\s+[^\s/>=]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>]*))?)*)"  # attrs
    r"\s*(/?)\s*>"
)
_ATTR_RE = re.compile(
    r"([^\s/>=]+)(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?"
)
_END_RE = re.compile(r"</\s*([a-zA-Z][-.:_0-9a-zA-Z]*)\s*>")
_TOLERANT_NAME = re.compile(r"([a-zA-Z][-.:_0-9a-zA-Z]*)")

# script/style content is raw text: scan for the closing tag literally
_RAW_END = {
    tag: re.compile(rf"</\s*{tag}(?=[\s/>])|</\s*{tag}\s*>", re.IGNORECASE)
    for tag in ("script", "style")
}

# stdlib allows whitespace between the closing dashes and '>'
_COMMENT_CLOSE = re.compile(r"--\s*>")

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Starting one of these while a <p> is the innermost open element
# implicitly closes the <p> (HTML5 parsing rules, common subset).
_P_CLOSING = frozenset(
    "address article aside blockquote details div dl fieldset figcaption "
    "figure footer form h1 h2 h3 h4 h5 h6 header hr main menu nav ol p "
    "pre section table ul".split()
)

# tag -> set of sibling tags whose start implies this tag's end
_SIBLING_CLOSERS = {
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "td": frozenset({"td", "th", "tr"}),
    "th": frozenset({"td", "th", "tr"}),
    "tr": frozenset({"tr"}),
    "option": frozenset({"option"}),
}


class HtmlElement(Element):
    __slots__ = ()
    VOID = VOID_ELEMENTS
    LIST_ATTRS = frozenset({"class", "rel", "accept-charset"})


class HtmlDocument(HtmlElement):
    """Root container; serializes as its children only."""

    __slots__ = ()

    def serialize(self) -> str:
        return self.inner()


class _TreeBuilder:
    """Parser-agnostic DOM builder driven by the stdlib bridge (the
    std engine, and the fast engine's EOF tail)."""

    def __init__(self):
        self.root = HtmlDocument("[document]")
        self.stack: List[HtmlElement] = [self.root]

    @property
    def top(self) -> HtmlElement:
        return self.stack[-1]

    def _implied_end(self, tag: str) -> None:
        cur = self.top.tag
        if tag in _P_CLOSING and cur == "p":
            self.stack.pop()
        else:
            closers = _SIBLING_CLOSERS.get(cur)
            if closers and tag in closers:
                self.stack.pop()

    def handle_starttag(self, tag: str, attrs: List[Tuple[str, Optional[str]]]):
        self._implied_end(tag)
        # both tokenizers hand over a freshly built attrs list — owned here
        el = HtmlElement(tag, attrs)
        self.stack[-1].append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs: List[Tuple[str, Optional[str]]]):
        self._implied_end(tag)
        self.stack[-1].append(HtmlElement(tag, attrs))

    def handle_endtag(self, tag: str):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignored

    def handle_data(self, data: str):
        self.top.append(Text(data))

    def handle_comment(self, data: str):
        self.top.append(Comment(data))


class MarkedSectionSafe:
    """Never-crash marked sections for stdlib-bridge parsers.

    CPython's ``_markupbase.parse_marked_section`` raises
    ``AssertionError`` on ``<![`` followed by no valid section name
    (e.g. ``<![0``, real-web garbage) and ``NotImplementedError`` on
    unknown keywords — both would turn a malformed page into a
    parse-time crash instead of a tree.  Override with the SAME rule
    the fast tokenizer uses: consume to the next ``]>`` emitting
    nothing (stdlib's unknown_decl is a no-op anyway), and drop an
    unterminated section at EOF.  This also removes a latent
    divergence: stdlib matched the looser ``]\\s*]\\s*>`` close, so
    ``<![CDATA[a]>b]]>`` ended at a different offset than the fast
    engine's ``]>`` scan."""

    def parse_marked_section(self, i: int, report: int = 1) -> int:
        rawdata = self.rawdata
        j = rawdata.find("]>", i + 3)
        if j < 0:
            return len(rawdata)  # unterminated at EOF: drop
        return j + 2


class _StdBridge(MarkedSectionSafe, _StdHTMLParser):
    """stdlib tokenizer → builder callbacks (the reference engine for
    the parity tests, selected with ``parse_html(..., engine="std")``,
    and the fast engine's EOF tail).  MarkedSectionSafe keeps malformed
    ``<![`` from crashing the stdlib tokenizer and pins the ``]>`` close
    rule to the fast engine's."""

    def __init__(self, builder: _TreeBuilder):
        super().__init__(convert_charrefs=True)
        self._b = builder

    def handle_starttag(self, tag, attrs):
        self._b.handle_starttag(tag, attrs)

    def handle_startendtag(self, tag, attrs):
        self._b.handle_startendtag(tag, attrs)

    def handle_endtag(self, tag):
        self._b.handle_endtag(tag)

    def handle_data(self, data):
        self._b.handle_data(data)

    def handle_comment(self, data):
        self._b.handle_comment(data)


def _fused_parse(markup: str) -> HtmlDocument:
    """Fused tokenizer + tree builder: one scan loop constructing the
    DOM directly, with no per-node callback dispatch (a callback
    builder costs ~6 Python calls per node; a 20 KB page has ~800
    nodes).  Node-for-node the same tree as the stdlib tokenizer
    driving _TreeBuilder — parity pinned by tests/test_dom_parity.py
    on the golden corpus, edges, and fuzz strings."""
    root = HtmlDocument("[document]")
    stack: List[HtmlElement] = [root]

    # hot-loop locals (LOAD_FAST beats LOAD_GLOBAL ~2×)
    unescape_ = unescape
    Text_, Comment_, El_ = Text, Comment, HtmlElement
    void = VOID_ELEMENTS
    p_closing = _P_CLOSING
    sib_get = _SIBLING_CLOSERS.get
    tag_match = _TAG_RE.match
    attr_finditer = _ATTR_RE.finditer
    end_match = _END_RE.match
    comment_close = _COMMENT_CLOSE.search
    raw_get = _RAW_END.get
    tolerant_match = _TOLERANT_NAME.match
    find = markup.find

    def tail(frag: str) -> None:
        # EOF quirks: hand the unterminated tail to the stdlib tokenizer
        # so every EOF flush quirk matches exactly, through a builder
        # sharing this parse's stack (runs at most once, on tiny tails)
        b = _TreeBuilder.__new__(_TreeBuilder)
        b.root, b.stack = root, stack
        bridge = _StdBridge(b)
        bridge.feed(frag)
        bridge.close()

    i, n = 0, len(markup)
    while i < n:
        lt = find("<", i)
        if lt < 0:
            text = markup[i:]
            cur = stack[-1]
            cur.children.append(Text_(unescape_(text) if "&" in text else text, cur))
            break
        if lt > i:
            text = markup[i:lt]
            cur = stack[-1]
            cur.children.append(Text_(unescape_(text) if "&" in text else text, cur))
        nxt = markup[lt + 1] if lt + 1 < n else ""
        if nxt == "!":
            if markup.startswith("<!--", lt):
                m = comment_close(markup, lt + 4)
                if m is None:
                    tail(markup[lt:])
                    break
                cur = stack[-1]
                cur.children.append(Comment_(markup[lt + 4 : m.start()], cur))
                i = m.end()
            elif markup[lt : lt + 9].lower() == "<!doctype":
                gt = find(">", lt)
                if gt < 0:
                    tail(markup[lt:])
                    break
                i = gt + 1
            elif markup.startswith("<![", lt):
                end = find("]>", lt + 3)
                if end < 0:
                    tail(markup[lt:])
                    break
                i = end + 2
            else:
                gt = find(">", lt)
                if gt < 0:
                    tail(markup[lt:])
                    break
                cur = stack[-1]
                cur.children.append(Comment_(markup[lt + 2 : gt], cur))
                i = gt + 1
        elif nxt == "/":
            m = end_match(markup, lt)
            if m:
                tag = m.group(1).lower()
                for j in range(len(stack) - 1, 0, -1):
                    if stack[j].tag == tag:
                        del stack[j:]
                        break
                i = m.end()
            elif markup[lt : lt + 3] == "</>":
                i = lt + 3
            else:
                gt = find(">", lt)
                if gt < 0:
                    tail(markup[lt:])
                    break
                nm = tolerant_match(markup, lt + 2)
                if nm:
                    tag = nm.group(1).lower()
                    for j in range(len(stack) - 1, 0, -1):
                        if stack[j].tag == tag:
                            del stack[j:]
                            break
                    gt2 = find(">", nm.end())
                    i = n if gt2 < 0 else gt2 + 1
                else:
                    cur = stack[-1]
                    cur.children.append(Comment_(markup[lt + 2 : gt], cur))
                    i = gt + 1
        elif nxt == "?":
            gt = find(">", lt)
            if gt < 0:
                tail(markup[lt:])
                break
            i = gt + 1
        else:
            m = tag_match(markup, lt)
            if m is None:
                if nxt.isalpha():
                    tail(markup[lt:])
                    break
                cur = stack[-1]
                cur.children.append(Text_("<", cur))
                i = lt + 1
                continue
            tag_src, attrs_src, slash = m.group(1, 2, 3)
            tag = tag_src.lower()
            attrs = []
            if attrs_src:
                for am in attr_finditer(attrs_src):
                    name, q2, q1, bare = am.group(1, 2, 3, 4)
                    value = q2 if q2 is not None else (q1 if q1 is not None else bare)
                    if value is not None and "&" in value:
                        value = unescape_(value)
                    attrs.append((name.lower(), value))
            i = m.end()
            cur = stack[-1]
            ct = cur.tag
            if ct == "p":
                if tag in p_closing:
                    stack.pop()
                    cur = stack[-1]
            else:
                closers = sib_get(ct)
                if closers is not None and tag in closers:
                    stack.pop()
                    cur = stack[-1]
            el = El_(tag, attrs)
            el.parent = cur
            cur.children.append(el)
            if slash:
                continue
            if tag not in void:
                stack.append(el)
            raw_end = raw_get(tag)
            if raw_end is not None:
                em = raw_end.search(markup, i)
                if em is None:
                    break  # stdlib drops unterminated raw-text content
                if em.start() > i:
                    el.children.append(Text_(markup[i : em.start()], el))
                endm = end_match(markup, em.start())
                if endm:
                    tag2 = endm.group(1).lower()
                    for j in range(len(stack) - 1, 0, -1):
                        if stack[j].tag == tag2:
                            del stack[j:]
                            break
                    i = endm.end()
                else:
                    gt = find(">", em.start())
                    for j in range(len(stack) - 1, 0, -1):
                        if stack[j].tag == tag:
                            del stack[j:]
                            break
                    i = n if gt < 0 else gt + 1
    return root


def parse_html(markup: str, engine: str = "fast") -> HtmlDocument:
    """markup → DOM.  engine: 'fast' (default; fused scanner+builder,
    ~6× stdlib) or 'std' (stdlib html.parser — the behavioral reference
    the fast engine is parity-tested against)."""
    if engine == "fast":
        return _fused_parse(markup)
    if engine != "std":
        raise ValueError(f"unknown HTML engine {engine!r} (use 'fast' or 'std')")
    builder = _TreeBuilder()
    bridge = _StdBridge(builder)
    bridge.feed(markup)
    bridge.close()
    return builder.root
