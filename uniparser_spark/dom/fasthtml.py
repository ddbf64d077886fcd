"""Shared pieces of the fast HTML scanner (``dom.html._fused_parse``).

The fused parser tokenizes with the regexes below and reproduces the
callback stream of ``html.parser.HTMLParser`` with
``convert_charrefs=True``: lowercased tag/attr names, entity-unescaped
text and attribute values, raw-text handling for script/style,
comments, bogus markup treated leniently.  ``MarkedSectionSafe`` and
``_std_tail`` keep the stdlib side in step for malformed marked
sections and unterminated constructs at EOF.  Parity with the stdlib
engine is pinned by tests/test_dom_parity.py over the golden fixtures,
the synthetic corpus, and adversarial edge strings.
"""
from __future__ import annotations

import re
from html import unescape

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


def _std_tail(tail: str, builder) -> None:
    """Unterminated construct at EOF: hand the tail to the stdlib
    tokenizer so every EOF flush quirk matches exactly.  Runs at most
    once per document, on (usually tiny) trailing garbage."""
    from html.parser import HTMLParser

    class _Bridge(MarkedSectionSafe, HTMLParser):
        def handle_starttag(self, tag, attrs):
            builder.handle_starttag(tag, attrs)

        def handle_startendtag(self, tag, attrs):
            builder.handle_startendtag(tag, attrs)

        def handle_endtag(self, tag):
            builder.handle_endtag(tag)

        def handle_data(self, data):
            builder.handle_data(data)

        def handle_comment(self, data):
            builder.handle_comment(data)

    bridge = _Bridge(convert_charrefs=True)
    bridge.feed(tail)
    bridge.close()
