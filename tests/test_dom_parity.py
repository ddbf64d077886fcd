"""Fast-tokenizer ↔ stdlib-tokenizer parity.

The fused fast parser (dom.html) must build the identical DOM to the
stdlib html.parser bridge for everything the engine can encounter:
the golden-fixture corpus, the synthetic crawl corpus, and adversarial
edge strings.  Identity is checked structurally (tag/attrs/text tree),
not just serialization."""

import pytest

from uniparser_spark.dom.html import parse_html
from uniparser_spark.dom.nodes import Comment, Element, Text
from uniparser_spark.testgen import detail_html, host_name, list_html

from fixtures import HTML as GOLDEN_HTML


def tree(node):
    if isinstance(node, Text):
        return ("#text", node.data)
    if isinstance(node, Comment):
        return ("#comment", node.data)
    assert isinstance(node, Element)
    return (node.tag, node.attrs, [tree(c) for c in node.children])


EDGES = [
    "",
    "plain text only",
    "a < b and c > d",
    "<p>unclosed",
    "<p>one<p>two<p>three",
    "<ul><li>a<li>b</ul>",
    "<table><tr><td>1<td>2<tr><td>3</table>",
    '<a href="/x?a=1&amp;b=2">link &amp; text</a>',
    "<div class='single'>sq</div>",
    "<input type=checkbox checked>",
    "<img src=/pic.png alt='a b'/>",
    "<br/><br /><hr>",
    "<!-- a comment --><p>after</p>",
    "<!-- unterminated comment",
    "<!DOCTYPE html><html><body>x</body></html>",
    "<?php echo 1; ?><p>pi</p>",
    "<script>if (a < b && c > d) { x('</span>'); }</script><p>after</p>",
    "<style>a > b { color: red; }</style>",
    "<script>unterminated raw",
    "<SPAN CLASS='UP'>MiXeD</SPAN>",
    "<a href='</a>'>tricky attr</a>",
    "<p title=\"has > inside\">gt in attr</p>",
    "<em>&lt;escaped&gt; &amp; entities &#65; &#x42;</em>",
    "<a data-x>bare</a>",
    "<a b=>empty unquoted</a>",
    "<div><span>nest</div>close-outer</span>",
    "text &unknownentity; more",
    "<p>trailing <",
    "<p>lone </ bogus end>tail</p>",
    "<td rowspan=2 colspan='3'>cell</td>",
]


def _two_way(markup):
    assert tree(parse_html(markup, engine="fast")) == tree(
        parse_html(markup, engine="std")
    )


_MARKED_EDGES = [
    # _markupbase crash modes (AssertionError on '<![0', unknown-keyword
    # error paths) and the ']]>'-vs-']>' close divergence — all pinned
    # by MarkedSectionSafe to the fast engine's ']>' rule
    "<![0",
    "<![",
    "<![CDATA[x",
    "a<![0>b",
    "<![foo]>x",
    "<![CDATA[a]>b]]>",
    "<![CDATA[x]]>t",
    "<![if !IE]>x<![endif]>y",
    "<p>hello<![0",
]


@pytest.mark.parametrize("markup", _MARKED_EDGES)
def test_marked_section_edges_never_crash(markup):
    _two_way(markup)


@pytest.mark.parametrize("markup", EDGES)
def test_edges_parity(markup):
    _two_way(markup)


def test_golden_fixture_parity():
    _two_way(GOLDEN_HTML)


def test_synthetic_corpus_parity():
    host = host_name(0)
    for k in range(25):
        _two_way(detail_html(host, k))
    _two_way(list_html(host, 40))


def test_selection_on_fast_dom():
    doc = parse_html('<div><a class="x" href="/a">A</a><a href="/b">B</a></div>')
    assert [a.get("href") for a in doc.select("a")] == ["/a", "/b"]
    assert doc.select_one("a.x").text == "A"


# ---------------------------------------------------------- property fuzz
try:
    from hypothesis import given, settings, strategies as st

    _frag = st.one_of(
        st.sampled_from(
            [
                "<div>", "</div>", "<p>", "</p>", "<a href='x'>", "<a href=\"y\">",
                "<br/>", "<br />", "<img src=z>", "<span class='c d'>", "</span>",
                "<!-- c -->", "<!--", "-->", "<ul><li>", "</li></ul>",
                "<script>", "</script>", "<style>", "</style>",
                "<td>", "<tr>", "<table>", "</table>", "<input checked>",
                "&amp;", "&lt;", "&#65;", "&unknown;", "<", ">", "</", "<!",
                "<?pi ?>", "<!DOCTYPE html>", "<a b=>", "<a b", "=c>", "'", '"',
            ]
        ),
        st.text(
            alphabet=st.characters(
                codec="ascii", categories=("L", "N", "P", "Z")
            ),
            max_size=12,
        ),
    )
    _soup = st.lists(_frag, max_size=30).map("".join)

    @settings(max_examples=300, deadline=None)
    @given(_soup)
    def test_fuzz_tokenizer_parity(markup):
        _two_way(markup)

except ImportError:  # pragma: no cover
    pass
