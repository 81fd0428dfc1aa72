"""The package's two token sources (enginelib/htmltok.py) through
its one tree builder and one block segmenter, against an oracle built
straight on ``HTMLParser`` callbacks:

- differential: on generated documents, real fixture pages/templates
  and synth pages, ``parse_html_counted`` / ``parse_template_html``
  give the oracle's (tree, n_nodes) and ``segment_blocks`` gives the
  oracle's blocks — whether the fast path accepts the document or
  falls back; the stdlib source with spans on gives the same trees
  and blocks on every document;
- coverage: every synth page kind takes the fast path, and each hard
  construct is refused (a regex regression that sent every page to
  the stdlib path would otherwise only slow the benchmark down).
"""

from html.parser import HTMLParser

import pytest
from hypothesis import given, settings, strategies as st

from weakscraper_spark.enginelib import dom
from weakscraper_spark.enginelib.boiler import (
    BLOCK_TAGS, IGNORED_SUBTREES, _segment, segment_blocks)
from weakscraper_spark.enginelib.htmltok import tokenize, tokens
from weakscraper_spark.sources.synth import (
    SITE_TEMPLATES, TEMPLATE_IDS, make_slots, render_page, render_page_v2,
    rows_for_index)

from fixtures.corpus import FIXTURES


class _OracleTree(HTMLParser):
    """Stack-based tree build on the stdlib callbacks: stray end tags
    are ignored, unclosed tags close at EOF."""

    def __init__(self, void):
        super().__init__(convert_charrefs=True)
        self.void = void
        self.root = dom.tag_node("root", {})
        self.stack = [self.root]
        self.n_nodes = 0

    def handle_starttag(self, tag, attrs):
        self.handle_startendtag(tag, attrs)
        if tag not in self.void:
            self.stack.append(self.stack[-1]["children"][-1])

    def handle_startendtag(self, tag, attrs):
        self.stack[-1]["children"].append(dom.tag_node(
            tag, {k: "" if v is None else v for k, v in attrs}))
        self.n_nodes += 1

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i]["name"] == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data and not data.isspace():
            self.stack[-1]["children"].append(
                {"nodetype": "text", "content": data})
            self.n_nodes += 1


class _OracleBlocks(HTMLParser):
    """Streaming block segmentation on the stdlib callbacks; the
    default ``handle_startendtag`` runs the start, then the end rule."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks = []
        self.frags = []
        self.words = self.link_words = self.anchor = self.ignore = 0

    def flush(self):
        if self.frags:
            self.blocks.append(
                (" ".join(self.frags), self.words, self.link_words))
            self.frags = []
            self.words = self.link_words = 0

    def handle_starttag(self, tag, attrs):
        if self.ignore:
            if tag in IGNORED_SUBTREES and tag not in dom.VOID_ELEMENTS:
                self.ignore += 1
        elif tag in IGNORED_SUBTREES:
            if tag not in dom.VOID_ELEMENTS:
                self.ignore = 1
        elif tag in BLOCK_TAGS:
            self.flush()
        elif tag == "a":
            self.anchor += 1

    def handle_endtag(self, tag):
        if self.ignore:
            if tag in IGNORED_SUBTREES:
                self.ignore -= 1
        elif tag in BLOCK_TAGS:
            self.flush()
        elif tag == "a" and self.anchor:
            self.anchor -= 1

    def handle_data(self, data):
        if self.ignore or not data or data.isspace():
            return
        self.frags.append(data)
        n = len(data.split())
        self.words += n
        if self.anchor:
            self.link_words += n


def _oracle(parser, html):
    parser.feed(html)
    parser.close()
    return parser


def _stdlib_tree(void, html):
    b = _oracle(_OracleTree(void), html)
    return b.root, b.n_nodes


def _blocks(blocks):
    return [(b.text, b.n_words, b.n_link_words) for b in blocks]


def _stdlib_blocks(html):
    seg = _oracle(_OracleBlocks(), html)
    seg.flush()
    return seg.blocks


def _unspanned(node):
    if dom.is_text(node):
        return node
    return {"nodetype": "tag", "name": node["name"], "attrs": node["attrs"],
            "children": [_unspanned(c) for c in node["children"]]}


def assert_matches_stdlib(html):
    page = _stdlib_tree(dom.VOID_ELEMENTS, html)
    assert dom.parse_html_counted(html) == page
    tpl_root, tpl_n = _stdlib_tree(dom.TEMPLATE_VOID_ELEMENTS, html)
    assert dom.parse_template_html(html) == tpl_root
    toks = tokenize(html)
    if toks is not None:
        assert dom._build(toks, dom.TEMPLATE_VOID_ELEMENTS) == \
            (tpl_root, tpl_n)
    blocks = _stdlib_blocks(html)
    assert _blocks(segment_blocks(html)) == blocks
    # the stdlib source (spans on) on every document, accepted or not
    stdlib = tokens(html, spans=True)
    tree, n = dom._build(stdlib, dom.VOID_ELEMENTS)
    assert (_unspanned(tree), n) == page
    assert _blocks(_segment(stdlib, len(html))) == blocks


# ---------------------------------------------------------------------------
# generated documents
# ---------------------------------------------------------------------------

_NAMES = ["div", "span", "a", "p", "li", "ul", "nav", "h1", "td", "tr",
          "table", "title", "iframe", "svg", "br", "img", "hr", "meta",
          "DIV", "Span", "A", "BR", "wp-ignore", "wp-nugget", "o:p",
          "section", "footer", "noscript", "x-y.z"]
_ATTR_NAMES = ["class", "href", "ID", "data-x", "wp-name", "disabled",
               "Data-Y", "wp-list", "title"]
_VALUES = ["x", "a b", "", "/p/1/", "a&amp;b", "&lt;tag&gt;", "a>b",
           "&#65;&#x42;", "caf&eacute;", "&bogus;", "q?a=1&b=2"]
_WS = st.sampled_from([" ", "  ", "\n", "\t", " \n "])

_text = st.lists(st.sampled_from(
    ["word", "two words", " ", "\n", "\t", "&amp;", "&lt;b&gt;", "&#65;",
     "&#x263a;", "&nbsp;", "&bogus;", "AT&T", "&amp", "&#32;", "x&y",
     "ünï", "é", "&", "&am", "&#"]), min_size=1, max_size=4).map("".join)


@st.composite
def _attr(draw):
    name = draw(st.sampled_from(_ATTR_NAMES))
    form = draw(st.integers(0, 3))
    if form == 0:
        return name
    value = draw(st.sampled_from(_VALUES))
    eq = draw(st.sampled_from(["=", " = ", "=\n"]))
    if form == 1:
        return f'{name}{eq}"{value}"'
    if form == 2:
        return f"{name}{eq}'{value}'"
    unquoted = value.replace(" ", "").replace(">", "") or "v"
    return f"{name}{eq}{unquoted}"


@st.composite
def _start_tag(draw, names=_NAMES):
    name = draw(st.sampled_from(names))
    attrs = draw(st.lists(st.tuples(_WS, _attr()), max_size=3))
    close = draw(st.sampled_from([">", ">", "/>", " />", "\n>"]))
    return "<" + name + "".join(w + a for w, a in attrs) + close


_end_tag = st.builds(lambda n, w: f"</{n}{w}>", st.sampled_from(_NAMES),
                     st.sampled_from(["", "", " ", "\n"]))

_RAW_NAMES = ["script", "style", "SCRIPT", "Style"]
_RAW_BODIES = ["", " ", "var a = 1 < 2 && b;", "document.write('<div>x</div>');",
               "if (a</b) {}", "x = '&amp;';", "/* </styles> */",
               "<!-- hidden -->", "ünï"]
_RAW_CLOSES = ["</script>", "</style>", "</SCRIPT >", "</style\n>",
               "</ script>", ""]
#: script/style elements, closed, closed by the other name, or unclosed
RAW = [f"<{n}>{b}{c}" for n in _RAW_NAMES for b in _RAW_BODIES
       for c in _RAW_CLOSES]

#: fixed snippets the fast path accepts
ACCEPTED = ["<br/>", "<div/>", "<a/>", "<iframe/>", "<!-- a comment -->",
            "<!---->", "<!-- a -- b -- >", "<!--<p>x</p>-->",
            "<!DOCTYPE html>", "<!doctype>", '<wp-nugget wp-name="price"/>',
            "<a href=/p/1/>x</a>", "<img src=a.png/>", "<p class='a>b'>",
            "<td nowrap>", "<a x=1 y='2' z=\"3\" w>", "AT&T &amp", "&"]

#: constructs the fast path refuses (the stdlib reads them specially)
HARD = ["<", "a < b", "x <", "<3", "<?php echo 1; ?>", "<![CDATA[x]]>",
        "<!ELEMENT x>", "<!-- unterminated", "<script>no close",
        "<style>p{}", "<script/>", "<STYLE />", "<script src=x />", "<div",
        '<a href="x', '<h1 class="trunc', "</>", "</ div>", "<a/b>",
        "<a x==y>", "<a x=\"1\"y=2>", "<a x = >", "<a\xa0class=x>",
        "<a\vx=1>", "<div\v>", "<p\x00>", "<script>\u017f</script>",
        "<script>x</scr\u0130pt></script>",
        # refused text is decoded once: 'a &lt; b <', never 'a < b <'
        "a &amp;lt; b <"]

_accepted = st.one_of(_text, _text, _start_tag(), _start_tag(), _end_tag,
                      _end_tag, st.sampled_from(ACCEPTED))

# Nested elements whose end tag may be missing or upper-cased: the
# enclosing end tag then closes them implicitly (the stack unwind).
_NEST_NAMES = ["div", "span", "a", "p", "li", "b", "td", "title", "br",
               "wp-ignore"]
_accepted_doc = st.recursive(
    _accepted,
    lambda inner: st.builds(
        lambda name, kids, close: f"<{name}>{''.join(kids)}{close(name)}",
        st.sampled_from(_NEST_NAMES), st.lists(inner, max_size=4),
        st.sampled_from([lambda n: f"</{n}>", lambda n: f"</{n.upper()}>",
                         lambda n: ""])),
    max_leaves=25)


@settings(max_examples=300, deadline=None)
@given(_accepted_doc)
def test_accepted_grammar_takes_fast_path_and_matches_stdlib(html):
    assert tokenize(html) is not None
    assert_matches_stdlib(html)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(_accepted_doc, st.sampled_from(RAW),
                          st.sampled_from(HARD)), max_size=10)
       .map("".join))
def test_mixed_grammar_matches_stdlib(html):
    assert_matches_stdlib(html)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="<>/=\"' abdipst&#;!-?\n", max_size=200))
def test_taggy_garbage_matches_stdlib(html):
    assert_matches_stdlib(html)


# ---------------------------------------------------------------------------
# real and synth pages
# ---------------------------------------------------------------------------

def _synth_pages():
    """(kind, html) for every synth page kind, tag-dense junk included."""
    out = []
    for i in range(300):
        for _, _, raw, text, _ in rows_for_index(
                i, 50, 0.30, 7, junk_words=60, junk_markup=i % 2 == 0):
            html = raw.decode()
            kind = ("malformed" if html.endswith('class="trunc') else
                    "alien" if not text else "v1")
            out.append((kind, html))
    for i, tid in enumerate(TEMPLATE_IDS * 20):
        slots = make_slots(tid, f"tok:{i}", junk_words=60,
                           junk_markup=i % 2 == 0)
        out.append(("v2", render_page_v2(tid, slots)[0]))
    return out


SYNTH = _synth_pages()


@pytest.mark.parametrize("fx", FIXTURES, ids=[f["fixture_id"] for f in FIXTURES])
def test_fixture_pages_and_templates_match_stdlib(fx):
    assert_matches_stdlib(fx["page"])
    assert_matches_stdlib(fx["template"])


def test_synth_pages_match_stdlib():
    for _, html in SYNTH:
        assert_matches_stdlib(html)
    for tid, html in SITE_TEMPLATES.items():
        assert_matches_stdlib(html)
        assert_matches_stdlib(render_page(tid, make_slots(tid, "x"))[0])


def test_every_synth_page_kind_takes_fast_path():
    kinds = {k for k, _ in SYNTH}
    assert {"v1", "v2", "alien", "malformed"} <= kinds
    for kind, html in SYNTH:
        if kind != "malformed":  # ends inside a start tag
            assert tokenize(html) is not None, (kind, html[:200])
    assert any("</span><span>" in h for k, h in SYNTH if k == "v1")
    for html in SITE_TEMPLATES.values():
        assert tokenize(html) is not None


@pytest.mark.parametrize("html", ACCEPTED)
def test_accepted_snippets_take_fast_path(html):
    for doc in (html, f"<p>x{html}y</p>"):
        assert tokenize(doc) is not None
        assert_matches_stdlib(doc)


@pytest.mark.parametrize("html", HARD)
def test_hard_constructs_are_refused(html):
    for doc in (html, f"<p>x{html}y</p>"):
        assert tokenize(doc) is None
        assert_matches_stdlib(doc)


def test_raw_text_elements_match_stdlib():
    for html in RAW:
        for doc in (html, f"<p>x{html}y</p>", f"<a>{html}</a>b"):
            assert_matches_stdlib(doc)
