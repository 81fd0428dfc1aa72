"""HTML → plain-dict DOM trees. The stdlib ``html.parser.HTMLParser``
semantics are the contract; a regex tokenizer fast path
(``htmltok.py``, differential-tested against the stdlib builders in
tests/test_tokenize.py) implements them, and the stdlib builders below
parse whatever it refuses (SURVEY.md §3A A1/A2; reference:
weakscraper/htmlparser.py ≈15-110 and weakscraper/templateparser.py
≈10-70 — approximate cites, SURVEY §0).

Node shape (exactly the reference's):
    tag  node: {'nodetype': 'tag',  'name': str, 'attrs': {str: str},
                'children': [node, ...]}
    text node: {'nodetype': 'text', 'content': str}

Behavioral pins (these define the byte-identical-text contract):
- ``convert_charrefs=True`` — entities (&amp;, &#65;) in text and
  attribute values are decoded by ``html.unescape``, which leaves a
  string without ``&`` as it is (the fast path skips the call then).
- Whitespace-only text nodes (after decoding) are dropped at parse time.
- Tag names and attribute names are lowercased.
- Attributes with no value (e.g. ``<input disabled>``) get ``''``.
- HTML5 void elements (br, img, meta, ...) never take children even
  without an explicit '/>'.
- Stray end tags are ignored; unclosed tags are closed implicitly at
  EOF (stack unwinds to the synthetic root).

The page parser (``parse_html``) and template parser
(``parse_template_html``) build the same shape; the template parser
additionally preserves ``wp-*`` attributes and accepts the pseudo-tags
``<wp-ignore/>`` and ``<wp-nugget ...>...</wp-nugget>`` as ordinary
nodes (they are interpreted at compile time, spec.py).

Span-annotated parses (``parse_html_spans_counted``) always take the
stdlib path: they need its line/column positions.

lxml/bs4 are deliberately NOT used: the stdlib parser's exact
tokenization/entity behavior is part of the parity contract and the
sandbox does not ship lxml (SURVEY §7 environment pins).
"""

from __future__ import annotations

from html import unescape
from html.parser import HTMLParser
from typing import Any

from .htmltok import parse_attrs, tokenize

Node = dict[str, Any]

# WHATWG void elements: may not have children, need no end tag.
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
#: templates also write the ``<wp-ignore>`` pseudo-tag without children
TEMPLATE_VOID_ELEMENTS = VOID_ELEMENTS | {"wp-ignore"}


def tag_node(name: str, attrs: dict[str, str]) -> Node:
    return {"nodetype": "tag", "name": name, "attrs": attrs, "children": []}


def text_node(content: str) -> Node:
    return {"nodetype": "text", "content": content}


def is_tag(node: Node) -> bool:
    return node["nodetype"] == "tag"


def is_text(node: Node) -> bool:
    return node["nodetype"] == "text"


class _DomBuilder(HTMLParser):
    """Stack-based tree builder on the stdlib tokenizer — the path for
    documents :func:`htmltok.tokenize` refuses, and the base of the
    span builder. The synthetic root node collects all top-level
    children; callers receive the root's children list wrapped in a
    'root' tag node so single- and multi-rooted documents look alike.
    """

    #: tags whose start implies no children (overridden per subclass;
    #: the fast path reads the same set)
    void_elements: frozenset[str] = VOID_ELEMENTS

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root: Node = tag_node("root", {})
        self._stack: list[Node] = [self.root]
        #: nodes appended (tags + kept text) — counted during the parse
        #: so callers never need a second tree walk (hot path: one
        #: extra walk cost ~6% of per-doc time, measured)
        self.n_nodes: int = 0

    # -- HTMLParser callbacks ------------------------------------------
    # (attr-less tags skip the dict comprehension — boilerplate markup
    # is dominated by bare spans/divs, measured ~2% of parse time)
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        node = tag_node(
            tag,
            {k: (v if v is not None else "") for k, v in attrs}
            if attrs else {})
        self._stack[-1]["children"].append(node)
        self.n_nodes += 1
        if tag not in self.void_elements:
            self._stack.append(node)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        node = tag_node(
            tag,
            {k: (v if v is not None else "") for k, v in attrs}
            if attrs else {})
        self._stack[-1]["children"].append(node)
        self.n_nodes += 1

    def handle_endtag(self, tag: str) -> None:
        # Fast path: well-formed HTML closes the top of stack.
        stack = self._stack
        if len(stack) > 1 and stack[-1]["name"] == tag:
            stack.pop()
            return
        # Unwind to the nearest matching open tag; ignore strays.
        for i in range(len(stack) - 1, 0, -1):
            if stack[i]["name"] == tag:
                del stack[i:]
                return

    def handle_data(self, data: str) -> None:
        # isspace() instead of strip(): no new string allocation on the
        # hot path; semantics identical (drop whitespace-only nodes)
        if data and not data.isspace():
            self._stack[-1]["children"].append(text_node(data))
            self.n_nodes += 1

    # comments, PIs, declarations are dropped (reference behavior: no
    # handle_comment override → HTMLParser discards them).


class _TemplateDomBuilder(_DomBuilder):
    """Same tree build, but ``<wp-ignore>`` is treated as void (the
    template pseudo-tag is written ``<wp-ignore/>`` or ``<wp-ignore>``
    with no children) while ``<wp-nugget>`` wraps text normally.
    """

    void_elements = TEMPLATE_VOID_ELEMENTS


def _build(toks: list, void: frozenset[str]) -> tuple[Node, int]:
    """The :class:`_DomBuilder` tree from :func:`htmltok.tokenize`
    tokens: a name stack beside the stack of open children lists, and
    node dicts built in place (this loop is the extract hot path)."""
    root = tag_node("root", {})
    cur = root["children"]
    kids = [cur]
    names = [""]  # names[i] opened kids[i]; "" never matches an end tag
    n = 0
    for text, name, attrs, slash, end, rname, rattrs, raw, _ in toks:
        if text:
            if "&" in text:
                text = unescape(text)
            if not text.isspace():
                cur.append({"nodetype": "text", "content": text})
                n += 1
        elif name:
            name = name.lower()
            children: list[Node] = []
            cur.append({"nodetype": "tag", "name": name,
                        "attrs": parse_attrs(attrs) if attrs else {},
                        "children": children})
            n += 1
            if not slash and name not in void:
                names.append(name)
                kids.append(children)
                cur = children
        elif end:
            end = end.lower()
            if names[-1] == end:
                names.pop()
                kids.pop()
                cur = kids[-1]
            elif end in names:
                # unwind to the nearest matching open tag; strays are
                # ignored
                i = len(names) - 1 - names[::-1].index(end)
                del names[i:]
                del kids[i:]
                cur = kids[-1]
        elif rname:
            # script/style: start tag, raw text child and close in one
            children = ([{"nodetype": "text", "content": raw}]
                        if raw and not raw.isspace() else [])
            cur.append({"nodetype": "tag", "name": rname.lower(),
                        "attrs": parse_attrs(rattrs) if rattrs else {},
                        "children": children})
            n += 1 + len(children)
    return root, n


def _parse(html: str, builder: type[_DomBuilder]) -> tuple[Node, int]:
    """Fast path first; ``builder`` parses documents it refuses."""
    toks = tokenize(html)
    if toks is not None:
        return _build(toks, builder.void_elements)
    b = builder()
    b.feed(html)
    b.close()
    return b.root, b.n_nodes


def parse_html(html: str) -> Node:
    """Parse a page into a DOM tree rooted at a synthetic 'root' node."""
    return _parse(html, _DomBuilder)[0]


def parse_html_counted(html: str) -> tuple[Node, int]:
    """Like :func:`parse_html`, also returning the node count gathered
    during the parse (no second tree walk — extract hot path)."""
    return _parse(html, _DomBuilder)


class _SpanDomBuilder(_DomBuilder):
    """Span-annotating variant: every TAG node gets
    ``node["span"] = [start, end]`` — character offsets of the element
    in the SOURCE html (start of ``<tag`` to just past the matching
    ``</tag>``). A separate subclass so the default extract hot path
    pays nothing; the north rule's "extracted text/spans per url"
    contract is served by ``extract(..., spans=True)``.

    Exactness: offsets come from ``HTMLParser.getpos()`` (line, col)
    mapped through a precomputed line-start table. End offsets are
    exact for explicitly-closed elements (position of ``</`` +
    ``len(tag) + 3``; a rare ``</tag >`` with inner whitespace is off
    by that whitespace); void/self-closing and implicitly-closed
    elements keep the end of their START tag (the first unquoted
    ``>`` scan) — the honest bound, since their close has no source
    token."""

    _src: str = ""
    _line_starts: list[int] = [0]

    def _abs(self) -> int:
        lineno, col = self.getpos()
        return self._line_starts[lineno - 1] + col

    def _tag_end(self, start: int) -> int:
        """First UNQUOTED '>' after ``start`` — a plain find() stops
        inside quoted attribute values like title="a>b" (r04 review),
        truncating the span mid-tag."""
        src = self._src
        i, n, quote = start, len(src), None
        while i < n:
            c = src[i]
            if quote is not None:
                if c == quote:
                    quote = None
            elif c in "\"'":
                quote = c
            elif c == ">":
                return i + 1
            i += 1
        return n

    def handle_starttag(self, tag, attrs):
        super().handle_starttag(tag, attrs)
        node = (self._stack[-1] if tag not in self.void_elements
                else self._stack[-1]["children"][-1])
        start = self._abs()
        node["span"] = [start, self._tag_end(start)]

    def handle_startendtag(self, tag, attrs):
        super().handle_startendtag(tag, attrs)
        node = self._stack[-1]["children"][-1]
        start = self._abs()
        node["span"] = [start, self._tag_end(start)]

    def handle_endtag(self, tag):
        stack = self._stack
        node = None
        if len(stack) > 1 and stack[-1]["name"] == tag:
            node = stack[-1]
        else:
            for i in range(len(stack) - 1, 0, -1):
                if stack[i]["name"] == tag:
                    node = stack[i]
                    break
        super().handle_endtag(tag)
        if node is not None and "span" in node:
            node["span"][1] = self._abs() + len(tag) + 3


def parse_html_spans_counted(html: str) -> tuple[Node, int]:
    """Like :func:`parse_html_counted` with span-annotated tag nodes
    (see :class:`_SpanDomBuilder`)."""
    b = _SpanDomBuilder()
    b._src = html
    starts = [0]
    idx = html.find("\n")
    while idx >= 0:
        starts.append(idx + 1)
        idx = html.find("\n", idx + 1)
    b._line_starts = starts
    b.feed(html)
    b.close()
    return b.root, b.n_nodes


def parse_template_html(html: str) -> Node:
    """Parse a template (wp-* markers preserved as ordinary attrs/tags)."""
    return _parse(html, _TemplateDomBuilder)[0]


def serialize_node(node: Node) -> str:
    """Canonical HTML-ish serialization of a subtree (used by the
    wp-recursive capture, SURVEY A9). Deterministic: attrs sorted by
    name, text emitted verbatim (post entity-decode), void elements
    self-closed.
    """
    if is_text(node):
        return node["content"]
    attrs = "".join(f' {k}="{v}"' for k, v in sorted(node["attrs"].items()))
    name = node["name"]
    if not node["children"] and name in VOID_ELEMENTS:
        return f"<{name}{attrs}/>"
    inner = "".join(serialize_node(c) for c in node["children"])
    return f"<{name}{attrs}>{inner}</{name}>"


def node_to_plain(node: Node) -> Any:
    """JSON-able copy of a subtree (for wp-recursive json mode / debug)."""
    if is_text(node):
        return {"nodetype": "text", "content": node["content"]}
    return {
        "nodetype": "tag",
        "name": node["name"],
        "attrs": dict(node["attrs"]),
        "children": [node_to_plain(c) for c in node["children"]],
    }
