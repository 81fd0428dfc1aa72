"""HTML → plain-dict DOM trees. The stdlib ``html.parser.HTMLParser``
semantics are the contract. :func:`_build` is the one tree builder: it
reads ``htmltok`` token tuples from either source — the regex fast
path, or the stdlib parser itself for pages the fast path refuses and
for span-annotated parses (tests/test_tokenize.py checks both against
a builder written on ``HTMLParser`` callbacks; SURVEY.md §3A A1/A2;
reference: weakscraper/htmlparser.py ≈15-110 and
weakscraper/templateparser.py ≈10-70 — approximate cites, SURVEY §0).

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

Span-annotated parses (``parse_html_spans_counted``) always read the
stdlib source: its tokens carry their source offsets.

lxml/bs4 are deliberately NOT used: the stdlib parser's exact
tokenization/entity behavior is part of the parity contract and the
sandbox does not ship lxml (SURVEY §7 environment pins).
"""

from __future__ import annotations

from html import unescape
from typing import Any

from .htmltok import parse_attrs, tokens

Node = dict[str, Any]

# WHATWG void elements: may not have children, need no end tag.
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
#: templates also write the ``<wp-ignore>`` pseudo-tag without children
TEMPLATE_VOID_ELEMENTS = VOID_ELEMENTS | {"wp-ignore"}


def tag_node(name: str, attrs: dict[str, str]) -> Node:
    return {"nodetype": "tag", "name": name, "attrs": attrs, "children": []}


def is_tag(node: Node) -> bool:
    return node["nodetype"] == "tag"


def is_text(node: Node) -> bool:
    return node["nodetype"] == "text"


def _build(toks: list, void: frozenset[str]) -> tuple[Node, int]:
    """The tree and node count of ``htmltok`` tokens: a name stack
    beside the stack of open children lists, and node dicts built in
    place (this loop is the extract hot path). The synthetic root
    collects all top-level children, so single- and multi-rooted
    documents look alike. Tokens that carry a span give their tag
    node ``"span": [start, end]``: the start tag's extent, widened to
    the end of the end tag that closes it explicitly (void,
    self-closing and implicitly closed elements have no such token).
    Whitespace-only text, script/style raw text included, is dropped."""
    root = tag_node("root", {})
    cur = root["children"]
    kids = [cur]
    names = [""]  # names[i] opened kids[i]; "" never matches an end tag
    n = 0
    for text, name, attrs, slash, end, rname, rattrs, raw, span in toks:
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
                        "attrs": (attrs if type(attrs) is dict
                                  else parse_attrs(attrs)) if attrs else {},
                        "children": children})
            if span:
                cur[-1]["span"] = list(span)
            n += 1
            if not slash and name not in void:
                names.append(name)
                kids.append(children)
                cur = children
        elif end:
            end = end.lower()
            # an open node is the last child in its parent's list
            if names[-1] == end:
                if span:
                    kids[-2][-1]["span"][1] = span[1]
                names.pop()
                kids.pop()
                cur = kids[-1]
            elif end in names:
                # unwind to the nearest matching open tag; strays are
                # ignored
                i = len(names) - 1 - names[::-1].index(end)
                if span:
                    kids[i - 1][-1]["span"][1] = span[1]
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


def parse_html(html: str) -> Node:
    """Parse a page into a DOM tree rooted at a synthetic 'root' node."""
    return _build(tokens(html), VOID_ELEMENTS)[0]


def parse_html_counted(html: str) -> tuple[Node, int]:
    """Like :func:`parse_html`, also returning the node count gathered
    during the parse (no second tree walk — extract hot path)."""
    return _build(tokens(html), VOID_ELEMENTS)


def parse_html_spans_counted(html: str) -> tuple[Node, int]:
    """Like :func:`parse_html_counted`, with every tag node carrying
    ``"span": [start, end]``, its [start, end) character offsets in
    ``html`` (see :func:`_build`). The default extract path pays
    nothing for them; ``extract(..., spans=True)`` reads them."""
    return _build(tokens(html, spans=True), VOID_ELEMENTS)


def parse_template_html(html: str) -> Node:
    """Parse a template (wp-* markers preserved as ordinary attrs/tags;
    ``<wp-ignore>`` is void, ``<wp-nugget>`` wraps text normally)."""
    return _build(tokens(html), TEMPLATE_VOID_ELEMENTS)[0]


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

