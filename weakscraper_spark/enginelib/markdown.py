"""HTML → Markdown structured-text conversion: the tier-extraction
step webtext corpus pipelines use when plain main-text loses too much
(headings, lists, links, code blocks and tables carry training
signal — the public pipelines that motivated this keep document
STRUCTURE as lightweight markdown rather than flattening to prose).

Deterministic CommonMark-flavored subset:

- ``h1..h6``      → ``#``·level + inline text
- ``p``           → paragraph (inline whitespace collapsed)
- ``br``          → line break inside the paragraph
- ``hr``          → ``---``
- ``pre``         → fenced code block, inner text byte-preserved
                    (entities decoded; one bounding newline trimmed)
- ``blockquote``  → every line of the inner blocks prefixed ``> ``
- ``ul``/``ol``   → ``- `` / ``1. `` items; nested blocks (including
                    nested lists) indented by the bullet width,
                    joined tight (single newline)
- ``table``       → pipe table; first row is the header, separator
                    ``---`` per header cell
- ``a[href]``     → ``[text](href)``; ``img`` → ``![alt](src)``
- ``strong/b``    → ``**x**``; ``em/i`` → ``*x*``; ``code`` → `` `x` ``
- script/style/noscript/svg/template/title/iframe/object subtrees
  are dropped; unknown block tags are transparent containers;
  unknown inline tags are transparent spans.

Inline runs between block children become implicit paragraphs, so
bare ``<body>text<div>…`` input still yields the text. Markdown
special characters in text are NOT escaped — the output is corpus
text, not guaranteed-round-trippable markdown source; callers that
need lossless round-trips keep the html column.

Built on dom.py's one tree builder over the same ``htmltok`` tokens
(tolerant stack unwinding, WHATWG void set, stdlib entity decoding;
the regex fast path, or the stdlib parser for pages it refuses), but
with whitespace-only text nodes kept — the template path drops them,
which is correct for template matching but would glue adjacent
inline elements (``**x***y*``) here. Pathological nesting raises
``RecursionError`` from the renderer; the Spark operator
(operators/markdown.py) maps it to a status row, never a task
failure — the A13 error-taxonomy discipline.

Reference parity note (SURVEY §0): the reference implements only
template extraction; markdown conversion is a brief-mandated
training-pipeline extension, pinned by this repo's own fixtures and
the generator round-trip in sources/synthmd.py.
"""

from __future__ import annotations

import re

from .dom import VOID_ELEMENTS, Node, _build, is_tag, is_text, tag_node
from .htmltok import tokens

IGNORED_SUBTREES = frozenset(
    "script style noscript svg template title iframe object".split())

#: tags rendered as their own block(s); anything else inside a block
#: container is inline content
_HEADINGS = {f"h{i}": i for i in range(1, 7)}
_BLOCK_TAGS = frozenset(
    "address article aside blockquote body dd div dl dt fieldset "
    "figcaption figure footer form header hr html li main nav ol p "
    "pre section table tbody td tfoot th thead tr ul".split()
).union(_HEADINGS)

_WS_RUN = re.compile(r"[ \t\r\n\f\v]+")
_BR = "\x00"  # inline placeholder surviving whitespace collapse


def _parse(html: str) -> Node:
    return _build(tokens(html), VOID_ELEMENTS, keep_ws=True)[0]


def _collapse(s: str) -> str:
    s = _WS_RUN.sub(" ", s)
    s = re.sub(rf" ?{_BR} ?", "\n", s)
    return s.strip()


def _raw_text(node: Node) -> str:
    """Concatenated text content, whitespace preserved (pre)."""
    out: list[str] = []
    for c in node["children"]:
        if is_text(c):
            out.append(c["content"])
        elif c["name"] not in IGNORED_SUBTREES:
            out.append(_raw_text(c))
    return "".join(out)


def _inline(node: Node) -> str:
    """Render children as one inline run (uncollapsed; the block
    assembler collapses once at flush time)."""
    out: list[str] = []
    for c in node["children"]:
        if is_text(c):
            out.append(c["content"])
            continue
        name = c["name"]
        if name in IGNORED_SUBTREES:
            continue
        if name == "br":
            out.append(_BR)
        elif name == "img":
            alt = c["attrs"].get("alt", "")
            src = c["attrs"].get("src", "")
            out.append(f"![{alt}]({src})")
        elif name == "a":
            txt = _collapse(_inline(c))
            href = c["attrs"].get("href")
            out.append(f"[{txt}]({href})" if href is not None else txt)
        elif name in ("strong", "b"):
            txt = _collapse(_inline(c))
            out.append(f"**{txt}**" if txt else "")
        elif name in ("em", "i"):
            txt = _collapse(_inline(c))
            out.append(f"*{txt}*" if txt else "")
        elif name == "code":
            txt = _collapse(_inline(c))
            out.append(f"`{txt}`" if txt else "")
        else:
            # transparent span (span, u, small, …) — and a BLOCK tag
            # landing in inline position degrades to its inline text
            out.append(_inline(c))
    return "".join(out)


def _table(node: Node) -> str:
    rows: list[list[str]] = []

    def collect(n: Node) -> None:
        for c in n["children"]:
            if not is_tag(c):
                continue
            if c["name"] == "tr":
                cells = [_collapse(_inline(td))
                         for td in c["children"]
                         if is_tag(td) and td["name"] in ("td", "th")]
                if cells:
                    rows.append(cells)
            elif c["name"] in ("thead", "tbody", "tfoot"):
                collect(c)

    collect(node)
    if not rows:
        return ""
    lines = ["| " + " | ".join(rows[0]) + " |",
             "| " + " | ".join("---" for _ in rows[0]) + " |"]
    lines += ["| " + " | ".join(r) + " |" for r in rows[1:]]
    return "\n".join(lines)


def _list(node: Node, ordered: bool) -> str:
    lines: list[str] = []
    i = 0
    for c in node["children"]:
        if not (is_tag(c) and c["name"] == "li"):
            continue
        i += 1
        prefix = f"{i}. " if ordered else "- "
        pad = " " * len(prefix)
        item = "\n".join(_blocks(c))          # tight join inside li
        first, *rest = (item or "").split("\n")
        lines.append(prefix + first)
        lines += [pad + ln if ln else ln for ln in rest]
    return "\n".join(lines)


def _blocks(node: Node) -> list[str]:
    """Render a block container's children → list of block strings.
    Inline runs between block children flush as paragraphs."""
    blocks: list[str] = []
    pending: list[str] = []

    def flush() -> None:
        if pending:
            txt = _collapse("".join(pending))
            if txt:
                blocks.append(txt)
            pending.clear()

    for c in node["children"]:
        if is_text(c):
            pending.append(c["content"])
            continue
        name = c["name"]
        if name in IGNORED_SUBTREES:
            continue
        if name not in _BLOCK_TAGS:
            # inline element — render into the pending run
            wrap = tag_node("span", {})
            wrap["children"] = [c]
            pending.append(_inline(wrap))
            continue
        flush()
        if name in _HEADINGS:
            txt = _collapse(_inline(c))
            if txt:
                blocks.append("#" * _HEADINGS[name] + " " + txt)
        elif name == "p":
            txt = _collapse(_inline(c))
            if txt:
                blocks.append(txt)
        elif name == "hr":
            blocks.append("---")
        elif name == "pre":
            body = _raw_text(c)
            if body.startswith("\n"):
                body = body[1:]
            if body.endswith("\n"):
                body = body[:-1]
            blocks.append(f"```\n{body}\n```")
        elif name == "blockquote":
            inner = "\n\n".join(_blocks(c))
            if inner:
                blocks.append("\n".join(
                    ("> " + ln).rstrip() for ln in inner.split("\n")))
        elif name in ("ul", "ol"):
            lst = _list(c, ordered=(name == "ol"))
            if lst:
                blocks.append(lst)
        elif name == "table":
            tbl = _table(c)
            if tbl:
                blocks.append(tbl)
        elif name in ("li", "td", "th", "tr", "dt", "dd"):
            # structural tags met outside their parent: render their
            # content as ordinary blocks (tolerant-input path)
            blocks.extend(_blocks(c))
        else:
            # transparent block container (div, section, body, …)
            blocks.extend(_blocks(c))
    flush()
    return blocks


def to_markdown_blocks(html: str) -> list[str]:
    """The rendered top-level blocks, unjoined — the TRUE block count
    (a fenced code block containing a blank line is one block; a
    ``\\n\\n``-count over the joined text would split it, r05
    review). Raises like :func:`to_markdown`."""
    return _blocks(_parse(html))


def to_markdown(html: str) -> str:
    """Convert an HTML document/fragment to the markdown subset
    above. Never raises on malformed input (the parser is tolerant);
    pathological nesting depth may raise ``RecursionError`` — the
    Spark operator maps that to a status row."""
    return "\n\n".join(to_markdown_blocks(html))
