"""One HTML token layout with two sources: the token stream under
``dom._build`` (the only tree builder) and ``boiler._segment`` (the
only block segmenter).

The stdlib ``html.parser.HTMLParser`` (Python 3.11, the behaviour
``convert_charrefs=True`` gives) is the contract. :func:`tokenize` is
the fast source: one compiled regex, one ``findall`` pass, reproducing
exactly the part of that contract a regex can; it returns ``None``
when the document holds a construct it does not accept. The stdlib
source, :class:`_StdlibTokens`, is ``HTMLParser`` itself handing its
callbacks over as the same tuples; :func:`tokens` picks it for refused
pages and whenever spans are asked for. ``tests/test_tokenize.py``
checks both sources, through both consumers, against a tree builder
and a block segmenter written straight on ``HTMLParser`` callbacks.

Accepted by the fast source (each exactly as the stdlib tokenizes it):
- text — every run up to the next ``<``, one token (consumers
  ``html.unescape`` it when it contains ``&``, as the stdlib does);
- start, end and self-closing tags; attributes separated by ASCII
  whitespace, quoted, unquoted or valueless;
- ``<!-- ... -->`` comments (closed by ``--\\s*>``, as ``_markupbase``
  does) and ``<!doctype ...>``: both dropped;
- ``script``/``style`` raw text up to the first ``</script\\s*>`` /
  ``</style\\s*>``, case-insensitive, not unescaped.

Refused: a bare ``<`` in text, ``<?``, ``<![``, any other ``<!``, an
unterminated tag, comment or raw text, ``<script/>``/``<style/>``, and
any tag spelling the stdlib reads some other way (``/`` between
attributes, ``==``, non-ASCII whitespace, ...).

Coverage: text matches every character but ``<``, and the last
alternative swallows the rest of the document at the first ``<`` no
other alternative accepts — so the tokens always tile the whole
document, and it is fully accepted iff the last token is not that
one.

Token layout (the fast source's ``findall`` groups; exactly one kind
is non-empty, and comments/doctypes have all groups empty):
    TEXT, NAME, ATTRS, SLASH  — text run (entities still escaped);
                                start tag (ATTRS the raw attribute
                                source, SLASH '/' if ``<x/>``)
    END                       — end tag name (raw case)
    RAW_NAME, RAW_ATTRS, RAW  — script/style start tag and its raw text
                                (the close tag is part of the token)
    BAD / SPAN                — the refused remainder, so empty in any
                                list :func:`tokenize` returns
The stdlib source fills the same slots but never RAW_*: script/style
arrive as start tag, text and end tag, as the stdlib reports them.
Its TEXT is the stdlib's decoded text with ``&`` re-escaped, so the
consumers' one ``unescape`` gives back exactly that text; its ATTRS is
the stdlib's attribute dict; and with ``spans=True`` its SPAN is the
token's ``(start, end)`` source offsets (a text token's end is its
start: consumers read only where text begins).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from .errors import MarkupError

# ASCII whitespace: every character that ends a stdlib tag name (tab,
# LF, CR, FF, space); other \s characters would extend it there.
_W = r"[ \t\n\r\f]"
# One attribute, groups (name, "value", 'value', value): the stdlib's
# attribute grammar with ASCII-whitespace separators, one '=', and no
# quote, '<' or '=' where it would read them into a name or value.
_ATTR_FIND = re.compile(
    rf"{_W}+([^\s/>=\"'<][^\s/>=\"'<]*+)"
    rf"(?:{_W}*={_W}*(?:\"([^\"]*)\"|'([^']*)'|([^\s>\"'=][^\s>]*+)))?")
# the same pattern with its groups made non-capturing, for _TOKEN
_ATTR = re.sub(r"\((?!\?)", "(?:", _ATTR_FIND.pattern)
_RAW_NAME = r"[sS][cC][rR][iI][pP][tT]|[sS][tT][yY][lL][eE]"

_TOKEN = re.compile(
    r"([^<]+)"
    rf"|<(?!(?:{_RAW_NAME})[ \t\n\r\f/>])([a-zA-Z][^\s/>=\"'<\x00]*+)"
    rf"((?:{_ATTR})*+){_W}*(/?)>"
    rf"|</([a-zA-Z][-.a-zA-Z0-9:_]*+){_W}*>"
    # The stdlib closes raw text with a Unicode re.I search, under
    # which 'ſ', 'İ' and 'ı' also spell script/style, and then reads
    # such a close as text; raw text holding one of them is refused.
    rf"|<({_RAW_NAME})((?:{_ATTR})*+){_W}*>"
    r"([^\u017f\u0130\u0131]*?)</\s*(?ai:\6)\s*>"
    r"|<!--(?s:.*?)--\s*>"
    r"|<![dD][oO][cC][tT][yY][pP][eE][^>]*>"
    r"|(<(?s:.*))")

Token = tuple  # nine slots, laid out in the module docstring


def tokenize(html: str) -> list[Token] | None:
    """The fast source's tokens for ``html``, or ``None`` if it
    refuses the document."""
    toks = _TOKEN.findall(html)
    if toks and toks[-1][-1]:
        return None
    return toks


def parse_attrs(src: str) -> dict[str, str]:
    """The attribute dict of a start tag's ATTRS group: names
    lowercased, a valueless attribute ``''``, values unescaped when
    they hold ``&``, the last of a repeated name winning — what the
    stdlib builders make of ``HTMLParser``'s attribute list."""
    d = {}
    for k, dq, sq, uq in _ATTR_FIND.findall(src):
        v = dq or sq or uq
        d[k.lower()] = unescape(v) if "&" in v else v
    return d


class _StdlibTokens(HTMLParser):
    """The stdlib source: ``HTMLParser``'s callbacks as token tuples.

    Offsets: the stdlib advances through the input only by
    ``updatepos(i, j)``, and trims what it consumed after each pass, so
    summing ``j - i`` gives the absolute offset of the token being
    handed over. Spans follow the stdlib's own token extents:
    ``get_starttag_text()`` for a start tag, and for an end tag up to
    the first ``>``, which is where ``parse_endtag`` ends it."""

    def __init__(self, html: str, spans: bool) -> None:
        super().__init__(convert_charrefs=True)
        self.toks: list[Token] = []
        self._html = html
        self._spans = spans
        self._at = 0

    def updatepos(self, i: int, j: int) -> int:
        if i < j:
            self._at += j - i
        return j

    def _start(self, tag: str, attrs: list, slash: str) -> None:
        at = self._at
        self.toks.append((
            "", tag, {k: "" if v is None else v for k, v in attrs}, slash,
            "", "", "", "",
            (at, at + len(self.get_starttag_text())) if self._spans else ""))

    def handle_starttag(self, tag: str, attrs: list) -> None:
        self._start(tag, attrs, "")

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self._start(tag, attrs, "/")

    def handle_endtag(self, tag: str) -> None:
        at = self._at
        self.toks.append((
            "", "", "", "", tag, "", "", "",
            (at, self._html.find(">", at) + 1) if self._spans else ""))

    def handle_data(self, data: str) -> None:
        self.toks.append((data.replace("&", "&amp;"), "", "", "", "", "",
                          "", "", (self._at, self._at) if self._spans else ""))


def tokens(html: str, spans: bool = False) -> list[Token]:
    """The tokens of ``html``: the fast source's when it accepts the
    document and no spans are asked for, else the stdlib source's.
    Raises :class:`MarkupError` on a page the stdlib cannot read, so
    callers that map ``CompareError`` to a status row cover it."""
    if not spans:
        toks = tokenize(html)
        if toks is not None:
            return toks
    src = _StdlibTokens(html, spans)
    try:
        src.feed(html)
        src.close()
    except AssertionError as e:
        # _markupbase's answer to a marked section it cannot name
        raise MarkupError(str(e)) from None
    return src.toks
