"""One-pass HTML tokenizer: the fast path under ``dom.py`` and
``boiler.py``.

The stdlib ``html.parser.HTMLParser`` (Python 3.11, the behaviour
``convert_charrefs=True`` gives) is the contract; this module only
implements the part of it that one compiled regex can reproduce
exactly. :func:`tokenize` makes a single ``findall`` pass and returns
the token list, or ``None`` when the document holds a construct the
fast path does not accept — callers then run their stdlib
``HTMLParser`` subclass instead, so a refused page costs one regex
pass on top of today's parse. ``tests/test_tokenize.py`` checks both
consumers against their stdlib twins on generated and real pages.

Accepted (each exactly as the stdlib tokenizes it):
- text — every run up to the next ``<``, one token (callers
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

Token layout (``findall`` groups; exactly one kind is non-empty, and
comments/doctypes have all groups empty):
    TEXT, NAME, ATTRS, SLASH  — text run; start tag (ATTRS the raw
                                attribute source, SLASH '/' if ``<x/>``)
    END                       — end tag name (raw case)
    RAW_NAME, RAW_ATTRS, RAW  — script/style start tag and its raw text
                                (the close tag is part of the token)
    BAD                       — the refused remainder
"""

from __future__ import annotations

import re
from html import unescape

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

Token = tuple[str, str, str, str, str, str, str, str, str]


def tokenize(html: str) -> list[Token] | None:
    """Token tuples for ``html`` (layout in the module docstring), or
    ``None`` if the fast path refuses the document."""
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
