"""Template-free main-content extraction: HTML boilerplate stripping
via shallow text features (the north rule's "HTML boilerplate strip …
DOM heuristics" leg, complementing the template matcher in match.py —
heuristics recover text from pages NO template covers).

Algorithm (public): the block-segmentation + densitometric
classification of Kohlschütter, Fankhauser & Nejdl, "Boilerplate
Detection using Shallow Text Features", WSDM 2010 — the NumWords /
LinkDensity decision-rule variant the paper reports as within ~1% of
the full feature set. A page is segmented into text blocks at
block-level tag boundaries; each block gets two features (word count,
link density = words inside <a> / words); a fixed decision tree over
(prev, curr, next) features labels each block CONTENT or BOILERPLATE.

Two extraction modes:
- ``all``     — concatenate every CONTENT block (the paper's form;
                best recall on multi-block articles);
- ``largest`` — keep only the CONTENT block with the most words
                (tie: first). Precision mode: on single-main-block
                pages it returns the main text byte-identically,
                which is what the value-pinned query checks.

Implementation is ONE streaming pass, :func:`_segment`, over the
same ``htmltok`` tokens as dom.py's tree builder — from the regex
fast path, or from the stdlib parser for documents it refuses and for
span tracking (the stdlib semantics are the contract;
tests/test_tokenize.py checks both sources against a segmenter
written on ``HTMLParser`` callbacks). No DOM tree is materialized;
per-block state is O(words in the current block). Entity decoding
and whitespace-only-node behavior therefore match the template path
byte-for-byte.

Scale shape: pure per-document function → runs inside the same
Arrow-batched ``mapInArrow`` stage as the template extractor
(operators/heuristic.py); no shuffle, no driver involvement.

Reference parity note (SURVEY §0): the reference implements only
template-based extraction; this module is the north-rule-mandated
extension, so its contract is pinned by the WSDM'10 rule constants
and this repo's own tests, not by reference fixtures.
"""

from __future__ import annotations

from html import unescape

from .dom import VOID_ELEMENTS
from .htmltok import tokens

#: tags whose entire subtree carries no rendered text. Deliberately
#: NOT ``head``: real-world malformed pages often omit ``</head>``,
#: and an unclosed ignored subtree would swallow the entire body —
#: instead the head's text carriers (title; script/style) are
#: ignored individually, and meta/link are void anyway. A short
#: title that does surface becomes an ordinary (boilerplate-
#: classified) block.
IGNORED_SUBTREES = frozenset(
    "script style noscript svg template title iframe object".split())

#: tags that terminate the current text block (start AND end); inline
#: tags (a, span, b, i, em, strong, code, ...) continue the block
BLOCK_TAGS = frozenset(
    "address article aside blockquote br dd div dl dt fieldset "
    "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr li main "
    "nav ol option p pre section table tbody td tfoot th thead tr ul "
    "video audio canvas".split())


class Block:
    """One text block: fragments joined by single spaces (block-level
    boundaries never split a text node, so a single-text-node block
    keeps its content byte-identical). ``span`` — [start, end) source
    offsets covering the block's text, populated only when the
    segmenter tracks spans: start = first text fragment's source
    position, end = the '<' of the block-terminating tag (or end of
    input) — a COVERING span (may include inline/ignored markup and
    trailing whitespace; re-segmenting the slice reproduces the block
    text exactly, which is what the self-consistency sweep pins)."""

    __slots__ = ("text", "n_words", "n_link_words", "span")

    def __init__(self, text: str, n_words: int, n_link_words: int,
                 span: tuple[int, int] | None = None):
        self.text = text
        self.n_words = n_words
        self.n_link_words = n_link_words
        self.span = span

    @property
    def link_density(self) -> float:
        return self.n_link_words / self.n_words if self.n_words else 0.0


def _segment(toks: list, length: int) -> list[Block]:
    """The blocks of ``htmltok`` tokens: accumulate text fragments;
    flush a block whenever a block-level tag opens or closes; count
    words inside <a> subtrees toward link words. A self-closing tag
    runs the start and then the end rule, as
    ``HTMLParser.handle_startendtag`` does; a fast-path script/style
    token opens and closes an ignored subtree around ignored text, so
    it changes nothing and is skipped. When the tokens carry spans,
    each block gets its covering span, ending at the start of the
    flushing tag or at ``length``, the end of the source."""
    blocks: list[Block] = []
    frags: list[str] = []
    words = link_words = anchor = ignore = 0
    start = None
    for text, name, _, slash, end, _, _, _, span in toks:
        if text:
            if ignore:
                continue
            if "&" in text:
                text = unescape(text)
            if text.isspace():
                continue
            if span and not frags:
                start = span[0]
            frags.append(text)
            n = len(text.split())
            words += n
            if anchor:
                link_words += n
            continue
        if not (name or end):
            continue
        tag = (name or end).lower()
        flush = False
        if name:
            if ignore:
                if tag in IGNORED_SUBTREES and tag not in VOID_ELEMENTS:
                    ignore += 1
            elif tag in IGNORED_SUBTREES:
                if tag not in VOID_ELEMENTS:
                    ignore = 1
            elif tag in BLOCK_TAGS:
                flush = True
            elif tag == "a":
                anchor += 1
        if end or slash:
            if ignore:
                if tag in IGNORED_SUBTREES:
                    ignore -= 1
            elif tag in BLOCK_TAGS:
                flush = True
            elif tag == "a" and anchor:
                anchor -= 1
        if flush and frags:
            blocks.append(Block(" ".join(frags), words, link_words,
                                (start, span[0]) if span else None))
            frags = []
            words = link_words = 0
    if frags:
        blocks.append(Block(" ".join(frags), words, link_words,
                            None if start is None else (start, length)))
    return blocks


def segment_blocks(html: str, spans: bool = False) -> list[Block]:
    return _segment(tokens(html, spans), len(html))


# Decision-rule constants from the WSDM'10 paper's NumWords/LinkDensity
# classifier (trained on the L3S-GN1 news corpus; the published tree).
_CURR_LD_MAX = 0.333333
_PREV_LD_MAX = 0.555556


def classify_blocks(blocks: list[Block]) -> list[bool]:
    """True = CONTENT. Each block is judged on (prev, curr, next)
    word counts and link densities; virtual empty blocks pad the
    ends (0 words, 0 link density), per the paper."""
    out = []
    n = len(blocks)
    for i, curr in enumerate(blocks):
        prev = blocks[i - 1] if i > 0 else None
        nxt = blocks[i + 1] if i + 1 < n else None
        p_words = prev.n_words if prev else 0
        p_ld = prev.link_density if prev else 0.0
        n_words = nxt.n_words if nxt else 0
        if curr.link_density > _CURR_LD_MAX:
            out.append(False)
        elif p_ld > _PREV_LD_MAX:
            out.append(curr.n_words > 40 or n_words > 17)
        elif curr.n_words > 16 or n_words > 15:
            out.append(True)
        else:
            out.append(p_words > 4)
    return out


def main_text(html: str, mode: str = "largest",
              spans: bool = False) -> dict:
    """Extract main content from one page. Returns
    ``{text, n_blocks, n_content_blocks, n_words}``; ``text`` is ""
    when no block classifies as content (status 'empty' upstream).

    ``mode='largest'`` keeps the single content block with the most
    words (deterministic tie-break: first in document order);
    ``mode='all'`` joins every content block with a newline.

    ``spans=True`` adds ``"spans"``: the [start, end) source-offset
    covering span of each SELECTED content block (one for 'largest',
    one per block for 'all') — the heuristic leg of the north rule's
    "text/spans per url" (template captures get theirs from
    match.extract(spans=True)). Off by default: spans come only from
    the stdlib token source, which the plain path skips whenever the
    fast path accepts the page.
    """
    blocks = segment_blocks(html, spans=spans)
    labels = classify_blocks(blocks)
    content = [b for b, keep in zip(blocks, labels) if keep]
    chosen: list[Block] = []
    if not content:
        text = ""
        n_words = 0
    elif mode == "largest":
        best = max(content, key=lambda b: b.n_words)
        text = best.text
        n_words = best.n_words
        chosen = [best]
    elif mode == "all":
        text = "\n".join(b.text for b in content)
        n_words = sum(b.n_words for b in content)
        chosen = content
    else:
        raise ValueError(f"unknown mode {mode!r}")
    out = {"text": text, "n_blocks": len(blocks),
           "n_content_blocks": len(content), "n_words": n_words}
    if spans:
        out["spans"] = [list(b.span) for b in chosen]
    return out
