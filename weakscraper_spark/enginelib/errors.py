"""Mismatch error taxonomy (SURVEY.md §3A A13; reference:
weakscraper/exceptions.py ≈1-50 — names reconstructed, see SURVEY §0).

In the reference these exceptions abort a document's ``scrap()`` call.
In the Spark engine they NEVER cross the Arrow boundary: the batch
extractor catches ``CompareError`` per document and emits a row with
``status='mismatch:<ClassName>'`` (failure parity is part of parity,
SURVEY.md §4.3).

Every error carries ``path`` — a '/'-joined list of tag names from the
root to the node where comparison failed — for audit.
"""

from __future__ import annotations


class CompareError(Exception):
    """Base class for all template/page mismatches."""

    def __init__(self, message: str, path: tuple[str, ...] = ()):
        self.path = tuple(path)
        self.message = message
        super().__init__(f"{'/'.join(self.path) or '<root>'}: {message}")

    @property
    def status(self) -> str:
        return f"mismatch:{type(self).__name__}"


class NodetypeError(CompareError):
    """Template expected a tag node but found text, or vice versa."""


class TextExpectedError(CompareError):
    """Template expected a text node here."""


class TextError(CompareError):
    """Text node content differs from the template's literal text."""


class TagError(CompareError):
    """Tag name differs from the template's tag."""


class AttrsError(CompareError):
    """A literal template attribute is missing or has a different value."""


class MissingNodeError(CompareError):
    """Page ended while required template children remain."""


class ExcessNodeError(CompareError):
    """Page has leftover children the template does not account for."""


class NonAtomicChildError(CompareError):
    """wp-name capture requires exactly one text child (SURVEY A7)."""


class MarkupError(CompareError):
    """The page holds markup the stdlib tokenizer cannot read (a
    marked section it cannot name, such as ``<![1]>``)."""


class TemplateError(Exception):
    """Invalid template (compile-time, driver-side only — may raise)."""
