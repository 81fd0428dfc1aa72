"""End-to-end training-corpus pipeline: the composition a 100 TB
corpus build actually runs, wiring the extraction pipeline into the
corpus-cleaning operators —

    scan pages → [template extract + heuristic fallback, map-only]
    → latest-per-url (narrow rows) → per-doc quality / exact-dup /
    near-dup verdict (clean_corpus) → cleaned (url, text) corpus
    + auditable per-url verdict table.

Scale notes:
- the heavy html column dies at the extract stage; everything after
  runs on extracted text rows (~100× narrower at CC ratios);
- the verdict covers EVERY extracted doc (kept or dropped-with-
  reason) — a silent drop in a 10^12-row corpus build is
  undebuggable;
- doc identity is the url (clean_corpus is id-type-generic; min-url
  is the deterministic canonical of a duplicate group).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.corpus import clean_corpus
from ..operators.extract import status_ok
from .pipeline import build_extract_plan


def build_corpus_plan(pages: DataFrame, templates: DataFrame,
                      specs: dict[str, str],
                      min_quality: float = 0.25,
                      fallback: str | None = "heuristic",
                      transitive: bool = False,
                      langs: list[str] | None = None
                      ) -> tuple[DataFrame, DataFrame]:
    """Returns ``(cleaned, verdict)`` lazily:

    - ``cleaned`` — (url, text, status) rows that survived extraction
      AND the quality/dedup gates (training-ready corpus);
    - ``verdict`` — (url, keep, reason) for every successfully
      extracted url (reason ∈ quality | exact_dup | near_dup | kept).
    """
    extracted = build_extract_plan(pages, templates, specs,
                                   langs=langs, fallback=fallback)
    docs = (extracted
            .filter(status_ok())
            .select("url", "text", "status"))
    verdict = clean_corpus(docs, id_col="url", col="text",
                           min_quality=min_quality,
                           transitive=transitive)
    cleaned = (docs.join(verdict.filter(F.col("keep")).select("url"),
                         "url")
               .select("url", "text", "status"))
    return cleaned, verdict
