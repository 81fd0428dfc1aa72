"""Head-metadata extraction: per page, the document fields every
web-corpus pipeline wants NEXT TO the main text — <title>, meta
description, canonical link, Open Graph title, <html lang>, first
<h1>. Complements the body-side extractors (template `extract_pages`,
heuristic `boiler_extract`): those recover CONTENT, this recovers
the page's self-description, which feeds dedup keys (canonical url),
language routing (lang attr before the n-gram guesser), and training
metadata columns.

Built on the SAME tolerant DOM parser as the extraction engine
(enginelib.dom.parse_html — total on garbage), walked once per page:
a single pre-order pass with an early stop after </head>-level
elements are all seen (title/meta/link live in head; h1 is the one
body field, so the walk runs until the first h1 or the end).

Spark shape: Arrow-batched narrow map, no shuffle, html column in /
fixed metadata columns out. Total: parse failures and missing
fields are NULLs plus a status, never exceptions.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..enginelib.dom import is_tag, is_text, parse_html

META_SCHEMA = (
    "url string, title string, meta_description string, "
    "canonical string, og_title string, lang_attr string, "
    "h1 string, status string"
)


def _collect_text(node) -> str:
    """Concatenated descendant text of a tag node, whitespace-
    normalized (title/h1 can contain inline markup)."""
    parts: list[str] = []
    stack = [node]
    while stack:
        n = stack.pop()
        if is_text(n):
            parts.append(n["content"])
        else:
            stack.extend(reversed(n.get("children", [])))
    return " ".join(" ".join(parts).split())


def page_metadata_fields(html: str) -> dict:
    """Pure per-page kernel (tested directly): the seven fields, all
    None-able. First occurrence wins for each field — browsers and
    crawl pipelines both take the first title/canonical."""
    from collections import deque
    fields = {k: None for k in ("title", "meta_description",
                                "canonical", "og_title", "lang_attr",
                                "h1")}
    root = parse_html(html)
    stack = deque([root])
    while stack:
        if all(v is not None for v in fields.values()):
            break  # every field found — skip the rest of the body
        n = stack.popleft()
        if not is_tag(n):
            continue
        name = n["name"]
        attrs = n.get("attrs", {})
        if name == "html" and fields["lang_attr"] is None:
            fields["lang_attr"] = attrs.get("lang")
        elif name == "title" and fields["title"] is None:
            fields["title"] = _collect_text(n) or None
        elif name == "meta":
            mname = (attrs.get("name") or "").lower()
            prop = (attrs.get("property") or "").lower()
            if mname == "description" and \
                    fields["meta_description"] is None:
                fields["meta_description"] = attrs.get("content")
            elif prop == "og:title" and fields["og_title"] is None:
                fields["og_title"] = attrs.get("content")
        elif name == "link":
            if (attrs.get("rel") or "").lower() == "canonical" and \
                    fields["canonical"] is None:
                fields["canonical"] = attrs.get("href")
        elif name == "h1" and fields["h1"] is None:
            fields["h1"] = _collect_text(n) or None
        stack.extendleft(reversed(n.get("children", [])))
    return fields


def page_metadata(df: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """(url, html-bytes) → one metadata row per page. NULL/empty html
    → status row with NULL fields (never dropped, never raises)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("url", "title", "meta_description",
                                   "canonical", "og_title",
                                   "lang_attr", "h1", "status")}
            for url, raw in zip(pdf[url_col], pdf[html_col]):
                out["url"].append(url)
                if raw is None or len(raw) == 0:
                    for k in ("title", "meta_description", "canonical",
                              "og_title", "lang_attr", "h1"):
                        out[k].append(None)
                    out["status"].append("error:NullHtml")
                    continue
                try:
                    html = bytes(raw).decode("utf-8", "replace")
                    fields = page_metadata_fields(html)
                    for k, v in fields.items():
                        out[k].append(v)
                    out["status"].append("ok")
                except Exception as exc:  # defensive: parser is total
                    for k in ("title", "meta_description", "canonical",
                              "og_title", "lang_attr", "h1"):
                        out[k].append(None)
                    out["status"].append(
                        f"error:{type(exc).__name__}")
            yield pd.DataFrame(out)

    # NOT fanned out (r08, measured): this Python stage's total
    # sandbox compute is under a second, so 32 fresh-worker forks
    # (session worker.reuse=False) cost more wall than the
    # parallelism returns; at production scale the input carries
    # ≥ core-count files and fan-out would be a no-op anyway.
    return df.select(url_col, html_col).mapInPandas(run, META_SCHEMA)


# ---------------------------------------------------------------------------
# Scan-tier page-policy directives (r06): robots meta + canonical
# dedup as pure JVM column expressions — the corpus-POLICY half of
# head metadata. `page_metadata` above is the full Python parser for
# metadata COLUMNS; these run at scan speed over the whole crawl
# (zero Python) because they gate which rows even enter a corpus:
# noindex pages must be excluded (the publisher opted out of
# indexing — the corpus-hygiene convention), and canonical variants
# must collapse to one document before any content dedup runs.
# ---------------------------------------------------------------------------

#: first <meta ... name="robots" ...> tag, attribute order free
# quoted OR bare attribute value equal to the token (r07 probe:
# <meta name=robots ...> — unquoted values are valid HTML and common
# in the wild; requiring quotes silently dropped the publisher's
# opt-out). Bare values end at whitespace/'>' per the HTML5 unquoted-
# attribute-value state — note '/' is PART of a bare value under that
# state, so name=robots/> does NOT match (spec-exact, pinned).
def _attr_eq(name: str, value: str) -> str:
    return (name + r'\s*=\s*(?:"' + value + r'"|\'' + value +
            r'\'|' + value + r'(?=[\s>]))')


_ROBOTS_META_RE = (r'(?is)<meta\s(?:[^>]*?\s)??' +
                   _attr_eq("name", "robots") + r'[^>]*>')

#: first <link ... rel="canonical" ...> tag, attribute order free
_CANONICAL_RE = (r'(?is)<link\s(?:[^>]*?\s)??' +
                 _attr_eq("rel", "canonical") + r'[^>]*>')


def robots_meta_flags(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Append ``noindex`` / ``nofollow`` booleans combined across
    EVERY ``<meta name="robots">`` tag on the page — the robots-meta
    convention: directives are comma-separated tokens, multiple tags
    combine with the most restrictive winning (r06 review: a CMS
    emits one robots meta and an SEO plugin appends another — taking
    only the first violated the publisher's opt-out); ``none`` ≡
    ``noindex, nofollow``; no tags / empty content means indexable.
    Attribute order inside a tag is free, and attribute values are
    extracted whitespace-anchored (a ``x-content=`` attribute or a
    quoted value containing ``content=`` cannot shadow the real
    one)."""
    from .links import attr_value

    html = F.col(html_col)
    if dict(df.dtypes)[html_col] == "binary":
        html = html.cast("string")
    tags = F.regexp_extract_all(html, F.lit(_ROBOTS_META_RE), 0)
    contents = F.transform(
        tags, lambda t: F.lower(attr_value(t, "content")))
    tok = r'(?:^|,)\s*{}\s*(?:,|$)'
    noindex = F.exists(
        contents, lambda c: c.rlike(tok.format("noindex")) |
        c.rlike(tok.format("none")))
    nofollow = F.exists(
        contents, lambda c: c.rlike(tok.format("nofollow")) |
        c.rlike(tok.format("none")))
    return (df.withColumn("noindex", noindex)
            .withColumn("nofollow", nofollow))


def canonical_target(df: DataFrame, html_col: str = "html",
                     url_col: str = "url") -> DataFrame:
    """Append ``canonical_url``: the page's declared canonical
    location — the FIRST ``<link rel="canonical">`` href,
    whitespace-anchored attribute extraction (a ``data-href`` cannot
    shadow the real href), trimmed, entity-decoded, and resolved
    against the shared page base (``links.page_base``: <base href>
    honored, itself decoded/trimmed/resolved first); the page's own
    url when no canonical is declared. Scan-tier narrow map."""
    from .links import attr_value, page_base, resolve_href
    from .sitemap import decode_predefined_entities

    html = F.col(html_col)
    if dict(df.dtypes)[html_col] == "binary":
        html = html.cast("string")
    tag = F.regexp_extract(html, _CANONICAL_RE, 0)
    href = F.nullif(
        decode_predefined_entities(attr_value(tag, "href")),
        F.lit(""))
    return df.withColumn(
        "canonical_url",
        F.when(href.isNull(), F.col(url_col))
         .otherwise(resolve_href(page_base(html, F.col(url_col)),
                                 href)))


def canonical_resolved(df: DataFrame, redirects: DataFrame,
                       html_col: str = "html",
                       url_col: str = "url") -> DataFrame:
    """``canonical_target`` composed with the resolved redirect map
    (``operators.redirects.resolve_redirects`` output): a declared
    canonical pointing at a MOVED url must collapse onto the landing
    page, or the same logical page splinters into one group per
    historical location — the standard canonicalization order
    (declared canonical first, then redirect rewriting). Appends
    ``canonical_final``: the redirect landing of the canonical when
    it resolves, the declared canonical otherwise (an 'unresolved'
    chain — cycle or over-budget — keeps the declared target rather
    than inventing a mid-cycle url). One equi-join on the canonical
    key against the O(#redirect sources) relation."""
    with_c = canonical_target(df, html_col, url_col)
    landing = (redirects.filter(F.col("status") == "ok")
               .select(F.col("src_url").alias("canonical_url"),
                       F.col("final_url").alias("_landing")))
    return (with_c.join(landing, "canonical_url", "left")
            .withColumn("canonical_final",
                        F.coalesce("_landing",
                                   F.col("canonical_url")))
            .drop("_landing"))


def canonical_dedup_resolved(df: DataFrame, redirects: DataFrame,
                             html_col: str = "html",
                             url_col: str = "url") -> DataFrame:
    """The redirect-aware canonical rollup: one row per FINAL
    canonical target, (canonical_final, n_pages, first_url) — the
    group key downstream content dedup actually wants (the
    ``canonical_dedup`` shape, post-redirect)."""
    return (canonical_resolved(df, redirects, html_col, url_col)
            .groupBy("canonical_final")
            .agg(F.count("*").alias("n_pages"),
                 F.min(url_col).alias("first_url")))


def canonical_dedup(df: DataFrame, html_col: str = "html",
                    url_col: str = "url") -> DataFrame:
    """Collapse canonical variants BEFORE content dedup: one row per
    declared canonical target,

    (canonical_url, n_pages, first_url, n_self)

    ``n_self`` counts pages that ARE their canonical (self-canonical
    or undeclared); a group with n_self = 0 is a canonical target the
    crawl never fetched directly — frontier material. One map-side-
    combinable groupBy on the canonical key."""
    with_c = canonical_target(df, html_col, url_col)
    return (with_c.groupBy("canonical_url")
            .agg(F.count("*").alias("n_pages"),
                 F.min(url_col).alias("first_url"),
                 F.sum(F.when(F.col("canonical_url") ==
                              F.col(url_col), 1).otherwise(0))
                 .cast("long").alias("n_self")))
