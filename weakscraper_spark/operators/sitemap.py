"""Sitemap ingestion (sitemaps.org XML protocol) — the crawl tier's
discovery source: ``<urlset>`` entry pages and ``<sitemapindex>``
parent files parsed into frontier rows (loc, lastmod, changefreq,
priority) that feed ``crawl_schedule`` / ``url_quality_filter``.

Reference parity note: the weakscraper reference is a per-page
extraction library with no crawl tier (SURVEY §1); sitemap discovery
belongs to the web-pipeline family the build brief adds as
first-class scope, alongside robots/urlnorm/links.

Scale shape: a pure NARROW map, the ``extract_links`` discipline —
two corpus-width regexp scans materialize the ``<url>``/``<sitemap>``
blocks as array columns ONCE (Catalyst does not CSE inside lambda
bodies), one explode fans out to per-entry rows, and every field
extract runs on the slim block string. Nothing leaves the JVM and
nothing shuffles; the xml column never crosses a stage boundary.

Tolerances real sitemap corpora need, all exercised in tests:
mixed-case tags, attributes on ``<urlset>``/``<url>``, CDATA-wrapped
``<loc>`` values, surrounding whitespace, and missing optional fields
(NULL, not empty string, so downstream coalesce/filters behave).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: one <url>…</url> entry of a urlset (attributes tolerated)
_URL_BLOCK_RE = r"(?is)<url[\s>].*?</url\s*>"
#: one <sitemap>…</sitemap> child of a sitemapindex
_SM_BLOCK_RE = r"(?is)<sitemap[\s>].*?</sitemap\s*>"


def decode_predefined_entities(col: Column) -> Column:
    """The five predefined XML entities; ``&amp;`` decodes LAST so a
    double-escape resolves one level, as an XML parser would. The ONE
    shared implementation for every markup-tier scanner (sitemap,
    feeds)."""
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def _tag_text(block: Column, name: str) -> Column:
    """The trimmed inner text of the first <name> element in the
    block, empty → NULL. CDATA content is literal (XML rule); plain
    text gets the five predefined entities decoded — the protocol
    REQUIRES urls with & to be entity-escaped, so a parser that skips
    the decode corrupts every query-string loc. ``&amp;`` decodes
    LAST so double-escapes resolve one level, as an XML parser would."""
    raw = F.trim(F.regexp_extract(
        block, rf"(?is)<{name}[^>]*>(.*?)</{name}\s*>", 1))
    cdata = F.regexp_extract(raw, r"(?s)^<!\[CDATA\[(.*)\]\]>$", 1)
    plain = decode_predefined_entities(raw)
    val = F.when(raw.rlike(r"(?s)^<!\[CDATA\["), cdata).otherwise(plain)
    return F.nullif(val, F.lit(""))


def sitemap_urls(robots: DataFrame, host_col: str = "host",
                 txt_col: str = "robots_txt") -> DataFrame:
    """``Sitemap:`` directives from robots.txt → (host, sitemap_url):
    the standard discovery hand-off from the robots dim table
    (operators/robots.py) into ``parse_sitemaps``. Per RFC 9309 /
    sitemaps.org the directive is NOT agent-scoped — it counts
    wherever it appears in the file — and a file may carry several.
    Case-insensitive, leading whitespace tolerated, value runs to the
    first whitespace (comments after the url drop off). Narrow map:
    split lines + explode + one regexp on slim line strings."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.explode(F.split(F.col(txt_col), r"\r?\n")).alias("_l"))
    sm = F.regexp_extract("_l", r"(?i)^\s*sitemap\s*:\s*(\S+)", 1)
    return (lines.select("host", sm.alias("sitemap_url"))
            .filter(F.col("sitemap_url") != ""))


def parse_sitemaps(df: DataFrame, xml_col: str = "xml",
                   url_col: str = "url") -> DataFrame:
    """sitemap files → one row per entry:

    (sitemap_url, kind, loc, lastmod, changefreq, priority)

    ``kind`` is ``'url'`` for urlset entries and ``'sitemap'`` for
    sitemapindex children (an index's children are themselves sitemap
    URLs to fetch — the caller loops discovery on kind='sitemap'
    rows). ``lastmod``/``changefreq`` stay strings (the protocol
    allows both W3C dates and datetimes; parsing to a type is the
    caller's policy), ``priority`` is DOUBLE with NULL for absent or
    non-numeric values. Entries with no <loc> are dropped — a loc-less
    entry identifies nothing fetchable."""
    xml = F.col(xml_col)
    if dict(df.dtypes)[xml_col] == "binary":
        xml = xml.cast("string")
    # both block kinds materialized as ONE tagged array column, then
    # a single explode — the per-entry field extracts below run on
    # slim block strings, never on the corpus-width xml
    entries = F.concat(
        F.transform(F.regexp_extract_all(xml, F.lit(_URL_BLOCK_RE), 0),
                    lambda b: F.struct(F.lit("url").alias("kind"),
                                       b.alias("block"))),
        F.transform(F.regexp_extract_all(xml, F.lit(_SM_BLOCK_RE), 0),
                    lambda b: F.struct(F.lit("sitemap").alias("kind"),
                                       b.alias("block"))))
    rows = df.select(F.col(url_col).alias("sitemap_url"),
                     F.explode(entries).alias("_e"))
    block = F.col("_e.block")
    return (rows
            .select("sitemap_url",
                    F.col("_e.kind").alias("kind"),
                    _tag_text(block, "loc").alias("loc"),
                    _tag_text(block, "lastmod").alias("lastmod"),
                    _tag_text(block, "changefreq").alias("changefreq"),
                    # try_cast: ANSI mode makes a plain cast RAISE on
                    # a non-numeric priority; the protocol says skip
                    _tag_text(block, "priority").try_cast("double")
                    .alias("priority"))
            .filter(F.col("loc").isNotNull()))
