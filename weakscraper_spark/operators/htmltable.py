"""HTML ``<table>`` extraction — structured data mining from webtext:
every table on a page unrolled into long-format cell rows
``(url, table_idx, row_idx, col_idx, is_header, cell)``, the shape
downstream corpus work wants (table-to-text serialization, numeric
fact harvesting): tables kept as DATA, not flattened to text.

Reference parity note: the weakscraper reference extracts fields by
template position (SURVEY §1); table mining is the template-free
complement for pages whose payload IS the grid, same family as the
heuristic boilerplate extractor (`enginelib/boiler.py`).

Scale shape: a pure NARROW map, the `parse_feeds` discipline — one
corpus-width regexp scan materializes the table blocks as an array
column, then three `posexplode` generator stages fan out
tables → rows → cells with ordinal indexes, every inner extract
running on slim block strings. Nothing leaves the JVM and nothing
shuffles; the html column never crosses a stage boundary.

Semantics and tolerances (all exercised in tests): attributes on any
tag, mixed case, ``<th>`` marks ``is_header`` per CELL (a row mixing
th/td is preserved faithfully), inner markup is stripped to text,
the five predefined entities decode (``&amp;`` last), whitespace
collapses to single spaces, empty cells stay '' (they hold a grid
position — NULL would lie). Documented limits, the standard ones for
a regex-tier scanner: NESTED tables truncate at the inner
``</table>`` (rare in post-2010 layout-free HTML; the boilerplate
family is the fallback there) and ``colspan``/``rowspan`` are NOT
expanded — ``col_idx`` is the ordinal cell position in its row."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: one <table>…</table> block (non-greedy: nested tables truncate)
_TABLE_RE = r"(?is)<table[\s>].*?</table\s*>"
#: one <tr>…</tr> row
_TR_RE = r"(?is)<tr[\s>].*?</tr\s*>"
#: one <td>/<th> cell — the backreference pins the closer to the opener
_CELL_RE = r"(?is)<(t[dh])[\s>].*?</\1\s*>"


def _cell_text(cell: Column) -> Column:
    """Inner text of a <td>/<th> block: drop the wrapping tag, strip
    inner markup, decode the five predefined entities (``&amp;`` last
    so double-escapes resolve one level), collapse whitespace."""
    from .sitemap import decode_predefined_entities

    inner = F.regexp_extract(
        cell, r"(?is)^<t[dh][^>]*>(.*)</t[dh]\s*>$", 1)
    txt = F.regexp_replace(inner, r"(?s)<[^>]*>", "")
    return F.trim(F.regexp_replace(
        decode_predefined_entities(txt), r"\s+", " "))


def extract_tables(df: DataFrame, html_col: str = "html",
                   url_col: str = "url") -> DataFrame:
    """pages → one row per table CELL:

    (url, table_idx, row_idx, col_idx, is_header, cell)

    Indexes are 0-based ordinals (document order): ``table_idx`` over
    the page's tables, ``row_idx`` over the table's ``<tr>`` rows —
    thead/tbody wrappers don't reset it — ``col_idx`` over the row's
    cells. ``is_header`` is per cell (``<th>``). Pages with no table,
    tables with no rows, and rows with no cells contribute nothing."""
    html = F.col(html_col)
    if dict(df.dtypes)[html_col] == "binary":
        html = html.cast("string")
    tables = df.select(
        F.col(url_col).alias("url"),
        F.posexplode(F.regexp_extract_all(html, F.lit(_TABLE_RE), 0))
         .alias("table_idx", "_tbl"))
    rows = tables.select(
        "url", "table_idx",
        F.posexplode(
            F.regexp_extract_all(F.col("_tbl"), F.lit(_TR_RE), 0))
         .alias("row_idx", "_tr"))
    cells = rows.select(
        "url", "table_idx", "row_idx",
        F.posexplode(
            F.regexp_extract_all(F.col("_tr"), F.lit(_CELL_RE), 0))
         .alias("col_idx", "_cell"))
    return cells.select(
        "url",
        F.col("table_idx").cast("int").alias("table_idx"),
        F.col("row_idx").cast("int").alias("row_idx"),
        F.col("col_idx").cast("int").alias("col_idx"),
        F.col("_cell").rlike(r"(?is)^<th").alias("is_header"),
        _cell_text(F.col("_cell")).alias("cell"))


def table_shapes(cells: DataFrame) -> DataFrame:
    """Per-table shape summary over `extract_tables` output:

    (url, table_idx, n_rows, n_cols, ragged, has_header)

    ``n_cols`` is the max row width, ``ragged`` flags rows of unequal
    width (colspan markup, malformed grids — the rows a consumer must
    align before treating the table as a matrix), ``has_header`` = any
    header cell. One map-side-combinable two-level aggregation."""
    per_row = (cells.groupBy("url", "table_idx", "row_idx")
               .agg(F.count("*").alias("w"),
                    F.max(F.col("is_header").cast("int")).alias("h")))
    return (per_row.groupBy("url", "table_idx")
            .agg(F.count("*").cast("int").alias("n_rows"),
                 F.max("w").cast("int").alias("n_cols"),
                 (F.min("w") != F.max("w")).alias("ragged"),
                 (F.max("h") == 1).alias("has_header")))
