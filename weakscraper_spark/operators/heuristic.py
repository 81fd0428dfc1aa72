"""Template-free extraction operator: boilerplate-strip heuristics
(enginelib/boiler.py, WSDM'10 shallow-text-features) as the same
Arrow-batched ``mapInPandas`` stage shape as the template extractor
(operators/extract.py) — the north rule's "HTML boilerplate strip,
DOM heuristics" leg.

Where the template path needs a registry hit (attach_template →
extract), this path runs on ANY page. Two deployment shapes:
- standalone (`heuristic_extract` below) for template-less corpora;
- template-first with in-stage heuristic fallback
  (``build_extract_plan(..., fallback='heuristic')`` /
  ``extract_pages(..., fallback='heuristic')``) covering pages whose
  host has no template or whose template no longer matches.

Scale shape: narrow map only — no shuffle, no broadcast (the
classifier is ~40 constants, baked into the code), one JVM↔Python
crossing; per-row cost is one streaming HTML parse. Lineage mirrors
extract.py: n_bytes (true bytes even for str input), parse_ms,
partition_id.
"""

from __future__ import annotations

from time import perf_counter
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame

from ..enginelib.boiler import main_text
from ..enginelib.errors import MarkupError

HEURISTIC_SCHEMA = (
    "url string, warc_ts timestamp, status string, text string, "
    "n_blocks int, n_content_blocks int, n_words int, "
    "n_bytes int, parse_ms double, partition_id int"
)


def heuristic_extract(df: DataFrame, spans: bool = False) -> DataFrame:
    """(url, warc_ts, html) → main-content rows via boilerplate
    stripping. The text is the content block with the most words
    (``main_text``'s 'largest' mode, as in extract_pages' in-stage
    rescue). ``status`` is 'ok' when at least one block classified
    as content, else 'empty', or ``mismatch:MarkupError`` for a page
    the tokenizer cannot read (never raises: the classifier is total).
    ``parse_ms`` is the parse time, an unreadable page's included.
    ``spans=True`` appends ``spans_json`` ({"_main_text": [[start,
    end), ...]}, covering source spans of the selected content
    blocks) — same shape as extract_pages' heuristic fallback, so the
    north rule's text/spans leg holds template-less too."""
    import json

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for pdf in batches:
            n = len(pdf)
            out = {
                "url": pdf["url"].tolist(),
                "warc_ts": pdf["warc_ts"].tolist(),
                "status": [""] * n, "text": [None] * n,
                "n_blocks": [0] * n, "n_content_blocks": [0] * n,
                "n_words": [0] * n, "n_bytes": [0] * n,
                "parse_ms": [0.0] * n, "partition_id": [pid] * n,
            }
            if spans:
                out["spans_json"] = [None] * n
            htmls = pdf["html"].tolist()
            for j in range(n):
                raw = htmls[j]
                if raw is None:
                    # NULL html → status row, never a batch failure
                    out["status"][j] = "error:NullInput"
                    out["text"][j] = ""
                    continue
                if isinstance(raw, str):
                    html = raw
                    out["n_bytes"][j] = len(raw.encode("utf-8"))
                else:
                    html = bytes(raw).decode("utf-8", errors="replace")
                    out["n_bytes"][j] = len(raw)
                t0 = perf_counter()
                try:
                    r = main_text(html, mode="largest", spans=spans)
                except MarkupError as e:
                    out["parse_ms"][j] = (perf_counter() - t0) * 1e3
                    out["status"][j] = e.status
                    out["text"][j] = ""
                    continue
                out["parse_ms"][j] = (perf_counter() - t0) * 1e3
                out["status"][j] = "ok" if r["n_content_blocks"] else "empty"
                out["text"][j] = r["text"]
                if spans and r["n_content_blocks"]:
                    out["spans_json"][j] = json.dumps(
                        {"_main_text": r["spans"]}, sort_keys=True)
                out["n_blocks"][j] = r["n_blocks"]
                out["n_content_blocks"][j] = r["n_content_blocks"]
                out["n_words"][j] = r["n_words"]
            yield pd.DataFrame(out)

    return df.select("url", "warc_ts", "html").mapInPandas(
        run, HEURISTIC_SCHEMA + (", spans_json string" if spans else ""))
