"""Template-free extraction operator: boilerplate-strip heuristics
(enginelib/boiler.py, WSDM'10 shallow-text-features) as the same
Arrow-batched ``mapInArrow`` stage shape as the template extractor
(operators/extract.py) — the north rule's "HTML boilerplate strip,
DOM heuristics" leg.

Where the template path needs a registry hit (attach_template →
extract), this path runs on ANY page. Two deployment shapes:
- standalone (`heuristic_extract` below) for template-less corpora;
- template-first with in-stage heuristic fallback
  (``build_extract_plan(..., fallback='heuristic')`` /
  ``extract_pages(..., fallback='heuristic')``) covering pages whose
  host has no template or whose template no longer matches.
Both run each page through the one ``extract.heuristic_row``.

Scale shape: narrow map only — no shuffle, no broadcast (the
classifier is ~40 constants, baked into the code), one JVM↔Python
crossing; per-row cost is one streaming HTML parse. Lineage mirrors
extract.py: n_bytes (true bytes even for str input), parse_ms,
partition_id.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame

from .extract import arrow_schema, decode_html, heuristic_row

HEURISTIC_SCHEMA = (
    "url string, warc_ts timestamp, status string, text string, "
    "n_blocks int, n_content_blocks int, n_words int, "
    "n_bytes int, parse_ms double, partition_id int"
)


def heuristic_extract(df: DataFrame, spans: bool = False) -> DataFrame:
    """(url, warc_ts, html) → main-content rows via boilerplate
    stripping: one ``heuristic_row`` per page (``status`` 'ok',
    'empty' or ``mismatch:MarkupError``; never raises: the classifier
    is total). A NULL ``html`` cell becomes an ``error:NullInput``
    row. ``spans=True`` appends ``spans_json`` ({"_main_text": [[start,
    end), ...]}, covering source spans of the selected content
    blocks) — same shape as extract_pages' heuristic fallback, so the
    north rule's text/spans leg holds template-less too."""
    ddl = HEURISTIC_SCHEMA + (", spans_json string" if spans else "")
    schema = arrow_schema(ddl)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for batch in batches:
            n = batch.num_rows
            out = {c: batch.column(c) for c in ("url", "warc_ts")}
            out.update({
                "status": [""] * n, "text": [""] * n,
                "n_blocks": [0] * n, "n_content_blocks": [0] * n,
                "n_words": [0] * n, "n_bytes": [0] * n,
                "parse_ms": [0.0] * n, "partition_id": [pid] * n,
            })
            if spans:
                out["spans_json"] = [None] * n
            for j, raw in enumerate(batch.column("html").to_pylist()):
                page = decode_html(raw)
                if page is None:
                    # NULL html → status row, never a batch failure
                    out["status"][j] = "error:NullInput"
                    continue
                html, out["n_bytes"][j] = page
                for c, v in heuristic_row(html, spans).items():
                    out[c][j] = v
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return df.select("url", "warc_ts", "html").mapInArrow(run, ddl)
