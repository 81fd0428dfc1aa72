"""C6 ``extract`` — the core operator (SURVEY.md §3C):
``mapInArrow(extract_batch, schema)`` with the compiled template
spec(s) broadcast to executors.

Execution model (SURVEY §4.2 flagship trace):
- The ONLY JVM↔Python crossing in the pipeline: Arrow record batches
  in and out, no pandas, no per-row ``F.udf`` (BASELINE.json:15
  mandate). ``url``, ``warc_ts`` and ``template_id`` go back out as
  the input Arrow arrays; only ``html`` and ``template_id`` are read
  into Python.
- Specs travel as JSON strings inside a ``sc.broadcast`` and are
  deserialized via a module-level cache keyed by content hash. The
  session runs one fresh worker per task (``spark.python.worker.reuse``
  off), so the cache dedups within a task's batches; the imports this
  module needs are paid once, in the preloading worker daemon
  (``weakscraper_spark._worker_daemon``) the workers fork from, which
  also drops its zip importers so a task re-reads no archive.
- One bad document can never fail a batch: ``enginelib.match.extract``
  maps every CompareError/RecursionError to a status row (A13).
- C13 lineage: each output row carries its ``partition_id`` (from
  TaskContext) into the sink, so per-partition lineage is a JVM-side
  groupBy read over the sink (``plans.pipeline.partition_metrics``);
  the run-level report rides the sink's own write job.

Output schema is FIXED (dynamic captures live in ``fields_json``,
SURVEY §2.1):
    url, template_id, status, error, text, fields_json, n_nodes,
    n_bytes, parse_ms, partition_id

``decode_html`` and ``heuristic_row`` serve every engine stage (this
one, ``operators.heuristic`` and ``operators.induction``).
"""

from __future__ import annotations

import json
from time import perf_counter
from typing import Callable, Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..enginelib.boiler import main_text as _main_text
from ..enginelib.errors import MarkupError
from ..enginelib.match import extract as _extract_doc
from ..enginelib.spec import Spec, spec_from_json

#: statuses that count as an extraction SUCCESS — the one place the
#: taxonomy's ok-side is defined (Spark consumers use ``status_ok()``
#: rather than restating the literals; a new success status added
#: here propagates everywhere)
OK_STATUSES = ("ok", "ok_heuristic")


def status_ok() -> Column:
    """Non-NULL boolean column: the row's ``status`` is in the ok
    class. Every success/failure count uses this expression, so a
    heuristic rescue counts as a success wherever a template match
    does, and a NULL status (a serving table or monitor source fed
    from outside) counts as a failure wherever any status does."""
    return F.coalesce(F.col("status").isin(*OK_STATUSES), F.lit(False))


EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, template_id string, status string, "
    "error string, text string, fields_json string, n_nodes int, "
    "n_bytes int, parse_ms double, partition_id int"
)

# spans=True appends the field→[[start,end),...] source-offset map
# (north rule: "extracted text/spans per url")
EXTRACT_SPANS_SCHEMA = EXTRACT_SCHEMA + ", spans_json string"


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema Spark expects back for ``ddl`` (driver-side:
    parsing the DDL needs the JVM)."""
    return to_arrow_schema(StructType.fromDDL(ddl))


def decode_html(raw: str | bytes | None) -> tuple[str, int] | None:
    """One ``html`` cell → ``(html, n_bytes)``, or None for a NULL
    cell. ``n_bytes`` counts BYTES even for string input (len(str)
    undercounts multi-byte UTF-8); binary input decodes as UTF-8 with
    replacement, so no page fails its batch."""
    if raw is None:
        return None
    if isinstance(raw, str):
        return raw, len(raw.encode("utf-8"))
    return bytes(raw).decode("utf-8", errors="replace"), len(raw)


def heuristic_row(html: str, spans: bool = False) -> dict:
    """One page's boilerplate-strip columns: ``main_text``'s 'largest'
    block counts and ``text``, ``status`` ('ok' if a block is content,
    else 'empty', or ``mismatch:MarkupError`` for a page the tokenizer
    cannot read), ``parse_ms``, and with ``spans`` on an 'ok' page
    ``spans_json`` (``{"_main_text": [[start, end), ...]}``)."""
    t0 = perf_counter()
    try:
        r = _main_text(html, mode="largest", spans=spans)
        r["status"] = "ok" if r["n_content_blocks"] else "empty"
    except MarkupError as e:
        r = {"status": e.status, "text": ""}
    r["parse_ms"] = (perf_counter() - t0) * 1e3
    block_spans = r.pop("spans", None)
    if block_spans is not None and r["status"] == "ok":
        r["spans_json"] = json.dumps({"_main_text": block_spans},
                                     sort_keys=True)
    return r


# Per-worker compiled-spec cache (dedups specs across a task's batches).
_SPEC_CACHE: dict[str, Spec] = {}


def _spec_for(spec_json: str) -> Spec:
    spec = _SPEC_CACHE.get(spec_json)
    if spec is None:
        spec = spec_from_json(spec_json)
        _SPEC_CACHE[spec_json] = spec
    return spec


def extract_pages(df: DataFrame,
                  spec_json_by_tid: dict[str, str],
                  functions: dict[str, Callable] | None = None,
                  fallback: str | None = None,
                  spans: bool = False) -> DataFrame:
    """Apply broadcast compiled templates to ``(url, warc_ts,
    template_id, html)`` rows. Extra columns are dropped (column
    pruning: don't ship what the Python worker won't read);
    ``warc_ts`` is echoed through so the snapshot dedup can run on the
    NARROW output rows after extraction (shuffle-minimal pipeline,
    plans/pipeline.py).

    ``fallback='heuristic'`` runs the boilerplate-strip extractor
    (enginelib/boiler.py) on rows the template path could NOT extract
    (no registered template, structural mismatch, malformed page) —
    INSIDE the same Python stage, while the html bytes are already in
    worker memory. Recovering failed rows via a second pass
    (join-back on url to refetch html) would re-shuffle the corpus
    width; in-stage fallback costs one extra local parse for the
    ~5-10% failing rows and nothing else. Recovered rows get status
    ``'ok_heuristic'`` with the template error preserved in ``error``
    for audit (and, with ``spans``, the content block's covering
    source span under the reserved ``_main_text`` key); unrecovered
    rows keep their template status.

    ``spans=True`` adds a ``spans_json`` column: per captured field,
    the [start, end) character offsets of the captured element(s) in
    the SOURCE html (enginelib.match.extract(spans=True)) — the
    labeling/audit artifact the north rule's "text/spans per url"
    names. Off by default: the span parse annotates every tag node,
    and the plain contract columns must not change shape."""
    if fallback not in (None, "heuristic"):
        raise ValueError(f"unknown fallback {fallback!r}")
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(spec_json_by_tid)
    ddl = EXTRACT_SPANS_SCHEMA if spans else EXTRACT_SCHEMA
    schema = arrow_schema(ddl)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        specs = bc.value
        for batch in batches:
            n = batch.num_rows
            out = {c: batch.column(c)
                   for c in ("url", "warc_ts", "template_id")}
            out.update({
                "status": [""] * n, "error": [""] * n,
                "text": [None] * n, "fields_json": [None] * n,
                "n_nodes": [0] * n, "n_bytes": [0] * n,
                "parse_ms": [0.0] * n, "partition_id": [pid] * n,
            })
            if spans:
                out["spans_json"] = [None] * n
            tids = batch.column("template_id").to_pylist()
            for j, raw in enumerate(batch.column("html").to_pylist()):
                page = decode_html(raw)
                if page is None:
                    # a NULL html cell must become a status row, not a
                    # TypeError that fails the whole Arrow batch (the
                    # pipeline filters NULLs upstream; the OPERATOR
                    # contract is one-bad-doc-never-fails-a-batch)
                    out["status"][j] = "error:NullInput"
                    out["error"][j] = "html is NULL"
                    continue
                html, out["n_bytes"][j] = page
                tid = tids[j]
                spec_json = specs.get(tid) if tid is not None else None
                if spec_json is None:
                    out["status"][j] = "error:NoTemplate"
                    out["error"][j] = f"no compiled template for {tid!r}"
                else:
                    t0 = perf_counter()
                    row = _extract_doc(_spec_for(spec_json), html,
                                       functions, spans=spans)
                    out["parse_ms"][j] = (perf_counter() - t0) * 1e3
                    if spans and row.get("spans") is not None:
                        out["spans_json"][j] = json.dumps(
                            row["spans"], sort_keys=True)
                    for c in ("status", "error", "text", "n_nodes"):
                        out[c][j] = row[c]
                    if row["fields"] is not None:
                        out["fields_json"][j] = json.dumps(
                            row["fields"], sort_keys=True,
                            ensure_ascii=False, default=str)
                if fallback == "heuristic" and out["status"][j] != "ok":
                    h = heuristic_row(html, spans)
                    out["parse_ms"][j] += h["parse_ms"]
                    if h["status"] == "ok":
                        out["status"][j] = "ok_heuristic"
                        out["text"][j] = h["text"]
                        if spans:
                            out["spans_json"][j] = h["spans_json"]
            yield pa.RecordBatch.from_pydict(out, schema=schema)

    return df.select("url", "warc_ts", "template_id", "html").mapInArrow(
        run, ddl)
