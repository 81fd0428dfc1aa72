"""PDF / layout parsing — the north rule's "PDF/layout parse" leg.

Real kernel (r04, pure stdlib): ``_parse_real_pdf`` handles the
overwhelmingly-common simple case — uncompressed and FlateDecode
(zlib) page content streams — with no third-party library:

1. scan ``N G obj … endobj`` objects (regex over bytes; no xref
   needed — the cross-reference table only accelerates random
   access, a full scan sees every object);
2. walk the document structure trailer ``/Root`` → catalog
   ``/Pages`` → recursive ``/Kids`` to get pages IN ORDER (falling
   back to object-number order if the tree is malformed);
3. per page, resolve ``/Contents`` (single ref or array), cut the
   ``stream … endstream`` payload, zlib-inflate when ``/Filter``
   names FlateDecode (unknown filters → that page degrades to "");
4. interpret the text operators of the content stream: ``Tj``,
   ``'``, ``"`` and ``TJ`` show-text (literal strings with full
   escape/octal handling and hex strings), with ``Td/TD/T*``
   treated as line breaks — the pdfminer-class layout model reduced
   to reading order.

If a PDF library (pypdf) IS present it is preferred; the stdlib
kernel is the fallback, so the operator works in this sandbox on
real ``%PDF-`` bytes. ``render_minimal_pdf`` emits a spec-valid
one-object-per-page PDF (with xref + trailer, optionally
FlateDecode-compressed) so tests can round-trip REAL pdf bytes
through a construction path (object serialization) disjoint from
the parse path (object scan).

Fake container (kept for plumbing tests): ``%FPDF`` magic + UTF-8
JSON ``{"pages": [...]}``.

Layout rows: per page, each text line becomes a deterministic layout
box (line index → y offset, char count → width) serialized as JSON —
the shape a real layout model (e.g. a pdfminer LTTextBox walk) emits,
so downstream schema/consumers are exercised for real.
"""

from __future__ import annotations

import json
import re
import zlib
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame

FAKE_MAGIC = b"%FPDF"

PDF_PAGES_SCHEMA = (
    "doc_id long, page_no int, status string, text string, "
    "n_lines int, layout_json string, n_bytes int, partition_id int"
)

try:  # pragma: no cover - not present in this environment
    import pypdf  # noqa: F401
    _HAVE_PDF_LIB = True
except Exception:
    _HAVE_PDF_LIB = False


def render_fake_pdf(pages: list[str]) -> bytes:
    """Deterministic stand-in PDF: magic + JSON page list."""
    return FAKE_MAGIC + json.dumps({"pages": pages},
                                   ensure_ascii=False).encode("utf-8")


_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\n?endstream", re.S)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
# literal string with escaped chars, or hex string
_STR_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)|<([0-9A-Fa-f\s]*)>")
_TEXT_OP_RE = re.compile(
    rb"(\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>)\s*(Tj|'|\")"
    rb"|\[((?:\((?:\\.|[^\\()])*\)|[^][])*)\]\s*TJ"
    rb"|(T\*|-?[\d.]+\s+-?[\d.]+\s+(?:Td|TD))", re.S)
_ESCAPES = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\"}


def _pdf_string(tok: bytes) -> str:
    """Decode one PDF string token — ``(literal)`` with \\-escapes and
    octal codes, or ``<hex>`` — to text (latin-1: byte-transparent,
    exact for the ASCII/WinAnsi fixtures this kernel targets)."""
    if tok.startswith(b"<"):
        h = re.sub(rb"\s", b"", tok[1:-1])
        if len(h) % 2:
            h += b"0"
        return bytes.fromhex(h.decode("ascii")).decode("latin-1")
    body, out, i = tok[1:-1], bytearray(), 0
    while i < len(body):
        c = body[i:i + 1]
        if c == b"\\" and i + 1 < len(body):
            nxt = body[i + 1:i + 2]
            m = re.match(rb"[0-7]{1,3}", body[i + 1:i + 4])
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif m is not None:
                out.append(int(m.group(), 8) & 0xFF)
                i += 1 + len(m.group())
            elif nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and body[i:i + 1] == b"\n":
                    i += 1
            else:
                out += nxt
                i += 2
        else:
            out += c
            i += 1
    return out.decode("latin-1")


def _stream_text(content: bytes) -> str:
    """Text operators of one decoded content stream → reading-order
    text: Tj/'/\" and TJ emit strings; Td/TD/T* (and ') break lines.
    Minimal but real — covers what word processors / report
    generators emit for body text."""
    lines: list[str] = [""]
    for m in _TEXT_OP_RE.finditer(content):
        if m.group(4) is not None:  # positioning op → new line
            if lines[-1] != "":
                lines.append("")
            continue
        if m.group(1) is not None:  # Tj, ' or "
            if m.group(2) in (b"'", b'"') and lines[-1] != "":
                lines.append("")
            lines[-1] += _pdf_string(m.group(1))
        elif m.group(3) is not None:  # TJ array: strings only
            for s in _STR_RE.finditer(m.group(3)):
                tok = (b"(" + s.group(1) + b")" if s.group(1) is not None
                       else b"<" + (s.group(2) or b"") + b">")
                lines[-1] += _pdf_string(tok)
    return "\n".join(ln for ln in lines if ln != "")


def _decode_stream(obj_body: bytes) -> bytes:
    """Cut the stream payload out of an object body and inflate it if
    its dict names FlateDecode. Raises on unsupported filters.

    The payload is sliced by the dict's direct ``/Length`` when
    present (the spec-correct cut): the delimiter-regex fallback
    drops the final payload byte whenever compressed data happens to
    end in CR — ``\\r?\\n?endstream`` backtracks it away (caught by
    the oracle value-check on real corpus chunks, r04)."""
    om = re.search(rb"stream\r?\n", obj_body)
    if om is None:
        return b""
    # (?![0-9]) pins the group to the FULL number first — without it
    # the engine backtracks '/Length 50 0 R' to group '5', defeating
    # the indirect-reference lookahead (r04 review, verified)
    lm = re.search(rb"/Length\s+(\d+)(?![0-9])(?!\s+\d+\s+R)",
                   obj_body[:om.start()])
    if lm is not None:
        payload = obj_body[om.end():om.end() + int(lm.group(1))]
        head = obj_body[:om.start()]
    else:  # indirect /Length → delimiter fallback
        sm = _STREAM_RE.search(obj_body)
        if sm is None:
            return b""
        payload = sm.group(1)
        head = obj_body[:sm.start()]
    if b"/Filter" not in head:
        return payload
    if b"/FlateDecode" in head:
        return zlib.decompress(payload)
    raise ValueError("unsupported stream filter")


def _page_order(objs: dict[int, bytes], full: bytes) -> list[int]:
    """Object numbers of /Type /Page objects in page-tree order:
    trailer /Root → /Pages → recursive /Kids; object-number order as
    the malformed-tree fallback."""
    page_nums = [n for n, b in objs.items()
                 if re.search(rb"/Type\s*/Page\b(?!s)", b)]
    root_m = re.search(rb"/Root\s+(\d+)\s+\d+\s+R", full)
    try:
        cat = objs[int(root_m.group(1))]
        pages_ref = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", cat)
        ordered: list[int] = []

        def walk(num: int, depth: int = 0) -> None:
            if depth > 64:  # cyclic tree guard
                raise ValueError("page tree too deep")
            body = objs[num]
            if re.search(rb"/Type\s*/Page\b(?!s)", body):
                ordered.append(num)
                return
            kids = re.search(rb"/Kids\s*\[(.*?)\]", body, re.S)
            for ref in _REF_RE.finditer(kids.group(1)):
                walk(int(ref.group(1)), depth + 1)

        walk(int(pages_ref.group(1)))
        if sorted(ordered) == sorted(page_nums):
            return ordered
    except Exception:
        pass
    return sorted(page_nums)


def _parse_real_pdf(raw: bytes) -> list[str]:
    """Pure-stdlib text extraction for real ``%PDF-`` bytes
    (module docstring): full object scan, page-tree walk,
    uncompressed/FlateDecode content streams, text-operator
    interpretation. Pages whose streams use unsupported filters
    (DCTDecode images etc. never hold text; a text stream under an
    exotic filter is rare) degrade to "" rather than failing the
    document."""
    if _HAVE_PDF_LIB:  # pragma: no cover - lib absent in sandbox
        import io
        return [p.extract_text() or ""
                for p in pypdf.PdfReader(io.BytesIO(raw)).pages]
    objs = {int(m.group(1)): m.group(2)
            for m in _OBJ_RE.finditer(raw)}
    if not objs:
        raise ValueError("no PDF objects found")
    if (b"/ObjStm" in raw and not any(
            re.search(rb"/Type\s*/Page\b(?!s)", b) for b in objs.values())):
        # PDF 1.5 compressed object streams hide the page objects from
        # a plain scan — fail loudly instead of returning 0 pages
        raise ValueError("compressed object streams unsupported")
    pages: list[str] = []
    for num in _page_order(objs, raw):
        body = objs[num]
        cm = re.search(rb"/Contents\s+(\d+\s+\d+\s+R"
                       rb"|\[[^\]]*\])", body, re.S)
        if cm is None:
            pages.append("")
            continue
        texts = []
        for ref in _REF_RE.finditer(cm.group(1)):
            onum = int(ref.group(1))
            try:
                texts.append(_stream_text(_decode_stream(objs[onum])))
            except Exception:
                texts.append("")
        pages.append("\n".join(t for t in texts if t))
    return pages


def parse_any_pdf(raw: bytes) -> tuple[str, list[str]]:
    """(status, pages). Total function — never raises on input bytes:
    unknown containers and broken PDFs come back as status rows, the
    same taxonomy discipline as the HTML extractor (A13)."""
    if raw.startswith(FAKE_MAGIC):
        try:
            return "ok", json.loads(raw[len(FAKE_MAGIC):].decode(
                "utf-8"))["pages"]
        except Exception as exc:  # malformed fake container
            return f"error:BadContainer:{type(exc).__name__}", []
    if raw.startswith(b"%PDF-"):
        try:
            return "ok", _parse_real_pdf(raw)
        except Exception as exc:
            return f"error:PdfParse:{type(exc).__name__}", []
    return "error:NotPdf", []


def render_minimal_pdf(pages: list[str], compress: bool = True) -> bytes:
    """Spec-valid minimal PDF: catalog + page tree + one page and one
    content stream per input string (lines become Td/Tj runs),
    optional FlateDecode, real xref + trailer. The construction path
    (object serialization with byte-offset bookkeeping) shares no
    code with the parse path, so round-trip tests are meaningful."""
    def esc(line: str) -> bytes:
        b = line.encode("latin-1", "replace")
        return b.replace(b"\\", rb"\\").replace(b"(", rb"\(") \
                .replace(b")", rb"\)")

    n_pages = len(pages)
    objs: list[bytes] = [b"<< /Type /Catalog /Pages 2 0 R >>"]
    kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(n_pages))
    objs.append(b"<< /Type /Pages /Kids [" + kids +
                b"] /Count %d >>" % n_pages)
    for i, text in enumerate(pages):
        page_num, cont_num = 3 + 2 * i, 4 + 2 * i
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R /Resources << /Font << /F1 << "
            b"/Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b">> >> >> >>" % cont_num)
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(text.split("\n")):
            if j:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + esc(line) + b") Tj")
        ops.append(b"ET")
        stream = b"\n".join(ops)
        filt = b""
        if compress:
            stream = zlib.compress(stream)
            filt = b"/Filter /FlateDecode "
        objs.append(b"<< " + filt + b"/Length %d >>\nstream\n" %
                    len(stream) + stream + b"\nendstream")

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % (i + 1) + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n"
            b"%%%%EOF\n" % (len(objs) + 1, xref_at))
    return bytes(out)


def _layout_boxes(page_text: str) -> list[dict]:
    """Deterministic per-line layout boxes (the real-layout-model
    output shape): line i sits at y = 720 - 12*i, width tracks char
    count at 6 units/char, x fixed at 72 (1-inch margin)."""
    return [
        {"line": i, "x": 72, "y": 720 - 12 * i,
         "w": 6 * len(line), "h": 12}
        for i, line in enumerate(page_text.split("\n"))
    ]


def pdf_extract(df: DataFrame, id_col: str = "doc_id",
                blob_col: str = "blob") -> DataFrame:
    """(id, pdf-bytes) → one row PER PAGE with text + layout boxes —
    a flat map (mapInPandas can change cardinality). Failed blobs
    emit exactly one page_no=-1 status row, never silently vanish.
    Narrow map: no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for pdf_batch in batches:
            out = {k: [] for k in ("doc_id", "page_no", "status",
                                   "text", "n_lines", "layout_json",
                                   "n_bytes", "partition_id")}

            def emit(did, pno, status, text, raw):
                lines = text.split("\n") if text else []
                out["doc_id"].append(did)
                out["page_no"].append(pno)
                out["status"].append(status)
                out["text"].append(text)
                out["n_lines"].append(len(lines))
                out["layout_json"].append(
                    json.dumps(_layout_boxes(text)) if text else None)
                out["n_bytes"].append(len(raw))
                out["partition_id"].append(pid)

            ids = pdf_batch[id_col].tolist()
            blobs = pdf_batch[blob_col].tolist()
            for did, raw in zip(ids, blobs):
                raw = bytes(raw) if raw is not None else b""
                status, pages = parse_any_pdf(raw)
                if status != "ok":
                    emit(did, -1, status, None, raw)
                    continue
                if not pages:  # zero-page doc: visible, not vanished
                    emit(did, -1, "empty", None, raw)
                    continue
                for pno, text in enumerate(pages):
                    emit(did, pno, "ok", text, raw)
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(run, PDF_PAGES_SCHEMA)
