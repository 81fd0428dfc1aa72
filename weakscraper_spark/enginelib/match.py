"""Template/page alignment and capture (SURVEY.md §3A A4–A13;
reference: weakscraper/template.py ≈110-260 — approximate cites,
SURVEY §0).

Semantics pinned here (each has a fixture in tests/fixtures):

- **Greedy, no backtracking** (SURVEY §4.3 invariant): a page that
  would only match under backtracking is a mismatch. ``wp-list`` and
  ``wp-optional`` decide by a SHALLOW head check (nodetype + tag name +
  literal attrs / text equality); once a list item or optional child is
  accepted by the head check, a deep mismatch inside it raises — it is
  not retried against later template children.
- ``<wp-ignore/>`` consumes page children until the next template
  child head-matches (or until ``wp-until``'s tag, or end of children).
- Text comparison is on whitespace-normalized content (A5, textnorm).
- Atomic capture (A7): the page node must have exactly one text child.
- End conditions: leftover required template children →
  ``MissingNodeError``; leftover page children → ``ExcessNodeError``.

Functions (`wp-function`) are resolved by name against the
``functions`` dict passed to :func:`match_document` / :func:`extract`.
The spec holds only the names, so it stays JSON; in the Spark stage
the callables travel in the stage's closure
(``operators.extract.extract_pages(..., functions=)``), not in the
broadcast spec.
"""

from __future__ import annotations

from contextvars import ContextVar
from typing import Any, Callable

from .dom import (Node, is_tag, is_text, parse_html, parse_html_counted,
                  parse_html_spans_counted,
                  serialize_node)
from .errors import (
    AttrsError,
    CompareError,
    ExcessNodeError,
    MissingNodeError,
    NodetypeError,
    NonAtomicChildError,
    TagError,
    TextError,
    TextExpectedError,
)
from .spec import Spec
from .textnorm import normalize_text

Functions = dict[str, Callable[[Any], Any]]
Results = dict[str, Any]


def _apply_fn(fname: str | None, value: Any, functions: Functions, path: tuple[str, ...]):
    if fname is None:
        return value
    fn = functions.get(fname)
    if fn is None:
        raise CompareError(f"unknown wp-function {fname!r}", path)
    return fn(value)


def _attrs_match(spec: Spec, node: Node) -> bool:
    """Template-subset attr semantics: every literal template attr must
    be present on the page node with an equal value (A4). Page may have
    extra attrs. ``wp-ignore-attrs`` skips the check entirely."""
    if spec["ignore_attrs"]:
        return True
    node_attrs = node["attrs"]
    return all(node_attrs.get(k) == v for k, v in spec["attrs"].items())


def head_matches(spec: Spec, node: Node) -> bool:
    """Shallow acceptance check used by wp-list / wp-optional /
    wp-ignore lookahead. Deliberately NOT recursive (greedy contract)."""
    kind = spec["kind"]
    if kind == "text":
        return is_text(node) and normalize_text(node["content"]) == spec["content"]
    if kind == "nugget":
        return is_text(node)
    if kind == "ignore":
        return True
    return is_tag(node) and node["name"] == spec["tag"] and _attrs_match(spec, node)


# Span sink (north rule: "extracted text/spans per url"): when the
# span-enabled extract entry activates this contextvar, every capture
# site notes the captured ELEMENT's source-offset span under the
# field name (a LIST of [start, end] — list captures repeat). Default
# None → zero cost on the ordinary path; contextvar scoping keeps
# concurrent extracts (threads/tasks) isolated.
_SPANS: ContextVar[dict | None] = ContextVar("wp_spans", default=None)


def _note_span(name: str, node: Node) -> None:
    spans = _SPANS.get()
    if spans is not None and "span" in node:
        spans.setdefault(name, []).append(list(node["span"]))


def match_node(spec: Spec, node: Node, results: Results, functions: Functions,
               path: tuple[str, ...]) -> None:
    """Deep-match one template spec against one page node (A4/A5/A7-A9).
    Raises CompareError subclasses on mismatch; writes captures into
    ``results`` (flat namespace, as in the reference)."""
    kind = spec["kind"]

    if kind == "text":
        if not is_text(node):
            raise TextExpectedError(
                f"expected text {spec['content']!r}, found <{node.get('name')}>", path)
        got = normalize_text(node["content"])
        if got != spec["content"]:
            raise TextError(f"expected text {spec['content']!r}, got {got!r}", path)
        return

    if kind == "nugget":
        if not is_text(node):
            raise TextExpectedError("wp-nugget expected a text node", path)
        value = _apply_fn(spec["function"], normalize_text(node["content"]),
                          functions, path)
        results[spec["capture"]] = value
        return

    # -- tag spec ------------------------------------------------------
    if not is_tag(node):
        raise NodetypeError(
            f"expected <{spec['tag']}>, found text {node.get('content', '')[:40]!r}",
            path)
    if node["name"] != spec["tag"]:
        raise TagError(f"expected <{spec['tag']}>, found <{node['name']}>", path)
    if not _attrs_match(spec, node):
        missing = {k: v for k, v in spec["attrs"].items()
                   if node["attrs"].get(k) != v}
        raise AttrsError(f"attrs mismatch on <{node['name']}>: need {missing!r}", path)

    here = path + (spec["tag"],)

    if spec["capture_attrs"]:
        value = _apply_fn(spec["function_attrs"], dict(node["attrs"]),
                          functions, here)
        results[spec["capture_attrs"]] = value
        _note_span(spec["capture_attrs"], node)

    if spec["recursive"]:
        # A9: capture the whole page subtree (node inclusive), serialized
        # canonically; children are NOT compared.
        value = _apply_fn(spec["function"], serialize_node(node), functions, here)
        results[spec["capture"]] = value
        _note_span(spec["capture"], node)
        return

    if spec["ignore_content"]:
        return

    if spec["capture"] and not spec["list"]:
        _capture_atomic(spec, node, results, functions, here)
        return

    align_children(spec["children"], node["children"], results, functions, here)


def _capture_atomic(spec: Spec, node: Node, results: Results,
                    functions: Functions, path: tuple[str, ...]) -> None:
    """A7: wp-name stores the node's single text child; raises
    NonAtomicChildError otherwise. Template children are placeholders
    and are not compared."""
    children = node["children"]
    if len(children) != 1 or not is_text(children[0]):
        raise NonAtomicChildError(
            f"wp-name={spec['capture']!r} needs exactly one text child, "
            f"found {len(children)} children", path)
    value = _apply_fn(spec["function"], normalize_text(children[0]["content"]),
                      functions, path)
    results[spec["capture"]] = value
    _note_span(spec["capture"], node)


def _match_list_item(spec: Spec, node: Node, functions: Functions,
                     path: tuple[str, ...]) -> Any:
    """One accepted wp-list repetition → the item value:
    - wp-recursive list → serialized subtree per item
    - nested captures   → per-item dict of the nested captures
    - own wp-name-attrs → per-item dict {attrs key: attrs, list key:
      atomic text} (an attrs capture on the item node itself must
      never be silently dropped — same no-silent-loss rule as
      everywhere else)
    - otherwise         → atomic text (A7 applied per item)
    """
    sub: Results = {}
    if spec["recursive"]:
        value = _apply_fn(spec["function"], serialize_node(node), functions, path)
        _note_span(spec["capture"], node)
        return value
    if spec["nested"]:
        if not _attrs_match(spec, node):
            raise AttrsError(f"attrs mismatch on list item <{node['name']}>", path)
        if spec["capture_attrs"]:
            sub[spec["capture_attrs"]] = _apply_fn(
                spec["function_attrs"], dict(node["attrs"]), functions, path)
            _note_span(spec["capture_attrs"], node)
        align_children(spec["children"], node["children"], sub, functions,
                       path + (spec["tag"],))
        return sub
    _capture_atomic(spec, node, sub, functions, path + (spec["tag"],))
    if spec["capture_attrs"]:
        _note_span(spec["capture_attrs"], node)
        return {
            spec["capture_attrs"]: _apply_fn(
                spec["function_attrs"], dict(node["attrs"]),
                functions, path),
            spec["capture"]: sub[spec["capture"]],
        }
    return sub[spec["capture"]]


def align_children(tspecs: list[Spec], pnodes: list[Node], results: Results,
                   functions: Functions, path: tuple[str, ...]) -> None:
    """A6 — the heart: one-pass greedy alignment of template children
    against page children. O(T+P) typical, O(T×P) worst case with
    wp-ignore lookahead."""
    ti, pi = 0, 0
    n_t, n_p = len(tspecs), len(pnodes)

    while ti < n_t:
        ts = tspecs[ti]
        kind = ts["kind"]

        if kind == "ignore":
            nxt = tspecs[ti + 1] if ti + 1 < n_t else None
            until = ts.get("until")
            while pi < n_p:
                p = pnodes[pi]
                if until and is_tag(p) and p["name"] == until:
                    break
                if nxt is not None and head_matches(nxt, p):
                    break
                pi += 1
            ti += 1
            continue

        if kind == "nugget":
            if pi < n_p and is_text(pnodes[pi]):
                match_node(ts, pnodes[pi], results, functions, path)
                pi += 1
            elif ts["optional"]:
                pass
            else:
                raise TextExpectedError(
                    f"wp-nugget {ts['capture']!r}: no text node here", path)
            ti += 1
            continue

        if ts.get("list"):
            items: list[Any] = []
            while pi < n_p and head_matches(ts, pnodes[pi]):
                items.append(_match_list_item(ts, pnodes[pi], functions, path))
                pi += 1
            results[ts["capture"]] = items
            ti += 1
            continue

        if ts.get("optional"):
            if pi < n_p and head_matches(ts, pnodes[pi]):
                match_node(ts, pnodes[pi], results, functions, path)
                pi += 1
            ti += 1
            continue

        # required child
        if pi >= n_p:
            what = ts.get("tag") or ts.get("content", "")[:40]
            raise MissingNodeError(f"page ended; template requires {what!r}", path)
        match_node(ts, pnodes[pi], results, functions, path)
        pi += 1
        ti += 1

    if pi < n_p:
        p = pnodes[pi]
        what = p.get("name") if is_tag(p) else repr(p.get("content", "")[:40])
        raise ExcessNodeError(
            f"{n_p - pi} unmatched page children remain (first: {what})", path)


def match_document(spec: Spec, html: str,
                   functions: Functions | None = None) -> Results:
    """Reference entry point 2 equivalent (``scrap``; SURVEY §4.2):
    parse page → align against compiled spec → captured results dict.
    Raises CompareError on mismatch (callers inside Spark batches catch
    and map to status rows — A13)."""
    functions = functions or {}
    page_root = parse_html(html)
    results: Results = {}
    # Both roots are synthetic 'root' tag nodes: align their children.
    align_children(spec["children"], page_root["children"], results,
                   functions, ())
    return results


def extract(spec: Spec, html: str, functions: Functions | None = None,
            spans: bool = False) -> dict[str, Any]:
    """Status-row extraction used by the Spark batch operator: never
    raises on mismatch; returns
    ``{status, error, fields (dict|None), text (str|None), n_nodes}``.

    ``text`` is the value of a ``text`` capture if present, else
    the '\\n'-join of all scalar string captures in capture (document)
    order — the byte-identical-text contract column.

    ``spans=True`` (the north rule's "extracted text/spans per url"
    leg) additionally returns ``spans``: field name → list of
    [start, end) character offsets of the captured ELEMENT(S) in the
    source html: from its start tag's ``<`` to just past the ``>`` of
    the end tag that closes it, or of its start tag when it has none
    (void, self-closing, implicitly closed). Lists repeat per item;
    nugget captures sit on text nodes and carry no element span. Off
    by default — spans come from the stdlib token source, so the
    plain path keeps the fast one.
    """
    functions = functions or {}
    n_nodes = 0
    span_sink: dict[str, list] | None = {} if spans else None
    parser = parse_html_spans_counted if spans else parse_html_counted
    token = _SPANS.set(span_sink) if spans else None
    try:
        page_root, n_nodes = parser(html)
        results: Results = {}
        align_children(spec["children"], page_root["children"], results,
                       functions, ())
        fields = results
    except CompareError as e:
        return {"status": e.status, "error": str(e), "fields": None,
                "text": None, "n_nodes": n_nodes,
                **({"spans": None} if spans else {})}
    except RecursionError:
        return {"status": "mismatch:RecursionError",
                "error": "document nesting too deep", "fields": None,
                "text": None, "n_nodes": n_nodes,
                **({"spans": None} if spans else {})}
    finally:
        if token is not None:
            _SPANS.reset(token)
    if isinstance(fields.get("text"), str):
        text = fields["text"]
    else:
        text = "\n".join(v for v in fields.values() if isinstance(v, str))
    out = {"status": "ok", "error": "", "fields": fields, "text": text,
           "n_nodes": n_nodes}
    if spans:
        out["spans"] = span_sink
    return out
