"""Template compile: wp-annotated DOM → JSON-able matcher spec
(SURVEY.md §3A A3/A12; reference: weakscraper/template.py ≈20-100 —
approximate cites, SURVEY §0).

The compiled spec is a tree of plain dicts — deliberately JSON-able
(NOT pickled closures) so that the driver can serialize it once,
``sc.broadcast`` it, and Python workers can deserialize it with only
``weakscraper_spark.enginelib`` on their path (spark-submit
--py-files; SURVEY §4.1). User ``wp-function`` hooks are stored by
NAME and resolved at match time against the ``functions`` dict the
caller passes (``TemplateScraper(template, functions)``,
``extract_pages(..., functions=)``).

Marker surface (template attributes / pseudo-tags):

==================  =====================================================
``wp-name="k"``      capture: node's single text child → results[k] (A7);
                     on a ``wp-list`` node it is the LIST KEY instead
``wp-name-attrs="k"``capture: node's attrs dict → results[k] (A8)
``wp-recursive``     capture whole page subtree, serialized; no child
                     compare; needs wp-name (A9)
``wp-list``          greedy zero-or-more repetition of this child;
                     results[k] = list of items (A6)
``wp-optional``      child may be absent; skipped on head-mismatch (A6)
``wp-function="f"``  apply the caller's function f to captured value (A11)
``wp-function-attrs``same, for the attrs capture (A11)
``wp-ignore-attrs``  skip the attribute check on this node (A12)
``wp-ignore-content``skip/ignore this node's children entirely (A12)
``<wp-ignore/>``     pseudo-tag child: consume arbitrary page children
                     until the next template child matches (A6)
``wp-until="tag"``   on <wp-ignore/>: stop consuming at first tag named
                     <tag> (A12, LC in reference)
``<wp-nugget wp-name="k">`` pseudo-tag child: match one text node in
                     mixed content, capture it (A10)
==================  =====================================================

Spec node kinds (all JSON-able; ``tag_spec`` and ``nugget_spec`` build
the first and last):
  {"kind":"tag","tag":str,"attrs":{..literal..},"capture":k|None,
   "capture_attrs":k|None,"recursive":bool,"list":bool,"optional":bool,
   "function":f|None,"function_attrs":f|None,"ignore_attrs":bool,
   "ignore_content":bool,"nested":bool,"children":[spec,...]}
  {"kind":"text","content":<normalized str>}
  {"kind":"ignore","until":tag|None}
  {"kind":"nugget","capture":k,"function":f|None,"optional":bool}
"""

from __future__ import annotations

import json
from typing import Any

from .dom import Node, is_text, parse_template_html
from .errors import TemplateError
from .textnorm import normalize_text

Spec = dict[str, Any]

_DIRECTIVE_ATTRS = frozenset(
    [
        "wp-name",
        "wp-name-attrs",
        "wp-recursive",
        "wp-list",
        "wp-optional",
        "wp-function",
        "wp-function-attrs",
        "wp-ignore-attrs",
        "wp-ignore-content",
        "wp-until",
    ]
)


def _flag(attrs: dict[str, str], key: str) -> bool:
    """Presence of the attribute (any value, including '') = flag on."""
    return key in attrs


def tag_spec(tag: str, attrs: dict[str, str], **fields: Any) -> Spec:
    """A tag node matching ``<tag>`` with literal ``attrs``: no
    capture, no function, every flag off and no children, except what
    ``fields`` sets. The one place the tag node's field set is
    written (compile and induction both build through it)."""
    spec: Spec = {
        "kind": "tag", "tag": tag, "attrs": attrs,
        "capture": None, "capture_attrs": None,
        "recursive": False, "list": False, "optional": False,
        "function": None, "function_attrs": None,
        "ignore_attrs": False, "ignore_content": False,
        "nested": False, "children": [],
    }
    spec.update(fields)
    return spec


def nugget_spec(capture: str, function: str | None = None,
                optional: bool = False) -> Spec:
    """A nugget node: one text node in mixed content, captured."""
    return {"kind": "nugget", "capture": capture, "function": function,
            "optional": optional}


def _compile_node(node: Node) -> Spec:
    if is_text(node):
        return {"kind": "text", "content": normalize_text(node["content"])}

    name = node["name"]
    attrs = node["attrs"]

    if name == "wp-ignore":
        return {"kind": "ignore", "until": attrs.get("wp-until")}

    if name == "wp-nugget":
        capture = attrs.get("wp-name")
        if not capture:
            raise TemplateError("<wp-nugget> requires wp-name")
        return nugget_spec(capture, attrs.get("wp-function"),
                           _flag(attrs, "wp-optional"))

    literal_attrs = {k: v for k, v in attrs.items() if k not in _DIRECTIVE_ATTRS}
    children = [_compile_node(c) for c in node["children"]]
    spec = tag_spec(
        name, literal_attrs,
        capture=attrs.get("wp-name"),
        capture_attrs=attrs.get("wp-name-attrs"),
        recursive=_flag(attrs, "wp-recursive"),
        list=_flag(attrs, "wp-list"),
        optional=_flag(attrs, "wp-optional"),
        function=attrs.get("wp-function"),
        function_attrs=attrs.get("wp-function-attrs"),
        ignore_attrs=_flag(attrs, "wp-ignore-attrs"),
        ignore_content=_flag(attrs, "wp-ignore-content"),
        nested=any(_captures(c) for c in children),
        children=children,
    )

    # --- compile-time validation (driver-side; raising is fine here) --
    if spec["recursive"] and not spec["capture"]:
        raise TemplateError(f"<{name} wp-recursive> requires wp-name")
    if spec["list"] and not spec["capture"]:
        raise TemplateError(f"<{name} wp-list> requires wp-name (the list key)")
    if spec["recursive"] and spec["ignore_content"]:
        raise TemplateError(f"<{name}>: wp-recursive and wp-ignore-content conflict")
    if spec["capture"] and spec["ignore_content"]:
        raise TemplateError(f"<{name}>: wp-name and wp-ignore-content conflict")
    if spec["capture"] and not spec["list"] and not spec["recursive"] and spec["nested"]:
        raise TemplateError(
            f"<{name} wp-name={spec['capture']!r}>: atomic capture cannot contain "
            "capturing descendants (use wp-list for per-item dicts)"
        )
    return spec


def _captures(spec: Spec) -> bool:
    """Does this spec subtree capture anything?"""
    kind = spec["kind"]
    if kind == "text":
        return False
    if kind in ("ignore",):
        return False
    if kind == "nugget":
        return True
    return bool(
        spec["capture"]
        or spec["capture_attrs"]
        or spec["nested"]
        or any(_captures(c) for c in spec["children"])
    )


def compile_template(template_html: str) -> Spec:
    """Parse + compile a template string into the root spec.

    Mirrors the reference's ``WeakScraper.__init__`` two-stage compile
    (TemplateParser → Template; SURVEY §4.1) but emits a JSON-able spec
    instead of a matcher-object tree.
    """
    root = parse_template_html(template_html)
    return _compile_node(root)


def spec_to_json(spec: Spec) -> str:
    """Canonical serialization for broadcast / the template registry."""
    return json.dumps(spec, sort_keys=True, ensure_ascii=False, separators=(",", ":"))


def spec_from_json(s: str) -> Spec:
    return json.loads(s)
