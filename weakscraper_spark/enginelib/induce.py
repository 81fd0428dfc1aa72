"""Template induction (SURVEY.md §3A note + §3C C12; mandated by the
north-star spec BASELINE.json:6 — "a template-induction stage learns a
wildcard-annotated DOM skeleton ... by tree-aligning template pages").

Not present in the reference (the human writes templates by hand);
this generalizes that: align k sample pages of one site and emit a
compiled Spec directly:

- positions where every sample agrees → literal structure/text;
- single-text-child nodes whose text diverges → atomic capture slot
  (``wp-name`` equivalent, auto-named ``slot_1..n``);
- text runs in mixed content that diverge → nugget capture slots;
- child lists with the same single repeated tag but different counts
  → ``wp-list`` (items induced from the union of all samples' items);
- children present in some samples but not others, where every
  sample's child list embeds as a subsequence of the richest one
  → the missing positions become ``wp-optional`` nodes;
- attrs that diverge → dropped from the literal set (template-subset
  attr semantics make this safe) ;
- structurally irreconcilable children → ``wp-ignore-content``.

Guarantee tested in tests/test_induce.py: the induced template
re-extracts every one of its own samples with status=ok (SURVEY §8
Build Plan step 5), and captures exactly the diverging texts.
"""

from __future__ import annotations

import itertools
from typing import Iterator

from .dom import Node, is_tag, is_text, parse_html
from .errors import TemplateError
from .spec import Spec, _captures, nugget_spec, tag_spec
from .textnorm import normalize_text


def _text_spec(column: list[Node], slots: Iterator[int],
               prefix: str) -> Spec:
    """One aligned text position: literal text where every sample
    agrees, else a nugget capture slot."""
    texts = {normalize_text(c["content"]) for c in column}
    if len(texts) == 1:
        return {"kind": "text", "content": texts.pop()}
    return nugget_spec(f"{prefix}_{next(slots)}")


def _one_sig(c: Node) -> tuple:
    return ("tag", c["name"]) if is_tag(c) else ("text",)


def _signature(children: list[Node]) -> tuple:
    return tuple(_one_sig(c) for c in children)


def _align_optional(nodes: list[Node]):
    """Reconcile diverging child lists as OPTIONAL positions: take the
    richest sample's children as the skeleton and greedily embed every
    sample's children into it (same kind + tag name, in order). A
    skeleton position some samples lack becomes ``wp-optional``.
    Returns (skeleton_signature, columns) where columns[i] holds the
    matched child node of every sample that has position i, or None
    when some sample's children do not embed as a subsequence (the
    caller then tries wp-list / wp-ignore-content)."""
    skel = max(nodes, key=lambda n: len(n["children"]))["children"]
    sig = [_one_sig(c) for c in skel]
    columns: list[list[Node]] = [[] for _ in skel]
    for n in nodes:
        i = 0
        for j, k in enumerate(sig):
            kids = n["children"]
            if i < len(kids) and _one_sig(kids[i]) == k:
                columns[j].append(kids[i])
                i += 1
        if i != len(n["children"]):
            return None
    return sig, columns


def _common_attrs(nodes: list[Node]) -> dict[str, str]:
    """Attrs present with identical values in every sample."""
    common = dict(nodes[0]["attrs"])
    for n in nodes[1:]:
        for k in list(common):
            if n["attrs"].get(k) != common[k]:
                del common[k]
    return common


def _all_single_text_child(nodes: list[Node]) -> bool:
    return all(
        len(n["children"]) == 1 and is_text(n["children"][0]) for n in nodes
    )


def _induce_tag(nodes: list[Node], slots: Iterator[int], prefix: str) -> Spec:
    names = {n["name"] for n in nodes}
    if len(names) != 1:
        raise TemplateError(f"cannot align diverging tags {sorted(names)}")
    spec = tag_spec(names.pop(), _common_attrs(nodes))

    # Atomic-capture case first (A7 shape): every sample has exactly one
    # text child. Diverging text ⇒ capture slot; equal ⇒ literal.
    if _all_single_text_child(nodes):
        texts = {normalize_text(n["children"][0]["content"]) for n in nodes}
        if len(texts) == 1:
            spec["children"] = [{"kind": "text", "content": texts.pop()}]
        else:
            spec["capture"] = f"{prefix}_{next(slots)}"
        return spec

    sigs = {_signature(n["children"]) for n in nodes}
    if len(sigs) == 1:
        # Positionally aligned children: recurse per position.
        sig = sigs.pop()
        for i, kind in enumerate(sig):
            column = [n["children"][i] for n in nodes]
            if kind == ("text",):
                spec["children"].append(_text_spec(column, slots, prefix))
            else:
                spec["children"].append(_induce_tag(column, slots, prefix))
        spec["nested"] = any(_captures(c) for c in spec["children"])
        return spec

    # Diverging structure, case 1: repeated-single-tag ⇒ wp-list.
    item_names = {c["name"] for n in nodes for c in n["children"] if is_tag(c)}
    only_tags = all(is_tag(c) for n in nodes for c in n["children"])
    if only_tags and len(item_names) == 1:
        items = [c for n in nodes for c in n["children"]]
        item_spec = _induce_tag(items, slots, prefix)
        item_spec["list"] = True
        if not item_spec["capture"]:
            if _captures(item_spec):
                item_spec["capture"] = f"{prefix}_{next(slots)}"
            elif _all_single_text_child(items):
                item_spec["capture"] = f"{prefix}_{next(slots)}"
            else:
                # Irregular items: capture serialized subtrees.
                item_spec["capture"] = f"{prefix}_{next(slots)}"
                item_spec["recursive"] = True
                item_spec["children"] = []
        item_spec["nested"] = any(_captures(c) for c in item_spec["children"])
        spec["children"] = [item_spec]
        spec["nested"] = _captures(item_spec)
        return spec

    # Diverging structure, case 2: every sample's children embed as a
    # subsequence of the richest sample's children ⇒ the missing
    # positions are wp-optional nodes. (Tried AFTER wp-list: repeated
    # same-tag children must induce unbounded repetition, not a
    # skeleton-capped set of optionals.)
    aligned = _align_optional(nodes)
    if aligned is not None:
        skeleton, columns = aligned
        for kind, column, full in zip(skeleton, columns,
                                      (len(c) == len(nodes)
                                       for c in columns)):
            if kind == ("text",):
                if not full:
                    # a text run cannot be optional in the matcher;
                    # treat the whole subtree as irreconcilable
                    spec["ignore_content"] = True
                    spec["children"] = []
                    return spec
                spec["children"].append(_text_spec(column, slots, prefix))
            else:
                child = _induce_tag(column, slots, prefix)
                if not full:
                    child["optional"] = True
                spec["children"].append(child)
        spec["nested"] = any(_captures(c) for c in spec["children"])
        return spec

    # Fallback: structure cannot be reconciled — ignore this subtree.
    spec["ignore_content"] = True
    spec["children"] = []
    return spec


def induce_template(sample_htmls: list[str], slot_prefix: str = "slot") -> Spec:
    """Tree-align k sample pages → compiled Spec (root).

    Small k (driver- or executor-side kernel); the result is broadcast
    like any hand-written compiled template.
    """
    if len(sample_htmls) < 2:
        raise TemplateError("induction needs >= 2 sample pages")
    roots = [parse_html(h) for h in sample_htmls]
    slots = itertools.count(1)
    spec = _induce_tag(roots, slots, slot_prefix)
    if spec.get("ignore_content"):
        # the WHOLE document diverged: the degrade-to-ignore rule is
        # meaningful for subtrees, but a root-level ignore would be a
        # template that accepts every page and captures nothing (and
        # the extract entry aligns root children directly, bypassing
        # the flag) — fail honestly instead
        raise TemplateError(
            "samples do not align at the document root")
    return spec


def _n_slots(spec: Spec) -> int:
    """Number of capture slots in a spec tree — the induction quality
    signal (an outlier sample collapses subtrees to ignore_content,
    which LOWERS the slot count rather than raising an error)."""
    n = 1 if spec.get("capture") else 0
    for c in spec.get("children", ()):
        n += _n_slots(c) if c.get("kind") in ("tag", "nugget") else 0
    return n


def induce_template_robust(sample_htmls: list[str],
                           slot_prefix: str = "slot",
                           validate_htmls: list[str] | None = None
                           ) -> Spec:
    """Outlier-tolerant induction: real crawl samples include the odd
    off-template page (error page, redirect stub), and ONE such sample
    degrades alignment silently — diverged subtrees fall back to
    ``wp-ignore-content``, so the failure mode is fewer capture slots,
    not an exception. Induce on the full set AND on every leave-one-out
    subset; k is small, so k+1 inductions are cheap.

    Candidate selection VALIDATES each induced spec by extracting the
    ``validate_htmls`` (falling back to the samples themselves):
    candidates matching markedly fewer validation pages than the best
    (more than ``max(1, n_val // 8)`` behind) are eliminated, then
    the survivor with the MOST capture slots wins (ties → more
    matched pages, then the larger induction set). The two failure
    modes this balances (r06, found by the correctness sweep):
    slot-count alone prefers an OVERFIT spec — samples {2,2,2,3
    list items} leave-one-out to {2,2,2}, induce a fixed-count
    skeleton with more slots than the true wp-list, and fail every
    unseen count — while match-count alone prefers the OVER-GENERAL
    collapsed spec (ignore_content matches even the outlier page and
    captures nothing). Validation coverage with a slot tie-break
    rejects the overfit spec outright and keeps the outlier-tolerant
    one inside the tolerance band. Pass a held-out page set (the
    distributed stage does) to make the coverage signal sharp; the
    same-set fallback is no weaker than the pre-r06 behavior."""
    from .match import extract

    val = validate_htmls if validate_htmls else sample_htmls
    candidates = [sample_htmls]
    if len(sample_htmls) > 2:
        candidates += [sample_htmls[:i] + sample_htmls[i + 1:]
                       for i in range(len(sample_htmls))]
    scored = []
    for cand in candidates:
        try:
            spec = induce_template(cand, slot_prefix)
        except TemplateError:
            continue
        n_match = sum(1 for h in val
                      if extract(spec, h)["status"] == "ok")
        scored.append((spec, n_match, _n_slots(spec), len(cand)))
    if not scored:
        raise TemplateError("no alignable sample subset")
    best_match = max(s[1] for s in scored)
    tol = max(1, len(val) // 8)
    eligible = [s for s in scored if s[1] >= best_match - tol]
    spec, _, _, _ = max(eligible, key=lambda s: (s[2], s[1], s[3]))
    return spec
