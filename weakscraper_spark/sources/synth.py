"""Deterministic synthesis of the Common-Crawl-style pages table
(FIXTURES.md §2; input contract BASELINE.json:15: ``url string,
warc_ts timestamp, html binary, text string, lang string``).

Design for scale: rows are generated DISTRIBUTED via
``spark.range(n).mapInPandas`` — every row is a pure function of its
index (keyed BLAKE2 hashes, no RNG state), so synthesis is
order-independent, partition-count-independent, and reproducible at
any scale without a driver-side materialization. The same property
makes resume tests exact (re-synthesizing yields identical rows).

Distribution shape (exercises the pipeline's skew machinery):
- 1 head host carries ~30% of rows; ~Zipf(1.2) tail over the rest
  (C8 salting is a correctness-of-benchmark feature, SURVEY §5);
- ~10% of urls get 3 snapshots with distinct ``warc_ts`` (C3 dedup);
- ~5% structurally non-matching pages + ~1% malformed HTML (A13
  status handling);
- ``text`` column carries the ground-truth main text rendered into
  the page — the byte-identical recovery target.
"""

from __future__ import annotations

import datetime as dt
from hashlib import blake2b

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..enginelib.spec import compile_template, spec_to_json

# ---------------------------------------------------------------------------
# Site templates (wp-annotated) and their matching page renderers. The
# renderer and the template share one skeleton so extraction recovers
# the slots exactly.
# ---------------------------------------------------------------------------

SITE_TEMPLATES: dict[str, str] = {
    "t_article": (
        '<html><head><title wp-name="head_title">x</title></head><body>'
        '<h1 wp-name="title">x</h1>'
        '<div class="byline"><span wp-name="author">x</span></div>'
        '<div class="content" wp-name="text">x</div>'
        '<ul class="tags"><li wp-list wp-name="tags">x</li></ul>'
        "<wp-ignore/></body></html>"
    ),
    "t_product": (
        '<html><body><div class="product">'
        '<h2 wp-name="name">x</h2>'
        "<p><b>Price</b><wp-nugget wp-name=\"price\"/><b>USD</b></p>"
        '<div class="desc" wp-name="text">x</div>'
        "</div><wp-ignore/></body></html>"
    ),
    "t_forum": (
        "<html><body>"
        '<h1 wp-name="title">x</h1>'
        '<div class="posts">'
        '<div class="post" wp-list wp-name="posts">'
        '<span class="u" wp-name="user">x</span><p wp-name="msg">y</p></div>'
        "</div>"
        '<div class="main" wp-name="text">x</div>'
        "<wp-ignore/></body></html>"
    ),
}

TEMPLATE_IDS = sorted(SITE_TEMPLATES)  # [t_article, t_forum, t_product]

_WORDS = (
    "data spark table shuffle template page crawl extract web scale host "
    "text token batch arrow vector plan query join salt skew merge tree "
    "node align match slot capture field record column row range"
).split()


def _h(key: str, mod: int = 1 << 32) -> int:
    """Deterministic keyed hash → [0, mod)."""
    return int.from_bytes(blake2b(key.encode(), digest_size=8).digest(),
                          "big") % mod


def _words(key: str, n: int) -> str:
    return " ".join(_WORDS[_h(f"{key}:{j}", len(_WORDS))] for j in range(n))


def host_cdf(n_hosts: int = 50, head_share: float = 0.30) -> list[float]:
    """CDF over hosts: host_00 = head_share, Zipf(1.2) tail."""
    tail = [1.0 / (k ** 1.2) for k in range(1, n_hosts)]
    z = sum(tail)
    probs = [head_share] + [(1.0 - head_share) * t / z for t in tail]
    cdf, acc = [], 0.0
    for p in probs:
        acc += p
        cdf.append(acc)
    cdf[-1] = 1.0
    return cdf


_LANGS = ["en", "es", "de", "zh", "fr"]
_LANG_CDF = [0.50, 0.65, 0.80, 0.90, 1.0]

# tz-naive, interpreted as UTC (session timezone is pinned to UTC).
_EPOCH = dt.datetime(2026, 1, 1)


def _pick(cdf: list[float], u: float) -> int:
    for idx, c in enumerate(cdf):
        if u < c:
            return idx
    return len(cdf) - 1


def render_page(template_id: str, slots: dict) -> tuple[str, str]:
    """Render (html, ground_truth_text) for one page."""
    if template_id == "t_article":
        lis = "".join(f"<li>{t}</li>" for t in slots["tags"])
        html = (
            f"<html><head><title>{slots['title']}</title></head><body>"
            f"<h1>{slots['title']}</h1>"
            f'<div class="byline"><span>{slots["author"]}</span></div>'
            f'<div class="content">{slots["text"]}</div>'
            f'<ul class="tags">{lis}</ul>'
            f"<footer>{slots['junk']}</footer></body></html>"
        )
    elif template_id == "t_product":
        html = (
            f'<html><body><div class="product">'
            f"<h2>{slots['name']}</h2>"
            f"<p><b>Price</b> {slots['price']} <b>USD</b></p>"
            f'<div class="desc">{slots["text"]}</div>'
            f"</div><nav>{slots['junk']}</nav></body></html>"
        )
    else:  # t_forum
        posts = "".join(
            f'<div class="post"><span class="u">{u}</span><p>{m}</p></div>'
            for u, m in slots["posts"]
        )
        html = (
            f"<html><body><h1>{slots['title']}</h1>"
            f'<div class="posts">{posts}</div>'
            f'<div class="main">{slots["text"]}</div>'
            f"<aside>{slots['junk']}</aside></body></html>"
        )
    return html, slots["text"]


def make_slots(template_id: str, key: str, min_words: int = 8,
               rng_words: int = 40, junk_words: int = 12,
               junk_markup: bool = False) -> dict:
    """``junk_words`` sizes the boilerplate (nav/footer/aside) that the
    templates wp-ignore — real CC pages are boilerplate-dominated, so
    the bench corpus uses junk ≫ text (extracted output ≪ html).
    ``junk_markup`` wraps the junk in a span per ~8 words (~1 tag per
    45 bytes) so its PARSE cost matches tag-dense real boilerplate
    instead of one cheap text node — use for throughput realism at
    large page sizes."""
    text = _words(f"{key}:text", min_words + _h(f"{key}:tl", rng_words))
    junk = _words(f"{key}:junk", junk_words)
    if junk_markup:
        w = junk.split()
        junk = "".join(f"<span>{' '.join(w[i:i + 8])}</span>"
                       for i in range(0, len(w), 8))
    slots = {"text": text, "junk": junk}
    if template_id == "t_article":
        slots["title"] = _words(f"{key}:title", 4)
        slots["author"] = _words(f"{key}:author", 2)
        slots["tags"] = [_words(f"{key}:tag{j}", 1)
                         for j in range(_h(f"{key}:ntag", 5))]
    elif template_id == "t_product":
        slots["name"] = _words(f"{key}:name", 3)
        slots["price"] = f"${_h(f'{key}:price', 9000) / 100 + 1:.2f}"
    else:
        slots["title"] = _words(f"{key}:title", 4)
        slots["posts"] = [
            (_words(f"{key}:pu{j}", 1), _words(f"{key}:pm{j}", 6))
            for j in range(1 + _h(f"{key}:np", 4))
        ]
    return slots


def _page_meta(i: int, n_hosts: int, head_share: float, seed: int):
    """The per-index draws every generator view shares (pages, truth
    twins): one source of truth so a twin can never drift from the
    corpus it describes."""
    key = f"{seed}:{i}"
    u_host = _h(f"{key}:host") / 2**32
    hidx = _pick(host_cdf(n_hosts, head_share), u_host)
    host = f"host{hidx:02d}.example.com"
    template_id = TEMPLATE_IDS[hidx % len(TEMPLATE_IDS)]
    url = f"https://{host}/p/{i}"
    lang = _LANGS[_pick(_LANG_CDF, _h(f"{key}:lang") / 2**32)]
    kind = _h(f"{key}:kind", 100)
    n_snaps = 3 if _h(f"{key}:snap", 10) == 0 else 1
    return key, url, template_id, lang, kind, n_snaps


def rows_for_index(i: int, n_hosts: int, head_share: float, seed: int,
                   min_words: int = 8, rng_words: int = 40,
                   junk_words: int = 12, junk_markup: bool = False):
    """All synthetic rows for page index i (1 or 3 snapshots)."""
    key, url, template_id, lang, kind, n_snaps = _page_meta(
        i, n_hosts, head_share, seed)

    out = []
    for s in range(n_snaps):
        skey = f"{key}:{s}"
        slots = make_slots(template_id, skey, min_words, rng_words,
                           junk_words, junk_markup)
        html, text = render_page(template_id, slots)
        if kind < 5:  # structural mismatch: alien skeleton
            html = (f"<html><body><table><tr><td>{slots['text']}"
                    f"</td></tr></table></body></html>")
            text = ""
        elif kind < 6:
            # malformed: truncate at the required heading and leave a
            # dangling open tag — exercises parser tolerance AND is
            # guaranteed unmatchable (every site template requires its
            # heading), so ground-truth text = "" stays consistent.
            cut = html.find("<h1")
            if cut < 0:
                cut = html.find("<h2")
            html = html[:cut] + '<h1 class="trunc'
            text = ""
        # snapshot s=0 is the LATEST (dedup keeps it)
        ts = _EPOCH + dt.timedelta(seconds=i * 7) - dt.timedelta(days=s)
        out.append((url, ts, html.encode("utf-8"), text, lang))
    return out


# ---------------------------------------------------------------------------
# Spark-side generation
# ---------------------------------------------------------------------------

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def synth_pages(spark: SparkSession, n_pages: int, n_hosts: int = 50,
                head_share: float = 0.30, seed: int = 42,
                partitions: int | None = None, min_words: int = 8,
                rng_words: int = 40, junk_words: int = 12,
                junk_markup: bool = False) -> DataFrame:
    """Distributed deterministic pages table: one task per index range,
    no driver materialization, no RNG state (scales to any n)."""
    partitions = partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rows.extend(rows_for_index(int(i), n_hosts, head_share,
                                           seed, min_words, rng_words,
                                           junk_words, junk_markup))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return (
        spark.range(0, n_pages, numPartitions=partitions)
        .mapInPandas(gen, PAGES_SCHEMA)
    )


#: the scalar (atomic-text) captures each template's spec declares —
#: list captures (tags, posts) are excluded: their fields_json
#: serialization is engine formatting, not generator ground truth
SCALAR_TRUTH_FIELDS: dict[str, tuple[str, ...]] = {
    "t_article": ("head_title", "title", "author", "text"),
    "t_product": ("name", "price", "text"),
    "t_forum": ("title", "text"),
}


def _truth_scalars(template_id: str, slots: dict) -> dict[str, str]:
    """field name → expected captured value, stated from the SLOTS the
    renderer consumed — independent of the parse/match engine."""
    if template_id == "t_article":
        return {"head_title": slots["title"], "title": slots["title"],
                "author": slots["author"], "text": slots["text"]}
    if template_id == "t_product":
        return {"name": slots["name"], "price": slots["price"],
                "text": slots["text"]}
    return {"title": slots["title"], "text": slots["text"]}


def fields_for_index(i: int, n_hosts: int, head_share: float,
                     seed: int, min_words: int = 8,
                     rng_words: int = 40, junk_words: int = 12):
    """Ground-truth (url, warc_ts, field, value) rows for page index
    i — scalar captures only, well-formed pages only (kind<6 pages
    are alien/malformed by construction and must NOT extract ok),
    LATEST snapshot only (s=0): the extract plan's dedup_latest stage
    drops the older snapshots before extraction, so they are not part
    of the contract output."""
    key, url, template_id, lang, kind, n_snaps = _page_meta(
        i, n_hosts, head_share, seed)
    if kind < 6:
        return []
    slots = make_slots(template_id, f"{key}:0", min_words, rng_words,
                       junk_words)
    ts = _EPOCH + dt.timedelta(seconds=i * 7)
    return [(url, ts, fname, val)
            for fname, val in _truth_scalars(template_id, slots).items()]


def synth_fields_truth(spark: SparkSession, n_pages: int,
                       n_hosts: int = 50, head_share: float = 0.30,
                       seed: int = 42,
                       partitions: int | None = None) -> DataFrame:
    """Distributed generator-side truth table for the scalar captures
    of ``synth_pages(spark, n_pages)`` (same defaults ⇒ same corpus):
    (url, warc_ts, field, value). Built from the SLOTS, never from the
    engine — hash equality against extraction output certifies the
    north rule's "captured fields per url" leg byte-for-byte."""
    partitions = partitions or max(
        8, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rows.extend(fields_for_index(int(i), n_hosts,
                                             head_share, seed))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "field", "value"])

    return (spark.range(0, n_pages, numPartitions=partitions)
            .mapInPandas(gen, "url string, warc_ts timestamp, "
                              "field string, value string"))


def synth_linked_pages(spark: SparkSession, n_pages: int,
                       n_hosts: int = 50, head_share: float = 0.30,
                       seed: int = 11,
                       partitions: int | None = None) -> DataFrame:
    """Deterministic pages-with-outlinks table for the link-graph
    family: (url, html string, links array<string>, anchors
    array<string>) where ``links``/``anchors`` are the GENERATOR-side
    ground truth (resolved content outlinks, in document order) that
    ``operators.links.extract_links`` must recover from the raw html.

    Link mix per page (all keyed-hash deterministic, same contract as
    ``synth_pages``): 3-6 content links rotating through the four
    href forms (absolute, protocol-relative, root-relative,
    path-relative; one of them single-quoted), destination hosts
    drawn from the SAME head-heavy host CDF (so the host graph has a
    hub and a Zipf tail — the shape PageRank and the skew machinery
    are for), plus junk links (javascript:/mailto:/#fragment) and a
    bare self-href that extraction must reject."""
    partitions = partitions or max(
        8, spark.sparkContext.defaultParallelism)
    cdf = host_cdf(n_hosts, head_share)

    def page(i: int):
        key = f"{seed}:{i}"
        hidx = _pick(cdf, _h(f"{key}:h") / 2**32)
        host = f"host{hidx:02d}.example.com"
        url = f"https://{host}/p/{i}"
        # ~1 page in 5 declares a <base href> (WHATWG: first wins) —
        # its relative references resolve against the base, not the
        # page url; the generator computes truth the same way
        has_base = _h(f"{key}:hb", 5) == 0
        if has_base:
            bidx = _pick(cdf, _h(f"{key}:bh") / 2**32)
            b_origin = f"https://host{bidx:02d}.example.com"
            b_dir = f"/d{_h(key + ':bd', 9)}/"
            head = f'<head><BASE href="{b_origin}{b_dir}"></head>'
        else:
            b_origin, b_dir = f"https://{host}", "/p/"
            head = "<head></head>"
        n_links = 3 + _h(f"{key}:nl", 4)
        anchors_html, links, anchors = [], [], []
        for j in range(n_links):
            lk = f"{key}:{j}"
            didx = _pick(cdf, _h(f"{lk}:dh") / 2**32)
            dhost = f"host{didx:02d}.example.com"
            m = _h(f"{lk}:m", max(10, n_pages))
            anchor = _words(f"{lk}:a", 1 + _h(f"{lk}:an", 3))
            form = _h(f"{lk}:f", 4)
            if form == 0:      # absolute (unquoted every other time)
                href = f"https://{dhost}/p/{m}"
                dst = href
            elif form == 1:    # protocol-relative (base scheme)
                href = f"//{dhost}/p/{m}"
                dst = f"https:{href}"
            elif form == 2:    # root-relative → base ORIGIN
                href = f"/s/{m}"
                dst = f"{b_origin}{href}"
            else:              # path-relative → base DIRECTORY
                href = f"r/{m}"
                dst = f"{b_origin}{b_dir}{href}"
            if form == 0 and _h(f"{lk}:q", 2) == 0:
                attr = f"href={href}"          # bare/unquoted
            elif j == 1:
                attr = f"href='{href}'"
            else:
                attr = f'href="{href}"'
            tag = "A" if form == 2 else "a"    # crawl HTML mixes case
            anchors_html.append(
                f"<{tag} class=x {attr}>{anchor}</{tag}>")
            links.append(dst)
            anchors.append(anchor)
        junk = (f'<a href="javascript:void(0)">js</a>'
                f'<a href="mailto:a@{host}">mail</a>'
                f'<a href="#top">top</a>')
        body = (f"<nav>{junk}</nav><h1>{_words(key + ':t', 3)}</h1>"
                f"<p>{_words(key + ':b', 20)}</p>"
                f"<ul><li>{'</li><li>'.join(anchors_html)}</li></ul>")
        return (url, f"<html>{head}<body>{body}</body></html>",
                links, anchors)

    def gen(batches):
        for pdf in batches:
            rows = [page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "html", "links", "anchors"])

    return (spark.range(0, n_pages, numPartitions=partitions)
            .mapInPandas(gen, "url string, html string, "
                              "links array<string>, "
                              "anchors array<string>"))


def synth_templates(spark: SparkSession, n_hosts: int = 50) -> DataFrame:
    """Template registry (SURVEY §2.1): host_pattern → template_id +
    compiled spec JSON. Small dim table — always broadcast (C5)."""
    rows = []
    compiled = {tid: spec_to_json(compile_template(html))
                for tid, html in SITE_TEMPLATES.items()}
    for hidx in range(n_hosts):
        tid = TEMPLATE_IDS[hidx % len(TEMPLATE_IDS)]
        rows.append((f"host{hidx:02d}.example.com", tid, compiled[tid]))
    pdf = pd.DataFrame(rows,
                       columns=["host_pattern", "template_id", "template_json"])
    return spark.createDataFrame(pdf).withColumn(
        "created_ts", F.lit(_EPOCH))


def compiled_specs() -> dict[str, str]:
    """template_id → spec JSON (the broadcastable matcher payloads)."""
    return {tid: spec_to_json(compile_template(html))
            for tid, html in SITE_TEMPLATES.items()}


# ---------------------------------------------------------------------------
# Template-drift scenario (r06): a planted redesign for the lifecycle
# loop (plans/refresh.py). Some hosts switch to a V2 layout on a known
# day; the V2 skeletons below are REGULAR (template-renderable), so
# induction can re-learn them — but they share no structure with the
# V1 templates, so the old registry mismatches every V2 page.
# ---------------------------------------------------------------------------

def render_page_v2(template_id: str, slots: dict) -> tuple[str, str]:
    """Render (html, ground_truth_text) for one REDESIGNED page. Same
    slot content as ``render_page`` (the site changed its markup, not
    its editorial data) — so recovery can be checked against the same
    generator truth."""
    if template_id == "t_article":
        tags = "".join(f"<a>{t}</a>" for t in slots["tags"])
        html = (
            f"<html><head><title>{slots['title']}</title></head><body>"
            f'<article><h1 class="hl">{slots["title"]}</h1>'
            f'<p class="by">{slots["author"]}</p>'
            f'<section class="body">{slots["text"]}</section>'
            f'<div class="taglist">{tags}</div></article>'
            f"<footer>{slots['junk']}</footer></body></html>"
        )
    elif template_id == "t_product":
        html = (
            f"<html><body><main><h1>{slots['name']}</h1>"
            f'<span class="price">{slots["price"]}</span>'
            f'<p class="about">{slots["text"]}</p></main>'
            f"<nav>{slots['junk']}</nav></body></html>"
        )
    else:  # t_forum
        posts = "".join(
            f'<li class="msg"><b>{u}</b><span>{m}</span></li>'
            for u, m in slots["posts"]
        )
        html = (
            f'<html><body><header><h2>{slots["title"]}</h2></header>'
            f'<ol class="thread">{posts}</ol>'
            f'<p class="summary">{slots["text"]}</p>'
            f"<aside>{slots['junk']}</aside></body></html>"
        )
    return html, slots["text"]


def _drift_meta(i: int, n_hosts: int, n_days: int, drift_day: int,
                seed: int, drift_mod: int):
    """Per-index draws of the drift scenario (shared by the pages view
    and the truth twin — one source of truth, the synth_fields_truth
    discipline). Hosts are drawn UNIFORMLY (not the Zipf head) so
    every host observes most days; ``hidx % drift_mod == 1`` marks the
    redesigned hosts — with the default drift_mod=4 they cycle through
    all three template kinds (template is hidx % 3)."""
    key = f"{seed}:d{i}"
    hidx = _h(f"{key}:host", n_hosts)
    host = f"host{hidx:02d}.example.com"
    template_id = TEMPLATE_IDS[hidx % len(TEMPLATE_IDS)]
    drifted = (hidx % drift_mod) == 1
    day = _h(f"{key}:day", n_days)
    url = f"https://{host}/p/{i}"
    lang = _LANGS[_pick(_LANG_CDF, _h(f"{key}:lang") / 2**32)]
    return key, url, host, template_id, drifted, day, lang


def drift_rows_for_index(i: int, n_hosts: int, n_days: int,
                         drift_day: int, seed: int, drift_mod: int,
                         noise: bool = False):
    """One page row (plus truth fields) for index i of the drift
    scenario: (url, warc_ts, html, text, lang, host, day, is_v2).
    ``noise=True`` additionally plants the standard ~5% alien-skeleton
    pages on NON-drifted hosts (used by the pytest e2e to exercise
    robustness; the oracle query runs noise-free so the expected
    summary stays a closed form)."""
    key, url, host, template_id, drifted, day, lang = _drift_meta(
        i, n_hosts, n_days, drift_day, seed, drift_mod)
    slots = make_slots(template_id, key)
    is_v2 = drifted and day >= drift_day
    if is_v2:
        html, text = render_page_v2(template_id, slots)
    else:
        html, text = render_page(template_id, slots)
    if noise and not drifted and _h(f"{key}:kind", 100) < 5:
        html = (f"<html><body><table><tr><td>{slots['text']}"
                f"</td></tr></table></body></html>")
        text = ""
    # i < 86400 keeps every page inside its intended calendar day
    ts = _EPOCH + dt.timedelta(days=day, seconds=i % 86400)
    return (url, ts, html.encode("utf-8"), text, lang, host, day,
            is_v2)


def synth_drift_pages(spark: SparkSession, n_pages: int,
                      n_hosts: int = 16, n_days: int = 8,
                      drift_day: int = 4, seed: int = 77,
                      drift_mod: int = 4, noise: bool = False,
                      partitions: int | None = None) -> DataFrame:
    """Distributed deterministic drift-scenario pages table
    (PAGES_SCHEMA): hosts with ``hidx % drift_mod == 1`` render the V2
    layout from ``drift_day`` on; everything else stays V1."""
    partitions = partitions or max(
        8, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = [drift_rows_for_index(
                        int(i), n_hosts, n_days, drift_day, seed,
                        drift_mod, noise)[:5]
                    for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text",
                               "lang"])

    return (spark.range(0, n_pages, numPartitions=partitions)
            .mapInPandas(gen, PAGES_SCHEMA))


def synth_drift_truth(spark: SparkSession, n_pages: int,
                      n_hosts: int = 16, n_days: int = 8,
                      drift_day: int = 4, seed: int = 77,
                      drift_mod: int = 4,
                      partitions: int | None = None) -> DataFrame:
    """Generator-side truth twin of ``synth_drift_pages`` (same
    defaults ⇒ same corpus; noise-free form only): per page,

    (url, host, day, day_date, err1, err2)

    ``err1`` = expected extraction failure under the ORIGINAL registry
    (V2 pages mismatch it), ``err2`` = expected failure under a
    correctly re-induced registry (0 — the redesign is regular). The
    lifecycle oracle mirrors detection + recovery over this relation
    in pure SQL."""
    partitions = partitions or max(
        8, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                url, ts, _html, _text, _lang, host, day, is_v2 = \
                    drift_rows_for_index(int(i), n_hosts, n_days,
                                         drift_day, seed, drift_mod)
                rows.append((url, host, day,
                             (_EPOCH + dt.timedelta(days=day)).date(),
                             1 if is_v2 else 0, 0))
            yield pd.DataFrame(
                rows, columns=["url", "host", "day", "day_date",
                               "err1", "err2"])

    return (spark.range(0, n_pages, numPartitions=partitions)
            .mapInPandas(gen, "url string, host string, day int, "
                              "day_date date, err1 int, err2 int"))
