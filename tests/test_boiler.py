"""Heuristic (template-free) main-content extraction — the north
rule's "HTML boilerplate strip, DOM heuristics" leg:

- block segmentation semantics (inline vs block tags, ignored
  subtrees, link-word accounting, entity decode parity with dom.py);
- the WSDM'10 NumWords/LinkDensity classifier on hand-built pages
  (link-dense nav/footer stripped, long prose kept);
- byte-identical recovery of the synthesized main text in 'largest'
  mode over the full synth corpus (the same bar the template path
  meets);
- the Spark operator (Arrow plumbing, lineage columns);
- the in-stage template→heuristic fallback: structurally-mismatched
  pages (alien skeleton, NO template match) are rescued with their
  main text, and the plan stays map-only.
"""

import pytest
from pyspark.sql import functions as F

from weakscraper_spark.enginelib.boiler import (
    classify_blocks,
    main_text,
    segment_blocks,
)
from weakscraper_spark.operators.heuristic import heuristic_extract
from weakscraper_spark.sources.synth import rows_for_index


def _nav(n_links: int = 8) -> str:
    return "<nav>" + "".join(
        f'<a href="/p{j}">menu item {j}</a>' for j in range(n_links)
    ) + "</nav>"


PROSE = " ".join(f"prose word number {j}" for j in range(12))  # 48 words


# ---------------------------------------------------------------------------
# segmentation
# ---------------------------------------------------------------------------

def test_inline_tags_do_not_split_blocks():
    blocks = segment_blocks(
        "<p>alpha <b>beta</b> gamma <a href='x'>delta</a></p>")
    assert len(blocks) == 1
    assert blocks[0].text == "alpha  beta  gamma  delta"
    assert blocks[0].n_words == 4
    assert blocks[0].n_link_words == 1


def test_block_tags_split_and_ignored_subtrees_vanish():
    blocks = segment_blocks(
        "<div>one</div><script>var x = 'not text';</script>"
        "<style>p{}</style><div>two</div>")
    assert [b.text for b in blocks] == ["one", "two"]


def test_single_text_node_block_is_byte_identical():
    content = "a&amp;b  spaced\tout"
    blocks = segment_blocks(f"<div>{content}</div>")
    # entity decode matches dom.py (convert_charrefs); inner bytes kept
    assert blocks[0].text == "a&b  spaced\tout"


def test_nested_anchor_words_counted_once():
    blocks = segment_blocks(
        "<p><a href='x'>one <span>two</span></a> three</p>")
    assert blocks[0].n_words == 3
    assert blocks[0].n_link_words == 2


# ---------------------------------------------------------------------------
# classification
# ---------------------------------------------------------------------------

def test_link_dense_block_is_boilerplate():
    html = _nav() + f"<p>{PROSE}</p>" + "<footer><a href='a'>about" \
        "</a> <a href='c'>contact</a></footer>"
    blocks = segment_blocks(html)
    labels = classify_blocks(blocks)
    assert labels == [False, True, False]


def test_long_prose_is_content_even_between_junk():
    html = _nav() + f"<div>{PROSE}</div>" + _nav()
    r = main_text(html, mode="all")
    assert r["text"] == PROSE
    assert r["n_content_blocks"] == 1


def test_no_content_page_returns_empty():
    r = main_text(_nav() + _nav())
    assert r["text"] == ""
    assert r["n_content_blocks"] == 0
    assert r["n_blocks"] == 2


def test_largest_mode_picks_max_words_first_on_tie():
    short = " ".join(["s"] * 20)
    html = f"<p>{PROSE}</p><p>{short}</p>"
    assert main_text(html, mode="largest")["text"] == PROSE


def test_malformed_html_never_raises():
    for bad in ["<div><p>unclosed", "</p>stray</div>", "<", "", "a<b>",
                "<div " + "x" * 50]:
        main_text(bad)  # must not raise


# ---------------------------------------------------------------------------
# synth-corpus recovery (pure python, no Spark): 'largest' recovers the
# rendered main text byte-identically on every well-formed page
# ---------------------------------------------------------------------------

def test_largest_recovers_synth_truth_byte_identical():
    checked = 0
    for i in range(200):
        for (_u, _ts, html, text, _l) in rows_for_index(
                i, 50, 0.3, 42, min_words=48, rng_words=40):
            if text == "":
                continue  # mismatch/malformed rows: no truth to pin
            got = main_text(html.decode("utf-8"), mode="largest")
            assert got["text"] == text
            checked += 1
    assert checked > 150


def test_alien_skeleton_page_recoverable_without_template():
    # the synth structural-mismatch page (kind<5): template fails but
    # the heuristic recovers the td's text — the POINT of heuristics
    html = ("<html><body><table><tr><td>" + PROSE +
            "</td></tr></table></body></html>")
    assert main_text(html, mode="largest")["text"] == PROSE


# ---------------------------------------------------------------------------
# Spark operator + fallback composition
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def synth_df(spark):
    from weakscraper_spark.sources.synth import synth_pages
    return synth_pages(spark, 150, min_words=48).cache()


def test_heuristic_extract_operator(spark, synth_df):
    out = heuristic_extract(synth_df).cache()
    truth = synth_df.select("url", "warc_ts",
                            F.col("text").alias("truth"))
    joined = out.join(truth, ["url", "warc_ts"])
    n_truth = joined.filter("truth <> ''").count()
    n_match = joined.filter("truth <> '' AND text = truth").count()
    assert n_truth > 100 and n_match == n_truth
    # lineage columns present and sane
    row = out.filter("status = 'ok'").first()
    assert row.n_bytes > 0 and row.n_words > 0
    assert row.partition_id >= 0
    out.unpersist()


def test_heuristic_extract_plan_is_map_only(spark, synth_df):
    plan = heuristic_extract(synth_df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_fallback_rescues_template_failures(spark, synth_df):
    from weakscraper_spark.plans.pipeline import build_extract_plan
    from weakscraper_spark.sources.synth import (
        compiled_specs, synth_templates)
    templates = synth_templates(spark)
    specs = compiled_specs()
    base = build_extract_plan(synth_df, templates, specs).cache()
    resc = build_extract_plan(synth_df, templates, specs,
                              fallback="heuristic").cache()
    # ok rows identical to the no-fallback plan (fallback never touches
    # template successes)
    assert base.filter("status = 'ok'").count() == \
        resc.filter("status = 'ok'").count()
    n_fail_base = base.filter("status <> 'ok'").count()
    rescued = resc.filter("status = 'ok_heuristic'")
    n_rescued = rescued.count()
    assert n_fail_base > 0 and 0 < n_rescued <= n_fail_base
    # rescued rows carry recovered text AND the template failure for
    # audit
    for r in rescued.limit(5).collect():
        assert r.text and r.error  # text recovered, audit trail kept
    base.unpersist()
    resc.unpersist()


def test_fallback_plan_stays_map_only(spark, synth_df):
    from weakscraper_spark.plans.pipeline import (
        attach_template, prepare_pages)
    from weakscraper_spark.operators.extract import extract_pages
    from weakscraper_spark.sources.synth import (
        compiled_specs, synth_templates)
    staged = attach_template(prepare_pages(synth_df),
                             synth_templates(spark))
    out = extract_pages(staged, compiled_specs(), fallback="heuristic")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # broadcast exchange (template registry) is the only exchange —
    # no shuffle of the corpus
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")
    assert "Exchange" not in plan.replace("BroadcastExchange", "")


# ---------------------------------------------------------------------------
# realistic-page robustness (structures the synth corpus doesn't have)
# ---------------------------------------------------------------------------

def test_article_with_table_list_and_comments():
    body = " ".join(f"article sentence number {j} with words" for j in range(8))
    html = (
        "<html><head><title>T</title><script>nav(1)</script></head><body>"
        "<!-- header comment -->"
        "<header><a href='/'>Home</a> <a href='/n'>News</a></header>"
        f"<article><p>{body}</p>"
        "<table><tr><td>cell a</td><td>cell b</td></tr></table>"
        "<ul><li>point one</li><li>point two</li></ul></article>"
        "<footer><a href='/p'>Privacy</a> <a href='/t'>Terms</a>"
        "</footer></body></html>")
    r = main_text(html, mode="largest")
    assert r["text"] == body          # table cells/list items not mixed in
    allr = main_text(html, mode="all")
    assert "Privacy" not in allr["text"] and "Home" not in allr["text"]


def test_entities_and_inline_markup_inside_main_text():
    body = ("the company&#39;s Q3 report &amp; analysis shows "
            + " ".join(f"metric {j} improving" for j in range(15)))
    html = f"<div id='c'><p>{body}</p></div>"
    r = main_text(html, mode="largest")
    assert "&#39;" not in r["text"] and "company's" in r["text"]
    assert "&amp;" not in r["text"] and "&" in r["text"]


def test_script_style_noise_never_leaks():
    html = ("<body><style>.x{color:red}</style>"
            "<script>var words = 'twenty words of script payload that "
            "would dominate the classifier if leaked into a block';"
            "</script><p>" + " ".join(["real"] * 20) + "</p></body>")
    r = main_text(html, mode="all")
    assert "script" not in r["text"] and "color" not in r["text"]
    assert r["text"] == " ".join(["real"] * 20)


def test_unclosed_head_does_not_swallow_body():
    # malformed-but-common: no </head>; body content must survive
    html = ("<html><head><title>Site Title</title>"
            "<meta charset='utf-8'>"
            "<body><p>" + PROSE + "</p></body></html>")
    r = main_text(html, mode="largest")
    assert r["text"] == PROSE
    # and the title never leaks into content
    assert "Site Title" not in main_text(html, mode="all")["text"]


def test_null_html_becomes_status_row_not_batch_failure(spark):
    """One-bad-doc-never-fails-a-batch: a NULL html cell (possible in
    any raw crawl table) must yield a status row in BOTH extractors."""
    import datetime as dt
    from weakscraper_spark.operators.extract import extract_pages
    from weakscraper_spark.sources.synth import compiled_specs
    rows = [("u1", dt.datetime(2026, 1, 1), "t_article", None),
            ("u2", dt.datetime(2026, 1, 1), "t_article",
             b"<html><body><h1>t</h1></body></html>")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, template_id string, "
              "html binary")
    st = {r.url: r.status
          for r in extract_pages(df, compiled_specs()).collect()}
    assert st["u1"] == "error:NullInput"
    assert st["u2"].startswith("mismatch") or st["u2"] == "ok"
    st2 = {r.url: r.status for r in heuristic_extract(
        df.select("url", "warc_ts", "html")).collect()}
    assert st2["u1"] == "error:NullInput"


def test_unreadable_marked_section_is_one_status_row(spark, synth_df):
    """A page holding a marked section the stdlib tokenizer cannot name
    (``<![1]>``) becomes one status row in each extractor — template
    path, template path with heuristic rescue, and heuristic alone — and
    every other row of its Arrow batch comes out as it does without
    it. The heuristic alone reports the time it spent parsing it."""
    import datetime as dt

    from weakscraper_spark.operators.extract import extract_pages
    from weakscraper_spark.plans.pipeline import (
        attach_template, prepare_pages)
    from weakscraper_spark.sources.synth import (
        compiled_specs, synth_templates)

    good = [tuple(r) for r in attach_template(
        prepare_pages(synth_df), synth_templates(spark))
        .select("url", "warc_ts", "template_id", "html").limit(40)
        .collect()]
    bad = f"<html><body><h1>a</h1><![1]><p>{PROSE}</p></body></html>"
    ts = dt.datetime(2026, 1, 1)
    bad_rows = [("bad_tpl", ts, "t_article", bad.encode()),
                ("bad_none", ts, None, bad.encode())]
    specs = compiled_specs()

    def run(op, rows):
        # one partition: all rows travel in one Arrow batch
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, template_id string, "
                  "html binary").coalesce(1)
        return {r.url: r.asDict() for r in op(df).collect()}

    def timeless(rows):
        return {url: {k: v for k, v in r.items() if k != "parse_ms"}
                for url, r in rows.items()}

    ops = {
        "template": lambda df: extract_pages(df, specs),
        "rescue": lambda df: extract_pages(df, specs,
                                           fallback="heuristic"),
        "heuristic": lambda df: heuristic_extract(
            df.select("url", "warc_ts", "html")),
    }
    want_bad = {
        "template": ("mismatch:MarkupError", "error:NoTemplate"),
        "rescue": ("mismatch:MarkupError", "error:NoTemplate"),
        "heuristic": ("mismatch:MarkupError", "mismatch:MarkupError"),
    }
    for name, op in ops.items():
        alone = run(op, good)
        mixed = run(op, good[:20] + bad_rows + good[20:])
        bad_out = [mixed.pop("bad_tpl"), mixed.pop("bad_none")]
        assert tuple(r["status"] for r in bad_out) == want_bad[name], name
        if name == "heuristic":
            assert all(r["parse_ms"] > 0 for r in bad_out)
        assert timeless(mixed) == timeless(alone), name
