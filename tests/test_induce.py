"""Template induction (C12, SURVEY.md §3C / Build Plan step 5): the
induced template must re-extract every one of its own samples with
status=ok and capture exactly the diverging texts."""

from weakscraper_spark.enginelib import induce_template
from weakscraper_spark.enginelib.match import extract


def _page(title, body, tags):
    lis = "".join(f"<li>{t}</li>" for t in tags)
    return (
        "<html><body>"
        "<h1>My Site</h1>"
        f"<h2>{title}</h2>"
        f"<p>{body}</p>"
        f"<ul>{lis}</ul>"
        "</body></html>"
    )


SAMPLES = [
    _page("First post", "Alpha body text.", ["a", "b"]),
    _page("Second post", "Beta body text.", ["c"]),
    _page("Third post", "Gamma body text.", ["d", "e", "f"]),
]


def test_induced_reextracts_samples():
    spec = induce_template(SAMPLES)
    titles, bodies, tag_lists = [], [], []
    for html in SAMPLES:
        row = extract(spec, html)
        assert row["status"] == "ok", row["error"]
        # slots in document order: slot_1=title, slot_2=body, slot_3=list
        fields = row["fields"]
        titles.append(fields["slot_1"])
        bodies.append(fields["slot_2"])
        tag_lists.append(fields["slot_3"])
    assert titles == ["First post", "Second post", "Third post"]
    assert bodies == ["Alpha body text.", "Beta body text.", "Gamma body text."]
    assert tag_lists == [["a", "b"], ["c"], ["d", "e", "f"]]


def test_induced_keeps_common_structure_literal():
    spec = induce_template(SAMPLES)
    # The shared <h1>My Site</h1> must be literal (no capture slot).
    html_div = spec["children"][0]  # <html>
    body = html_div["children"][0]  # <body>
    h1 = body["children"][0]
    assert h1["tag"] == "h1"
    assert h1["capture"] is None
    assert h1["children"] == [{"kind": "text", "content": "My Site"}]


def test_induced_matches_unseen_page_of_same_shape():
    spec = induce_template(SAMPLES)
    row = extract(spec, _page("Fourth", "Delta.", ["x", "y"]))
    assert row["status"] == "ok"
    assert row["fields"]["slot_1"] == "Fourth"
    assert row["fields"]["slot_3"] == ["x", "y"]


def test_induced_rejects_structurally_different_page():
    spec = induce_template(SAMPLES)
    row = extract(spec, "<html><body><h1>My Site</h1><table></table></body></html>")
    assert row["status"].startswith("mismatch:")


def _page_opt(title, byline=None):
    by = f'<div class="by"><span>{byline}</span></div>' if byline else ""
    return (
        "<html><body>"
        f"<h2>{title}</h2>{by}"
        "<footer>site footer</footer>"
        "</body></html>"
    )


def test_induced_optional_node():
    """A child present in some samples but not others induces a
    wp-optional position (not ignore_content): pages WITH and WITHOUT
    the node both extract, and the node's diverging text is captured
    when present."""
    spec = induce_template([
        _page_opt("A", "alice"),
        _page_opt("B"),
        _page_opt("C", "carol"),
    ])
    body = spec["children"][0]["children"][0]
    opt_divs = [c for c in body["children"]
                if c.get("kind") == "tag" and c.get("optional")]
    assert len(opt_divs) == 1 and opt_divs[0]["tag"] == "div"

    with_by = extract(spec, _page_opt("New", "dana"))
    assert with_by["status"] == "ok"
    assert "dana" in with_by["fields"].values()
    without = extract(spec, _page_opt("Bare"))
    assert without["status"] == "ok"


def test_induce_templates_distributed(spark):
    """The induction STAGE: per-host top-k sampling + applyInPandas →
    template registry; induced specs re-extract their host's pages
    (ground-truth text recovered among the captured slots)."""
    from pyspark.sql import functions as F

    from weakscraper_spark.operators.extract import extract_pages
    from weakscraper_spark.operators.induction import induce_templates
    from weakscraper_spark.plans.pipeline import prepare_pages
    from weakscraper_spark.sources.synth import synth_pages

    pages = prepare_pages(synth_pages(spark, 250)).cache()
    registry = induce_templates(pages, k=4)
    reg_rows = registry.collect()
    ok_hosts = {r["host_pattern"]: r for r in reg_rows
                if r["status"] == "ok"}
    # hosts with >= 2 samples must induce (leave-one-out absorbs the
    # ~6% synthetic bad pages); single-page hosts honestly error
    inducible = [r for r in reg_rows if r["n_samples"] >= 2]
    assert ok_hosts and len(ok_hosts) == len(inducible)

    host = sorted(ok_hosts)[0]
    spec_json = ok_hosts[host]["template_json"]
    tid = ok_hosts[host]["template_id"]
    hp = (pages.filter(F.col("host") == host)
          .withColumn("template_id", F.lit(tid)))
    out = extract_pages(hp, {tid: spec_json}).collect()
    truth = {(r["url"], r["warc_ts"]): r["text"]
             for r in pages.filter(F.col("host") == host)
             .select("url", "warc_ts", "text").collect()}
    import json as _json
    n_ok = 0
    for r in out:
        want = truth[(r["url"], r["warc_ts"])]
        if want == "":                 # synthetic bad pages
            continue
        assert r["status"] == "ok", (r["url"], r["status"], r["error"])
        fields = _json.loads(r["fields_json"])
        vals = {v for v in fields.values() if isinstance(v, str)}
        assert want in vals
        n_ok += 1
    assert n_ok > 0
    pages.unpersist()


def test_disjoint_samples_fail_honestly():
    """Totally disagreeing documents must raise, not induce a
    template that accepts every page and captures nothing (root-level
    ignore_content is bypassed by the extract entry)."""
    import pytest
    from weakscraper_spark.enginelib.errors import TemplateError
    with pytest.raises(TemplateError):
        induce_template(['<div><h1>A</h1></div>',
                         '<table><tr><td>B</td></tr></table>'])
    # robust: an alignable pair + one disjoint outlier still induces
    # from the pair
    from weakscraper_spark.enginelib.induce import induce_template_robust
    spec = induce_template_robust(['<div><h1>A</h1><p>x</p></div>',
                                   '<div><h1>B</h1><p>y</p></div>',
                                   '<table><tr><td>z</td></tr></table>'])
    from weakscraper_spark.enginelib.match import extract
    assert extract(spec, '<div><h1>C</h1><p>w</p></div>')["status"] == "ok"


def test_robust_validation_rejects_overfit_fixed_count_list():
    """The r06 correctness-sweep bug at kernel level: induction
    samples whose list happens to be near-uniform ({2,2,2,3} items)
    must still learn the wp-list — slot count alone preferred the
    leave-one-out {2,2,2} fixed-count skeleton (more slots) which
    fails every unseen count. A held-out validation set with varied
    counts must reject the overfit candidate."""
    from weakscraper_spark.enginelib.induce import induce_template_robust
    from weakscraper_spark.enginelib.match import extract

    def page(n_items, j):
        lis = "".join(f'<li class="m"><b>u{j}{i}</b>'
                      f"<span>m{j}{i}</span></li>"
                      for i in range(n_items))
        return (f"<html><body><h2>t{j}</h2><ol>{lis}</ol>"
                f"<p>s{j}</p></body></html>")

    samples = [page(2, 0), page(2, 1), page(2, 2), page(3, 3)]
    validate = [page(n, 10 + j) for j, n in
                enumerate((1, 2, 3, 4, 2, 4, 1, 3))]
    spec = induce_template_robust(samples, validate_htmls=validate)
    for n in (1, 2, 3, 4, 5):   # incl. counts beyond any sample
        r = extract(spec, page(n, 99))
        assert r["status"] == "ok", (n, r["status"], r["error"])
    # and the captures still come through on an unseen page
    fields = extract(spec, page(2, 42))["fields"] or {}
    blob = str(fields)
    for want in ("t42", "u420", "m421", "s42"):
        assert want in blob, (want, fields)


def test_induce_templates_samples_only_readable_pages(spark):
    """Rows with a NULL ``html`` or a NULL host never reach the sample
    window: a host with some NULL-html rows induces the very template
    it induces without them, a host whose every page is NULL gets no
    registry row, rows without a host form no ``t_None`` group, and
    the job does not fail."""
    from pyspark.sql import functions as F

    from weakscraper_spark.operators.induction import induce_templates
    from weakscraper_spark.plans.pipeline import prepare_pages
    from weakscraper_spark.sources.synth import synth_pages

    pages = (prepare_pages(synth_pages(spark, 200))
             .select("url", "host", "html").cache())
    base = {r["host_pattern"]: r.asDict()
            for r in induce_templates(pages, k=4).collect()}
    host_a, host_b = sorted(h for h, r in base.items()
                            if r["status"] == "ok")[:2]
    null_html = F.lit(None).cast("binary")
    mixed = (pages.filter(F.col("host") != host_b)
             .unionByName(pages.filter(F.col("host") == host_a)
                          .withColumn("url", F.concat("url", F.lit("?n")))
                          .withColumn("html", null_html))
             .unionByName(pages.filter(F.col("host") == host_b)
                          .withColumn("html", null_html))
             .unionByName(pages.limit(3)
                          .withColumn("url", F.concat("url", F.lit("?h")))
                          .withColumn("host", F.lit(None).cast("string"))))
    got = {r["host_pattern"]: r.asDict()
           for r in induce_templates(mixed, k=4).collect()}
    assert host_b not in got and None not in got
    assert got == {h: r for h, r in base.items() if h != host_b}
    assert got[host_a]["status"] == "ok"
    pages.unpersist()
