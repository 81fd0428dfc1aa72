"""Pipeline ring 2 (SURVEY.md §6.2): synthesized CC-style table on
local Spark → full C1→C10 pipeline. Asserts:
- per-url byte-identical text vs the rendered ground truth (the
  BASELINE.json:6 acceptance bar, at pipeline level);
- mismatch/malformed rows surface as status rows, never failures;
- exactly-once resume (partial write → rerun → no duplicates, C9);
- salting invariance (same aggregates with S=1 vs S=16, C8);
- per-partition lineage metrics reconcile with output counts (C13);
- the run report, observed on the write job, equals the sink.
"""

import pytest
from pyspark.sql import functions as F

from weakscraper_spark.plans.pipeline import (
    build_extract_plan,
    dedup_latest,
    host_report,
    host_stats_salted,
    partition_metrics,
    run_pipeline,
)
from weakscraper_spark.sources.synth import (
    compiled_specs,
    synth_pages,
    synth_templates,
)

N_PAGES = 400


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synth_pages(spark, N_PAGES).cache()
    templates = synth_templates(spark)
    specs = compiled_specs()
    return pages, templates, specs


@pytest.fixture(scope="module")
def extracted(spark, corpus):
    pages, templates, specs = corpus
    return build_extract_plan(pages, templates, specs).cache()


def test_row_accounting(spark, corpus, extracted):
    pages, _, _ = corpus
    n_urls = pages.select("url").distinct().count()
    assert extracted.count() == n_urls  # dedup C3: one row per url


def test_byte_identical_text(spark, corpus, extracted):
    """Every ok row's text equals the ground truth rendered into the
    page; every ground-truth-bearing url is extracted ok."""
    pages, _, _ = corpus
    latest = dedup_latest(pages).select("url", F.col("text").alias("want"))
    joined = extracted.join(latest, "url").cache()

    ok = joined.filter(F.col("status") == "ok")
    n_ok = ok.count()
    assert n_ok > 0.9 * N_PAGES * 0.94  # ~6% synthetic failures
    assert ok.filter(F.col("text") != F.col("want")).count() == 0

    # failure parity: rows with ground truth must not mismatch, rows
    # without (synthetic bad pages) must not be ok.
    assert joined.filter((F.col("want") != "") &
                         (F.col("status") != "ok")).count() == 0
    assert joined.filter((F.col("want") == "") &
                         (F.col("status") == "ok")).count() == 0


def test_status_taxonomy(extracted):
    statuses = {r["status"] for r in
                extracted.select("status").distinct().collect()}
    assert "ok" in statuses
    assert any(s.startswith("mismatch:") for s in statuses)
    # no template-less hosts in the synth registry
    assert "error:NoTemplate" not in statuses


def test_fields_json_exact(spark, extracted):
    """fields_json is canonical JSON with the captured slots."""
    import json

    row = (extracted.filter((F.col("status") == "ok") &
                            F.col("template_id").eqNullSafe("t_article"))
           .select("fields_json", "text").first())
    fields = json.loads(row["fields_json"])
    assert fields["text"] == row["text"]
    assert "title" in fields and "tags" in fields
    assert isinstance(fields["tags"], list)


def test_salted_plan_same_results(spark, corpus, extracted):
    """C8 at plan level: the salted-repartition variant (for
    host-clustered inputs) must produce the identical result set."""
    pages, templates, specs = corpus
    salted = build_extract_plan(pages, templates, specs, n_salts=8)
    base = {(r["url"], r["status"], r["text"])
            for r in extracted.select("url", "status", "text").collect()}
    got = {(r["url"], r["status"], r["text"])
           for r in salted.select("url", "status", "text").collect()}
    assert got == base


def test_salting_invariance(spark, corpus):
    """C8: aggregates are identical under S=1 and S=16 (deterministic
    salting changes layout, never results)."""
    pages, _, _ = corpus
    staged = pages.withColumn("host", F.parse_url("url", F.lit("HOST")))
    a = {r["host"]: (r["n_pages"], r["bytes_in"])
         for r in host_stats_salted(staged, n_salts=1).collect()}
    b = {r["host"]: (r["n_pages"], r["bytes_in"])
         for r in host_stats_salted(staged, n_salts=16).collect()}
    assert a == b
    # skew exists: head host carries ~30%
    total = sum(n for n, _ in a.values())
    head = max(n for n, _ in a.values())
    assert head / total > 0.2


def test_resume_exactly_once(spark, corpus, tmp_path):
    """C9: run on half the corpus, then on the full corpus into the
    same sink → every url exactly once, second run only adds the
    missing urls (re-presented superseded snapshots are skipped by
    the (url, done_ts) resume predicate)."""
    pages, templates, specs = corpus
    out_dir = str(tmp_path / "sink")

    first_half = pages.filter(F.xxhash64("url") % 2 == 0)
    r1 = run_pipeline(spark, first_half, templates, specs, out_dir,
                      run_id="r1")
    r2 = run_pipeline(spark, pages, templates, specs, out_dir,
                      run_id="r2")

    out = spark.read.parquet(r2["pages_out"])
    n_urls = pages.select("url").distinct().count()
    assert out.count() == n_urls
    assert out.groupBy("url").count().filter("count > 1").count() == 0
    assert r1["rows_written"] + r2["rows_written"] == n_urls

    # reports are per-increment: summing them equals the sink count
    # exactly (no double counting across resume runs), and so does
    # summing the per-partition rows read over each run's partition
    assert sum(r["ok_written"] + r["n_fail"] for r in (r1, r2)) == n_urls
    assert sum(partition_metrics(out.filter(F.col("run_id") == rid), rid)
               .agg(F.sum("n_pages")).first()[0]
               for rid in ("r1", "r2")) == n_urls
    # same-run_id retry overwrites its own partition with the same
    # rows (resume excludes the current run from the done-set, so a
    # retry of a partial write re-processes its own share) — the sink
    # stays exactly-once per url
    r2b = run_pipeline(spark, pages, templates, specs, out_dir,
                       run_id="r2")
    assert r2b["rows_written"] == r2["rows_written"]
    out_b = spark.read.parquet(r2b["pages_out"])
    assert out_b.count() == n_urls
    assert out_b.groupBy("url").count().filter("count > 1").count() == 0


def test_resume_noop_run_writes_nothing(spark, corpus, tmp_path):
    """A NEW run over fully-done input is a clean no-op: 0-row
    increment (Observation counts included), sink unchanged."""
    pages, templates, specs = corpus
    out_dir = str(tmp_path / "sink")
    r1 = run_pipeline(spark, pages, templates, specs, out_dir,
                      run_id="a")
    r2 = run_pipeline(spark, pages, templates, specs, out_dir,
                      run_id="b")
    assert r2["rows_written"] == 0 and r2["ok_written"] == 0
    assert r2["n_fail"] == r2["rescued"] == r2["n_nodes"] == 0
    assert r2["cpu_ms"] == 0
    assert spark.read.parquet(r2["pages_out"]).count() == r1["rows_written"]


def test_resume_newer_snapshot_wins(spark, corpus, tmp_path):
    """Snapshot-granular resume: a warc_ts NEWER than the sink's
    latest for a url is re-extracted on a later run, and the
    latest-per-url serving view prefers it (url-granular resume
    silently discarded it — ADVICE r01)."""
    import datetime as dtmod
    import os

    from weakscraper_spark.sources.synth import (
        PAGES_SCHEMA, make_slots, render_page)

    pages, templates, specs = corpus
    out_dir = str(tmp_path / "sink")
    run_pipeline(spark, pages, templates, specs, out_dir, run_id="r1")

    sink_path = os.path.join(out_dir, "pages_out")
    row = (spark.read.parquet(sink_path).filter("status = 'ok'")
           .select("url", "warc_ts", "template_id").first())
    html, text = render_page(
        row["template_id"], make_slots(row["template_id"], "newer:snap"))
    newer = spark.createDataFrame(
        [(row["url"], row["warc_ts"] + dtmod.timedelta(days=1),
          html.encode("utf-8"), text, "en")], PAGES_SCHEMA)

    r2 = run_pipeline(spark, newer, templates, specs, out_dir,
                      run_id="r2")
    assert r2["rows_written"] == 1
    served = dedup_latest(spark.read.parquet(sink_path))
    got = served.filter(F.col("url") == row["url"]).first()
    assert got["text"] == text and got["status"] == "ok"

    # MERGE-shaped compaction collapses the superseded row; the
    # serving view is unchanged and the url count is exact
    from weakscraper_spark.plans.pipeline import compact_sink
    before = {(r["url"], r["text"]) for r in served.collect()}
    stats = compact_sink(spark, sink_path)
    after_df = spark.read.parquet(sink_path)
    assert stats["rows"] == after_df.count()
    assert after_df.groupBy("url").count().filter("count > 1").count() == 0
    assert {(r["url"], r["text"])
            for r in dedup_latest(after_df).collect()} == before


def test_compact_sink_crash_never_empties_sink(spark, corpus, tmp_path,
                                               monkeypatch):
    """Swap-order guard (ADVICE r02): compaction renames the staged
    partition IN before deleting superseded ones. A crash before the
    swap leaves the sink untouched (+ staged copy for recovery); a
    crash between add and delete leaves transient duplicates that the
    dedup_latest serving view collapses — no window where the sink
    reads as empty."""
    import os
    import shutil

    from weakscraper_spark.plans.pipeline import compact_sink

    pages, templates, specs = corpus
    out_dir = str(tmp_path / "sink")
    run_pipeline(spark, pages, templates, specs, out_dir, run_id="a")
    sink_path = os.path.join(out_dir, "pages_out")
    rows_before = spark.read.parquet(sink_path).count()
    served_before = {(r["url"], r["text"]) for r in
                     dedup_latest(spark.read.parquet(sink_path)).collect()}

    def boom(*a, **k):
        raise OSError("simulated crash")

    # crash 1: between staged write and swap-in
    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(OSError):
        compact_sink(spark, sink_path, run_id="c1")
    monkeypatch.undo()
    assert spark.read.parquet(sink_path).count() == rows_before
    assert os.path.isdir(sink_path + ".compact_c1")  # staged survives
    shutil.rmtree(sink_path + ".compact_c1")

    # crash 2: after swap-in, before superseded-partition delete
    monkeypatch.setattr(shutil, "rmtree", boom)
    with pytest.raises(OSError):
        compact_sink(spark, sink_path, run_id="c2")
    monkeypatch.undo()
    parts = {d for d in os.listdir(sink_path) if d.startswith("run_id=")}
    assert parts == {"run_id=a", "run_id=c2"}  # duplicates, never empty
    assert {(r["url"], r["text"]) for r in
            dedup_latest(spark.read.parquet(sink_path)).collect()} \
        == served_before

    # recovery = simply compact again
    compact_sink(spark, sink_path, run_id="c3")
    parts = {d for d in os.listdir(sink_path) if d.startswith("run_id=")}
    assert parts == {"run_id=c3"}
    assert {(r["url"], r["text"]) for r in
            dedup_latest(spark.read.parquet(sink_path)).collect()} \
        == served_before


def test_extract_n_bytes_is_bytes_for_string_input(spark):
    """Lineage fix (ADVICE r02): when the html column is a STRING,
    n_bytes must report UTF-8 bytes, not characters."""
    from weakscraper_spark.operators.extract import extract_pages
    from weakscraper_spark.sources.synth import compiled_specs

    html = "<html><body>héllo wörld 世界</body></html>"
    df = spark.createDataFrame(
        [("https://host00.example.com/p/0", None, "t_article", html)],
        "url string, warc_ts timestamp, template_id string, html string")
    row = extract_pages(df, compiled_specs()).first()
    assert row["n_bytes"] == len(html.encode("utf-8"))
    assert row["n_bytes"] > len(html)


def test_partition_metrics_reconcile(spark, extracted):
    m = partition_metrics(extracted, "runX")
    agg = m.agg(F.sum("n_pages").alias("p"), F.sum("n_ok").alias("ok"),
                F.sum("n_fail").alias("f")).first()
    assert agg["p"] == extracted.count()
    assert agg["ok"] == extracted.filter("status = 'ok'").count()
    assert agg["f"] == agg["p"] - agg["ok"]
    # extraction ran spread over partitions, not funneled into one
    assert m.count() > 1


@pytest.fixture(scope="module")
def fallback_run(spark, corpus, tmp_path_factory):
    pages, templates, specs = corpus
    out = str(tmp_path_factory.mktemp("sink_fb"))
    r = run_pipeline(spark, pages, templates, specs, out,
                     run_id="fb0", fallback="heuristic")
    return r, spark.read.parquet(r["pages_out"])


def test_run_pipeline_with_heuristic_fallback(fallback_run):
    """End-to-end: the fallback rescues mismatch pages into the SINK
    (status ok_heuristic with recovered text), resume still works."""
    _, sink = fallback_run
    rescued = sink.filter("status = 'ok_heuristic'")
    assert rescued.count() > 0
    assert rescued.filter("text IS NULL OR text = ''").count() == 0
    # template successes unaffected by the fallback path
    base_ok = sink.filter("status = 'ok'").count()
    assert base_ok > 0


def test_heuristic_rescues_count_as_ok_in_every_metric(spark,
                                                       fallback_run):
    """One status taxonomy: a heuristic rescue is a success in the
    run report's ``ok_written``/``n_fail``, in the per-partition
    ``n_ok``/``n_fail`` lineage over the sink and in the worst-host
    report, not only in the sink."""
    r, sink = fallback_run
    n = sink.count()
    n_ok = sink.filter("status IN ('ok', 'ok_heuristic')").count()
    assert sink.filter("status = 'ok_heuristic'").count() > 0
    assert r["rows_written"] == n
    assert (r["ok_written"], r["n_fail"]) == (n_ok, n - n_ok)
    m = (partition_metrics(sink, "fb0")
         .agg(F.sum("n_ok").alias("ok"), F.sum("n_fail").alias("f"))
         .first())
    assert (m["ok"], m["f"]) == (n_ok, n - n_ok)
    hosts = host_report(sink, k=10_000).collect()
    assert sum(h["n_pages"] for h in hosts) == n
    assert sum(h["n_fail"] for h in hosts) == n - n_ok


def test_run_report_equals_sink(fallback_run):
    """The report observed on the write job holds the counts and sums a
    read of the sink gives, and the run writes nothing but its sink
    partition."""
    import os

    r, sink = fallback_run
    want = sink.agg(
        F.count(F.lit(1)).alias("rows_written"),
        F.count_if(F.col("status").isin("ok", "ok_heuristic"))
        .alias("ok_written"),
        F.count_if(F.col("status") == "ok_heuristic").alias("rescued"),
        F.sum("n_nodes").alias("n_nodes"),
        F.sum("n_bytes").alias("bytes_in"),
        F.sum("parse_ms").alias("cpu_ms"),
        F.min("parse_ms").alias("lo"), F.max("parse_ms").alias("hi"),
    ).first()
    for k in ("rows_written", "ok_written", "rescued", "n_nodes",
              "bytes_in"):
        assert r[k] == want[k], k
    assert r["rescued"] > 0
    assert r["n_fail"] == want["rows_written"] - want["ok_written"] > 0
    assert r["cpu_ms"] == pytest.approx(want["cpu_ms"])
    assert want["lo"] <= r["parse_ms_p50"] <= r["parse_ms_p99"] \
        <= want["hi"]
    out_dir = os.path.dirname(r["pages_out"])
    assert os.listdir(out_dir) == ["pages_out"]
    assert os.listdir(r["pages_out"]) == ["run_id=fb0"]


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    """pages → extract(+fallback) → clean: every extracted url gets a
    verdict, cleaned = kept verdicts exactly, reasons are from the
    documented set, and the heuristic-rescued rows participate."""
    from weakscraper_spark.plans.corpus_pipeline import build_corpus_plan
    from weakscraper_spark.sources.synth import (
        compiled_specs, synth_pages, synth_templates)
    pages = synth_pages(spark, 250, min_words=48)
    cleaned, verdict = build_corpus_plan(
        pages, synth_templates(spark), compiled_specs(),
        min_quality=0.2)
    v = verdict.cache()
    c = cleaned.cache()
    n_verdict = v.count()
    n_kept = v.filter("keep").count()
    assert c.count() == n_kept > 0
    reasons = {r.reason for r in v.select("reason").distinct().collect()}
    assert reasons <= {"quality", "exact_dup", "near_dup", "kept"}
    # rescued rows flow through the corpus stage
    assert c.filter("status = 'ok_heuristic'").count() > 0
    # verdict covers every successfully-extracted url
    from weakscraper_spark.plans.pipeline import build_extract_plan
    ok = build_extract_plan(pages, synth_templates(spark),
                            compiled_specs(), fallback="heuristic") \
        .filter("status IN ('ok', 'ok_heuristic')").count()
    assert n_verdict == ok
    v.unpersist(); c.unpersist()


def test_frontier_pipeline_end_to_end(spark):
    """raw urls → canonical dedup → robots filter → schedule: variant
    collapse, policy drops, and bounded slots all visible in one
    output."""
    from weakscraper_spark.plans.frontier import build_frontier_plan
    raw = spark.createDataFrame(
        [("HTTPS://WWW.A.com:443/x?utm_source=1",),   # variant 1
         ("https://a.com/x",),                         # variant 2
         ("https://a.com/private/1",),                 # robots-blocked
         ("https://b.com/y",), ("https://b.com/z",)],
        "url string")
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/")],
        "host string, robots_txt string")
    out = {r.url: r for r in
           build_frontier_plan(raw, robots, per_host=2).collect()}
    assert set(out) == {"https://a.com/x", "https://b.com/y",
                        "https://b.com/z"}
    assert out["https://a.com/x"].n_variants == 2
    assert all(0 <= r.slot < 2 and r.wave == 0 for r in out.values())


# ---------------------------------------------------------------------------
# differential: the Arrow stages against the in-process kernels
# ---------------------------------------------------------------------------

def _decode_cell(raw):
    if isinstance(raw, str):
        return raw, len(raw.encode("utf-8"))
    return raw.decode("utf-8", errors="replace"), len(raw)


def _rescue_text(html, spans):
    from weakscraper_spark.enginelib.boiler import main_text
    from weakscraper_spark.enginelib.errors import MarkupError
    try:
        m = main_text(html, mode="largest", spans=spans)
    except MarkupError:
        return None
    return m if m["n_content_blocks"] else None


def _want_extract(raw, tid, specs, fallback, spans):
    """One extract_pages row (minus url/warc_ts/partition_id/parse_ms)
    computed in-process from enginelib.match.extract and
    boiler.main_text."""
    import json

    from weakscraper_spark.enginelib.match import extract
    from weakscraper_spark.enginelib.spec import spec_from_json

    row = {"template_id": tid, "status": "", "error": "", "text": None,
           "fields_json": None, "n_nodes": 0, "n_bytes": 0}
    if spans:
        row["spans_json"] = None
    if raw is None:
        row.update(status="error:NullInput", error="html is NULL")
        return row
    html, row["n_bytes"] = _decode_cell(raw)
    spec_json = specs.get(tid) if tid is not None else None
    if spec_json is None:
        row.update(status="error:NoTemplate",
                   error=f"no compiled template for {tid!r}")
    else:
        r = extract(spec_from_json(spec_json), html, spans=spans)
        row.update(status=r["status"], error=r["error"], text=r["text"],
                   n_nodes=r["n_nodes"])
        if r["fields"] is not None:
            row["fields_json"] = json.dumps(
                r["fields"], sort_keys=True, ensure_ascii=False,
                default=str)
        if spans and r.get("spans") is not None:
            row["spans_json"] = json.dumps(r["spans"], sort_keys=True)
    if fallback == "heuristic" and row["status"] != "ok":
        m = _rescue_text(html, spans)
        if m is not None:
            row.update(status="ok_heuristic", text=m["text"])
            if spans:
                row["spans_json"] = json.dumps(
                    {"_main_text": m["spans"]}, sort_keys=True)
    return row


def _want_heuristic(raw, spans):
    """One heuristic_extract row (minus url/warc_ts/partition_id/
    parse_ms) computed in-process from boiler.main_text."""
    import json

    from weakscraper_spark.enginelib.boiler import main_text
    from weakscraper_spark.enginelib.errors import MarkupError

    row = {"status": "", "text": "", "n_blocks": 0,
           "n_content_blocks": 0, "n_words": 0, "n_bytes": 0}
    if spans:
        row["spans_json"] = None
    if raw is None:
        row["status"] = "error:NullInput"
        return row
    html, row["n_bytes"] = _decode_cell(raw)
    try:
        m = main_text(html, mode="largest", spans=spans)
    except MarkupError as e:
        row["status"] = e.status
        return row
    row.update(status="ok" if m["n_content_blocks"] else "empty",
               text=m["text"], n_blocks=m["n_blocks"],
               n_content_blocks=m["n_content_blocks"],
               n_words=m["n_words"])
    if spans and m["n_content_blocks"]:
        row["spans_json"] = json.dumps({"_main_text": m["spans"]},
                                       sort_keys=True)
    return row


@pytest.fixture(scope="module")
def differential_inputs(spark):
    """(rows, specs): the synth corpus with its templates (every fifth
    page pointed at an unregistered template, so the rescue runs on
    real pages), every parity-ring fixture under its own template
    (hooks run unresolved: no ``functions`` are passed), and the edge
    rows: NULL html, NULL template_id, undecodable bytes, and an
    unreadable ``<![1]>`` page with and without a template. Each row
    carries an aware UTC time; one falls in a Los Angeles DST gap and
    one is NULL."""
    import datetime as dt
    import sys
    from pathlib import Path

    from weakscraper_spark.enginelib import TemplateScraper, spec_to_json
    from weakscraper_spark.plans.pipeline import (
        attach_template, prepare_pages)

    sys.path.insert(0, str(Path(__file__).resolve().parent / "fixtures"))
    from corpus import FIXTURES

    specs = dict(compiled_specs())
    cells = [(r.url, r.template_id if i % 5 else "t_missing",
              bytes(r.html))
             for i, r in enumerate(attach_template(
                 prepare_pages(synth_pages(spark, 40, min_words=48)),
                 synth_templates(spark))
                 .select("url", "template_id", "html").collect())]
    for fx in FIXTURES:
        tid = f"fx_{fx['fixture_id']}"
        specs[tid] = spec_to_json(
            TemplateScraper(fx["template"], fx.get("functions")).spec)
        cells.append((f"fx/{fx['fixture_id']}", tid,
                      fx["page"].encode("utf-8")))
    unreadable = ("<html><body><h1>a</h1><![1]><p>"
                  + " ".join(["word"] * 50) + "</p></body></html>")
    cells += [("edge/null_html", "t_article", None),
              ("edge/null_tid", None, cells[1][2]),
              ("edge/bad_utf8", "t_article",
               b"<html><body><p>caf\xe9 \xff\xfe</p></body></html>"),
              ("edge/unreadable_tpl", "t_article", unreadable.encode()),
              ("edge/unreadable_none", None, unreadable.encode())]
    utc = dt.timezone.utc
    base = dt.datetime(2026, 3, 8, 10, 30, tzinfo=utc)  # 02:30 in LA
    rows = [(url, None if i == 3 else base + dt.timedelta(minutes=7 * i),
             tid, raw) for i, (url, tid, raw) in enumerate(cells)]
    return rows, specs


@pytest.mark.parametrize("html_type", ["binary", "string"])
def test_arrow_stages_match_in_process_kernels(spark, differential_inputs,
                                               html_type):
    """Every column but ``parse_ms`` of ``extract_pages`` (with and
    without ``fallback='heuristic'`` and ``spans``) and of
    ``heuristic_extract`` equals the row computed in-process from
    ``enginelib.match.extract`` and ``boiler.main_text``. The session
    runs in a non-UTC time zone, so an echoed ``warc_ts`` that shifted
    would show."""
    from weakscraper_spark.operators.extract import extract_pages
    from weakscraper_spark.operators.heuristic import heuristic_extract

    rows, specs = differential_inputs
    if html_type == "string":
        rows = [(u, ts, tid, raw if raw is None
                 else raw.decode("utf-8", errors="replace"))
                for u, ts, tid, raw in rows]
    want_ts = {u: None if ts is None else round(ts.timestamp() * 1e6)
               for u, ts, _, _ in rows}
    tz_key = "spark.sql.session.timeZone"
    tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/Los_Angeles")
    try:
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, template_id string, "
                  f"html {html_type}")
        pids = {r.url: r.pid for r in df.select(
            "url", F.spark_partition_id().alias("pid")).collect()}
        assert len(set(pids.values())) > 1

        def got(out):
            return {r.url: r.asDict() for r in out.drop("parse_ms")
                    .withColumn("warc_ts", F.unix_micros("warc_ts"))
                    .collect()}

        def keyed(u, row):
            return {"url": u, "warc_ts": want_ts[u], **row,
                    "partition_id": pids[u]}

        for fallback in (None, "heuristic"):
            for spans in (False, True):
                want = {u: keyed(u, _want_extract(raw, tid, specs,
                                                  fallback, spans))
                        for u, _, tid, raw in rows}
                assert got(extract_pages(df, specs, fallback=fallback,
                                         spans=spans)) == want, \
                    (fallback, spans)
                if fallback:
                    assert any(r["status"] == "ok_heuristic"
                               for r in want.values())
        for spans in (False, True):
            want = {u: keyed(u, _want_heuristic(raw, spans))
                    for u, _, _, raw in rows}
            assert got(heuristic_extract(
                df.select("url", "warc_ts", "html"), spans=spans)) \
                == want, spans
        statuses = {r["status"] for r in want.values()}
        assert {"ok", "error:NullInput",
                "mismatch:MarkupError"} <= statuses
    finally:
        spark.conf.set(tz_key, tz)


def test_hooks_through_the_spark_stage(spark):
    """``wp-function`` hooks reach the matcher through
    ``extract_pages(..., functions=)``: every parity-ring fixture that
    declares ``functions`` (one of them a lambda, so the callables
    travel in the stage's closure) gives the status, text and
    ``fields_json`` that ``TemplateScraper(template, functions)``
    gives in-process."""
    import json
    import sys
    from pathlib import Path

    from weakscraper_spark.enginelib import TemplateScraper
    from weakscraper_spark.operators.extract import extract_pages

    sys.path.insert(0, str(Path(__file__).resolve().parent / "fixtures"))
    from corpus import FIXTURES

    hooked = [fx for fx in FIXTURES if fx.get("functions")]
    assert len(hooked) >= 2
    for fx in hooked:
        scraper = TemplateScraper(fx["template"], fx["functions"])
        df = spark.createDataFrame(
            [("fx/" + fx["fixture_id"], None, "t", fx["page"])],
            "url string, warc_ts timestamp, template_id string, "
            "html string")
        got = extract_pages(df, {"t": scraper.spec_json()},
                            functions=fx["functions"]).first()
        want = scraper.extract(fx["page"])
        assert want["status"] == "ok" and want["fields"] == fx["expected"]
        assert (got.status, got.text, got.fields_json) == (
            want["status"], want["text"],
            json.dumps(want["fields"], sort_keys=True,
                       ensure_ascii=False, default=str)), fx["fixture_id"]


def test_null_status_counts_as_failure_everywhere(spark):
    """A NULL status (a serving table fed from outside) is a failure in
    the per-host daily error rate over the refresh loop's narrow
    relation, in the refresh summary's before-rate and in the
    worst-host report, as it already is in ``run_pipeline``'s report.
    Host h: day 1 two ok rows; day 2 one ok, one mismatch and one
    NULL, so day 2's error rate is 2/3 and the jump crosses
    ``min_jump`` only when the NULL row counts. A caller's own NULL
    ``ok`` flag counts as an error in ``host_error_daily`` too."""
    import datetime as dt

    from weakscraper_spark.operators.drift import host_error_daily
    from weakscraper_spark.plans.refresh import (
        _narrow_status, refresh_from_output)

    d1, d2 = dt.datetime(2026, 1, 1, 12), dt.datetime(2026, 1, 2, 12)
    out = spark.createDataFrame(
        [("https://h.example/1", d1, "ok"),
         ("https://h.example/2", d1, "ok"),
         ("https://h.example/3", d2, "ok"),
         ("https://h.example/4", d2, "mismatch:TagError"),
         ("https://h.example/5", d2, None)],
        "url string, warc_ts timestamp, status string")

    daily = {r.day: (r.n_pages, r.n_err) for r in host_error_daily(
        _narrow_status(out).select(
            "host", F.col("warc_ts").alias("ts"), "ok")).collect()}
    assert daily == {d1.date(): (2, 0), d2.date(): (3, 2)}
    flags = spark.createDataFrame(
        [("h", d2, True), ("h", d2, False), ("h", d2, None)],
        "host string, ts timestamp, ok boolean")
    assert [(r.n_pages, r.n_err)
            for r in host_error_daily(flags).collect()] == [(3, 2)]

    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html string, lang string")
    templates = spark.createDataFrame(
        [], "host_pattern string, template_id string, "
            "template_json string")
    res = refresh_from_output(out, pages, templates, {}, min_jump=0.6)
    summary = [r.asDict() for r in res["summary"].collect()]
    assert [(s["host"], s["n_post"]) for s in summary] == [
        ("h.example", 3)]
    assert summary[0]["rate_before_refresh"] == pytest.approx(2 / 3)

    (rep,) = host_report(out).collect()
    assert (rep.n_pages, rep.n_fail) == (5, 2)
