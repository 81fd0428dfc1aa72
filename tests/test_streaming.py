"""Streaming ring (SURVEY.md §4.4 optional wrapper): readStream over
a pages directory → foreachBatch reusing the batch extract stage →
parquet sink (batch_id-keyed idempotent partitions), restart-safe via
checkpoint. availableNow trigger so the test is bounded."""

import datetime as dt
import pytest

from pyspark.sql import functions as F

from weakscraper_spark.plans.pipeline import dedup_latest
from weakscraper_spark.sources.synth import (
    PAGES_SCHEMA, compiled_specs, make_slots, render_page, synth_pages,
    synth_templates)
from weakscraper_spark.streaming import stream_extract, stream_extract_latest


def test_stream_extract_available_now(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages = synth_pages(spark, 120)
    pages.write.parquet(src)
    templates = synth_templates(spark)

    q = stream_extract(spark, src, PAGES_SCHEMA, templates,
                       compiled_specs(), out, ckpt)
    q.awaitTermination(240)

    got = spark.read.parquet(out)
    assert got.count() == pages.count()  # every snapshot row extracted
    assert got.filter(F.col("status") == "ok").count() > 0

    # restart with the same checkpoint: no new data → no duplicates
    q2 = stream_extract(spark, src, PAGES_SCHEMA, templates,
                        compiled_specs(), out, ckpt)
    q2.awaitTermination(240)
    assert spark.read.parquet(out).count() == pages.count()


def test_stream_extract_fallback_threaded(spark, tmp_path):
    """fallback='heuristic' reaches the per-batch extract on the
    NON-stateful streaming path too (ADVICE r03: it was silently
    dropped): mismatch pages come back as ok_heuristic rows in the
    sink, matching the batch twin's rescue count."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = synth_pages(spark, 120)
    pages.write.parquet(src)
    templates = synth_templates(spark)

    q = stream_extract(spark, src, PAGES_SCHEMA, templates,
                       compiled_specs(), out, ckpt,
                       fallback="heuristic")
    q.awaitTermination(240)
    got = spark.read.parquet(out)
    assert got.filter(F.col("status") == "ok_heuristic").count() > 0

    # batch twin WITHOUT dedup_latest — the stateless stream extracts
    # every snapshot, so compare per-snapshot rescue counts
    from weakscraper_spark.operators.extract import extract_pages
    from weakscraper_spark.plans.pipeline import (
        attach_template, prepare_pages)
    batch = extract_pages(
        attach_template(prepare_pages(pages), templates),
        compiled_specs(), fallback="heuristic")
    assert (got.filter("status = 'ok_heuristic'").count()
            == batch.filter("status = 'ok_heuristic'").count())


def test_stream_watermarked_window_agg(spark, tmp_path):
    """Watermark + event-time tumbling window over the stream (the
    late-data path): counts per (window, lang) accumulate across
    restarts; a record older than the watermark horizon of a FINISHED
    window is dropped once state for that window is evicted."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    pages = synth_pages(spark, 60)
    pages.write.parquet(src)

    from weakscraper_spark.sources.synth import PAGES_SCHEMA as SCHEMA
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = (stream.withWatermark("warc_ts", "1 hour")
           .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
           .count())
    q = (agg.writeStream.outputMode("append")
         .format("memory").queryName("wm_counts")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(240)
    # append mode emits only windows the watermark has CLOSED; with a
    # bounded batch the final windows stay open, so compare against
    # the batch twin restricted to closed windows
    got = {(r["w"]["start"], r["lang"]): r["count"]
           for r in spark.sql("SELECT * FROM wm_counts").collect()}
    batch = {(r["w"]["start"], r["lang"]): r["count"]
             for r in pages.groupBy(
                 F.window("warc_ts", "1 hour").alias("w"), "lang")
             .count().collect()}
    assert set(got) <= set(batch)
    assert all(batch[k] == v for k, v in got.items())
    assert got  # watermark did close and emit windows


def _page_row(url, ts, key, template_id="t_article", lang="en"):
    html, text = render_page(template_id, make_slots(template_id, key))
    return (url, ts, html.encode("utf-8"), text, lang)


def test_stream_extract_latest_stateful(spark, tmp_path):
    """Stateful latest-per-url: stale/duplicate snapshots are dropped
    BEFORE extraction; a later batch with a newer warc_ts re-emits the
    url and dedup_latest(sink) serves the newer text."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2026, 1, 1)
    day = dt.timedelta(days=1)
    templates = synth_templates(spark)

    batch1 = [_page_row("https://host00.example.com/p/A", t0 + day, "A1"),
              _page_row("https://host00.example.com/p/A", t0, "A0"),
              _page_row("https://host00.example.com/p/B", t0, "B0")]
    spark.createDataFrame(batch1, PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q = stream_extract_latest(spark, src, PAGES_SCHEMA, templates,
                              compiled_specs(), out, ckpt)
    q.awaitTermination(240)
    got = spark.read.parquet(out)
    # one extracted row per url; the stale A-snapshot never parsed
    assert got.count() == 2

    # batch 2: stale A (dropped by state), newer B (emitted), new C
    b_new = _page_row("https://host00.example.com/p/B", t0 + day, "B1")
    batch2 = [_page_row("https://host00.example.com/p/A", t0 - day, "Aold"),
              b_new,
              _page_row("https://host00.example.com/p/C", t0, "C0")]
    spark.createDataFrame(batch2, PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = stream_extract_latest(spark, src, PAGES_SCHEMA, templates,
                               compiled_specs(), out, ckpt)
    q2.awaitTermination(240)

    sink = spark.read.parquet(out)
    assert sink.count() == 4  # A, B, B(newer), C — never the stale A
    served = {r["url"]: r["text"]
              for r in dedup_latest(sink).collect()}
    assert len(served) == 3
    assert served["https://host00.example.com/p/B"] == b_new[3]


def test_stream_extract_latest_ttl_bounds_state(spark, tmp_path):
    """Watermark-aligned state TTL (bounded-replay sources): state is
    evicted once the watermark passes warc_ts + TTL, and within the
    watermark contract behavior is EXACTLY the NoTimeout variant with
    bounded memory — any replay the evicted state would have filtered
    is older than the watermark and is dropped by the watermark
    itself; watermark-admissible data still emits latest-per-url and
    the serving view stays correct."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2026, 1, 1)
    hour = dt.timedelta(hours=1)
    templates = synth_templates(spark)

    def run():
        q = stream_extract_latest(spark, src, PAGES_SCHEMA, templates,
                                  compiled_specs(), out, ckpt,
                                  state_ttl_s=3600,       # 1h of event time
                                  watermark="9 hours")    # o-o-o allowance
        q.awaitTermination(240)

    # batch 1: url A at t0+1h — state holds t0+1h, timeout t0+2h
    a1 = _page_row("https://host00.example.com/p/A", t0 + hour, "A1")
    spark.createDataFrame([a1], PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    assert spark.read.parquet(out).count() == 1

    # batch 2: unrelated url at t0+12h — watermark advances to t0+3h,
    # past A's timeout: A's state is evicted
    b = _page_row("https://host00.example.com/p/B", t0 + 12 * hour, "B0")
    spark.createDataFrame([b], PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    assert spark.read.parquet(out).count() == 2

    # batch 3: a stale A replay (t0) is below the watermark and is
    # dropped BY THE WATERMARK (the evicted state is never needed);
    # a watermark-admissible newer A emits with fresh state
    a_old = _page_row("https://host00.example.com/p/A", t0, "A0")
    a2 = _page_row("https://host00.example.com/p/A", t0 + 13 * hour, "A2")
    spark.createDataFrame([a_old, a2], PAGES_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    run()

    sink = spark.read.parquet(out)
    texts_a = {r["text"] for r in sink.filter(
        F.col("url") == "https://host00.example.com/p/A").collect()}
    assert texts_a == {a1[3], a2[3]}   # stale replay never parsed
    assert a_old[3] not in texts_a
    served = {r["url"]: r["text"] for r in dedup_latest(sink).collect()}
    assert served["https://host00.example.com/p/A"] == a2[3]


def test_stream_host_error_rates(spark, tmp_path):
    """The live drift monitor: windows close as the watermark
    advances across micro-batches (maxFilesPerTrigger=1 forces
    several), closed windows match the batch twin exactly, and the
    parquet sink feeds drift_points as a plain batch query. A NULL
    ``ok`` flag counts as an error."""
    import datetime as dt
    from weakscraper_spark.streaming.stream import (
        stream_host_error_rates)

    src = str(tmp_path / "drift_src")
    out = str(tmp_path / "drift_out")
    ckpt = str(tmp_path / "drift_ckpt")
    schema = "host string, ts timestamp, ok boolean"

    def day(d, hour=0):
        return dt.datetime(2025, 3, d, hour)

    early = [("a.org", day(1), True), ("a.org", day(1, 6), False),
             ("b.org", day(1), True)]
    mid = [("a.org", day(2), False), ("a.org", day(2, 3), False),
           ("b.org", day(2), True), ("b.org", day(2, 4), None)]
    # the sentinel batch advances the watermark far past days 1-2 so
    # their windows CLOSE; its own window stays open and unemitted
    late = [("z.org", day(20), True)]
    for i, rows in enumerate([early, mid, late]):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    q = stream_host_error_rates(
        spark, src, schema, out, ckpt,
        window="1 day", watermark="1 hour")
    # availableNow + maxFilesPerTrigger would be set on the source;
    # file sources under availableNow may still batch together, so
    # run a SECOND pass after appending nothing — the watermark from
    # the first pass's max event time closes days 1-2 on restart
    q.awaitTermination(240)
    q2 = stream_host_error_rates(
        spark, src, schema, out, ckpt,
        window="1 day", watermark="1 hour")
    q2.awaitTermination(240)

    got = {(r.host, str(r.win_start)): (r.n_pages, r.n_err)
           for r in spark.read.parquet(out).collect()}
    assert got[("a.org", "2025-03-01 00:00:00")] == (2, 1)
    assert got[("a.org", "2025-03-02 00:00:00")] == (2, 2)
    assert got[("b.org", "2025-03-01 00:00:00")] == (1, 0)
    assert got[("b.org", "2025-03-02 00:00:00")] == (2, 1)
    # the sentinel's own window never closed -> not emitted
    assert ("z.org", "2025-03-20 00:00:00") not in got

    # the sink feeds the batch drift detector directly — through the
    # AGGREGATE-consuming API (exact sum(n_err)/sum(n_pages)
    # weighting; the r06 review showed binarizing window rows into
    # the row-level API loses real jumps on hosts with baseline
    # errors)
    from weakscraper_spark.operators.drift import drift_points_daily
    det = {r.host: r for r in drift_points_daily(
        spark.read.parquet(out).selectExpr(
            "host", "win_start::date AS day", "n_pages",
            "n_err")).collect()}
    assert det["a.org"].jump == pytest.approx(0.5)  # 1/2 -> 2/2


def test_parsers_stream_natively(spark, tmp_path):
    """The discovery parsers are stateless narrow maps, so they run
    UNCHANGED under readStream — no foreachBatch wrapper needed; the
    streamed result equals the batch twin exactly."""
    from weakscraper_spark.operators.feeds import parse_feeds

    rss = ('<rss version="2.0"><channel><title>S</title>'
           '<item><title>A</title><link>https://s.org/a</link></item>'
           '<item><guid>g2</guid><title>B</title></item>'
           '</channel></rss>')
    src = str(tmp_path / "feeds_src")
    ckpt = str(tmp_path / "feeds_ckpt")
    batch_df = spark.createDataFrame(
        [("https://s.org/feed.xml", rss)], "url string, xml string")
    batch_df.write.parquet(src)

    stream = spark.readStream.schema("url string, xml string") \
        .parquet(src)
    q = (parse_feeds(stream).writeStream.outputMode("append")
         .format("memory").queryName("feed_rows")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(240)
    got = {(r.entry_id, r.link, r.title) for r in
           spark.sql("SELECT * FROM feed_rows").collect()}
    want = {(r.entry_id, r.link, r.title) for r in
            parse_feeds(batch_df).collect()}
    assert got == want and len(got) == 2


def test_streaming_extract_feeds_drift_monitor(spark, tmp_path):
    """The LIVE pipeline composition (VERDICT r05 #7): streaming
    extract sink → streaming per-host error-rate monitor →
    drift_points, spanning a restart of BOTH queries. Closed windows
    must match the batch twin (host_error_daily over batch extraction
    of the same pages) exactly, and the monitor sink must let the
    drift detector name exactly the planted redesigned hosts."""
    from weakscraper_spark.operators.drift import host_error_daily
    from weakscraper_spark.operators.extract import (
        EXTRACT_SCHEMA, extract_pages)
    from weakscraper_spark.plans.pipeline import (
        attach_template, prepare_pages)
    from weakscraper_spark.sources.synth import synth_drift_pages
    from weakscraper_spark.streaming.stream import (
        stream_host_error_rates)

    src = str(tmp_path / "src")
    ext = str(tmp_path / "ext")
    mon = str(tmp_path / "mon")
    ck1 = str(tmp_path / "ck1")
    ck2 = str(tmp_path / "ck2")

    pages = synth_drift_pages(spark, 400)
    templates = synth_templates(spark, 16)
    wave1 = pages.filter(F.col("warc_ts") < "2026-01-07")
    wave2 = pages.filter(F.col("warc_ts") >= "2026-01-07")

    def run_both():
        q = stream_extract(spark, src, PAGES_SCHEMA, templates,
                           compiled_specs(), ext, ck1)
        q.awaitTermination(240)
        m = stream_host_error_rates(
            spark, ext, EXTRACT_SCHEMA, mon, ck2,
            window="1 day", watermark="1 day", ts_col="warc_ts")
        m.awaitTermination(240)

    wave1.coalesce(2).write.mode("append").parquet(src)
    run_both()
    wave2.coalesce(2).write.mode("append").parquet(src)
    run_both()  # RESTART of both queries from their checkpoints

    closed = spark.read.parquet(mon)
    got = {(r.host, str(r.win_start)): (r.n_pages, r.n_err)
           for r in closed.collect()}
    assert got, "no windows closed"

    # batch twin over the identical page set
    batch = extract_pages(
        attach_template(prepare_pages(pages), templates),
        compiled_specs())
    twin = host_error_daily(
        batch.selectExpr(
            "try_parse_url(url, 'HOST') AS host",
            "warc_ts AS ts",
            "status IN ('ok', 'ok_heuristic') AS ok"))
    want = {(r.host, f"{r.day} 00:00:00"): (r.n_pages, r.n_err)
            for r in twin.collect()}
    for k, v in got.items():
        assert want[k] == v, (k, v, want[k])
    # coverage: the final watermark (max event day 7 − 1 day) closes
    # exactly the day-0..5 windows (2026-01-01 .. 2026-01-06)
    closed_days = {k[1][:10] for k in got}
    assert closed_days == {f"2026-01-0{d}" for d in range(1, 7)}
    want_closed = {k for k in want if k[1][:10] in closed_days}
    assert set(got) == want_closed

    # the monitor sink drives the drift detector through the
    # aggregate-consuming API (exact error-rate weighting): exactly
    # the four planted redesigned hosts (drift day 2026-01-05)
    from weakscraper_spark.operators.drift import drift_points_daily
    det = {r.host: str(r.drift_day) for r in drift_points_daily(
        closed.selectExpr("host", "win_start::date AS day",
                          "n_pages", "n_err"),
        min_jump=0.5).collect()}
    assert det == {f"host{h:02d}.example.com": "2026-01-05"
                   for h in (1, 5, 9, 13)}


def test_minhash_bands_narrow_equals_batch(spark):
    """The row-local band derivation must produce the SAME relation
    as the explode+groupBy batch path — the streaming variant's
    correctness rests on this equality."""
    from weakscraper_spark.operators.dedup import (
        minhash_band_store, minhash_bands_narrow)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    a = {tuple(r) for r in minhash_band_store(docs).collect()}
    b = {tuple(r) for r in minhash_bands_narrow(docs).collect()}
    assert a == b and len(a) > 0


def test_stream_minhash_candidates_batch_twin(spark, tmp_path):
    """Stream-static candidates == the batch incremental path's
    new_old pairs (caps disabled on both sides for the comparison;
    new_new is documented out of stream scope), exactly-once across
    a checkpointed restart."""
    from weakscraper_spark.operators.dedup import (
        minhash_band_store, minhash_incremental_pairs)
    from weakscraper_spark.streaming.stream import (
        stream_minhash_candidates)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    new = docs.filter("doc_id % 3 = 0")
    old = docs.filter("doc_id % 3 != 0")
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    new.select("doc_id", "text").write.parquet(src)
    minhash_band_store(old).write.parquet(store)

    q = stream_minhash_candidates(
        spark, src, "doc_id long, text string", store, out, ckpt)
    q.awaitTermination(240)
    got = (spark.read.parquet(out)
           .groupBy("new_doc", "stored_doc")
           .agg(F.countDistinct("band").alias("n_bands")))
    got_set = {(r.new_doc, r.stored_doc, r.n_bands)
               for r in got.collect()}
    want = {(r.doc_a if r.doc_a % 3 == 0 else r.doc_b,
             r.doc_b if r.doc_a % 3 == 0 else r.doc_a,
             r.n_bands)
            for r in minhash_incremental_pairs(
                minhash_band_store(new), minhash_band_store(old),
                max_bucket=10**9).collect()
            if r.side == "new_old"}
    assert got_set == want and len(want) > 0

    # restart on the same checkpoint: no new data → no duplicates
    q2 = stream_minhash_candidates(
        spark, src, "doc_id long, text string", store, out, ckpt)
    q2.awaitTermination(240)
    assert spark.read.parquet(out).count() == \
        sum(n for _, _, n in got_set)


def test_warc_index_to_cdx_streams_natively(spark, tmp_path):
    """The crawl tier's index WRITER runs streaming with no wrapper:
    archives stream in → warc_record_index (stateless mapInPandas) →
    format_cdxj (narrow JVM) → append sink; lines equal the batch
    twin exactly."""
    from weakscraper_spark.operators.cdx import format_cdxj
    from weakscraper_spark.sources.warc import (build_warc,
                                                warc_record_index)
    recs = [{"type": "response", "url": f"https://s.org/p/{i}",
             "date": "2024-05-01T00:00:00Z", "http_status": 200,
             "mime": "text/html", "body": f"doc {i}".encode()}
            for i in range(5)]
    raw = build_warc(recs)
    src = str(tmp_path / "warc_src")
    ckpt = str(tmp_path / "warc_ckpt")
    batch_df = spark.createDataFrame(
        [("crawl-0.warc.gz", raw)], "path string, content binary")
    batch_df.write.parquet(src)

    def to_lines(files_df):
        idx = warc_record_index(files_df)
        ok = idx.filter((F.col("status") == "ok") &
                        (F.col("record_type") == "response"))
        return format_cdxj(ok, filename_col="src")

    stream = spark.readStream.schema("path string, content binary") \
        .parquet(src)
    q = (to_lines(stream).writeStream.outputMode("append")
         .format("memory").queryName("cdx_lines")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(240)
    got = {r.line for r in
           spark.sql("SELECT * FROM cdx_lines").collect()}
    want = {r.line for r in to_lines(batch_df).collect()}
    assert got == want and len(got) == 5
