"""Physical-plan assertions (the .explain discipline from SURVEY §5):
these lock in the scale-critical plan shapes so a refactor can't
silently reintroduce a full-width shuffle, drop a broadcast, or lose
column pruning.

Plan parsing note: ``explain("formatted")`` lists nodes as
``(<id>) <Name>`` with LEAVES FIRST (id 1 = scan, max id = root), and
repeats names in the details section — assertions therefore parse the
numbered node list, not raw substrings.
"""

import contextlib
import io
import re

import pytest

from weakscraper_spark.plans.pipeline import build_extract_plan
from weakscraper_spark.sources.synth import (
    compiled_specs, synth_pages, synth_templates)


def _plan_nodes(df) -> list[tuple[int, str]]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    nodes = []
    for line in buf.getvalue().splitlines():
        m = re.match(r"^\s*[*+-]*\s*\((\d+)\)\s+(\w+)", line)
        if m:
            nodes.append((int(m.group(1)), m.group(2)))
    return sorted(set(nodes))


@pytest.fixture(scope="module")
def parquet_pages(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages")
    synth_pages(spark, 50).write.parquet(p)
    return spark.read.parquet(p)


@pytest.fixture(scope="module")
def nodes(spark, parquet_pages):
    return _plan_nodes(build_extract_plan(
        parquet_pages, synth_templates(spark), compiled_specs()))


def test_template_join_is_broadcast(nodes):
    names = {n for _, n in nodes}
    assert "BroadcastHashJoin" in names
    assert "SortMergeJoin" not in names


#: every Python map node Spark plans for a DataFrame map operator
PYTHON_MAPS = {"MapInPandas", "MapInArrow"}


def test_single_python_stage(nodes):
    maps = [n for _, n in nodes if n in PYTHON_MAPS]
    assert maps == ["MapInArrow"], nodes  # exactly one Arrow crossing
    assert all(n != "BatchEvalPython" for _, n in nodes)  # no row UDF


def test_heavy_path_is_map_only(nodes):
    """Dataflow order = ascending node id (leaves first). Every
    Exchange must come AFTER the extract MapInArrow — the only
    shuffle is the narrow post-extract dedup; the html-bearing prefix
    of the plan is map-only."""
    extract_id = max(i for i, n in nodes if n == "MapInArrow")
    early_exchanges = [
        (i, n) for i, n in nodes
        if n == "Exchange" and i < extract_id]
    assert not early_exchanges, nodes


def test_dedup_has_mapside_toplimit(nodes):
    """Spark 4 plants WindowGroupLimit below the dedup Exchange —
    superseded snapshots are pruned map-side before shuffling. Guard
    it: losing this doubles the dedup shuffle volume."""
    exchange_ids = [i for i, n in nodes if n == "Exchange"]
    wgl_ids = [i for i, n in nodes if n == "WindowGroupLimit"]
    assert exchange_ids and wgl_ids
    assert min(wgl_ids) < max(exchange_ids)


def test_entry_plan_is_map_only_before_extract(spark):
    """The DRIVER-FACING plan (entry()'s actual DataFrame) must be the
    map-only plan the pipeline docstring promises — r01 shipped
    entry() with a default-salt full-width repartition while this
    suite asserted the unsalted variant. Guard the real thing: no
    Exchange before the extract stage, the one MapInArrow (synth is a
    MapInPandas leaf below it)."""
    import __spark_entry__ as entrymod

    nodes = _plan_nodes(entrymod.entry(spark))
    (extract_id,) = [i for i, n in nodes if n == "MapInArrow"]
    assert [n for i, n in nodes if n in PYTHON_MAPS and i < extract_id] \
        == ["MapInPandas"], nodes
    early = [(i, n) for i, n in nodes
             if n == "Exchange" and i < extract_id]
    assert not early, nodes


def test_induction_sampling_prunes_mapside(spark, parquet_pages):
    """The induction stage's per-host top-k sample window must plant
    WindowGroupLimit below its exchange: at corpus scale only ~k rows
    per host may reach the shuffle, not every page."""
    from pyspark.sql import functions as F

    from weakscraper_spark.operators.induction import induce_templates

    pages = parquet_pages.withColumn(
        "host", F.parse_url("url", F.lit("HOST")))
    nodes = _plan_nodes(induce_templates(pages, k=4))
    wgl = [i for i, n in nodes if n == "WindowGroupLimit"]
    exch = [i for i, n in nodes if n == "Exchange"]
    assert wgl and exch and min(wgl) < max(exch), nodes
    # the per-host kernel is the one Python node, and it is Arrow-native
    assert [n for _, n in nodes if "Python" in n or "InPandas" in n
            or "InArrow" in n] == ["FlatMapGroupsInArrow"], nodes


def _docs_df(spark, n=4):
    return spark.createDataFrame(
        [(i, f"w{i} " * 5 + "common tail words here", "en", "s", 30)
         for i in range(n)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")


def test_jaccard_cap_is_twophase_and_join_reuses_exchange(spark):
    """The df-cap must be the TWO-PHASE form (groupBy-count →
    broadcast anti-join, applied map-side), never a window count —
    `count(*) over (partition by tok)` funnels every instance of the
    hottest shingle into one task's window buffer (straggler at
    corpus scale). And the self-join's two sides must still share one
    Exchange(tok) via ReuseExchange (shingles computed/shuffled once,
    no .cache()). AQE is toggled off for the explain: with AQE the
    same reuse happens at runtime and isn't visible statically."""
    from weakscraper_spark.operators.dedup import ngram_jaccard_pairs

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        nodes = _plan_nodes(ngram_jaccard_pairs(_docs_df(spark)))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    names = [n for _, n in nodes]
    assert "Window" not in names, nodes          # no hot-key buffer
    assert "BroadcastHashJoin" in names, nodes   # map-side anti-join
    # the explode is evaluated ONCE (disk-persisted) and each of the
    # four consumers reads the cache; the self-join still shares one
    # Exchange(tok)
    assert names.count("InMemoryTableScan") >= 3, nodes
    assert names.count("Generate") <= 1, nodes
    assert names.count("ReusedExchange") >= 1, nodes


def test_minhash_cap_is_twophase_no_window(spark):
    """Same discipline for the LSH bucket cap: two-phase count +
    broadcast anti-join before the band self-join, no window."""
    from weakscraper_spark.operators.dedup import minhash_lsh_pairs

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        nodes = _plan_nodes(minhash_lsh_pairs(_docs_df(spark)))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    names = [n for _, n in nodes]
    assert "Window" not in names, nodes
    assert "BroadcastHashJoin" in names, nodes
    # the shingle explode + min-agg run once (signature table is
    # disk-persisted; the cap count re-derives only the band fan-out)
    assert names.count("InMemoryTableScan") >= 2, nodes


def test_simhash_capped_still_single_python_stage(spark):
    """With the opt-in bucket cap, the count branch is a second
    consumer of the expensive Python simhash stage; the operator must
    serve both from ONE evaluation (persisted narrow table — both
    InMemoryTableScans reference the same relation), apply the cap
    anti-join MAP-SIDE (no window buffer), and the self-join sides
    must still share one Exchange via ReuseExchange."""
    from weakscraper_spark.operators.dedup import simhash_near_pairs

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        nodes = _plan_nodes(simhash_near_pairs(
            _docs_df(spark), max_hamming=3, max_bucket=8))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    names = [n for _, n in nodes]
    assert names.count("MapInPandas") == 1, nodes  # one Python subtree
    assert names.count("InMemoryTableScan") >= 2, nodes
    assert names.count("ReusedExchange") >= 1, nodes
    assert "Window" not in names, nodes


def test_srp_cap_is_twophase_no_window(spark):
    """The SRP similarity paths follow the same cap discipline as
    MinHash/SimHash (VERDICT r04 #1): two-phase groupBy-count →
    broadcast anti-join applied map-side before the bucket self-join —
    never a window count, never a cross join. (No persist/reuse
    assertion here: unlike the shingle paths the SRP signature is a
    narrow codegen map over the scan, so the count branch's recompute
    is the cheap choice.)"""
    from weakscraper_spark.operators.similarity import (
        srp_cosine_near_pairs)

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, -0.5, float(i % 3)])
         for i in range(30)],
        "vec_id long, embedding array<float>")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        nodes = _plan_nodes(srp_cosine_near_pairs(
            emb, n_planes=4, dim=4, max_bucket=8))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    names = [n for _, n in nodes]
    assert "Window" not in names, nodes
    assert "CartesianProduct" not in names, nodes
    assert "BroadcastHashJoin" in names, nodes


def test_semantic_dedup_plan_capped_no_python(spark):
    """SemDeDup keeps the house discipline: centroid assignment is a
    JVM codegen map (no Python stage anywhere), the cluster cap is a
    two-phase count + broadcast anti-join (never a window), and the
    within-cluster pair join is an equi-join, never a cross join."""
    from weakscraper_spark.operators.similarity import (
        semantic_dedup, semdedup_centroids)

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, -0.5, float(i % 3)])
         for i in range(30)],
        "vec_id long, embedding array<float>")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        nodes = _plan_nodes(semantic_dedup(
            emb, centroids=semdedup_centroids(4, 4), threshold=0.9,
            max_cluster=8))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    names = [n for _, n in nodes]
    assert "Window" not in names, nodes
    assert "CartesianProduct" not in names, nodes
    assert "BroadcastHashJoin" in names, nodes
    assert "BatchEvalPython" not in names, nodes
    assert "ArrowEvalPython" not in names, nodes


def test_parquet_scan_prunes_ground_truth_column(spark, parquet_pages):
    """The scan must not read the ground-truth ``text`` column
    (column pruning through the whole plan)."""
    df = build_extract_plan(parquet_pages, synth_templates(spark),
                            compiled_specs())
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    scan_lines = [ln for ln in buf.getvalue().splitlines()
                  if "ReadSchema" in ln]
    assert scan_lines
    assert "text" not in scan_lines[0]
    assert "html" in scan_lines[0]


def test_filter_pushdown_reaches_scan(spark, parquet_pages):
    df = build_extract_plan(parquet_pages, synth_templates(spark),
                            compiled_specs(), langs=["en"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    pushed = [ln for ln in buf.getvalue().splitlines()
              if "PushedFilters" in ln]
    assert pushed and "lang" in pushed[0]


def test_paragraph_dedup_no_window(spark):
    """First-occurrence selection must be a two-phase aggregation —
    a window over partition-by-paragraph would buffer every instance
    of the hottest paragraph (empty/boilerplate lines at corpus
    scale) in a single task."""
    from weakscraper_spark.operators.dedup import paragraph_dedup
    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string")
    nodes = _plan_nodes(paragraph_dedup(df))
    names = [n for _, n in nodes]
    assert "Window" not in names
    assert "HashAggregate" in names or "ObjectHashAggregate" in names


def test_line_frequency_filter_no_window(spark):
    """The distinct-doc line count must be a two-phase aggregation,
    never a window — the hottest boilerplate line at corpus scale
    would otherwise buffer in one task."""
    from weakscraper_spark.operators.dedup import line_frequency_filter
    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string")
    nodes = _plan_nodes(line_frequency_filter(df))
    names = [n for _, n in nodes]
    assert "Window" not in names
    assert "HashAggregate" in names or "ObjectHashAggregate" in names


def test_frontier_plan_no_corpus_width_rejoin(spark):
    """Lineage columns ride the passthrough operators — the frontier
    plan's only joins are the broadcast robots/host-count sides, no
    url-keyed shuffle join to re-attach n_variants (r04)."""
    from weakscraper_spark.plans.frontier import build_frontier_plan
    urls = spark.createDataFrame(
        [(f"https://h{i % 3}.example.com/p/{i}",) for i in range(30)],
        "url string")
    robots = spark.createDataFrame(
        [("h0.example.com", "User-agent: *\nDisallow: /x")],
        "host string, robots_txt string")
    plan = build_frontier_plan(urls, robots)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_repetition_windows_are_per_doc_only(spark):
    """The only window in repetition_stats partitions by doc_id
    (bounded by doc length) — never by gram (corpus-hot)."""
    import contextlib
    import io
    from weakscraper_spark.operators.textstats import repetition_stats
    df = spark.createDataFrame(
        [(1, "a b a b")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        repetition_stats(df).explain("formatted")
    txt = buf.getvalue()
    for line in txt.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_id" in line, line


def test_url_dedup_is_single_agg_no_python(spark):
    from weakscraper_spark.operators.urlnorm import url_dedup
    df = spark.createDataFrame([("https://a/",)], "url string")
    nodes = _plan_nodes(url_dedup(df))
    names = [n for _, n in nodes]
    assert "MapInPandas" not in names and "BatchEvalPython" not in names
    assert sum(1 for n in names if n == "Exchange") <= 1


def test_gram_explodes_reference_materialized_token_arrays(spark):
    """Lambda-CSE guard (r03): Catalyst does not CSE inside
    transform() lambdas, so a gram explode whose Generate expression
    still contains the raw split(...) re-tokenizes the document per
    element (measured 8-10x on contamination/winnow at sf0.1). The
    explode argument must reference the materialized token column;
    the split belongs in the Project below it."""
    from weakscraper_spark.operators.dedup import _shingles
    from weakscraper_spark.operators.textstats import (
        winnow_fingerprints)
    df = spark.createDataFrame([(1, "a b c d e f")],
                               "doc_id long, text string")
    plans = [
        _shingles(df, "doc_id", "text"),
        winnow_fingerprints(df),
    ]
    for p in plans:
        txt = p._jdf.queryExecution().executedPlan().toString()
        for line in txt.splitlines():
            # a DIRECT explode(split(...)) is fine (split runs once
            # per row); the hazard is split() captured inside the
            # per-element lambda
            if "lambdafunction" in line:
                assert "split(" not in line, line


def test_extract_links_is_narrow_jvm_map(spark):
    """The outlink scan is the corpus-width stage of the link-graph
    family: it must stay a shuffle-free, Python-free narrow map
    (regexp scan + explode in whole-stage codegen) so the html column
    never crosses an Exchange and never leaves the JVM."""
    from weakscraper_spark.operators.links import extract_links
    from weakscraper_spark.sources.synth import synth_linked_pages
    nodes = _plan_nodes(extract_links(synth_linked_pages(spark, 20)))
    names = {n for _, n in nodes}
    assert "Exchange" not in names, nodes
    assert "BatchEvalPython" not in names
    # the generator itself is the only Arrow crossing
    assert sum(1 for _, n in nodes if n == "MapInPandas") == 1


def test_host_graph_is_single_twophase_agg(spark):
    """Host-pair aggregation: one Exchange, with a partial
    HashAggregate BELOW it (map-side combine absorbs per-page link
    repetition before anything shuffles)."""
    from weakscraper_spark.operators.links import (
        extract_links, host_graph)
    from weakscraper_spark.sources.synth import synth_linked_pages
    nodes = _plan_nodes(
        host_graph(extract_links(synth_linked_pages(spark, 20))))
    exch = [i for i, n in nodes if n == "Exchange"]
    aggs = [i for i, n in nodes if n == "HashAggregate"]
    assert len(exch) == 1, nodes
    assert min(aggs) < exch[0] < max(aggs), nodes


def test_anchor_topk_window_is_above_vocab_sized_agg(spark):
    """The per-host rank window must run over the AGGREGATED
    (host, term) table, never the raw link rows: the plan needs a
    full two-phase HashAggregate pair BELOW the window's Exchange,
    and Spark 4's WindowGroupLimit prunes to top-k map-side."""
    from weakscraper_spark.operators.links import (
        anchor_topk, extract_links)
    from weakscraper_spark.sources.synth import synth_linked_pages
    nodes = _plan_nodes(
        anchor_topk(extract_links(synth_linked_pages(spark, 20))))
    names = [n for _, n in nodes]
    wgl = [i for i, n in nodes if n == "WindowGroupLimit"]
    aggs = [i for i, n in nodes if n == "HashAggregate"]
    assert wgl and aggs and min(aggs) < min(wgl), nodes
    assert "BatchEvalPython" not in names


def test_epoch_shuffle_no_global_window(spark):
    """Global positions must come from range partitioning + per-
    partition windows + offsets — never row_number over a global
    ORDER BY (single-partition window over the whole corpus). The
    corpus-width window must partition by the physical partition id;
    the only unpartitioned window runs on the partition-sizes
    relation (partition-count rows)."""
    import io as _io, contextlib as _ctx
    from pyspark.sql import functions as F
    from weakscraper_spark.operators.corpus import epoch_shuffle
    df = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    out = epoch_shuffle(df, seed=1, num_partitions=4)
    nodes = _plan_nodes(out)
    names = [n for _, n in nodes]
    assert "Exchange" in names          # the range repartition
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        out.explain(True)
    txt = buf.getvalue().lower()
    # corpus-width window partitions by _pid; the offsets window
    # (over sizes) is the only one allowed to be unpartitioned
    assert "_pid" in txt
    assert "rangepartitioning" in txt


def test_url_filter_is_narrow_jvm_map(spark):
    """The URL gate runs BEFORE fetch on the 10^12-row frontier —
    it must stay a narrow JVM map: no exchange, no python, no join
    for the seed-list blocklist (IN-list literal)."""
    from weakscraper_spark.operators.urlnorm import url_quality_filter
    df = spark.createDataFrame([(1, "https://a.example.org/x")],
                               "id long, url string")
    nodes = _plan_nodes(url_quality_filter(df))
    names = [n for _, n in nodes]
    assert "Exchange" not in names
    assert not any("Python" in n or "Arrow" in n for n in names)


def test_tfidf_topk_windows_over_aggregate(spark):
    """The tfidf rank window must run over the (doc, term) AGGREGATE
    with a map-side WindowGroupLimit — never over raw token rows —
    and the df(term) side must join without a corpus-width shuffle of
    the token explode output."""
    from weakscraper_spark.operators.search import tfidf_topk

    nodes = _plan_nodes(tfidf_topk(_docs_df(spark), k=3))
    wgl = [i for i, n in nodes if n == "WindowGroupLimit"]
    exch = [i for i, n in nodes if n == "Exchange"]
    assert wgl and exch and min(wgl) < max(exch), nodes
    assert not [n for _, n in nodes if "Python" in n], nodes


def test_resolve_redirects_plan_is_checkpoint_truncated(spark):
    """r07 plan-audit regression: the pointer-doubling loop joins
    cur against ITSELF, so un-truncated lineage re-derives the edge
    subtree 2^rounds times (first audit: 199 nodes / 17 Exchanges at
    rounds=4). With per-round eager localCheckpoint the final plan
    must stay a small checkpoint-backed join."""
    from weakscraper_spark.operators.redirects import (
        resolve_redirects)
    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(6)],
        "src_url string, dst_url string")
    names = [n for _, n in _plan_nodes(resolve_redirects(edges))]
    assert len(names) <= 20, names
    assert names.count("Exchange") <= 2, names


def test_fan_out_guard_shapes(spark, tmp_path):
    """fan_out fires on scan-shaped plans — INCLUDING Projects whose
    pretty-printed expression text wraps across treeString lines (the
    r08 regression: the line-based whitelist parser read a wrapped
    transform() chunker's continuation lines as unknown nodes and
    silently declined, so para_dedup's split stage ran one task) —
    and still declines composed (join) and streaming plans."""
    from pyspark.sql import functions as F

    from weakscraper_spark.operators.fanout import fan_out

    p = str(tmp_path / "fo_pages")
    spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('w', repeat(' w', 30)) AS text") \
        .coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)

    def fanned(d) -> bool:
        return "Repartition" in \
            d._jdf.queryExecution().analyzed().treeString()

    # simple scan-shaped projection
    assert fanned(fan_out(df.select("doc_id", "text")))
    # projection whose expression text wraps over multiple tree lines
    tk = df.select("doc_id", F.split(F.trim(F.lower("text")),
                                     r"\s+").alias("_t"))
    n_chunks = F.ceil(F.size("_t") / 8).cast("int")
    chunked = tk.select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_chunks - 1),
                        lambda i: F.array_join(
                            F.slice(F.col("_t"), i * 8 + 1, 8), " ")),
            "\n").alias("text"))
    assert fanned(fan_out(chunked))
    # composed plan (join) passes through untouched
    j = (df.alias("a").join(df.alias("b"), "doc_id")
         .select(F.col("a.text").alias("text")))
    assert not fanned(fan_out(j))
    # values unchanged by the fan-out (partitioning only)
    got = sorted(r.doc_id for r in fan_out(chunked).collect())
    assert got == list(range(200))
