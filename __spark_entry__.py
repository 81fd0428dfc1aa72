"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship template-extraction pipeline on a
deterministic synthesized CC-style pages table (the BASELINE.json:15
input shape; /root/testdata has no pages table, FIXTURES.md §2).

``queries()`` exposes the engine's operator surface (SURVEY.md §3C
pipeline ops + training-data ops) over the driver-provided tables;
``oracle_sql()`` mirrors every SQL-expressible one in DuckDB dialect
with IDENTICAL tokenization/rounding so value-hashes match. Ops that
are not SQL-expressible (Arrow-batch extraction — template AND
boilerplate-strip heuristic, PDF plumbing, IVF ANN's iterative
quantizer, the end-to-end corpus build) have no
oracle entry → driver records rows-only checks; each of those is
VALUE-PINNED anyway (rows filtered on equality with synthesized
ground truth, or fully deterministic counts), so drift still moves
the recorded numbers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tokens(col: str = "text"):
    return F.split(F.trim(F.col(col)), r"\s+")


def _dec(col, scale: int):
    """Snap a computed float to a fixed-scale STRING (via DECIMAL) so
    the driver's value-hash is representation-stable across Spark and
    DuckDB: double ulp differences from different summation orders,
    and engine-specific float/decimal → pandas conversions, would
    otherwise flip hashes. '240.1000' is '240.1000' everywhere."""
    return F.round(col, scale).cast(f"decimal(18,{scale})").cast("string")


# Staged-truth parquet root (VERDICT r04 #3): extraction-family
# queries run on SYNTHESIZED pages (the driver tables carry no html),
# so their expectations can't be phrased over the registered views.
# Each such query writes its GENERATOR-side ground truth (or, for the
# cleaning composition, its stage input) to a fixed path here and the
# static oracle SQL reads it back with read_parquet() — turning
# value-pinned rows-only checks into driver-visible hash-green ones.
# Safe because every harness (driver, tests/test_oracle.py) executes
# the Spark side of a query BEFORE its oracle, in the SAME process
# that serves oracle_sql() —
# so a per-process temp dir is visible to both sides. Per-process
# namespacing (r05 advice) means concurrent harnesses at different
# sfs, or two users on one host, can no longer silently overwrite
# each other's staged truth. The dir is created LAZILY (importing
# this module must not litter /tmp), removed at interpreter exit,
# and first use sweeps stale siblings left by crashed harnesses
# (SIGKILL/OOM skips atexit — r06 review) so the leak is bounded.
import atexit as _atexit
import glob as _glob
import shutil as _shutil
import tempfile as _tempfile
import time as _time

_TRUTH_ROOT: str | None = None


def _truth_root() -> str:
    global _TRUTH_ROOT
    if _TRUTH_ROOT is None:
        import os
        now = _time.time()
        for d in _glob.glob(os.path.join(_tempfile.gettempdir(),
                                         "ws_oracle_truth_*")):
            try:
                if now - os.path.getmtime(d) > 86400:
                    _shutil.rmtree(d, ignore_errors=True)
            except OSError:
                pass
        _TRUTH_ROOT = _tempfile.mkdtemp(prefix="ws_oracle_truth_")
        _atexit.register(_shutil.rmtree, _TRUTH_ROOT,
                         ignore_errors=True)
    return _TRUTH_ROOT


def _stage_truth(df: DataFrame, name: str) -> str:
    import os
    path = os.path.join(_truth_root(), name)
    df.write.mode("overwrite").parquet(path)
    # Keep the root's mtime fresh: the stale sweep above keys on the
    # ROOT dir's mtime, but writes only touch subdirectories — a
    # soak run past 24h would otherwise have its live truth deleted
    # by a newly started sibling process (r06 advice).
    os.utime(_truth_root())
    return path


# ---------------------------------------------------------------------------
# entry — flagship: synth pages at sf0.001 scale → extract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    from weakscraper_spark.plans.pipeline import synth_and_extract

    # flagship = the COMPLETE extraction: template-first with the
    # in-stage boilerplate-strip fallback (the north rule's two legs
    # in one map-only plan) — structurally-mismatched pages come back
    # as ok_heuristic rows instead of bare status rows
    return synth_and_extract(spark, 600, fallback="heuristic").select(
        "url", "template_id", "status", "error", "text", "fields_json",
        "n_nodes")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- C2: filter + project -------------------------------------------
    def c2_filter_project(spark, sf):
        return (_t(spark, sf, "documents")
                .filter((F.col("lang") == "en") & (F.col("n_chars") > 150))
                .select("doc_id", "source", "n_chars",
                        F.length("text").cast("long").alias("len_chars"),
                        F.size(_tokens()).cast("long").alias("n_tokens")))
    q["c2_filter_project"] = c2_filter_project

    # ---- C3: dedup-latest window ----------------------------------------
    def c3_dedup_latest(spark, sf):
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id"))
        return (_t(spark, sf, "events")
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("user_id", "event_id", "event_type", "value",
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                        .alias("ts_str")))
    q["c3_dedup_latest"] = c3_dedup_latest

    # ---- C4: grouped stats ----------------------------------------------
    def c4_group_stats(spark, sf):
        return (_t(spark, sf, "documents")
                .groupBy("lang", "source")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"),
                     _dec(F.avg("n_chars"), 4).alias("avg_chars")))
    q["c4_group_stats"] = c4_group_stats

    # ---- C5: broadcast join ---------------------------------------------
    def c5_broadcast_join(spark, sf):
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        return (orders.join(F.broadcast(cust),
                            orders.o_custkey == cust.c_custkey)
                .groupBy("c_mktsegment")
                .agg(F.count("*").alias("n_orders"),
                     _dec(F.sum("o_totalprice"), 2).alias("total_price")))
    q["c5_broadcast_join"] = c5_broadcast_join

    # ---- C8: salted two-phase aggregation (result salt-invariant) --------
    def c8_salted_agg(spark, sf):
        ev = _t(spark, sf, "events").withColumn(
            "_salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
        partial = (ev.groupBy("event_type", "_salt")
                   .agg(F.count("*").alias("_n"),
                        F.sum("value").alias("_s")))
        return (partial.groupBy("event_type")
                .agg(F.sum("_n").alias("n"),
                     _dec(F.sum("_s"), 2).alias("sum_value")))
    q["c8_salted_agg"] = c8_salted_agg

    # ---- C9: anti-join resume -------------------------------------------
    def c9_anti_join_resume(spark, sf):
        orders = _t(spark, sf, "orders")
        done = orders.filter(F.col("o_orderkey") % 10 == 0) \
                     .select("o_orderkey")
        return (orders.join(done, "o_orderkey", "left_anti")
                .groupBy("o_orderpriority")
                .agg(F.count("*").alias("n")))
    q["c9_anti_join_resume"] = c9_anti_join_resume

    # ---- C11: top-k report ----------------------------------------------
    def c11_topk_sources(spark, sf):
        return (_t(spark, sf, "documents")
                .groupBy("source")
                .agg(F.count("*").alias("n_docs"),
                     _dec(F.avg("n_chars"), 4).alias("avg_chars"))
                .orderBy(F.desc("n_docs"), "source")
                .limit(10))
    q["c11_topk_sources"] = c11_topk_sources

    # ---- TPC-H Q1-shaped pricing summary ---------------------------------
    def q1_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem").filter(
            F.col("l_shipdate") <= "1998-09-02")
        disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (li.groupBy("l_returnflag", "l_linestatus")
                .agg(_dec(F.sum("l_quantity"), 2).alias("sum_qty"),
                     _dec(F.sum("l_extendedprice"), 2)
                     .alias("sum_base_price"),
                     _dec(F.sum(disc), 2).alias("sum_disc_price"),
                     _dec(F.sum(disc * (1 + F.col("l_tax"))), 2)
                     .alias("sum_charge"),
                     _dec(F.avg("l_quantity"), 4).alias("avg_qty"),
                     _dec(F.avg("l_extendedprice"), 4).alias("avg_price"),
                     _dec(F.avg("l_discount"), 4).alias("avg_disc"),
                     F.count("*").alias("count_order")))
    q["q1_pricing_summary"] = q1_pricing_summary

    # ---- time-bucketed metrics -------------------------------------------
    def events_hourly(spark, sf):
        return (_t(spark, sf, "events")
                .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                       "yyyy-MM-dd HH:mm:ss")
                         .alias("hour_str"),
                         "event_type")
                .agg(F.count("*").alias("n"),
                     _dec(F.sum("value"), 2).alias("sum_value")))
    q["events_hourly"] = events_hourly

    # ---- cube / grouping sets --------------------------------------------
    def cube_stats(spark, sf):
        return (_t(spark, sf, "documents")
                .cube("lang", "source")
                .agg(F.count("*").alias("n"))
                .select(F.coalesce("lang", F.lit("(all)")).alias("lang_g"),
                        F.coalesce("source", F.lit("(all)"))
                        .alias("source_g"),
                        "n"))
    q["cube_stats"] = cube_stats

    # ---- rollup (hierarchical grouping sets) -------------------------------
    def rollup_stats(spark, sf):
        return (_t(spark, sf, "documents")
                .rollup("lang", "source")
                .agg(F.count("*").alias("n"),
                     _dec(F.sum("n_chars"), 2).alias("sum_chars"))
                .select(F.coalesce("lang", F.lit("(all)")).alias("lang_g"),
                        F.coalesce("source", F.lit("(all)"))
                        .alias("source_g"),
                        "n", "sum_chars"))
    q["rollup_stats"] = rollup_stats

    # ---- set ops: INTERSECT ALL --------------------------------------------
    def intersect_orders(spark, sf):
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_orderpriority")
        sample_a = orders.filter(F.col("o_orderkey") % 3 == 0)
        sample_b = orders.filter(F.col("o_orderkey") % 5 == 0)
        return sample_a.intersectAll(sample_b)
    q["intersect_orders"] = intersect_orders

    # ---- window running aggregate ------------------------------------------
    def running_sum(spark, sf):
        w = (Window.partitionBy("user_id")
             .orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, 0))
        return (_t(spark, sf, "events")
                .select("event_id", "user_id",
                        _dec(F.sum("value").over(w), 2)
                        .alias("running_value")))
    q["running_sum"] = running_sum

    # ---- semi join -----------------------------------------------------------
    def semi_join_customers(spark, sf):
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        big = orders.filter(F.col("o_totalprice") > 100000) \
                    .select("o_custkey")
        return (cust.join(big, cust.c_custkey == big.o_custkey,
                          "left_semi")
                .groupBy("c_mktsegment")
                .agg(F.count("*").alias("n_customers")))
    q["semi_join_customers"] = semi_join_customers

    # ---- pivot (native Spark pivot; oracle mirrors via CASE) ---------------
    def pivot_event_values(spark, sf):
        ev = _t(spark, sf, "events")
        types = ["click", "view", "error", "purchase"]
        wide = (ev.groupBy("user_id")
                .pivot("event_type", types)
                .agg(F.sum("value")))
        cols = [F.col("user_id")] + [
            _dec(F.coalesce(F.col(t), F.lit(0.0)), 2).alias(f"sum_{t}")
            for t in types]
        return wide.select(*cols)
    q["pivot_event_values"] = pivot_event_values

    # ---- tumbling event-time windows (F.window ~ time_bucket) -------------
    def events_tumbling(spark, sf):
        ev = _t(spark, sf, "events")
        return (ev.groupBy(F.window("ts", "15 minutes").alias("w"),
                           "event_type")
                .agg(F.count("*").alias("n"),
                     _dec(F.sum("value"), 2).alias("sum_value"))
                .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                        .alias("w_start"), "event_type", "n",
                        "sum_value"))
    q["events_tumbling"] = events_tumbling

    # ---- set ops: EXCEPT ---------------------------------------------------
    def except_orders(spark, sf):
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_orderpriority")
        done = orders.filter(F.col("o_orderkey") % 7 == 0)
        return orders.exceptAll(done)
    q["except_orders"] = except_orders

    # ---- captured fields → long format (C6 flattening; rows-only BUT
    # value-pinned: the 'text' capture rows are kept only when they
    # equal the synthesized ground truth, so the row COUNT the driver
    # records moves if extraction values drift — not just cardinality) ------
    # ORACLE-VALUE-CHECKED via staged generator truth (r05 promotion;
    # was rows-only): every SCALAR capture of every well-formed page
    # must come back byte-identical to the slot value the renderer
    # consumed — the north rule's "captured fields per url" leg. A
    # missing ok row, an extra ok row, or a one-byte field drift
    # fails the hash. List captures (tags/posts) stay pinned by the
    # parity-fixture ring (their fields_json form is engine
    # serialization, not generator truth).
    def fields_long(spark, sf):
        from pyspark.sql import types as T
        from weakscraper_spark.plans.pipeline import synth_and_extract
        from weakscraper_spark.sources.synth import (
            SCALAR_TRUTH_FIELDS, synth_fields_truth)
        n = 400
        truth = synth_fields_truth(spark, n).select(
            "url", F.col("warc_ts").cast("string").alias("warc_ts"),
            "field", "value")
        _stage_truth(truth, "fields_long")
        scalars = sorted({f for fs in SCALAR_TRUTH_FIELDS.values()
                          for f in fs})
        out = synth_and_extract(spark, n).filter("status = 'ok'")
        fields = F.from_json(
            "fields_json", T.MapType(T.StringType(), T.StringType()))
        return (out
                .select("url",
                        F.col("warc_ts").cast("string").alias("warc_ts"),
                        F.explode(fields).alias("field", "value"))
                .filter(F.col("field").isin(scalars)))
    q["fields_long"] = fields_long

    # ---- sessionization (lag + gap cutoff + session agg) -------------------
    def sessionize_events(spark, sf):
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gapped = ev.withColumn(
            "_prev", F.lag("ts").over(w)
        ).withColumn(
            "_new",
            F.when(F.col("_prev").isNull() |
                   (F.unix_timestamp("ts") -
                    F.unix_timestamp("_prev") > 1800), 1).otherwise(0))
        sess = gapped.withColumn(
            "session_no", F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
        return (sess.groupBy("user_id", "session_no")
                .agg(F.count("*").alias("n_events"),
                     _dec(F.sum("value"), 2).alias("session_value")))
    q["sessionize_events"] = sessionize_events

    # ---- template induction round-trip (C12; rows-only — engine op) -------
    # ORACLE-VALUE-CHECKED via staged generator truth (r05 promotion;
    # was rows-only): the induced template's captures must return the
    # exact SLOT values the renderer consumed — title (h1), author,
    # main text, and the variable footer — for every sample. Slot
    # numbering (slot_1..slot_6, document order) is the deterministic
    # induction output; the query maps it to semantic names.
    def induce_roundtrip(spark, sf):
        from weakscraper_spark.enginelib import induce_template
        from weakscraper_spark.enginelib.match import extract
        from weakscraper_spark.sources.synth import (
            make_slots, render_page)
        slotlist = [make_slots("t_article", f"ind:{i}")
                    for i in range(4)]
        samples = [render_page("t_article", s)[0] for s in slotlist]
        truth = spark.createDataFrame(
            [(i, "ok", s["title"], s["author"], s["text"], s["junk"])
             for i, s in enumerate(slotlist)],
            "sample_id long, status string, title string, "
            "author string, text string, junk string")
        _stage_truth(truth, "induce_roundtrip")
        spec = induce_template(samples)
        rows = []
        for i, html in enumerate(samples):
            r = extract(spec, html)
            f = r["fields"] or {}
            rows.append((i, r["status"], f.get("slot_2"),
                         f.get("slot_3"), f.get("slot_4"),
                         f.get("slot_6")))
        return spark.createDataFrame(
            rows, "sample_id long, status string, title string, "
                  "author string, text string, junk string")
    q["induce_roundtrip"] = induce_roundtrip

    # ---- approx distinct (HLL sketch; engines' sketches differ →
    # rows-only, exactness is covered by the count/sum twins) ---------------
    def source_acd(spark, sf):
        return (_t(spark, sf, "documents")
                .groupBy("source")
                .agg(F.approx_count_distinct("doc_id").alias("acd_docs"),
                     F.count("*").alias("n")))
    q["source_acd"] = source_acd

    # ---- distributed induction stage — ORACLE-VALUE-CHECKED via
    # staged truth (r06 promotion): synth renders every page from a
    # KNOWN per-host template, so the expected registry is a closed
    # form over the page relation alone (groupBy host): induction
    # succeeds ('ok', template_id = 't_<host>') whenever a host has
    # ≥2 sample pages and is a deterministic error:TemplateError row
    # below that (enginelib/induce.py needs two samples to separate
    # slots from statics). n_samples = min(k, pages). Any regression
    # — a host failing alignment, wrong sampling, dropped rows —
    # breaks the hash. Slot-level truth is pinned by
    # induce_roundtrip; this certifies the DISTRIBUTED stage. --------------
    def induce_hosts(spark, sf):
        from weakscraper_spark.operators.induction import induce_templates
        from weakscraper_spark.plans.pipeline import prepare_pages
        from weakscraper_spark.sources.synth import synth_pages
        pages = prepare_pages(synth_pages(spark, 300))
        truth = (pages.groupBy("host")
                 .agg(F.count("*").alias("n"))
                 .select(
                     F.col("host").alias("host_pattern"),
                     F.when(F.col("n") >= 2,
                            F.concat(F.lit("t_"), "host"))
                      .alias("template_id"),
                     F.least("n", F.lit(4)).cast("int")
                      .alias("n_samples"),
                     F.when(F.col("n") >= 2, F.lit("ok"))
                      .otherwise(F.lit("error:TemplateError"))
                      .alias("status")))
        _stage_truth(truth, "induce_hosts")
        return (induce_templates(pages, k=4)
                .select("host_pattern", "template_id", "n_samples",
                        "status"))
    q["induce_hosts"] = induce_hosts

    # ---- training-data ops: dedup family ----------------------------------
    def dedup_exact(spark, sf):
        from weakscraper_spark.operators.dedup import exact_dedup
        return exact_dedup(_t(spark, sf, "documents"))
    q["dedup_exact"] = dedup_exact

    def minhash_lsh(spark, sf):
        from weakscraper_spark.operators.dedup import minhash_lsh_pairs
        return minhash_lsh_pairs(_t(spark, sf, "documents"))
    q["minhash_lsh"] = minhash_lsh

    def jaccard_pairs(spark, sf):
        from weakscraper_spark.operators.dedup import ngram_jaccard_pairs
        return ngram_jaccard_pairs(_t(spark, sf, "documents"),
                                   max_df=100, min_jaccard=0.05)
    q["jaccard_pairs"] = jaccard_pairs

    def para_dedup(spark, sf):
        # CCNet-style paragraph dedup. documents.text has no newlines,
        # so "paragraphs" = consecutive 8-word chunks (the span-dedup
        # form) — the chunking is mirrored verbatim in the oracle.
        from weakscraper_spark.operators.dedup import paragraph_dedup
        w = 8
        # tokens materialized as a column first (lambda-CSE trap:
        # slice on the raw split expression re-tokenizes per chunk)
        tk = _t(spark, sf, "documents").select(
            "doc_id", _tokens().alias("_t"))
        n_chunks = F.ceil(F.size("_t") / w).cast("int")
        chunked = tk.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("_t"), i * w + 1, w), " ")),
                "\n").alias("text"))
        out = paragraph_dedup(chunked)
        return out.select("doc_id", "text_dedup",
                          F.col("n_pars").cast("long").alias("n_pars"),
                          "n_kept")
    q["para_dedup"] = para_dedup

    def line_freq(spark, sf):
        # C4's boilerplate-line rule over the same 8-word chunking as
        # para_dedup: every chunk occurring in >2 distinct docs is
        # removed EVERYWHERE (not first-kept); mirrored in SQL
        from weakscraper_spark.operators.dedup import (
            line_frequency_filter)
        w = 8
        tk = _t(spark, sf, "documents").select(
            "doc_id", _tokens().alias("_t"))
        n_chunks = F.ceil(F.size("_t") / w).cast("int")
        chunked = tk.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("_t"), i * w + 1, w), " ")),
                "\n").alias("text"))
        out = line_frequency_filter(chunked, max_docs=2)
        return out.select("doc_id", "text_kept",
                          F.col("n_lines").cast("long").alias("n_lines"),
                          "n_kept")
    q["line_freq"] = line_freq

    def compression_ratios(spark, sf):
        # zlib redundancy signal — ORACLE-VALUE-CHECKED via staged
        # truth (r06 promotion): DuckDB has no zlib, so the truth is
        # computed in a plain DRIVER-side loop (duckdb parquet read →
        # python zlib), independent of the Spark/Arrow execution path
        # under test, then staged for the oracle to SELECT back.
        # Decimal formatting mirrors _dec(col, 4): Spark's round()
        # operates on BigDecimal.valueOf(double) — the shortest
        # decimal repr — so Decimal(repr(x)) + HALF_UP quantize is
        # the exact twin. Bounded: one pass over the documents table
        # driver-side (the table is small at test sfs; the OPERATOR
        # is the distributed path).
        import os
        from decimal import ROUND_HALF_UP, Decimal

        import duckdb
        import zlib
        from weakscraper_spark.operators.textstats import (
            with_compression_ratio)
        con = duckdb.connect()
        pdf = con.execute(
            "SELECT doc_id, text FROM read_parquet(?)",
            [os.path.join(sf, "documents.parquet")]).df()
        con.close()
        rows = []
        for did, t in zip(pdf["doc_id"], pdf["text"]):
            if not isinstance(t, str) or not t:
                rows.append((int(did), 0, 0, None))
                continue
            b = t.encode("utf-8")
            c = len(zlib.compress(b, 6))
            ratio = round(c / len(b), 6)
            s = str(Decimal(repr(ratio)).quantize(
                Decimal("0.0001"), ROUND_HALF_UP))
            rows.append((int(did), len(b), c, s))
        _stage_truth(
            spark.createDataFrame(
                rows, "doc_id long, n_raw_bytes long, "
                      "n_compressed_bytes long, ratio string"),
            "compression_ratios")
        out = with_compression_ratio(_t(spark, sf, "documents"))
        return out.select(
            "doc_id", "n_raw_bytes", "n_compressed_bytes",
            _dec(F.col("compression_ratio"), 4).alias("ratio"))
    q["compression_ratios"] = compression_ratios

    def pack_seqs(spark, sf):
        # pretraining sequence-packing placement: md5-binned shards,
        # per-bin running token offsets, window indices — the whole
        # placement value-checked against the mirrored draw in SQL
        from weakscraper_spark.operators.corpus import pack_sequences
        return pack_sequences(_t(spark, sf, "documents"),
                              seq_len=128, n_bins=4)
    q["pack_seqs"] = pack_seqs

    def incr_dedup(spark, sf):
        # incremental corpus update: every 5th doc arrives as "new",
        # the rest are the existing corpus; verdicts value-checked
        from weakscraper_spark.operators.dedup import incremental_dedup
        docs = _t(spark, sf, "documents")
        return incremental_dedup(
            docs.filter(F.col("doc_id") % 5 == 0),
            docs.filter(F.col("doc_id") % 5 != 0))
    q["incr_dedup"] = incr_dedup

    def dup_components(spark, sf):
        # transitive duplicate clusters: MinHash-LSH pairs → iterative
        # min-label connected components; value-checked against a
        # recursive-CTE DuckDB twin over the same pair set
        from weakscraper_spark.operators.dedup import minhash_lsh_pairs
        from weakscraper_spark.operators.graph import dedup_clusters
        return dedup_clusters(
            minhash_lsh_pairs(_t(spark, sf, "documents")))
    q["dup_components"] = dup_components

    def minhash_overcap(spark, sf):
        # the auditable side output of the LSH bucket cap: which
        # (band, bkey) clusters exceed the cap (here 2, to exercise it
        # at sandbox scale) and how many docs each holds — capped
        # clusters are explicit, never silently dropped
        from weakscraper_spark.operators.dedup import (
            minhash_overcap_buckets)
        return (minhash_overcap_buckets(_t(spark, sf, "documents"),
                                        max_bucket=2)
                .select(F.col("band").cast("long").alias("band"),
                        "bkey", "n_docs"))
    q["minhash_overcap"] = minhash_overcap

    def overcap_canonicals(spark, sf):
        # cluster-level dedup of exactly the buckets the pairwise cap
        # excludes: (doc, canonical) per over-cap member — with the
        # pair query this closes the cap's coverage hole
        from weakscraper_spark.operators.dedup import (
            minhash_overcap_canonicals)
        return minhash_overcap_canonicals(_t(spark, sf, "documents"),
                                          max_bucket=2)
    q["overcap_canonicals"] = overcap_canonicals

    def winnow_fps(spark, sf):
        # winnowing fingerprint selection (rolling k-gram hash +
        # per-doc window min) — value-checked via zipped-unnest twin
        from weakscraper_spark.operators.textstats import (
            winnow_fingerprints)
        return winnow_fingerprints(_t(spark, sf, "documents"))
    q["winnow_fps"] = winnow_fps

    def simhash_docs(spark, sf):
        # oracle-checked: md5-based bit majority mirrored in DuckDB
        from weakscraper_spark.operators.dedup import simhash
        return simhash(_t(spark, sf, "documents"))
    q["simhash_docs"] = simhash_docs

    def simhash_pairs(spark, sf):
        # oracle-checked: banding is recall-exact for max_hamming, so
        # the result equals the brute-force Hamming twin in DuckDB
        from weakscraper_spark.operators.dedup import simhash_near_pairs
        return simhash_near_pairs(_t(spark, sf, "documents"),
                                  max_hamming=8)
    q["simhash_pairs"] = simhash_pairs

    # ---- similarity search -------------------------------------------------
    def embedding_topk(spark, sf):
        from weakscraper_spark.operators.similarity import cosine_topk
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return (cosine_topk(emb, queries_df, k=5)
                .withColumn("rank", F.col("rank").cast("long")))
    q["embedding_topk"] = embedding_topk

    def embedding_near_dup(spark, sf):
        # threshold 0.35 ≈ the 99.8th percentile of pair cosine on the
        # driver's embeddings tables (near-orthogonal vectors; max
        # ~0.5) — high enough to be a near-dup call, low enough that
        # the oracle compares a non-trivial pair set (~260 at sf0.01)
        from weakscraper_spark.operators.similarity import cosine_near_pairs
        return cosine_near_pairs(_t(spark, sf, "embeddings"),
                                 threshold=0.35)
    q["embedding_near_dup"] = embedding_near_dup

    def lsh_near_dup(spark, sf):
        # value-checked: the SRP planes are deterministic hash-derived
        # constants, so the oracle inlines them as literals and
        # reproduces bucket assignment + in-bucket cosine exactly.
        # max_bucket=48 makes the hot-bucket cap ACTIVE at this scale
        # (drops the 2 buckets >48 of 16 at sf0.01) — mirrored by a
        # HAVING-count CTE in the oracle; the excluded buckets are the
        # srp_overcap query's rows.
        from weakscraper_spark.operators.similarity import (
            srp_cosine_near_pairs)
        return srp_cosine_near_pairs(_t(spark, sf, "embeddings"),
                                     threshold=0.35, n_planes=4,
                                     max_bucket=48)
    q["lsh_near_dup"] = lsh_near_dup

    def srp_overcap(spark, sf):
        # audit side output of lsh_near_dup's cap: the SRP buckets too
        # dense for pairwise candidate generation (cluster-dedup
        # territory) — same auditable-cap contract as minhash_overcap
        from weakscraper_spark.operators.similarity import (
            srp_overcap_buckets)
        return srp_overcap_buckets(_t(spark, sf, "embeddings"),
                                   n_planes=4, max_bucket=48)
    q["srp_overcap"] = srp_overcap

    def lsh_ann_topk(spark, sf):
        # value-checked (same literal-plane mirror as lsh_near_dup),
        # with the corpus-side cap ACTIVE (drops the one bucket >18 at
        # sf0.01) and Hamming-1 multi-probe on 2 bits — both mirrored
        # in the oracle (HAVING cap + xor probe fan-out)
        from weakscraper_spark.operators.similarity import lsh_cosine_topk
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return (lsh_cosine_topk(emb, queries_df, k=5, n_planes=6,
                                max_bucket=18, multi_probe=2)
                .withColumn("rank", F.col("rank").cast("long")))
    q["lsh_ann_topk"] = lsh_ann_topk

    def semantic_dedup(spark, sf):
        # SemDeDup (Abbas et al. 2023) with the PRETRAINED-quantizer
        # form: hash-derived unit centroids are deterministic
        # constants, so the oracle inlines them as literals and
        # mirrors assignment (argmax cosine, ties → higher index),
        # the cluster-size cap (max_cluster=68 drops the two 70-doc
        # clusters at sf0.01 — cap ACTIVE, mirrored via HAVING), and
        # the keep-low-centroid-sim pair dominance rule exactly. The
        # data-trained k-means path is covered by the planted-recall
        # pytest (iterative quantizer — not SQL-expressible).
        from weakscraper_spark.operators.similarity import (
            semantic_dedup as sdd, semdedup_centroids)
        out = sdd(_t(spark, sf, "embeddings"),
                  centroids=semdedup_centroids(8, 64),
                  threshold=0.35, max_cluster=68)
        return out.select(
            "vec_id", F.col("cluster_id").cast("int").alias("cluster_id"),
            _dec(F.col("cent_sim"), 6).alias("cent_sim"), "status")
    q["semantic_dedup"] = semantic_dedup

    # ---- corpus compositions (one-call cleaning + sampling) --------------
    def corpus_clean(spark, sf):
        # composed quality gate -> exact dedup -> near-dup removal,
        # per-doc auditable verdict; value-checked END-TO-END (the
        # composition order is part of the mirrored contract)
        from weakscraper_spark.operators.corpus import clean_corpus
        return clean_corpus(_t(spark, sf, "documents"),
                            min_quality=0.25)
    q["corpus_clean"] = corpus_clean

    def contamination(spark, sf):
        # train/eval 3-gram contamination: eval set = every 17th doc
        # (deterministic benchmark stand-in); broadcast-side eval
        from weakscraper_spark.operators.corpus import (
            contamination_overlap)
        docs = _t(spark, sf, "documents")
        return contamination_overlap(
            docs.filter(F.col("doc_id") % 17 != 0),
            docs.filter(F.col("doc_id") % 17 == 0))
    q["contamination"] = contamination

    def url_canon(spark, sf):
        # canonicalization + url-level dedup over deterministically
        # messied variants (case/port/www/tracking-params/fragment/
        # trailing slash) — the messying is mirrored in the oracle
        from weakscraper_spark.operators.urlnorm import url_dedup
        d = F.col("doc_id")
        messy = _t(spark, sf, "documents").select(
            F.concat(
                F.when(d % 2 == 0, F.lit("HTTPS://WWW.Site"))
                .otherwise(F.lit("https://site")),
                (d % 7).cast("string"),
                F.when(d % 2 == 0, F.lit(".COM:443"))
                .otherwise(F.lit(".com")),
                F.lit("/Article/"), (d % 50).cast("string"),
                F.when(d % 3 == 0,
                       F.lit("/?utm_source=feed&b=2&a=1#frag"))
                .when(d % 3 == 1, F.lit("?b=2&a=1"))
                .otherwise(F.lit("/"))).alias("url"))
        return url_dedup(messy)
    q["url_canon"] = url_canon

    def crawl_waves(spark, sf):
        # politeness scheduling over a skewed host mix (h0 carries
        # ~1/3 of urls); hash-based waves, no per-host window
        from weakscraper_spark.operators.urlnorm import crawl_schedule
        d = F.col("doc_id")
        hidx = F.when(d % 3 == 0, F.lit(0)).otherwise(d % 20)
        urls = _t(spark, sf, "documents").select(
            F.concat(F.lit("https://h"), hidx.cast("string"),
                     F.lit(".example.com/d/"),
                     d.cast("string")).alias("url"))
        return crawl_schedule(urls, per_host=4)
    q["crawl_waves"] = crawl_waves

    def robots_frontier(spark, sf):
        # robots policy over a synthetic frontier: even hosts
        # disallow /private/, odd hosts allow all. The operator runs
        # the REAL stdlib robots parser; the oracle mirrors the
        # synthetic policy's closed form — value-checked end-to-end
        from weakscraper_spark.operators.robots import robots_filter
        d = F.col("doc_id")
        hidx = d % 10
        path = F.when(d % 4 == 0,
                      F.concat(F.lit("/private/p"), d.cast("string"))) \
            .otherwise(F.concat(F.lit("/public/p"), d.cast("string")))
        urls = _t(spark, sf, "documents").select(
            F.concat(F.lit("https://r"), hidx.cast("string"),
                     F.lit(".example.com"), path).alias("url"))
        hosts = spark.range(10).select(
            F.concat(F.lit("r"), F.col("id").cast("string"),
                     F.lit(".example.com")).alias("host"),
            F.when(F.col("id") % 2 == 0,
                   F.lit("User-agent: *\nDisallow: /private/\n"
                         "Crawl-delay: 2"))
            .otherwise(F.lit("")).alias("robots_txt"))
        return robots_filter(urls, hosts)
    q["robots_frontier"] = robots_frontier

    def frontier(spark, sf):
        # the composed crawl-side pipeline (canonicalize → dedup →
        # robots → schedule); rows-only, fully deterministic output
        from weakscraper_spark.plans.frontier import build_frontier_plan
        d = F.col("doc_id")
        raw = _t(spark, sf, "documents").select(
            F.concat(
                F.when(d % 2 == 0, F.lit("HTTPS://WWW.F"))
                .otherwise(F.lit("https://f")),
                (d % 6).cast("string"),
                F.lit(".example.com"),
                F.when(d % 4 == 0,
                       F.concat(F.lit("/private/p"), d.cast("string")))
                .otherwise(F.concat(F.lit("/p/"), d.cast("string"))),
                F.when(d % 2 == 0, F.lit("?utm_source=x"))
                .otherwise(F.lit(""))).alias("url"))
        robots = spark.range(6).select(
            F.concat(F.lit("f"), F.col("id").cast("string"),
                     F.lit(".example.com")).alias("host"),
            F.lit("User-agent: *\nDisallow: /private/")
            .alias("robots_txt"))
        return build_frontier_plan(raw, robots, per_host=4)
    q["frontier"] = frontier

    def sample_strata(spark, sf):
        # deterministic hash-based stratified sampling (resume-stable,
        # no RNG) — the draw itself is mirrored bit-for-bit
        from weakscraper_spark.operators.corpus import hash_sample
        return (hash_sample(_t(spark, sf, "documents"), "lang",
                            {"en": 0.5, "es": 0.25})
                .select("doc_id", "lang", "source"))
    q["sample_strata"] = sample_strata

    def ivf_ann_topk(spark, sf):
        # ORACLE-VALUE-CHECKED via staged truth (r06 promotion, the
        # compression_ratios recipe): the quantizer is iterative (not
        # SQL-expressible), but the DISTRIBUTED part under test —
        # assignment, probe join, exact re-rank — has an independent
        # driver-side twin: duckdb reads the embeddings, the sample /
        # Lloyd / assignment / probe / rank semantics are replayed in
        # plain Python with SEQUENTIAL left-to-right float folds
        # (matching F.aggregate exactly — numpy's pairwise reduce
        # would diverge at 1e-16 and flip near-tie ranks), and the
        # expected (query, neighbor, rank) rows are staged for the
        # oracle to SELECT back.
        import os

        import duckdb
        import numpy as np
        from weakscraper_spark.operators.similarity import (
            _ivf_centroids, ivf_topk)
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding")

        n_lists, n_probe, k = 16, 4, 5
        cents = np.array(
            _ivf_centroids(emb, "vec_id", "embedding", n_lists,
                           2048, 5), dtype=np.float64)
        con = duckdb.connect()
        pdf = con.execute(
            "SELECT vec_id, embedding FROM read_parquet(?) "
            "ORDER BY vec_id",
            [os.path.join(sf, "embeddings.parquet")]).df()
        con.close()
        ids = [int(x) for x in pdf["vec_id"]]
        vecs = [[float(v) for v in e] for e in pdf["embedding"]]

        def dot_seq(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + x * y
            return acc

        def norm_seq(a):
            acc = 0.0
            for x in a:
                acc = acc + x * x
            return acc ** 0.5

        def ranked_lists(v, n):
            # mirror _best_lists EXACTLY: rank by RAW sequential dot
            # (centroids are Lloyd-normalized to 1 ± ~1e-16, so
            # dividing by norm(c) here would make the twin a
            # not-quite-bit-exact mirror that can flip a near-tie
            # between two centroids — r06 advice); sort (sim, idx)
            # desc — ties → higher idx, matching reverse(array_sort)
            sims = [(dot_seq(v, list(c)), i)
                    for i, c in enumerate(cents)]
            sims.sort(reverse=True)
            return [i for _, i in sims[:n]]

        assign = {vid: ranked_lists(v, 1)[0]
                  for vid, v in zip(ids, vecs)}
        rows = []
        for qid, qv in zip(ids, vecs):
            if qid >= 8:
                continue
            probes = set(ranked_lists(qv, n_probe))
            scored = []
            for nid, nv in zip(ids, vecs):
                if nid == qid or assign[nid] not in probes:
                    continue
                sim = dot_seq(qv, nv) / (norm_seq(qv) * norm_seq(nv))
                scored.append((-sim, nid))
            scored.sort()
            for r, (_, nid) in enumerate(scored[:k], start=1):
                rows.append((qid, nid, r))
        _stage_truth(
            spark.createDataFrame(
                rows, "query_id long, neighbor_id long, rank long"),
            "ivf_ann_topk")
        return (ivf_topk(emb, queries_df, k=k, n_lists=n_lists,
                         n_probe=n_probe)
                .withColumn("rank", F.col("rank").cast("long")))
    q["ivf_ann_topk"] = ivf_ann_topk

    # ---- text analysis ------------------------------------------------------
    def token_counts(spark, sf):
        from weakscraper_spark.operators.textstats import with_token_count
        return (with_token_count(_t(spark, sf, "documents"))
                .select("doc_id",
                        F.col("n_tokens").cast("long").alias("n_tokens"),
                        F.col("n_subtokens").cast("long")
                        .alias("n_subtokens"),
                        F.col("len_chars").cast("long").alias("len_chars")))
    q["token_counts"] = token_counts

    def repetition(spark, sf):
        from weakscraper_spark.operators.textstats import (
            repetition_stats)
        out = repetition_stats(_t(spark, sf, "documents"))
        return out.select(
            "doc_id", F.col("n_words").cast("long").alias("n_words"),
            _dec(F.col("top_ngram_char_frac"), 6).alias("top2_frac"),
            _dec(F.col("dup_ngram_char_frac"), 6).alias("dup5_frac"))
    q["repetition"] = repetition

    def gopher_flags(spark, sf):
        # published Gopher A1.1 quality rules as auditable per-doc
        # flags (min_words lowered to 30 so the sandbox corpus
        # exercises both verdicts)
        from weakscraper_spark.operators.textstats import (
            gopher_quality_flags)
        out = gopher_quality_flags(_t(spark, sf, "documents"),
                                   min_words=30)
        return out.select(
            "doc_id", F.col("n_words").cast("long").alias("n_words"),
            _dec(F.col("avg_word_len"), 4).alias("avg_word_len"),
            _dec(F.col("symbol_ratio"), 4).alias("symbol_ratio"),
            _dec(F.col("alpha_word_ratio"), 4).alias("alpha_word_ratio"),
            "ok_words", "ok_word_len", "ok_symbols", "ok_alpha",
            "gopher_pass")
    q["gopher_flags"] = gopher_flags

    def pii_scrub(spark, sf):
        # PII redaction over deterministically injected emails/IPs/
        # phones (the injection is mirrored in the oracle, so counts
        # AND the scrubbed text are value-checked)
        from weakscraper_spark.operators.textstats import scrub_pii
        d = F.col("doc_id")
        injected = _t(spark, sf, "documents").select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(d % 3 == 0,
                       F.concat(F.lit(" contact user"),
                                d.cast("string"),
                                F.lit("@example.com now")))
                .otherwise(F.lit("")),
                F.when(d % 4 == 0, F.lit(" from 192.168.1.10 logged"))
                .otherwise(F.lit("")),
                F.when(d % 5 == 0,
                       F.concat(F.lit(" call +1 555 010 "),
                                (d % 90 + 10).cast("string")))
                .otherwise(F.lit(""))).alias("text"))
        out = scrub_pii(injected)
        return out.select(
            "doc_id",
            F.col("n_email").cast("long").alias("n_email"),
            F.col("n_ip").cast("long").alias("n_ip"),
            F.col("n_phone").cast("long").alias("n_phone"),
            "text_scrubbed")
    q["pii_scrub"] = pii_scrub

    def lm_scores(spark, sf):
        # perplexity-filter stand-in: corpus-trained add-k bigram LM,
        # mean log-prob per doc (CCNet-style quality signal)
        from weakscraper_spark.operators.textstats import (
            bigram_logprob)
        out = bigram_logprob(_t(spark, sf, "documents"))
        return out.select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            _dec(F.col("avg_logprob"), 4).alias("avg_logprob"))
    q["lm_scores"] = lm_scores

    def doc_len_quantiles(spark, sf):
        # exact percentiles (linear interpolation — same definition
        # as DuckDB quantile_cont)
        docs = _t(spark, sf, "documents")
        qs = F.expr(
            "percentile(n_chars, array(0.25, 0.5, 0.75, 0.95))")
        return (docs.groupBy("lang")
                .agg(F.count("*").alias("n"), qs.alias("_q"))
                .select("lang", "n",
                        _dec(F.col("_q")[0], 2).alias("p25"),
                        _dec(F.col("_q")[1], 2).alias("p50"),
                        _dec(F.col("_q")[2], 2).alias("p75"),
                        _dec(F.col("_q")[3], 2).alias("p95")))
    q["doc_len_quantiles"] = doc_len_quantiles

    def grouping_sets_stats(spark, sf):
        _t(spark, sf, "documents").createOrReplaceTempView("_docs_gs")
        return spark.sql("""
            SELECT coalesce(lang, '(all)') AS lang_g,
                   coalesce(source, '(all)') AS source_g,
                   count(*) AS n, sum(n_chars) AS chars
            FROM _docs_gs
            GROUP BY GROUPING SETS ((lang, source), (source), ())
        """)
    q["grouping_sets_stats"] = grouping_sets_stats

    def bm25_search(spark, sf):
        # lexical retrieval: Okapi BM25 for a fixed 3-term query,
        # scores value-checked term-for-term against the SQL twin
        from weakscraper_spark.operators.search import bm25_scores
        out = bm25_scores(_t(spark, sf, "documents"),
                          ["spark", "shuffle", "table"])
        return out.select("doc_id",
                          F.col("n_hits").cast("long").alias("n_hits"),
                          _dec(F.col("score"), 4).alias("score"))
    q["bm25_search"] = bm25_search

    def hybrid_search(spark, sf):
        # hybrid retrieval: BM25 top-50 + cosine top-50 (query =
        # embedding of vec_id 0; doc ids and vec ids share the 0..N
        # key space) fused with reciprocal-rank fusion
        from weakscraper_spark.operators.search import (
            bm25_scores, rrf_fuse)
        from weakscraper_spark.operators.similarity import cosine_topk
        lex = bm25_scores(_t(spark, sf, "documents"),
                          ["spark", "shuffle", "table"])
        lex_top = lex.orderBy(F.desc("score"), "doc_id").limit(50)
        wl = Window.orderBy(F.desc("score"), "doc_id")
        lex_rank = lex_top.select(
            "doc_id", F.row_number().over(wl).alias("rank"))
        emb = _t(spark, sf, "embeddings")
        vec_rank = (cosine_topk(emb,
                                emb.filter(F.col("vec_id") == 0)
                                .select(F.col("vec_id")
                                        .alias("query_id"),
                                        "embedding"),
                                k=50)
                    .select(F.col("neighbor_id").alias("doc_id"),
                            "rank"))
        out = rrf_fuse([lex_rank, vec_rank])
        return out.select("doc_id", "n_lists",
                          _dec(F.col("rrf_score"), 6).alias("rrf"))
    q["hybrid_search"] = hybrid_search

    def quality_scores(spark, sf):
        from weakscraper_spark.operators.textstats import with_quality_score
        return (with_quality_score(_t(spark, sf, "documents"))
                .select("doc_id",
                        F.col("n_tokens").cast("long").alias("n_tokens"),
                        "avg_token_len", "uniq_ratio", "quality_score"))
    q["quality_scores"] = quality_scores

    def fingerprints(spark, sf):
        from weakscraper_spark.operators.textstats import with_fingerprint
        return (with_fingerprint(_t(spark, sf, "documents"))
                .select("doc_id", "fingerprint"))
    q["fingerprints"] = fingerprints

    def lang_id(spark, sf):
        # oracle-checked: the stopword/script heuristic is mirrored
        # decision-for-decision in DuckDB (the Pandas-UDF path itself
        # is what's under test)
        from weakscraper_spark.operators.textstats import with_lang_id
        return (with_lang_id(_t(spark, sf, "documents"))
                .select("doc_id", "lang", "predicted_lang"))
    q["lang_id"] = lang_id

    # ---- PDF/layout parse plumbing — ORACLE-VALUE-CHECKED via staged
    # truth (r06 promotion, the r05 recipe): the expected per-page
    # rows are derived purely from the CHUNKING expressions (never
    # from pdf_extract), staged to parquet, and the oracle SELECTs
    # them back. A row survives the Spark side only when the parsed
    # page text round-trips the source chunk exactly, so any dropped/
    # reordered page, wrong n_lines, or wrong blob length breaks the
    # hash. pdf_real_pages below drives the REAL %PDF- kernel --------------
    def pdf_pages(spark, sf):
        from weakscraper_spark.operators.pdf import pdf_extract
        w = 15
        tk = _t(spark, sf, "documents").select(
            "doc_id", _tokens().alias("_t"))
        n_chunks = F.ceil(F.size("_t") / w).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(F.col("_t"), i * w + 1, w), " "))
        docs = tk.select("doc_id", chunks.alias("pages"))
        blobs = docs.select(
            "doc_id",
            F.encode(F.concat(
                F.lit("%FPDF"),
                F.to_json(F.struct(F.col("pages").alias("pages")))),
                "UTF-8").alias("blob"))
        # staged truth: page_no/n_lines from the chunk list, n_bytes
        # from the blob column — both generator-side expressions,
        # independent of the parse path under test. Chunks are
        # whitespace-token joins, so a non-empty chunk is exactly one
        # line; the empty-text doc yields one empty chunk (0 lines).
        truth = (docs.join(blobs, "doc_id")
                 .select("doc_id",
                         F.length("blob").alias("n_bytes"),
                         F.posexplode("pages").alias("page_no", "want"))
                 .select("doc_id", "page_no",
                         F.when(F.col("want") == "", 0).otherwise(1)
                          .cast("int").alias("n_lines"),
                         "n_bytes"))
        _stage_truth(truth, "pdf_pages")
        out = pdf_extract(blobs, blob_col="blob")
        expect = docs.select(
            "doc_id", F.posexplode("pages").alias("page_no", "want"))
        return (out.join(expect, ["doc_id", "page_no"])
                .filter("status = 'ok' AND text = want")
                .select("doc_id", "page_no", "n_lines", "n_bytes"))
    q["pdf_pages"] = pdf_pages

    # ---- REAL %PDF- kernel end-to-end, ORACLE-VALUE-CHECKED: render
    # each document's 15-token chunks as a spec-valid multi-page PDF
    # (FlateDecode streams, operators/pdf.py::render_minimal_pdf),
    # parse it back distributed (object scan → page tree → inflate →
    # text operators), and emit per-page rows; DuckDB recomputes the
    # chunking from `documents` directly, so every byte of extracted
    # page text is hash-compared against the source ----------------------
    def pdf_real_pages(spark, sf):
        import pandas as pd
        from weakscraper_spark.operators.pdf import (
            pdf_extract, render_minimal_pdf)
        w = 15
        tk = _t(spark, sf, "documents").select(
            "doc_id", _tokens().alias("_t"))
        n_chunks = F.ceil(F.size("_t") / w).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(F.col("_t"), i * w + 1, w), " "))
        docs = tk.select("doc_id", chunks.alias("pages"))

        def render(batches):
            for pdf in batches:
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"],
                    "blob": [render_minimal_pdf(list(p))
                             for p in pdf["pages"]]})

        # two chained Python stages over a single-split scan would run
        # on one core end to end (guide §2.5) — fan out first
        from weakscraper_spark.operators.fanout import fan_out
        blobs = fan_out(docs).mapInPandas(render,
                                          "doc_id long, blob binary")
        return (pdf_extract(blobs, blob_col="blob")
                .select("doc_id",
                        F.col("page_no").cast("long").alias("page_no"),
                        "status", "text",
                        F.col("n_lines").cast("long").alias("n_lines")))
    q["pdf_real_pages"] = pdf_real_pages

    # ---- the extraction operator itself, ORACLE-VALUE-CHECKED
    # (promoted from value-pinned rows-only, VERDICT r04 #3): the
    # UNFILTERED engine output for every url is hash-compared against
    # the staged generator truth — the oracle enumerates the expected
    # latest-snapshot rows (ok ⇔ ground-truth text nonempty, text
    # byte-identical for ok rows, NULL otherwise), so ANY wrong/missing
    # extraction flips the driver's hash. Detailed status taxonomy and
    # n_nodes stay pinned by the pytest parity ring ------------------------
    def extract_pages(spark, sf):
        from weakscraper_spark.plans.pipeline import synth_and_extract
        from weakscraper_spark.sources.synth import synth_pages
        n = 2000 if "0.01" in sf else (20000 if "0.1" in sf else 600)
        out = synth_and_extract(spark, n)
        _stage_truth(synth_pages(spark, n)
                     .select("url", "warc_ts", "text"), "extract_pages")
        return out.select("url", "template_id",
                          (F.col("status") == "ok").alias("ok"), "text")
    q["extract_pages"] = extract_pages

    # ---- extraction WITH capture spans — ORACLE-VALUE-CHECKED via
    # staged generator truth (r05 promotion; was rows-only): the
    # "text" field captures the content element, whose [start, end)
    # source offsets the GENERATOR derives independently of the
    # engine — a JVM substring search (instr) over the rendered html
    # vs the parser's position tracking. Every well-formed page must
    # extract ok AND carry exactly the truth span: a missing row or a
    # one-character drift fails the hash (north rule's "text/spans
    # per url" leg; per-field slice exactness is additionally pinned
    # corpus-wide in tests/test_spans.py) -------------------------------
    def extract_spans(spark, sf):
        from weakscraper_spark.operators.extract import extract_pages
        from weakscraper_spark.plans.pipeline import (
            attach_template, prepare_pages)
        from weakscraper_spark.sources.synth import (
            compiled_specs, synth_pages, synth_templates)
        n = 1000 if "0.01" in sf else (3000 if "0.1" in sf else 400)
        pages = synth_pages(spark, n)
        markers = ('<div class="content">', '<div class="desc">',
                   '<div class="main">')
        h = F.col("html").cast("string")
        pos = F.greatest(*[F.instr(h, m) for m in markers])
        mlen = F.coalesce(*[
            F.when(F.instr(h, m) > 0, F.lit(len(m))) for m in markers])
        truth = (pages
                 .filter(pos > 0)
                 .select("url",
                         F.col("warc_ts").cast("string").alias("warc_ts"),
                         (pos - 1).cast("long").alias("span_start"),
                         (pos - 1 + mlen + F.length("text") + 6)
                         .cast("long").alias("span_end")))
        _stage_truth(truth, "extract_spans")
        staged = attach_template(prepare_pages(pages),
                                 synth_templates(spark))
        out = extract_pages(staged, compiled_specs(), spans=True)
        return (out.filter(F.col("status") == "ok")
                .select("url",
                        F.col("warc_ts").cast("string").alias("warc_ts"),
                        F.get_json_object("spans_json", "$.text[0][0]")
                        .cast("long").alias("span_start"),
                        F.get_json_object("spans_json", "$.text[0][1]")
                        .cast("long").alias("span_end")))
    q["extract_spans"] = extract_spans

    # ---- template-FREE extraction: boilerplate strip via shallow
    # text features (WSDM'10 rules; enginelib/boiler.py),
    # ORACLE-VALUE-CHECKED (VERDICT r04 #3): rows keep the
    # filter-on-truth contract (survive only when the largest content
    # block equals the synthesized main text byte-for-byte), and the
    # oracle independently enumerates EVERY nonempty-truth snapshot
    # from the staged generator table — a single missed/wrong recovery
    # is a driver-visible rows/hash mismatch. Block-count internals
    # stay pinned in tests/test_boiler.py -----------------------------------
    def boiler_extract(spark, sf):
        from weakscraper_spark.operators.heuristic import (
            heuristic_extract)
        from weakscraper_spark.sources.synth import synth_pages
        n = 2000 if "0.01" in sf else (20000 if "0.1" in sf else 600)
        pages = synth_pages(spark, n, min_words=48)
        _stage_truth(pages.select("url", "warc_ts", "text"),
                     "boiler_extract")
        out = heuristic_extract(pages)
        truth = pages.select("url", "warc_ts",
                             F.col("text").alias("truth"))
        return (out.join(truth, ["url", "warc_ts"])
                .filter((F.col("truth") != "") &
                        (F.col("text") == F.col("truth")))
                .select("url",
                        F.date_format("warc_ts",
                                      "yyyy-MM-dd HH:mm:ss")
                        .alias("ts_str"),
                        "status", "text"))
    q["boiler_extract"] = boiler_extract

    # ---- template-first + in-stage heuristic fallback: the status
    # mix is the pinned value (template successes unchanged; mismatch
    # pages rescued as ok_heuristic — rows-only, drift moves counts) -------
    def extract_rescued(spark, sf):
        from weakscraper_spark.plans.pipeline import build_extract_plan
        from weakscraper_spark.sources.synth import (
            compiled_specs, synth_pages, synth_templates)
        n = 2000 if "0.01" in sf else (20000 if "0.1" in sf else 600)
        pages = synth_pages(spark, n, min_words=48)
        # ORACLE-VALUE-CHECKED (VERDICT r04 #3): the oracle classifies
        # every staged latest-snapshot page from its SOURCE SHAPE
        # (nonempty truth → template 'ok'; the alien-table skeleton →
        # rescued 'ok_heuristic', its ≥48-word td is always the
        # largest content block; the truncated-dangling-tag pages →
        # unrescuable 'failed') and hash-compares the class counts;
        # exact failure-status strings stay pinned in pytest
        _stage_truth(pages.select("url", "warc_ts", "html", "text"),
                     "extract_rescued")
        out = build_extract_plan(pages, synth_templates(spark),
                                 compiled_specs(), fallback="heuristic")
        cls = (F.when(F.col("status").isin("ok", "ok_heuristic"),
                      F.col("status"))
               .otherwise(F.lit("failed")))
        return (out.groupBy(cls.alias("status_class"))
                .agg(F.count("*").alias("n")).orderBy("status_class"))
    q["extract_rescued"] = extract_rescued

    # ---- WARC ingestion, ORACLE-VALUE-CHECKED: render one gzip'd
    # WARC archive per document (response record wrapping the doc
    # text as an HTML body; every 7th doc is an image/png record that
    # the pages view must FILTER), parse distributed, and compare
    # url/timestamp/body/byte-count against DuckDB's direct
    # reconstruction from `documents` ---------------------------------------
    def warc_ingest(spark, sf):
        import pandas as pd
        from weakscraper_spark.sources.warc import build_warc, warc_pages
        docs = _t(spark, sf, "documents").select("doc_id", "text")

        def mk(batches):
            for pdf in batches:
                paths, blobs = [], []
                for did, text in zip(pdf["doc_id"], pdf["text"]):
                    mime = ("image/png" if did % 7 == 0
                            else "text/html; charset=utf-8")
                    rec = {"type": "response",
                           "url": f"https://w{did % 20}.example.com"
                                  f"/d/{did}",
                           "date": "2024-05-01T00:00:00Z",
                           "body": f"<html><body>{text}</body></html>",
                           "http_status": 200, "mime": mime}
                    paths.append(f"part-{did}.warc.gz")
                    blobs.append(build_warc([rec]))
                yield pd.DataFrame({"path": paths, "content": blobs})

        files = docs.mapInPandas(mk, "path string, content binary")
        return (warc_pages(files)
                .select("url",
                        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss")
                        .alias("ts_str"),
                        F.decode("html", "UTF-8").alias("html_text"),
                        F.col("n_bytes").cast("long").alias("n_bytes")))
    q["warc_ingest"] = warc_ingest

    # ---- charset sniff + decode, ORACLE-VALUE-CHECKED: three
    # encoding scenarios per doc (meta-declared latin-1, undeclared
    # utf-8, undeclared latin-1 that must fall back), WHATWG sniff
    # order mirrored as a closed form in SQL -------------------------------
    def decode_pages(spark, sf):
        from weakscraper_spark.operators.charset import decode_html
        d = F.col("doc_id")
        body = F.concat(F.lit("<p>"), F.col("text"),
                        F.lit(" café</p>"))
        declared = F.concat(F.lit('<meta charset="iso-8859-1">'), body)
        raw = (F.when(d % 3 == 0, F.encode(declared, "ISO-8859-1"))
               .when(d % 3 == 1, F.encode(body, "UTF-8"))
               .otherwise(F.encode(body, "ISO-8859-1")))
        src = _t(spark, sf, "documents").select(
            "doc_id", raw.alias("html"))
        return (decode_html(src)
                .select("doc_id", "text_decoded", "encoding", "status"))
    q["decode_pages"] = decode_pages

    # ---- head-metadata extraction, ORACLE-VALUE-CHECKED: synthesize
    # title/description/canonical/og/lang/h1 from doc fields, walk
    # the real DOM parser distributed, mirror the fields in SQL ------------
    def page_meta(spark, sf):
        from weakscraper_spark.operators.metadata import page_metadata
        d = F.col("doc_id")
        html = F.concat(
            F.lit('<html lang="en"><head><title>Doc '),
            d.cast("string"),
            F.lit('</title><meta name="description" content="'),
            F.col("source"), F.lit(' doc">'),
            F.when(d % 2 == 0, F.concat(
                F.lit('<link rel="canonical" '
                      'href="https://c.example.com/'),
                d.cast("string"), F.lit('">'))).otherwise(F.lit("")),
            F.lit("</head><body><h1>H"), d.cast("string"),
            F.lit("</h1><p>"), F.col("text"),
            F.lit("</p></body></html>"))
        src = _t(spark, sf, "documents").select(
            F.concat(F.lit("https://m.example.com/"),
                     d.cast("string")).alias("url"),
            F.encode(html, "UTF-8").alias("html"))
        return page_metadata(src).select(
            "url", "title", "meta_description", "canonical",
            "og_title", "lang_attr", "h1", "status")
    q["page_meta"] = page_meta

    # ---- raw-crawl extraction: synth pages packed into gzip'd WARC
    # archives IN-STAGE → record parse → charset decode → template
    # extract → dedup-latest, hash-compared against staged truth -----------
    def raw_extract(spark, sf):
        import pandas as pd
        from weakscraper_spark.plans.pipeline import build_extract_plan
        from weakscraper_spark.plans.raw_pipeline import warc_to_pages
        from weakscraper_spark.sources.synth import (
            compiled_specs, synth_pages, synth_templates)
        from weakscraper_spark.sources.warc import build_warc
        n = 2000 if "0.01" in sf else (6000 if "0.1" in sf else 600)
        pages = synth_pages(spark, n)

        def pack(batches):
            for pdf in batches:
                recs = [
                    {"type": "response", "url": u,
                     "date": pd.Timestamp(ts).strftime(
                         "%Y-%m-%dT%H:%M:%SZ"),
                     "body": bytes(h), "http_status": 200,
                     "mime": "text/html; charset=utf-8"}
                    for u, ts, h in zip(pdf["url"], pdf["warc_ts"],
                                        pdf["html"])]
                yield pd.DataFrame({"path": ["mem.warc.gz"],
                                    "content": [build_warc(recs)]})

        files = pages.select("url", "warc_ts", "html") \
            .mapInPandas(pack, "path string, content binary")
        out = build_extract_plan(warc_to_pages(files),
                                 synth_templates(spark),
                                 compiled_specs())
        # ORACLE-VALUE-CHECKED (VERDICT r04 #3): unfiltered chain
        # output vs the staged generator truth — same contract as
        # extract_pages, but the bytes additionally survived WARC
        # framing + gzip + charset decode
        _stage_truth(synth_pages(spark, n)
                     .select("url", "warc_ts", "text"), "raw_extract")
        return out.select("url", (F.col("status") == "ok").alias("ok"),
                          "text")
    q["raw_extract"] = raw_extract

    # ---- END-TO-END corpus build: pages → extract(+fallback) →
    # quality/dedup verdict, ORACLE-VALUE-CHECKED on the cleaning
    # composition (VERDICT r04 #3): the extracted (url, text) corpus
    # is staged to parquet and DuckDB independently recomputes the
    # quality/exact-dup/near-dup verdict reason counts from it with
    # the same mirrored SQL as corpus_clean — the extraction leg's
    # bytes are hash-checked by extract_pages/raw_extract ------------------
    def web_corpus(spark, sf):
        from weakscraper_spark.plans.corpus_pipeline import (
            build_corpus_plan)
        from weakscraper_spark.plans.pipeline import build_extract_plan
        from weakscraper_spark.sources.synth import (
            compiled_specs, synth_pages, synth_templates)
        n = 1000 if "0.01" in sf else (4000 if "0.1" in sf else 400)
        pages = synth_pages(spark, n, min_words=48)
        extracted = build_extract_plan(
            pages, synth_templates(spark), compiled_specs(),
            fallback="heuristic")
        _stage_truth(
            extracted.filter(F.col("status").isin("ok", "ok_heuristic"))
            .select("url", "text"), "web_corpus")
        _cleaned, verdict = build_corpus_plan(
            pages, synth_templates(spark), compiled_specs(),
            min_quality=0.2)
        return (verdict.groupBy("reason")
                .agg(F.count("*").alias("n")).orderBy("reason"))
    q["web_corpus"] = web_corpus

    # ---- link-graph family (r05): deterministic linked pages →
    # outlink extraction (pure-JVM regexp scan, narrow map) → host
    # graph → PageRank / anchor aggregation. ORACLE-VALUE-CHECKED
    # via generator-side staged truth: the generator emits the
    # resolved outlink + anchor ground truth it rendered into the
    # html, Spark must RECOVER it from the raw markup, and DuckDB
    # replays the downstream graph math from the truth — so href
    # resolution, host aggregation, 10 unrolled PageRank iterations
    # (incl. dangling-mass handling) and the anchor top-k are all
    # hash-compared.
    def _linked(spark, sf):
        from weakscraper_spark.sources.synth import synth_linked_pages
        n = 2000 if "0.01" in sf else (20000 if "0.1" in sf else 600)
        return synth_linked_pages(spark, n)

    def link_graph(spark, sf):
        from weakscraper_spark.operators.links import (
            extract_links, host_graph)
        pages = _linked(spark, sf)
        _stage_truth(pages.select("url", "links"), "link_graph")
        return (host_graph(extract_links(pages))
                .orderBy("src_host", "dst_host"))
    q["link_graph"] = link_graph

    def host_rank(spark, sf):
        from weakscraper_spark.operators.links import (
            extract_links, host_graph, pagerank)
        pages = _linked(spark, sf)
        _stage_truth(pages.select("url", "links"), "host_rank")
        ranks = pagerank(host_graph(extract_links(pages)), iters=10)
        return (ranks.select("node", _dec(F.col("rank"), 8)
                             .alias("rank")).orderBy("node"))
    q["host_rank"] = host_rank

    # ---- ADAPTIVE RECRAWL PLANNER (plans/recrawl.py, r06): the
    # crawl-side operational loop — host-graph PageRank (importance)
    # × snapshot churn → quantile-banded recrawl intervals. Planted
    # churn over the SAME linked-host universe; the oracle composes
    # the pagerank CTE twin with the churn closed form and mirrors
    # score/thresholds/banding exactly. -------------------------------------
    def recrawl_plan(spark, sf):
        from weakscraper_spark.operators.drift import (
            snapshot_change_rate)
        from weakscraper_spark.operators.links import (
            extract_links, host_graph, pagerank)
        from weakscraper_spark.plans.recrawl import plan_recrawl
        pages = _linked(spark, sf)
        _stage_truth(pages.select("url", "links"), "recrawl_plan")
        ranks = pagerank(host_graph(extract_links(pages)), iters=10)
        i = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
        host = F.lower(F.regexp_extract(
            "url", r"^[^:/?#]+://([^/?#:]*)", 1))
        base = pages.select("url", i.alias("i"), host.alias("host"))
        ii = F.col("i")
        old = base.select(
            "host", "url",
            F.concat(F.lit("c"), ii.cast("string"))
             .alias("content_hash"))
        kept = base.filter(ii % 10 != 0).select(
            "host", "url",
            F.concat(F.when(ii % 7 == 0, F.lit("x"))
                      .otherwise(F.lit("c")), ii.cast("string"))
             .alias("content_hash"))
        added = base.filter(ii % 11 == 0).select(
            "host",
            F.concat(F.col("url"), F.lit("?v=2")).alias("url"),
            F.concat(F.lit("a"), ii.cast("string"))
             .alias("content_hash"))
        churn = snapshot_change_rate(old, kept.unionByName(added))
        plan = plan_recrawl(ranks, churn)
        return plan.select(
            "host", _dec(F.col("rank"), 8).alias("rank"),
            _dec(F.col("change_rate"), 6).alias("change_rate"),
            _dec(F.col("score"), 8).alias("score"), "interval_days")
    q["recrawl_plan"] = recrawl_plan

    def anchor_topk(spark, sf):
        from weakscraper_spark.operators.links import (
            anchor_topk as _atk, extract_links)
        pages = _linked(spark, sf)
        z = (pages.select(F.explode(F.arrays_zip("links", "anchors"))
                          .alias("z"))
             .select(F.col("z.links").alias("dst_url"),
                     F.col("z.anchors").alias("anchor")))
        _stage_truth(z, "anchor_topk")
        return (_atk(extract_links(pages), k=3)
                .orderBy("dst_host", "rn"))
    q["anchor_topk"] = anchor_topk

    # ---- domain-mixture resampling (r05): token-budget curriculum
    # sampling over the documents table; the md5 accept draw, the
    # per-domain rates, and the kept rows are all closed-form —
    # fully oracle-checked with no staging
    def mix_corpus(spark, sf):
        from weakscraper_spark.operators.corpus import mix_domains
        # budget 16k at ~500 docs: en runs at rate ~0.68 while es/de
        # overshoot their allocations and CAP at 1.0 — both sides of
        # the least(1, ·) rule are value-checked. Weights are binary-
        # exact (0.5/0.25/0.25) so normalization cannot perturb the
        # accept threshold vs the oracle's literals.
        out = mix_domains(_t(spark, sf, "documents"), "lang",
                          {"en": 0.5, "es": 0.25, "de": 0.25},
                          budget_tokens=16_000)
        return (out.groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_tokens").alias("sum_tokens"),
                     _dec(F.min("rate"), 6).alias("rate"))
                .orderBy("lang"))
    q["mix_corpus"] = mix_corpus

    def chunk_docs(spark, sf):
        # fixed-window token chunking (doc -> training examples):
        # sliding windows of 48 tokens advancing by 32, truncated
        # final window kept iff >= 4 tokens. Narrow map + explode,
        # zero shuffle.
        from weakscraper_spark.operators.corpus import chunk_tokens
        return chunk_tokens(_t(spark, sf, "documents"),
                            size=48, stride=32, min_tokens=4)
    q["chunk_docs"] = chunk_docs

    def sitemap_entries(spark, sf):
        # sitemap discovery round-trip: synthesize urlset XML (20
        # host sitemaps + 1 sitemapindex) deterministically from
        # doc_id arithmetic — CDATA-wrapped locs, entity-escaped &,
        # missing optional fields, a non-numeric priority — parse
        # with the narrow-map operator, and the oracle states the
        # CLOSED FORM of what must come back out.
        from weakscraper_spark.operators.sitemap import parse_sitemaps
        d = F.col("doc_id")
        loc = F.concat(
            F.lit("https://site"), (d % 20).cast("string"),
            F.lit(".example.org/page/"), d.cast("string"),
            F.when(d % 5 == 0, F.lit("?a=1&b=2")).otherwise(F.lit("")))
        loc_xml = F.when(
            d % 7 == 0,
            F.concat(F.lit("<loc><![CDATA["), loc, F.lit("]]></loc>"))
        ).otherwise(F.concat(
            F.lit("<loc>"),
            F.replace(loc, F.lit("&"), F.lit("&amp;")),
            F.lit("</loc>")))
        lastmod = F.when(d % 3 != 0, F.concat(
            F.lit("<lastmod>2025-"),
            F.format_string("%02d", (d % 12 + 1).cast("int")),
            F.lit("-"),
            F.format_string("%02d", (d % 28 + 1).cast("int")),
            F.lit("</lastmod>"))).otherwise(F.lit(""))
        freqs = F.array(*[F.lit(s) for s in (
            "always", "hourly", "daily", "weekly", "monthly",
            "yearly", "never")])
        changefreq = F.when(d % 4 == 0, F.concat(
            F.lit("<changefreq>"),
            F.element_at(freqs, (d % 7 + 1).cast("int")),
            F.lit("</changefreq>"))).otherwise(F.lit(""))
        priority = (
            F.when(d % 30 == 0, F.lit("<priority>n/a</priority>"))
            .when(d % 3 == 0, F.concat(
                F.lit("<priority>0."), (d % 10).cast("string"),
                F.lit("</priority>")))
            .otherwise(F.lit("")))
        block = F.concat(F.lit("<url>"), loc_xml, lastmod,
                         changefreq, priority, F.lit("</url>"))
        sets = (_t(spark, sf, "documents")
                .select((d % 20).alias("sm"), block.alias("b"))
                .groupBy("sm")
                .agg(F.concat(
                    F.lit('<?xml version="1.0"?><urlset xmlns='
                          '"http://www.sitemaps.org/schemas/'
                          'sitemap/0.9">'),
                    F.concat_ws("", F.collect_list("b")),
                    F.lit("</urlset>")).alias("xml"))
                .select(F.concat(
                    F.lit("https://example.org/sitemaps/"),
                    F.col("sm").cast("string"),
                    F.lit(".xml")).alias("url"), "xml"))
        index = (sets.select(F.concat(
            F.lit("<sitemap><loc>"), F.col("url"),
            F.lit("</loc></sitemap>")).alias("b"))
            .agg(F.concat(
                F.lit("<sitemapindex>"),
                F.concat_ws("", F.collect_list("b")),
                F.lit("</sitemapindex>")).alias("xml"))
            .select(F.lit("https://example.org/sitemap_index.xml")
                    .alias("url"), "xml"))
        out = parse_sitemaps(sets.unionByName(index))
        return out.select("sitemap_url", "kind", "loc", "lastmod",
                          "changefreq",
                          _dec(F.col("priority"), 1).alias("priority"))
    q["sitemap_entries"] = sitemap_entries

    def robots_sitemaps(spark, sf):
        # robots.txt -> Sitemap: directive discovery (the hand-off
        # into parse_sitemaps). Synthesized robots files plant the
        # tolerances: mixed case, leading whitespace, value-stops-at-
        # whitespace, multiple directives, files with none.
        from weakscraper_spark.operators.sitemap import sitemap_urls
        h = F.col("hid")
        hosts = (_t(spark, sf, "documents")
                 .select((F.col("doc_id") % 20).alias("hid"))
                 .distinct())
        txt = F.concat(
            F.lit("# synthetic\nUser-agent: *\nDisallow: /private\n"),
            F.when(h % 2 == 0, F.concat(
                F.lit("Sitemap: https://h"), h.cast("string"),
                F.lit(".example.org/sitemap.xml\n")))
            .otherwise(F.lit("")),
            F.when(h % 3 == 0, F.concat(
                F.lit("  sitemap:https://h"), h.cast("string"),
                F.lit(".example.org/news.xml # comment\n")))
            .otherwise(F.lit("")))
        robots = hosts.select(
            F.concat(F.lit("h"), h.cast("string"),
                     F.lit(".example.org")).alias("host"),
            txt.alias("robots_txt"))
        return sitemap_urls(robots)
    q["robots_sitemaps"] = robots_sitemaps

    def tfidf_keywords(spark, sf):
        # top-3 tf-idf keywords per document (smoothed idf + 1,
        # deterministic term-asc tie-break); the rank window runs
        # over the (doc, term) aggregate, WindowGroupLimit map-side.
        from weakscraper_spark.operators.search import tfidf_topk
        out = tfidf_topk(_t(spark, sf, "documents"), k=3)
        return out.select("doc_id", "term", "tf",
                          _dec(F.col("score"), 6).alias("score"),
                          F.col("rn").cast("long").alias("rn"))
    q["tfidf_keywords"] = tfidf_keywords

    def host_split(spark, sf):
        # leakage-free train/val/test: the whole SOURCE lands in one
        # split (group-held-out hashing, zero-shuffle narrow map);
        # binary-exact fractions so both engines cut at identical
        # double boundaries.
        from weakscraper_spark.operators.corpus import split_by_group
        out = split_by_group(
            _t(spark, sf, "documents").select("doc_id", "source"),
            "source", {"train": 0.5, "val": 0.25, "test": 0.25})
        return out.select("doc_id", "source", "split")
    q["host_split"] = host_split

    def url_filter(spark, sf):
        # URL-string corpus gate (RefinedWeb-style): score before
        # fetch. Urls synthesized deterministically with planted
        # blocked domains and strict/soft spam terms.
        from weakscraper_spark.operators.urlnorm import (
            url_quality_filter)
        d = F.col("doc_id")
        urls = _t(spark, sf, "documents").select(
            F.concat(
                F.lit("https://"),
                F.when(d % 11 == 0, F.lit("www.casino.example"))
                .when(d % 7 == 0, F.lit("sub.linkfarm.example"))
                .otherwise(F.concat(F.lit("site"),
                                    (d % 19).cast("string"),
                                    F.lit(".example.org"))),
                F.lit("/page/"), (d % 50).cast("string"),
                F.when(d % 13 == 0, F.lit("/free-money-winner"))
                .when(d % 17 == 0, F.lit("/xxx-content"))
                .when(d % 5 == 0, F.lit("/download"))
                .otherwise(F.lit("/article"))).alias("url"))
        out = url_quality_filter(urls)
        return out.select("url", "host", "reg_domain",
                          _dec(F.col("url_score"), 1).alias("url_score"),
                          "blocked_domain", "keep")
    q["url_filter"] = url_filter

    def epoch_shuffle(spark, sf):
        # deterministic per-epoch global shuffle: md5-keyed
        # permutation with DISTRIBUTED position assignment
        # (range-partition + per-partition row_number + offsets);
        # the oracle's single-node row_number must match exactly.
        from weakscraper_spark.operators.corpus import epoch_shuffle
        return epoch_shuffle(_t(spark, sf, "documents"),
                             seed=5, num_partitions=8)
    q["epoch_shuffle"] = epoch_shuffle

    # ---- RSS/Atom feed ingestion (operators/feeds.py): synthesize
    # 10 RSS + 10 Atom feeds deterministically from doc_id arithmetic
    # (CDATA titles, entity-escaped hrefs, guid attributes, Atom
    # link-preference distractors, published→updated fallback,
    # summary→content fallback, a no-link entry) and the oracle
    # states the CLOSED FORM of what must parse back out -------------------
    def _feed_corpus(spark, sf):
        d = F.col("doc_id")
        ds = d.cast("string")
        fs = (d % 20).cast("string")
        host = F.concat(F.lit("https://h"), fs, F.lit(".example.org"))
        link = F.concat(
            host, F.lit("/post/"), ds,
            F.when(d % 5 == 0, F.lit("?x=1&y=2")).otherwise(F.lit("")))
        esc = F.replace(link, F.lit("&"), F.lit("&amp;"))
        title = F.when(d % 7 == 0, F.concat(
            F.lit("<title><![CDATA[T & "), ds, F.lit("]]></title>"))
        ).otherwise(F.concat(
            F.lit("<title>T &amp; "), ds, F.lit("</title>")))
        mm = F.format_string("%02d", (d % 12 + 1).cast("int"))
        dd = F.format_string("%02d", (d % 28 + 1).cast("int"))
        rss_item = F.concat(
            F.lit("<item>"),
            F.when(d % 3 == 0, F.concat(
                F.lit('<guid isPermaLink="false">tag:'), ds,
                F.lit("</guid>"))).otherwise(F.lit("")),
            F.lit("<link>"), esc, F.lit("</link>"), title,
            F.when(d % 3 != 0, F.concat(
                F.lit("<pubDate>Mon, "), dd,
                F.lit(" Jan 2025 00:00:00 GMT</pubDate>")))
             .otherwise(F.lit("")),
            F.when(d % 4 == 0, F.concat(
                F.lit("<description>sum "), ds,
                F.lit("</description>"))).otherwise(F.lit("")),
            F.lit("</item>"))
        atom_entry = F.concat(
            F.lit("<entry>"),
            # rel="self" distractor: the preference rule must skip it
            F.lit('<link rel="self" href="'), host,
            F.lit('/feed.xml"/>'),
            F.when(d % 13 == 0, F.lit(""))
             .when(d % 2 == 0, F.concat(
                 F.lit('<link rel="alternate" href="'), esc,
                 F.lit('"/>')))
             .otherwise(F.concat(
                 F.lit('<link href="'), esc, F.lit('"/>'))),
            F.lit("<id>urn:doc:"), ds, F.lit("</id>"), title,
            F.when(d % 3 != 0, F.concat(
                F.lit("<published>2025-"), mm, F.lit("-"), dd,
                F.lit("T00:00:00Z</published>")))
             .otherwise(F.concat(
                F.lit("<updated>2025-"), mm, F.lit("-"), dd,
                F.lit("T12:00:00Z</updated>"))),
            F.when(d % 4 == 0, F.concat(
                F.lit("<summary>sum "), ds, F.lit("</summary>")))
             .when(d % 4 == 1, F.concat(
                F.lit('<content type="text">c '), ds,
                F.lit("</content>")))
             .otherwise(F.lit("")),
            F.lit("</entry>"))
        body = F.when(d % 20 < 10, rss_item).otherwise(atom_entry)
        rss_hdr = F.concat(
            F.lit('<?xml version="1.0"?><rss version="2.0">'
                  "<channel><title>Feed "), F.col("fid").cast("string"),
            F.lit(" &amp; co</title><link>https://h"),
            F.col("fid").cast("string"), F.lit(".example.org/</link>"))
        atom_hdr = F.concat(
            F.lit('<?xml version="1.0"?>'
                  '<feed xmlns="http://www.w3.org/2005/Atom">'
                  "<title>Feed "), F.col("fid").cast("string"),
            F.lit(' &amp; co</title><link rel="self" href="https://h'),
            F.col("fid").cast("string"),
            F.lit('.example.org/feed.xml"/>'
                  '<link rel="alternate" href="https://h'),
            F.col("fid").cast("string"),
            F.lit('.example.org/"/><id>urn:feed:'),
            F.col("fid").cast("string"), F.lit("</id>"))
        return (_t(spark, sf, "documents")
                .select((d % 20).alias("fid"), body.alias("b"))
                .groupBy("fid")
                .agg(F.concat_ws("", F.collect_list("b")).alias("bs"))
                .select(
                    F.concat(F.lit("https://h"),
                             F.col("fid").cast("string"),
                             F.lit(".example.org/feed.xml")).alias("url"),
                    F.when(F.col("fid") < 10, F.concat(
                        rss_hdr, F.col("bs"), F.lit("</channel></rss>")))
                     .otherwise(F.concat(
                        atom_hdr, F.col("bs"), F.lit("</feed>")))
                     .alias("xml")))

    def feed_entries(spark, sf):
        from weakscraper_spark.operators.feeds import parse_feeds
        return parse_feeds(_feed_corpus(spark, sf))
    q["feed_entries"] = feed_entries

    def feed_headers(spark, sf):
        from weakscraper_spark.operators.feeds import feed_meta
        plain = spark.range(1).select(
            F.lit("https://plain.example.org/page.html").alias("url"),
            F.lit("<html><body><p>not syndicated</p></body></html>")
             .alias("xml"))
        return feed_meta(_feed_corpus(spark, sf).unionByName(plain))
    q["feed_headers"] = feed_headers

    # ---- positional inverted index + exact-phrase retrieval
    # (operators/search.py): postings restricted map-side to a term
    # subset, and a phrase fold incl. the repeated-term overlap case
    # ("batch batch") — arrays stringified for the cross-engine hash ----
    def postings_index(spark, sf):
        from weakscraper_spark.operators.search import build_postings
        p = build_postings(_t(spark, sf, "documents"),
                           terms=["merge", "batch", "join"])
        return p.select("term", "doc_id", "tf",
                        F.array_join("positions", ",").alias("positions"))
    q["postings_index"] = postings_index

    def phrase_hits(spark, sf):
        from weakscraper_spark.operators.search import phrase_search
        docs = _t(spark, sf, "documents")
        out = None
        for terms in (["batch", "batch"], ["sort", "merge"]):
            r = (phrase_search(docs, terms)
                 .withColumn("phrase", F.lit(" ".join(terms))))
            out = r if out is None else out.unionByName(r)
        return out.select(
            "phrase", "doc_id", "n_matches",
            F.array_join("first_positions", ",").alias("first_positions"))
    q["phrase_hits"] = phrase_hits

    # ---- template-drift detection (operators/drift.py): synthesized
    # per-host (ts, ok) extraction statuses — even hosts redesign at
    # day 5, odd hosts only background noise — the largest
    # day-over-day error-rate jump per host, vs a full SQL mirror ---------
    def drift_hosts(spark, sf):
        from weakscraper_spark.operators.drift import drift_points
        d = F.col("doc_id")
        h = d % 20
        k = F.floor(d / 20) % 10
        obs = _t(spark, sf, "documents").select(
            F.concat(F.lit("h"), h.cast("string")).alias("host"),
            F.date_add(F.lit("2025-03-01").cast("date"),
                       k.cast("int")).alias("ts"),
            (~(((h % 2 == 0) & (k >= 5) & (d % 4 != 0)) |
               ((h % 2 == 1) & (d % 17 == 0)))).alias("ok"))
        out = drift_points(obs)
        return out.select(
            "host", F.col("drift_day").cast("string").alias("drift_day"),
            _dec(F.col("rate_before"), 6).alias("rate_before"),
            _dec(F.col("rate_after"), 6).alias("rate_after"),
            _dec(F.col("jump"), 6).alias("jump"),
            "n_days")
    q["drift_hosts"] = drift_hosts

    # ---- sentence segmentation (operators/textstats.py): the corpus
    # text gets deterministic terminators injected (after the marker
    # words), then the splitter's boundary-cluster/tail/trim/token
    # rules are mirrored in DuckDB ------------------------------------------
    def doc_sentences(spark, sf):
        from weakscraper_spark.operators.textstats import (
            segment_sentences)
        punct = _t(spark, sf, "documents").select(
            "doc_id",
            F.regexp_replace("text", r" (join|row|data) ", " $1. ")
             .alias("text"))
        return segment_sentences(punct, min_tokens=1)
    q["doc_sentences"] = doc_sentences

    # ---- discovery integration: sitemap locs + feed links (the two
    # discovery sources) unioned into url_dedup — www/trailing-slash/
    # fragment variants collapse onto the feed's clean urls; the
    # oracle states the closed form of the collapsed frontier --------------
    def discovered_frontier(spark, sf):
        from weakscraper_spark.operators.feeds import parse_feeds
        from weakscraper_spark.operators.sitemap import parse_sitemaps
        from weakscraper_spark.operators.urlnorm import url_dedup
        d = F.col("doc_id")
        ds = d.cast("string")
        fs = (d % 20).cast("string")
        loc = F.concat(F.lit("https://WWW.h"), fs,
                       F.lit(".example.org/post/"), ds,
                       F.lit("/#frag"))
        block = F.concat(F.lit("<url><loc>"), loc,
                         F.lit("</loc></url>"))
        sets = (_t(spark, sf, "documents")
                .select((d % 20).alias("sm"), block.alias("b"))
                .groupBy("sm")
                .agg(F.concat(
                    F.lit("<urlset>"),
                    F.concat_ws("", F.collect_list("b")),
                    F.lit("</urlset>")).alias("xml"))
                .select(F.concat(
                    F.lit("https://h"), F.col("sm").cast("string"),
                    F.lit(".example.org/sitemap.xml")).alias("url"),
                    "xml"))
        sm_urls = parse_sitemaps(sets).select(F.col("loc").alias("url"))
        feed_urls = (parse_feeds(_feed_corpus(spark, sf))
                     .filter(F.col("link").isNotNull())
                     .select(F.col("link").alias("url")))
        return url_dedup(sm_urls.unionByName(feed_urls))
    q["discovered_frontier"] = discovered_frontier

    # ---- snapshot churn (operators/drift.py): planted same/changed/
    # removed/added rows between two synthesized crawl snapshots; the
    # oracle states the per-host closed form --------------------------------
    def snap_change_rate(spark, sf):
        from weakscraper_spark.operators.drift import (
            snapshot_change_rate)
        d = F.col("doc_id")
        ds = d.cast("string")
        host = F.concat(F.lit("h"), (d % 20).cast("string"))
        docs = _t(spark, sf, "documents")
        old = docs.select(host.alias("host"),
                          F.concat(F.lit("u"), ds).alias("url"),
                          F.concat(F.lit("c"), ds).alias("content_hash"))
        kept = docs.filter(d % 10 != 0).select(
            host.alias("host"),
            F.concat(F.lit("u"), ds).alias("url"),
            F.when(d % 7 == 0, F.concat(F.lit("x"), ds))
             .otherwise(F.concat(F.lit("c"), ds)).alias("content_hash"))
        added = docs.filter(d % 11 == 0).select(
            host.alias("host"),
            F.concat(F.lit("a"), ds).alias("url"),
            F.concat(F.lit("c"), ds).alias("content_hash"))
        out = snapshot_change_rate(old, kept.unionByName(added))
        return out.select(
            "host", "n_old", "n_new", "n_added", "n_removed",
            "n_changed", "n_same",
            _dec(F.col("change_rate"), 6).alias("change_rate"))
    q["snap_change_rate"] = snap_change_rate

    # ---- bucketed co-located join (plans/bucketing.py): both sides
    # written bucketBy(8, doc_id) then joined with ZERO Exchange
    # (plan contract in tests/test_bucketing.py); the summary rows are
    # collected eagerly so the staged tables can be deleted. The join
    # output is AGGREGATED per key range before the collect (r05
    # advice: collecting the raw join rows scaled linearly with sf —
    # a driver-memory hotspot; the checksum rollup is ≤5 rows at any
    # sf and still exercises the exchange-free join underneath; the
    # full-row join remains asserted in tests/test_bucketing.py) ----------
    def bucketed_join(spark, sf):
        import shutil
        import tempfile
        from weakscraper_spark.plans.bucketing import (
            bucketed_join as bjoin, drop_table, write_bucketed)
        d = F.col("doc_id")
        docs = _t(spark, sf, "documents")
        root = tempfile.mkdtemp(prefix="bktq_")
        try:
            write_bucketed(docs.select("doc_id", (d % 7).alias("a")),
                           "q_bk_left", "doc_id", 8, root)
            write_bucketed(docs.filter(d % 2 == 0)
                           .select("doc_id", (d % 5).alias("b")),
                           "q_bk_right", "doc_id", 8, root)
            rows = (bjoin(spark, "q_bk_left", "q_bk_right",
                          key="doc_id")
                    .groupBy((F.col("doc_id") % 10).alias("bucket"))
                    .agg(F.count("*").alias("n"),
                         F.sum("doc_id").alias("sum_id"),
                         F.sum("a").alias("sum_a"),
                         F.sum("b").alias("sum_b"))
                    .collect())
        finally:
            drop_table(spark, "q_bk_left")
            drop_table(spark, "q_bk_right")
            shutil.rmtree(root, ignore_errors=True)
        return spark.createDataFrame(
            rows, "bucket long, n long, sum_id long, sum_a long, "
            "sum_b long")
    q["bucketed_join"] = bucketed_join

    # ---- feed autodiscovery (operators/feeds.py): planted
    # rel=alternate feed links — absolute, origin-relative, and
    # directory-relative hrefs, with and without <base href>, plus
    # stylesheet/rel=self distractors — vs the closed-form oracle ---------
    def feed_discovery(spark, sf):
        from weakscraper_spark.operators.feeds import discover_feeds
        d = F.col("doc_id")
        ds = d.cast("string")
        fs = (d % 20).cast("string")
        page = F.concat(F.lit("https://h"), fs,
                        F.lit(".example.org/p/"), ds)
        base = F.when(d % 7 == 0, F.concat(
            F.lit('<base href="https://b'), fs,
            F.lit('.example.org/x/y.html">'))).otherwise(F.lit(""))
        feed_link = (
            F.when(d % 3 == 0, F.concat(
                F.lit('<link rel="alternate" '
                      'type="application/rss+xml" title="T &amp; '),
                ds, F.lit('" href="/feed.xml">')))
            .when(d % 3 == 1, F.lit(
                '<link rel="alternate" type="application/atom+xml" '
                'href="a.xml">'))
            .otherwise(F.lit("")))
        distractors = F.concat(
            F.lit('<link rel="stylesheet" type="text/css" '
                  'href="/s.css">'),
            F.when(d % 5 == 0, F.lit(
                '<link rel="self" type="application/rss+xml" '
                'href="/self.xml">')).otherwise(F.lit("")))
        pages = _t(spark, sf, "documents").select(
            page.alias("url"),
            F.concat(F.lit("<html><head>"), base, feed_link,
                     distractors,
                     F.lit("</head><body>x</body></html>"))
             .alias("html"))
        return discover_feeds(pages)
    q["feed_discovery"] = feed_discovery

    # ---- quantile quality pruning (operators/corpus.py): keep each
    # source's top 60% by length score; exact interpolated percentile
    # matches DuckDB quantile_cont bit-for-bit ----------------------------
    def prune_quantile(spark, sf):
        from weakscraper_spark.operators.corpus import prune_by_quantile
        docs = _t(spark, sf, "documents").select(
            "doc_id", "source",
            F.length("text").cast("double").alias("s"))
        out = prune_by_quantile(docs, "s", keep_frac=0.6, by="source")
        return out.select("doc_id", "source",
                          _dec(F.col("s"), 1).alias("s"),
                          _dec(F.col("threshold"), 6).alias("threshold"))
    q["prune_quantile"] = prune_quantile

    # ---- Page-policy directives (operators/metadata.py, r06):
    # robots-meta noindex/nofollow gating + canonical-variant
    # collapse — planted tag corpora from doc_id arithmetic (attr
    # order swaps, casing, 'none' shorthand, entity-escaped and
    # relative hrefs, <base href> interplay, look-alike
    # distractors); closed-form oracles. -----------------------------------
    def robots_noindex(spark, sf):
        from weakscraper_spark.operators.metadata import (
            robots_meta_flags)
        d = F.col("doc_id")
        ds = d.cast("string")
        meta = (
            F.when(d % 5 == 0, F.lit(
                '<meta name="robots" content="noindex, follow">'))
            .when(d % 5 == 1, F.lit(
                '<META CONTENT="NOFOLLOW" NAME="robots">'))
            .when(d % 5 == 2, F.lit(
                '<meta name="robots" content="none">'))
            .when(d % 5 == 3, F.lit(
                '<meta name="robots" content="index, follow">'))
            .otherwise(F.lit("")))
        distract = F.lit(
            '<meta name="description" content="noindex mention">')
        pages = _t(spark, sf, "documents").select(
            F.concat(F.lit("https://h"), (d % 10).cast("string"),
                     F.lit(".example.org/p/a/"), ds).alias("url"),
            F.concat(F.lit("<html><head>"), meta, distract,
                     F.lit("</head><body>x</body></html>"))
             .alias("html"))
        return robots_meta_flags(pages).select(
            "url", "noindex", "nofollow")
    q["robots_noindex"] = robots_noindex

    def canonical_groups(spark, sf):
        from weakscraper_spark.operators.metadata import (
            canonical_dedup)
        d = F.col("doc_id")
        ds = d.cast("string")
        gs = (d - d % 4).cast("string")
        href = (
            F.when(d % 4 == 1, F.concat(
                F.lit('<link rel="canonical" '
                      'href="https://c.example.org/canon/'), gs,
                F.lit('?a=1&amp;b=2">')))
            .when(d % 4 == 2, F.concat(
                F.lit('<link href="/canon/'), gs,
                F.lit('" rel="canonical">')))
            .when(d % 4 == 3, F.concat(
                F.lit('<link rel="canonical" href="x/'), gs,
                F.lit('">')))
            .otherwise(F.lit("")))
        base = F.when(d % 9 == 0, F.lit(
            '<base href="https://b.example.org/dir/">')) \
            .otherwise(F.lit(""))
        distract = F.lit('<link rel="alternate" href="/alt.xml">')
        pages = _t(spark, sf, "documents").select(
            F.concat(F.lit("https://h"), (d % 10).cast("string"),
                     F.lit(".example.org/p/a/"), ds).alias("url"),
            F.concat(F.lit("<html><head>"), base, href, distract,
                     F.lit("</head><body>x</body></html>"))
             .alias("html"))
        return canonical_dedup(pages)
    q["canonical_groups"] = canonical_groups

    # ---- CDX index family (operators/cdx.py, r06): SURT canonical
    # keys + CDXJ line parsing + per-urlkey digest dedup. Planted
    # line corpus from doc_id arithmetic (frame-broken and
    # JSON-broken lines included); each oracle states the CLOSED FORM
    # of what must parse back out. ----------------------------------------
    def surt_keys(spark, sf):
        from weakscraper_spark.operators.cdx import surt_key
        d = F.col("doc_id")
        ds = d.cast("string")
        url = F.concat(
            F.when(d % 2 == 0, F.lit("HTTP://"))
             .otherwise(F.lit("https://")),
            F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.lit("Sub"), (d % 5).cast("string"),
            F.lit(".Example.ORG"),
            F.when(d % 2 == 0, F.lit(":80"))
             .when(d % 9 == 0, F.lit(":8080")).otherwise(F.lit("")),
            F.lit("/Path/"), ds,
            F.when(d % 4 == 0, F.lit("///")).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit("?B=2&UTM_source=x&a=1"))
             .when(d % 5 == 1, F.lit("?jsessionid=ABC&z=9"))
             .otherwise(F.lit("")),
            F.when(d % 6 == 0, F.lit("#Frag")).otherwise(F.lit("")))
        urls = _t(spark, sf, "documents").select(url.alias("url"))
        return urls.select("url", surt_key("url").alias("urlkey"))
    q["surt_keys"] = surt_keys

    def _cdx_lines(spark, sf):
        d = F.col("doc_id")
        key = d % 211
        ks = key.cast("string")
        hs = (key % 20).cast("string")
        urlkey = F.concat(F.lit("org,example,h"), hs,
                          F.lit(")/p/"), ks)
        # 2026-01-01T00:00:00Z = epoch 1767225600; 37-second stride
        ts14 = F.date_format(
            F.timestamp_seconds(F.lit(1767225600).cast("long")
                                + d * 37), "yyyyMMddHHmmss")
        digest = F.when(key % 3 == 0,
                        F.concat(F.lit("sha1:K"), ks)) \
            .otherwise(F.concat(F.lit("sha1:D"), d.cast("string")))
        blob = F.concat(
            F.lit('{"url": "https://h'), hs, F.lit(".example.org/p/"),
            ks, F.lit('", "mime": "text/html", "status": "'),
            F.when(d % 9 == 0, F.lit("404")).otherwise(F.lit("200")),
            F.lit('", "digest": "'), digest,
            F.lit('", "length": "'), ((d * 7) % 9973).cast("string"),
            F.lit('", "offset": "'), ((d * 13) % 65536).cast("string"),
            F.lit('", "filename": "crawl-'), (d % 4).cast("string"),
            F.lit('.warc.gz"}'))
        line = (F.when(d % 23 == 0, F.lit("not a cdxj line"))
                .when(d % 29 == 0,
                      F.concat(urlkey, F.lit(" "), ts14,
                               F.lit(' {"url": broken}')))
                .otherwise(F.concat(urlkey, F.lit(" "), ts14,
                                    F.lit(" "), blob)))
        return _t(spark, sf, "documents").select(line.alias("line"))

    def cdx_records(spark, sf):
        from weakscraper_spark.operators.cdx import parse_cdxj
        out = parse_cdxj(_cdx_lines(spark, sf))
        return out.select(
            "urlkey",
            F.date_format("ts", "yyyyMMddHHmmss").alias("ts14"),
            "url", "mime", "status_code", "digest", "length",
            "offset", "filename", "status")
    q["cdx_records"] = cdx_records

    def cdx_dedup(spark, sf):
        from weakscraper_spark.operators.cdx import (
            cdx_digest_dedup, parse_cdxj)
        recs = parse_cdxj(_cdx_lines(spark, sf)) \
            .filter("status = 'ok'")
        out = cdx_digest_dedup(recs)
        return out.select(
            "urlkey", "n_records", "n_distinct_digests",
            F.date_format("latest_ts", "yyyyMMddHHmmss")
             .alias("latest_ts14"),
            "latest_digest", "all_same")
    q["cdx_dedup"] = cdx_dedup

    def warc_cdx(spark, sf):
        # CDX WRITE side (r06 VERDICT "missing" #2), ORACLE-VALUE-
        # CHECKED against the archive BUILDER's independent byte
        # accounting: docs are packed 8-per-archive driver-side via
        # build_warc(index=...), whose offsets/lengths/digests come
        # from its own writes as it serializes; Spark re-derives all
        # three from the BYTES alone (gzip member walk → frame →
        # payload sha-1), renders the CDXJ lines, and re-parses them
        # — so the staged truth checks the whole write→ship→read
        # loop, urlkey included (closed-form SURT, not a mirror).
        import os

        import duckdb
        from weakscraper_spark.operators.cdx import (format_cdxj,
                                                     parse_cdxj)
        from weakscraper_spark.sources.warc import (build_warc,
                                                    warc_record_index)
        con = duckdb.connect()
        pdf = con.execute(
            "SELECT doc_id, text FROM read_parquet(?) "
            "ORDER BY doc_id",
            [os.path.join(sf, "documents.parquet")]).df()
        con.close()
        archives: dict[int, list[dict]] = {}
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            did = int(did)
            archives.setdefault(did // 8, []).append({
                "type": "response",
                "url": f"https://w{did % 20}.example.com/d/{did}",
                "date": f"2024-05-01T00:00:{did % 60:02d}Z",
                "body": f"<html><body>{text}</body></html>",
                "http_status": 200, "mime": "text/html"})
        files_rows, truth_rows = [], []
        for aid in sorted(archives):
            idx: list[dict] = []
            fname = f"crawl-{aid:05d}.warc.gz"
            files_rows.append((fname, build_warc(archives[aid],
                                                 index=idx)))
            for t in idx:
                did = int(t["url"].rsplit("/", 1)[1])
                truth_rows.append(
                    (f"com,example,w{did % 20})/d/{did}",
                     f"202405010000{did % 60:02d}", t["url"], 200,
                     t["digest"], t["offset"], t["length"], fname))
        _stage_truth(
            spark.createDataFrame(
                truth_rows,
                "urlkey string, ts14 string, url string, "
                "status_code int, digest string, offset long, "
                "length long, filename string"),
            "warc_cdx")
        files = spark.createDataFrame(
            files_rows, "path string, content binary")
        ok = warc_record_index(files).filter(
            (F.col("status") == "ok") &
            (F.col("record_type") == "response"))
        return (parse_cdxj(format_cdxj(ok))
                .select("urlkey",
                        F.date_format("ts", "yyyyMMddHHmmss")
                         .alias("ts14"),
                        "url", "status_code", "digest", "offset",
                        "length", "filename"))
    q["warc_cdx"] = warc_cdx

    def temp_mix(spark, sf):
        # temperature-flattened mixture (shares ∝ tokens^0.5),
        # ORACLE-VALUE-CHECKED: the twin mirrors tokenization,
        # totals, sqrt shares (IEEE-exact at τ=0.5), the 9dp
        # round-before-draw rate and the md5 accept draw, then
        # rolls up per domain like mix_corpus
        from weakscraper_spark.operators.corpus import temperature_mix
        out = temperature_mix(_t(spark, sf, "documents"), "lang",
                              budget_tokens=16000, tau=0.5)
        return (out.groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_tokens").cast("long")
                      .alias("sum_tokens"),
                     _dec(F.min("rate"), 6).alias("rate")))
    q["temp_mix"] = temp_mix

    def minhash_incr(spark, sf):
        # incremental LSH dedup (weekly-batch vs persisted band
        # store), ORACLE-VALUE-CHECKED: the DuckDB twin re-runs the
        # FULL minhash pair mirror over the whole corpus and filters
        # to pairs touching the planted 'new' split (doc_id % 3 = 0)
        # — so the incremental path is value-checked against full-
        # recompute semantics, combined bucket cap included.
        from weakscraper_spark.operators.dedup import (
            minhash_band_store, minhash_incremental_pairs)
        docs = _t(spark, sf, "documents")
        return minhash_incremental_pairs(
            minhash_band_store(docs.filter("doc_id % 3 = 0")),
            minhash_band_store(docs.filter("doc_id % 3 != 0")))
    q["minhash_incr"] = minhash_incr

    def warc_write(spark, sf):
        # DISTRIBUTED archive write (pages_to_warc: applyInPandas,
        # one archive per group, kernel sorts by url so bytes are a
        # pure function of the row set), ORACLE-VALUE-CHECKED against
        # a sequential driver replay of the same byte accounting:
        # duckdb reads the documents, python groups/sorts/serializes
        # the identical archives, and the builder-index truth is
        # staged for the oracle — so grouping, in-kernel ordering,
        # framing, compression and digesting are all value-checked.
        import os

        import duckdb
        from weakscraper_spark.sources.warc import (build_warc,
                                                    pages_to_warc)
        con = duckdb.connect()
        pdf = con.execute(
            "SELECT doc_id, text FROM read_parquet(?) "
            "ORDER BY doc_id",
            [os.path.join(sf, "documents.parquet")]).df()
        con.close()
        groups: dict[int, list[tuple[str, bytes]]] = {}
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            did = int(did)
            groups.setdefault(did // 8, []).append(
                (f"https://w{did % 20}.example.com/d/{did}",
                 (text or "").encode("utf-8")))
        truth_rows = []
        for aid, members in groups.items():
            members.sort(key=lambda m: m[0])       # the kernel's sort
            idx: list[dict] = []
            build_warc([{"type": "response", "url": u,
                         "date": "2024-05-01T00:00:00Z", "body": b,
                         "http_status": 200, "mime": "text/html"}
                        for u, b in members], index=idx)
            for t in idx:
                truth_rows.append((f"crawl-{aid:05d}.warc.gz",
                                   t["url"], t["offset"],
                                   t["length"], t["digest"]))
        _stage_truth(
            spark.createDataFrame(
                truth_rows,
                "filename string, url string, offset long, "
                "length long, digest string"),
            "warc_write")
        pages = _t(spark, sf, "documents").select(
            (F.col("doc_id") / 8).cast("long").alias("archive_id"),
            F.concat(F.lit("https://w"),
                     (F.col("doc_id") % 20).cast("string"),
                     F.lit(".example.com/d/"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.to_timestamp(F.lit("2024-05-01 00:00:00"))
             .alias("warc_ts"),
            F.encode(F.coalesce("text", F.lit("")), "UTF-8")
             .alias("html"))
        return (pages_to_warc(pages)
                .select("filename", F.explode("cdx").alias("c"))
                .select("filename", F.col("c.url").alias("url"),
                        F.col("c.offset").alias("offset"),
                        F.col("c.length").alias("length"),
                        F.col("c.digest").alias("digest")))
    q["warc_write"] = warc_write

    def canonical_redirects(spark, sf):
        # canonical collapse THROUGH the redirect map (the standard
        # canonicalization order), ORACLE-VALUE-CHECKED closed form:
        # every doc in a block of 8 declares the block HEAD as its
        # canonical; the head is a redirect source whose chain lands
        # 3 hops later — so whole blocks must collapse onto the
        # landing url, incl. the truncated final block.
        from weakscraper_spark.operators.metadata import (
            canonical_dedup_resolved)
        from weakscraper_spark.operators.redirects import (
            redirect_edges, resolve_redirects)
        d = F.col("doc_id")
        o = d % 8
        s = d - o

        def u(expr):
            return F.concat(F.lit("https://r.example.com/p/"),
                            expr.cast("string"))

        docs = _t(spark, sf, "documents")
        pages = docs.select(
            u(d).alias("url"),
            F.concat(F.lit('<head><link rel="canonical" href="/p/'),
                     s.cast("string"),
                     F.lit('"></head><body>x</body>')).alias("html"))
        loc = (F.when(o.isin(0, 2) | (o == 6),
                      F.concat(F.lit("/p/"), (d + 1).cast("string")))
               .when(o == 1, u(d + 1))
               .when(o == 7, F.concat(F.lit("/p/"),
                                      (d - 1).cast("string"))))
        status = F.when(o.isin(0, 1, 2, 6, 7), F.lit(301)) \
            .otherwise(F.lit(200))
        idx = docs.select(u(d).alias("url"), loc.alias("location"),
                          status.alias("http_status"))
        resolved = resolve_redirects(redirect_edges(idx))
        return (canonical_dedup_resolved(pages, resolved)
                .select("canonical_final",
                        F.col("n_pages").cast("long")
                         .alias("n_pages"), "first_url"))
    q["canonical_redirects"] = canonical_redirects

    def warc_fetch(spark, sf):
        # index READ path (random access by byte span), ORACLE-
        # VALUE-CHECKED against a closed form: archives built
        # driver-side 8-docs-per-archive (the warc_cdx corpus), the
        # builder's own (offset, length) rows drive fetch_by_index,
        # and the fetched bodies must decode to exactly
        # '<html><body>' || text || '</body></html>' per url.
        import os

        import duckdb
        from weakscraper_spark.sources.warc import (build_warc,
                                                    fetch_by_index)
        con = duckdb.connect()
        pdf = con.execute(
            "SELECT doc_id, text FROM read_parquet(?) "
            "ORDER BY doc_id",
            [os.path.join(sf, "documents.parquet")]).df()
        con.close()
        archives: dict[int, list[dict]] = {}
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            did = int(did)
            archives.setdefault(did // 8, []).append({
                "type": "response",
                "url": f"https://w{did % 20}.example.com/d/{did}",
                "date": "2024-05-01T00:00:00Z",
                "body": f"<html><body>{text}</body></html>",
                "http_status": 200, "mime": "text/html"})
        arch_rows, idx_rows = [], []
        for aid in sorted(archives):
            idx: list[dict] = []
            fname = f"crawl-{aid:05d}.warc.gz"
            arch_rows.append((fname, build_warc(archives[aid],
                                                index=idx)))
            idx_rows += [(fname, t["url"], t["offset"], t["length"])
                         for t in idx]
        out = fetch_by_index(
            spark.createDataFrame(arch_rows,
                                  "filename string, content binary"),
            spark.createDataFrame(
                idx_rows, "filename string, url string, "
                          "offset long, length long"))
        return out.select(
            "url", F.decode("html", "UTF-8").alias("html_text"),
            F.col("n_bytes").cast("long").alias("n_bytes"),
            "status")
    q["warc_fetch"] = warc_fetch

    def redirect_map(spark, sf):
        # redirect-chain resolution (pointer doubling over the 3xx
        # index rows), ORACLE-VALUE-CHECKED against a closed form:
        # doc_id blocks of 8 plant a 3-hop chain (offsets 0→1→2→3),
        # a 2-cycle (6⇄7), a Location-less 301 (offset 4) and a
        # blank-Location 301 (offset 5) that redirect_edges must
        # drop; Locations alternate root-relative and absolute to
        # exercise RFC 9110 resolution. The oracle mirrors chain
        # endpoints/hops arithmetically (incl. a truncated final
        # block via max(doc_id)), never the algorithm.
        from weakscraper_spark.operators.redirects import (
            redirect_edges, resolve_redirects)
        d = F.col("doc_id")
        o = d % 8
        ds = d.cast("string")

        def u(expr):
            return F.concat(F.lit("https://r.example.com/p/"),
                            expr.cast("string"))

        loc = (F.when(o.isin(0, 2) | (o == 6),
                      F.concat(F.lit("/p/"), (d + 1).cast("string")))
               .when(o == 1, u(d + 1))
               .when(o == 7, F.concat(F.lit("/p/"),
                                      (d - 1).cast("string")))
               .when(o == 5, F.lit("   ")))
        status = F.when(o.isin(0, 1, 2, 4, 5, 6, 7), F.lit(301)) \
            .otherwise(F.lit(200))
        idx = _t(spark, sf, "documents").select(
            u(d).alias("url"), loc.alias("location"),
            status.alias("http_status"))
        return resolve_redirects(redirect_edges(idx))
    q["redirect_map"] = redirect_map

    # ---- TEMPLATE LIFECYCLE LOOP (plans/refresh.py, r06): planted
    # redesign → drift detection → re-induction → re-extraction →
    # measured recovery. ORACLE-VALUE-CHECKED: the truth twin
    # (sources/synth.py::synth_drift_truth) stages per-page expected
    # failure flags under the original (err1) and re-induced (err2)
    # registries, and the oracle mirrors detection (lag + argmax-jump,
    # the drift_hosts twin) and the before/after rollup in pure SQL.
    # A host failing re-induction, a wrong drift day, or one
    # unrecovered page breaks the hash. -----------------------------------
    def template_refresh(spark, sf):
        from weakscraper_spark.plans.refresh import refresh_templates
        from weakscraper_spark.sources.synth import (
            compiled_specs, synth_drift_pages, synth_drift_truth,
            synth_templates)
        n = 1200 if "0.01" in sf else (4000 if "0.1" in sf else 600)
        _stage_truth(synth_drift_truth(spark, n), "template_refresh")
        r = refresh_templates(
            synth_drift_pages(spark, n), synth_templates(spark, 16),
            compiled_specs(), min_jump=0.5, k=4)
        return r["summary"].select(
            "host",
            F.date_format("drift_day", "yyyy-MM-dd")
             .alias("drift_day"),
            "n_post",
            _dec(F.col("rate_before_refresh"), 6)
             .alias("rate_before"),
            "n_post_after",
            _dec(F.col("rate_after_refresh"), 6).alias("rate_after"))
    q["template_refresh"] = template_refresh

    # Driver sampling order (VERDICT r03 #2): the driver checks ~50
    # queries per round IN DICT ORDER. Every query has been
    # driver-sampled at least once (r04 verdict), so r06 priority =
    # (1) brand-new queries (template_refresh, semantic_dedup),
    # (2) queries whose oracle or semantics changed this round
    # (r06 staged-truth promotions pdf_pages/compression_ratios/
    # induce_hosts; bucketed_join pre-collect aggregate;
    # feed_discovery base-href fix; ivf_ann_topk init change),
    # (3) rotation of the rest.
    _sample_first = [
        "warc_cdx", "redirect_map", "warc_write", "minhash_incr",
        "temp_mix", "warc_fetch", "canonical_redirects",
        "template_refresh", "semantic_dedup",
        "robots_noindex", "canonical_groups", "recrawl_plan",
        "surt_keys", "cdx_records", "cdx_dedup", "pdf_pages",
        "compression_ratios", "induce_hosts",
        "bucketed_join", "feed_discovery", "ivf_ann_topk",
        "feed_entries", "feed_headers",
        "postings_index", "phrase_hits", "drift_hosts",
        "doc_sentences", "discovered_frontier",
        "snap_change_rate",
        "prune_quantile", "fields_long",
        "extract_spans", "induce_roundtrip",
        "chunk_docs", "sitemap_entries",
        "robots_sitemaps", "tfidf_keywords", "host_split",
        "url_filter", "epoch_shuffle",
        "link_graph", "host_rank", "anchor_topk", "mix_corpus",
        "srp_overcap", "lsh_near_dup", "lsh_ann_topk",
        "extract_pages", "boiler_extract", "raw_extract",
        "web_corpus", "frontier", "corpus_clean",
        "extract_rescued", "source_acd",
    ]
    return {**{k: q[k] for k in _sample_first},
            **{k: v for k, v in q.items() if k not in _sample_first}}


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------


_SHINGLES_CTE ="""
tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
       FROM documents),
sh AS (SELECT DISTINCT doc_id AS doc,
              unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tok
       FROM tk)
"""

def _mk_inlist(lang: str) -> str:
    """Marker lexicon of textstats._MARKERS as a SQL IN-list."""
    from weakscraper_spark.operators.textstats import _MARKERS
    return ", ".join(f"'{w}'" for w in sorted(_MARKERS[lang]))


def _srp_bucket_sql(n_planes: int, dim: int = 64, seed: int = 42,
                    vec: str = "embedding::DOUBLE[]") -> str:
    """The SRP bucket id as a DuckDB expression: the deterministic
    hash-derived ±1 planes (similarity._plane — no RNG state) are
    inlined as list literals, bit i = sign(v · plane_i), identical to
    ``srp_signature``. Makes the LSH similarity queries value-checked
    rather than rows-only."""
    from weakscraper_spark.operators.similarity import _plane
    terms = []
    for p in range(n_planes):
        lits = ", ".join(str(x) for x in _plane(seed, p, dim))
        terms.append(
            f"(CASE WHEN list_inner_product({vec}, [{lits}]::DOUBLE[])"
            f" > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _semdedup_cents_sql(n_lists: int = 8, dim: int = 64,
                        seed: int = 9) -> str:
    """The SemDeDup hash-derived unit centroids as a DuckDB VALUES
    relation (idx INTEGER, cent DOUBLE[]) — the literal-inlining twin
    of ``similarity.semdedup_centroids`` (entries ±1/√dim are exact
    float64 for power-of-two dims, so both engines hold identical
    centroid values)."""
    from weakscraper_spark.operators.similarity import (
        semdedup_centroids)
    rows = ", ".join(
        f"({i}, [{', '.join(str(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(semdedup_centroids(n_lists, dim, seed)))
    return f"(VALUES {rows}) AS c(idx, cent)"


def _clean_verdict_sql(src: str, minq: float) -> str:
    """clean_corpus's DuckDB twin (quality gate → exact-dup canon →
    MinHash-LSH near-dup, first-matching-reason verdict) over ``src``
    — any relation expression exposing (doc_id, text). Shared by the
    corpus_clean oracle (src=documents) and the web_corpus oracle
    (src=the staged extracted corpus), so the composition twin can't
    drift from the operator twin."""
    return f"""
            WITH q AS (
              SELECT doc_id, text,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ',
                         'g')) AS fp,
                     round(round(len(list_distinct(
                               string_split_regex(trim(text), '\\s+')))
                           / greatest(len(string_split_regex(trim(text),
                               '\\s+')), 1), 4)
                           * least(1.0, len(string_split_regex(
                               trim(text), '\\s+')) / 64.0), 4) AS qs
              FROM {src}),
            qp AS (SELECT * FROM q WHERE qs >= {minq}),
            canon AS (SELECT fp, min(doc_id) AS c FROM qp GROUP BY fp),
            p2 AS (SELECT qp.doc_id, qp.text FROM qp
                   JOIN canon ON qp.fp = canon.fp
                   WHERE qp.doc_id = canon.c),
            tk AS (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t
                   FROM p2),
            sh AS (SELECT DISTINCT doc_id AS doc,
                   unnest(list_transform(
                       range(1, greatest(len(t) - 1, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                       AS tok
                   FROM tk),
            sigs AS (SELECT doc,
                     min(md5('0:' || tok)) AS s0, min(md5('1:' || tok)) AS s1,
                     min(md5('2:' || tok)) AS s2, min(md5('3:' || tok)) AS s3,
                     min(md5('4:' || tok)) AS s4, min(md5('5:' || tok)) AS s5,
                     min(md5('6:' || tok)) AS s6, min(md5('7:' || tok)) AS s7
                     FROM sh GROUP BY doc),
            bands_all AS (
                SELECT doc, 0 AS band, s0 || '|' || s1 AS bkey FROM sigs
                UNION ALL
                SELECT doc, 1, s2 || '|' || s3 FROM sigs
                UNION ALL
                SELECT doc, 2, s4 || '|' || s5 FROM sigs
                UNION ALL
                SELECT doc, 3, s6 || '|' || s7 FROM sigs),
            bands AS (
                SELECT doc, band, bkey FROM bands_all
                QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 64),
            nd AS (SELECT DISTINCT b.doc AS doc_id
                   FROM bands a JOIN bands b USING (band, bkey)
                   WHERE a.doc < b.doc)
            SELECT q.doc_id,
                   (CASE WHEN q.qs < {minq} THEN 'quality'
                         WHEN q.doc_id <> canon.c THEN 'exact_dup'
                         WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                         ELSE 'kept' END) = 'kept' AS keep,
                   CASE WHEN q.qs < {minq} THEN 'quality'
                        WHEN q.doc_id <> canon.c THEN 'exact_dup'
                        WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                        ELSE 'kept' END AS reason
            FROM q
            LEFT JOIN canon ON q.fp = canon.fp
            LEFT JOIN nd ON nd.doc_id = q.doc_id
    """


# MinHash banded-LSH candidate pairs (mirror of minhash_lsh_pairs
# incl. the max_bucket=64 bucket-size cap) as reusable CTEs ending in
# ``mh_pairs`` — shared by the pair query and the connected-components
# clustering twin.
_MINHASH_PAIRS_CTES = f"""
            {_SHINGLES_CTE},
            sigs AS (SELECT doc,
                     min(md5('0:' || tok)) AS s0, min(md5('1:' || tok)) AS s1,
                     min(md5('2:' || tok)) AS s2, min(md5('3:' || tok)) AS s3,
                     min(md5('4:' || tok)) AS s4, min(md5('5:' || tok)) AS s5,
                     min(md5('6:' || tok)) AS s6, min(md5('7:' || tok)) AS s7
                     FROM sh GROUP BY doc),
            bands_all AS (
                SELECT doc, 0 AS band, s0 || '|' || s1 AS bkey FROM sigs
                UNION ALL
                SELECT doc, 1, s2 || '|' || s3 FROM sigs
                UNION ALL
                SELECT doc, 2, s4 || '|' || s5 FROM sigs
                UNION ALL
                SELECT doc, 3, s6 || '|' || s7 FROM sigs),
            bands AS (
                SELECT doc, band, bkey FROM bands_all
                QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 64),
            mh_pairs AS (
                SELECT a.doc AS doc_a, b.doc AS doc_b,
                       count(*) AS n_bands
                FROM bands a JOIN bands b USING (band, bkey)
                WHERE a.doc < b.doc GROUP BY 1, 2)
"""


# Okapi BM25 over documents for the fixed 3-term query, mirroring
# operators/search.py::bm25_scores (k1=1.2, b=0.75) — shared CTEs
# ending in ``bm(doc_id, n_hits, score)`` for the lexical and hybrid
# retrieval twins.
_BM25_CTES = """
            tk25 AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+')
                           AS t
                FROM documents),
            lens AS (SELECT doc_id, len(t) AS dl FROM tk25),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
                      FROM lens),
            fh AS (SELECT doc_id, term FROM (
                       SELECT doc_id, unnest(t) AS term FROM tk25)
                   WHERE term IN ('spark', 'shuffle', 'table')),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM fh GROUP BY 1, 2),
            dft AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM fh GROUP BY 1),
            bm AS (
                SELECT tf.doc_id, count(*) AS n_hits,
                       sum(ln(1.0 + (stats.n_docs - dft.df + 0.5)
                                    / (dft.df + 0.5))
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (1 - 0.75
                              + 0.75 * lens.dl / stats.avgdl)))
                           AS score
                FROM tf
                JOIN dft USING (term)
                JOIN lens USING (doc_id)
                CROSS JOIN stats
                GROUP BY tf.doc_id)
"""


# md5-based SimHash, mirroring operators/dedup.py::_simhash64 exactly:
# per-token hash = first 8 md5 bytes big-endian; per-bit +1/-1 majority
# over DISTINCT shingles; docs with < 3 words hash to 0.
_SIMHASH_CTE = _SHINGLES_CTE + """,
hv AS (SELECT doc, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
       FROM sh),
bits AS (SELECT doc, b AS bit,
                CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1
                                   THEN 1 ELSE -1 END) > 0
                     THEN 1::HUGEINT ELSE 0::HUGEINT END AS v
         FROM hv CROSS JOIN (SELECT unnest(range(64)) AS b)
         GROUP BY doc, b),
sims AS (SELECT d.doc_id AS doc, coalesce(s.simhash, 0) AS simhash
         FROM documents d LEFT JOIN (
             SELECT doc,
                    CAST(sum(CASE WHEN bit = 63
                                  THEN -(v * (1::HUGEINT << 63))
                                  ELSE v * (1::HUGEINT << bit) END)
                         AS BIGINT) AS simhash
             FROM bits GROUP BY doc) s ON s.doc = d.doc_id)
"""


def oracle_sql() -> dict[str, str]:
    from weakscraper_spark.operators.links import pagerank_sql

    # staged-truth root, created lazily per process (see _truth_root)
    _TRUTH_ROOT = _truth_root()

    # host-edge derivation from the link-graph family's staged truth
    # (generator-emitted resolved outlinks) — shared by link_graph
    # and host_rank below
    def _host_edges(truth: str) -> str:
        return f"""(
            WITH l AS (
                SELECT lower(regexp_extract(url,
                           '^[^:/?#]+://([^/?#:]*)', 1)) AS src_host,
                       lower(regexp_extract(dst,
                           '^[^:/?#]+://([^/?#:]*)', 1)) AS dst_host
                FROM (SELECT url, unnest(links) AS dst
                      FROM read_parquet(
                          '{_TRUTH_ROOT}/{truth}/*.parquet')))
            SELECT src_host, dst_host, count(*) AS weight FROM l
            WHERE src_host <> dst_host
              AND src_host <> '' AND dst_host <> ''
            GROUP BY src_host, dst_host)"""

    return {
        "chunk_docs": """
            WITH tk AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+')
                           AS t
                FROM documents),
            b AS (
                SELECT doc_id, t, len(t) AS n,
                       greatest(ceil((len(t) - 48) / 32.0)::BIGINT
                                + 1, 1) AS nc
                FROM tk),
            c AS (
                SELECT doc_id, t, n,
                       unnest(range(0, nc)) AS chunk_id
                FROM b),
            w AS (
                SELECT doc_id, chunk_id,
                       chunk_id * 32 AS chunk_start,
                       t[(chunk_id * 32 + 1):(chunk_id * 32 + 48)]
                           AS w
                FROM c WHERE chunk_id * 32 < n)
            SELECT doc_id, chunk_id::BIGINT AS chunk_id,
                   chunk_start::BIGINT AS chunk_start,
                   len(w)::BIGINT AS n_chunk_tokens,
                   array_to_string(w, ' ') AS chunk_text
            FROM w WHERE len(w) >= 4
        """,
        "sitemap_entries": """
            WITH d AS (SELECT doc_id AS d FROM documents),
            urls AS (
                SELECT 'https://example.org/sitemaps/' || (d % 20)
                           || '.xml' AS sitemap_url,
                       'url' AS kind,
                       'https://site' || (d % 20)
                           || '.example.org/page/' || d
                           || CASE WHEN d % 5 = 0 THEN '?a=1&b=2'
                                   ELSE '' END AS loc,
                       CASE WHEN d % 3 <> 0 THEN
                           '2025-' || printf('%02d', d % 12 + 1)
                           || '-' || printf('%02d', d % 28 + 1)
                       END AS lastmod,
                       CASE WHEN d % 4 = 0 THEN
                           (['always', 'hourly', 'daily', 'weekly',
                             'monthly', 'yearly', 'never'])[
                               (d % 7 + 1)::INT]
                       END AS changefreq,
                       CASE WHEN d % 30 = 0 THEN NULL
                            WHEN d % 3 = 0 THEN CAST(CAST(
                                round((d % 10) / 10.0, 1)
                                AS DECIMAL(18,1)) AS VARCHAR)
                       END AS priority
                FROM d),
            idx AS (
                SELECT DISTINCT
                       'https://example.org/sitemap_index.xml'
                           AS sitemap_url,
                       'sitemap' AS kind,
                       'https://example.org/sitemaps/' || (d % 20)
                           || '.xml' AS loc,
                       CAST(NULL AS VARCHAR) AS lastmod,
                       CAST(NULL AS VARCHAR) AS changefreq,
                       CAST(NULL AS VARCHAR) AS priority
                FROM d)
            SELECT * FROM urls UNION ALL SELECT * FROM idx
        """,
        "prune_quantile": """
            WITH sc AS (
                SELECT doc_id, source,
                       length(text)::DOUBLE AS s
                FROM documents),
            thr AS (
                SELECT source, quantile_cont(s, 0.4) AS t
                FROM sc WHERE s IS NOT NULL GROUP BY source)
            SELECT sc.doc_id, sc.source,
                   CAST(CAST(round(sc.s, 1) AS DECIMAL(18,1))
                        AS VARCHAR) AS s,
                   CAST(CAST(round(thr.t, 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS threshold
            FROM sc JOIN thr USING (source)
            WHERE sc.s IS NOT NULL AND sc.s >= thr.t
        """,
        "feed_discovery": """
            WITH d AS (
                SELECT doc_id AS d, (doc_id % 20) AS f,
                       'https://h' || (doc_id % 20)
                           || '.example.org/p/' || doc_id AS page,
                       doc_id % 7 = 0 AS has_base
                FROM documents)
            SELECT page AS page_url,
                   CASE WHEN has_base THEN
                       'https://b' || f || '.example.org/feed.xml'
                   ELSE 'https://h' || f || '.example.org/feed.xml'
                   END AS feed_url,
                   'rss' AS feed_kind,
                   'T & ' || d AS feed_title
            FROM d WHERE d % 3 = 0
            UNION ALL
            SELECT page,
                   CASE WHEN has_base THEN
                       'https://b' || f || '.example.org/x/a.xml'
                   ELSE 'https://h' || f || '.example.org/p/a.xml'
                   END,
                   'atom', NULL
            FROM d WHERE d % 3 = 1
        """,
        "bucketed_join": """
            SELECT doc_id % 10 AS bucket,
                   count(*)::BIGINT AS n,
                   sum(doc_id)::BIGINT AS sum_id,
                   sum(doc_id % 7)::BIGINT AS sum_a,
                   sum(doc_id % 5)::BIGINT AS sum_b
            FROM documents WHERE doc_id % 2 = 0
            GROUP BY 1
        """,
        "snap_change_rate": """
            WITH s AS (
                SELECT 'h' || (doc_id % 20) AS host,
                       count(*) AS n_old,
                       sum(CASE WHEN doc_id % 10 <> 0 THEN 1
                                ELSE 0 END)
                       + sum(CASE WHEN doc_id % 11 = 0 THEN 1
                                  ELSE 0 END) AS n_new,
                       sum(CASE WHEN doc_id % 11 = 0 THEN 1
                                ELSE 0 END) AS n_added,
                       sum(CASE WHEN doc_id % 10 = 0 THEN 1
                                ELSE 0 END) AS n_removed,
                       sum(CASE WHEN doc_id % 10 <> 0
                                 AND doc_id % 7 = 0 THEN 1
                                ELSE 0 END) AS n_changed,
                       sum(CASE WHEN doc_id % 10 <> 0
                                 AND doc_id % 7 <> 0 THEN 1
                                ELSE 0 END) AS n_same
                FROM documents GROUP BY 1)
            SELECT host, n_old, n_new::BIGINT AS n_new,
                   n_added::BIGINT AS n_added,
                   n_removed::BIGINT AS n_removed,
                   n_changed::BIGINT AS n_changed,
                   n_same::BIGINT AS n_same,
                   CAST(CAST(round(n_changed::DOUBLE /
                        nullif(n_changed + n_same, 0), 6)
                        AS DECIMAL(18,6)) AS VARCHAR) AS change_rate
            FROM s
        """,
        "discovered_frontier": """
            WITH feedrow AS (
                SELECT doc_id AS d, (doc_id % 20) AS f,
                       'https://h' || (doc_id % 20)
                           || '.example.org/post/' || doc_id AS b,
                       'https://h' || (doc_id % 20)
                           || '.example.org/post/' || doc_id
                           || CASE WHEN doc_id % 5 = 0 THEN '?x=1&y=2'
                                   ELSE '' END AS fl,
                       NOT ((doc_id % 20) >= 10 AND doc_id % 13 = 0)
                           AS has_link
                FROM documents)
            SELECT b AS url_canon,
                   'https://WWW.h' || f || '.example.org/post/' || d
                       || '/#frag' AS first_url,
                   (1 + CASE WHEN d % 5 <> 0 AND has_link
                             THEN 1 ELSE 0 END)::BIGINT AS n_variants
            FROM feedrow
            UNION ALL
            SELECT fl, fl, 1::BIGINT
            FROM feedrow WHERE d % 5 = 0 AND has_link
        """,
        "doc_sentences": """
            WITH p AS (
                SELECT doc_id,
                       regexp_replace(text, ' (join|row|data) ',
                                      ' \\1. ', 'g') AS t
                FROM documents),
            s AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(
                           t, '[^.!?]+(?:[.!?]+|$)')) AS raw,
                       unnest(range(0, len(regexp_extract_all(
                           t, '[^.!?]+(?:[.!?]+|$)')))) AS sent_idx
                FROM p)
            SELECT doc_id, sent_idx::INT AS sent_idx,
                   trim(raw) AS sentence,
                   len(string_split_regex(trim(raw), '\\s+'))::INT
                       AS n_tokens
            FROM s WHERE trim(raw) <> ''
        """,
        "drift_hosts": """
            WITH obs AS (
                SELECT 'h' || (doc_id % 20) AS host,
                       DATE '2025-03-01'
                           + (((doc_id // 20) % 10)::INT) AS day,
                       NOT (((doc_id % 20) % 2 = 0
                             AND (doc_id // 20) % 10 >= 5
                             AND doc_id % 4 <> 0)
                            OR ((doc_id % 20) % 2 = 1
                                AND doc_id % 17 = 0)) AS ok
                FROM documents),
            daily AS (
                SELECT host, day, count(*) AS n_pages,
                       sum(CASE WHEN ok THEN 0 ELSE 1 END) AS n_err
                FROM obs GROUP BY host, day),
            stepped AS (
                SELECT host, day,
                       n_err::DOUBLE / n_pages AS rate_after,
                       lag(n_err::DOUBLE / n_pages)
                           OVER (PARTITION BY host ORDER BY day)
                           AS rate_before
                FROM daily),
            ranked AS (
                SELECT host, day, rate_before, rate_after,
                       rate_after - rate_before AS jump,
                       count(*) OVER (PARTITION BY host) + 1 AS n_days,
                       row_number() OVER (
                           PARTITION BY host
                           ORDER BY rate_after - rate_before DESC,
                                    day ASC) AS rn
                FROM stepped WHERE rate_before IS NOT NULL)
            SELECT host, day::VARCHAR AS drift_day,
                   CAST(CAST(round(rate_before, 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS rate_before,
                   CAST(CAST(round(rate_after, 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS rate_after,
                   CAST(CAST(round(jump, 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS jump,
                   n_days
            FROM ranked WHERE rn = 1
        """,
        "postings_index": """
            WITH tk AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents),
            pos AS (
                SELECT doc_id, unnest(t) AS term,
                       unnest(range(1, len(t) + 1)) AS pos
                FROM tk)
            SELECT term, doc_id, count(*)::INT AS tf,
                   array_to_string(list_sort(list(pos)), ',')
                       AS positions
            FROM pos WHERE term IN ('merge', 'batch', 'join')
            GROUP BY term, doc_id
        """,
        "phrase_hits": """
            WITH tk AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents),
            pos AS (
                SELECT doc_id, unnest(t) AS term,
                       unnest(range(1, len(t) + 1)) AS pos
                FROM tk),
            pl AS (
                SELECT doc_id, term, list_sort(list(pos)) AS p
                FROM pos WHERE term IN ('batch', 'sort', 'merge')
                GROUP BY doc_id, term),
            bb AS (
                SELECT a.doc_id,
                       list_sort(list_intersect(
                           list_transform(a.p, x -> x + 1), b.p)) AS m
                FROM pl a JOIN pl b USING (doc_id)
                WHERE a.term = 'batch' AND b.term = 'batch'),
            sm AS (
                SELECT a.doc_id,
                       list_sort(list_intersect(
                           list_transform(a.p, x -> x + 1), b.p)) AS m
                FROM pl a JOIN pl b USING (doc_id)
                WHERE a.term = 'sort' AND b.term = 'merge')
            SELECT 'batch batch' AS phrase, doc_id,
                   len(m)::INT AS n_matches,
                   array_to_string(list_transform(m, x -> x - 1), ',')
                       AS first_positions
            FROM bb WHERE len(m) > 0
            UNION ALL
            SELECT 'sort merge', doc_id, len(m)::INT,
                   array_to_string(list_transform(m, x -> x - 1), ',')
            FROM sm WHERE len(m) > 0
        """,
        "feed_entries": """
            WITH base AS (
                SELECT doc_id AS d, (doc_id % 20) AS f,
                       'https://h' || (doc_id % 20)
                           || '.example.org/post/' || doc_id
                           || CASE WHEN doc_id % 5 = 0 THEN '?x=1&y=2'
                                   ELSE '' END AS lk,
                       'T & ' || doc_id AS ttl,
                       printf('%02d', doc_id % 12 + 1) AS mm,
                       printf('%02d', doc_id % 28 + 1) AS dd
                FROM documents)
            SELECT 'https://h' || f || '.example.org/feed.xml'
                       AS feed_url,
                   'rss' AS kind,
                   CASE WHEN d % 3 = 0 THEN 'tag:' || d END AS entry_id,
                   lk AS link,
                   ttl AS title,
                   CASE WHEN d % 3 <> 0 THEN
                       'Mon, ' || dd || ' Jan 2025 00:00:00 GMT'
                   END AS published,
                   CASE WHEN d % 4 = 0 THEN 'sum ' || d END AS summary
            FROM base WHERE f < 10
            UNION ALL
            SELECT 'https://h' || f || '.example.org/feed.xml',
                   'atom',
                   'urn:doc:' || d,
                   CASE WHEN d % 13 = 0 THEN NULL ELSE lk END,
                   ttl,
                   CASE WHEN d % 3 <> 0 THEN
                       '2025-' || mm || '-' || dd || 'T00:00:00Z'
                   ELSE '2025-' || mm || '-' || dd || 'T12:00:00Z'
                   END,
                   CASE WHEN d % 4 = 0 THEN 'sum ' || d
                        WHEN d % 4 = 1 THEN 'c ' || d END
            FROM base WHERE f >= 10
        """,
        "feed_headers": """
            WITH f AS (
                SELECT DISTINCT (doc_id % 20) AS f FROM documents)
            SELECT 'https://h' || f || '.example.org/feed.xml'
                       AS feed_url,
                   CASE WHEN f < 10 THEN 'rss' ELSE 'atom' END AS kind,
                   'Feed ' || f || ' & co' AS title,
                   'https://h' || f || '.example.org/' AS site_link
            FROM f
            UNION ALL
            SELECT 'https://plain.example.org/page.html',
                   NULL, NULL, NULL
        """,
        "robots_sitemaps": """
            WITH h AS (
                SELECT DISTINCT (doc_id % 20) AS hid FROM documents),
            a AS (
                SELECT 'h' || hid || '.example.org' AS host,
                       'https://h' || hid
                           || '.example.org/sitemap.xml'
                           AS sitemap_url
                FROM h WHERE hid % 2 = 0),
            b AS (
                SELECT 'h' || hid || '.example.org' AS host,
                       'https://h' || hid || '.example.org/news.xml'
                           AS sitemap_url
                FROM h WHERE hid % 3 = 0)
            SELECT * FROM a UNION ALL SELECT * FROM b
        """,
        "host_split": """
            SELECT doc_id, source,
                   CASE WHEN u < 0.5 THEN 'train'
                        WHEN u < 0.75 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, source,
                         ('0x' || substr(md5('42:split:' || source),
                                         1, 15))::UBIGINT
                         / (16.0 ** 15) AS u
                  FROM documents)
        """,
        "tfidf_keywords": """
            WITH tk AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+')
                           AS t
                FROM documents),
            n AS (SELECT count(*) AS n_docs FROM tk),
            tok AS (SELECT doc_id, unnest(t) AS term FROM tk),
            f AS (
                SELECT doc_id, term, count(*) AS tf
                FROM tok WHERE len(term) >= 2 GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
            s AS (
                SELECT f.doc_id, f.term, f.tf,
                       f.tf * (ln((n.n_docs + 1.0) / (dft.df + 1.0))
                               + 1.0) AS score
                FROM f JOIN dft USING (term) CROSS JOIN n),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY score DESC, term) AS rn
                FROM s)
            SELECT doc_id, term, tf::BIGINT AS tf,
                   CAST(CAST(round(score, 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS score,
                   rn::BIGINT AS rn
            FROM r WHERE rn <= 3
        """,
        "url_filter": """
            WITH u AS (
                SELECT 'https://'
                    || CASE WHEN doc_id % 11 = 0
                            THEN 'www.casino.example'
                            WHEN doc_id % 7 = 0
                            THEN 'sub.linkfarm.example'
                            ELSE 'site' || (doc_id % 19)::VARCHAR
                                 || '.example.org' END
                    || '/page/' || (doc_id % 50)::VARCHAR
                    || CASE WHEN doc_id % 13 = 0
                            THEN '/free-money-winner'
                            WHEN doc_id % 17 = 0 THEN '/xxx-content'
                            WHEN doc_id % 5 = 0 THEN '/download'
                            ELSE '/article' END AS url
                FROM documents),
            f AS (
                SELECT url, lower(url) AS lu,
                       regexp_replace(
                           lower(regexp_extract(url,
                               '^[^:/?#]+://([^/?#]*)', 1)),
                           '^www\\.', '') AS host
                FROM u),
            r AS (
                SELECT url, lu, host,
                       string_split(host, '.') AS lb
                FROM f),
            sc AS (
                SELECT url, host,
                       CASE WHEN len(lb) >= 2
                            THEN lb[len(lb) - 1] || '.' || lb[len(lb)]
                            ELSE host END AS reg_domain,
                       round(
                           (CASE WHEN contains(lu, 'xxx')
                                 THEN 1.0 ELSE 0.0 END)
                         + (CASE WHEN contains(lu, 'casino')
                                 THEN 1.0 ELSE 0.0 END)
                         + (CASE WHEN contains(lu, 'viagra')
                                 THEN 1.0 ELSE 0.0 END)
                         + (CASE WHEN contains(lu, 'warez')
                                 THEN 1.0 ELSE 0.0 END)
                         + (CASE WHEN contains(lu, 'download')
                                 THEN 0.5 ELSE 0.0 END)
                         + (CASE WHEN contains(lu, 'torrent')
                                 THEN 0.5 ELSE 0.0 END)
                         + (CASE WHEN contains(lu, 'free-money')
                                 THEN 0.5 ELSE 0.0 END)
                         + (CASE WHEN contains(lu, 'winner')
                                 THEN 0.5 ELSE 0.0 END), 1) AS score
                FROM r)
            SELECT url, host, reg_domain,
                   CAST(CAST(score AS DECIMAL(18,1)) AS VARCHAR)
                       AS url_score,
                   reg_domain IN ('badcontent.example',
                                  'casino.example',
                                  'linkfarm.example')
                       AS blocked_domain,
                   NOT reg_domain IN ('badcontent.example',
                                      'casino.example',
                                      'linkfarm.example')
                   AND score < 1.0 AS keep
            FROM sc
        """,
        "epoch_shuffle": """
            SELECT doc_id,
                   (row_number() OVER (
                        ORDER BY md5('5:shuf:' || doc_id::VARCHAR),
                                 doc_id) - 1)::BIGINT AS pos
            FROM documents
        """,
        "link_graph": f"""
            SELECT src_host, dst_host, weight
            FROM {_host_edges('link_graph')} AS e
            ORDER BY src_host, dst_host
        """,
        "host_rank": f"""
            SELECT node,
                   CAST(CAST(round(rank, 8) AS DECIMAL(18,8))
                        AS VARCHAR) AS rank
            FROM ({pagerank_sql(_host_edges('host_rank'),
                                damping=0.85, iters=10)})
            ORDER BY node
        """,
        "recrawl_plan": f"""
            WITH pr AS (
                SELECT node, rank FROM
                ({pagerank_sql(_host_edges('recrawl_plan'),
                               damping=0.85, iters=10)})),
            u AS (
                SELECT url,
                       lower(regexp_extract(url,
                           '^[^:/?#]+://([^/?#:]*)', 1)) AS host,
                       regexp_extract(url, '/p/(\\d+)$', 1)::BIGINT
                           AS i
                FROM (SELECT DISTINCT url FROM read_parquet(
                          '{_TRUTH_ROOT}/recrawl_plan/*.parquet'))),
            ch AS (
                SELECT host,
                       sum(CASE WHEN i % 10 <> 0 AND i % 7 = 0
                                THEN 1 ELSE 0 END) AS n_changed,
                       sum(CASE WHEN i % 10 <> 0 AND i % 7 <> 0
                                THEN 1 ELSE 0 END) AS n_same
                FROM u GROUP BY host),
            cr AS (
                SELECT host,
                       n_changed::DOUBLE /
                           nullif(n_changed + n_same, 0)
                           AS change_rate
                FROM ch),
            j AS (
                SELECT coalesce(pr.node, cr.host) AS host,
                       pr.rank, cr.change_rate
                FROM pr FULL JOIN cr ON pr.node = cr.host),
            sc AS (
                SELECT host, rank, change_rate,
                       round(coalesce(rank, 0.0) *
                             (0.1 + coalesce(change_rate, 0.5)), 8)
                           AS score
                FROM j),
            thr AS (SELECT quantile_cont(score, 0.8) AS hot,
                           quantile_cont(score, 0.5) AS warm
                    FROM sc)
            SELECT host,
                   CAST(CAST(round(rank, 8) AS DECIMAL(18,8))
                        AS VARCHAR) AS rank,
                   CAST(CAST(round(change_rate, 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS change_rate,
                   CAST(CAST(round(score, 8) AS DECIMAL(18,8))
                        AS VARCHAR) AS score,
                   (CASE WHEN score >= hot THEN 1
                         WHEN score >= warm THEN 7
                         ELSE 30 END)::INT AS interval_days
            FROM sc CROSS JOIN thr
        """,
        "anchor_topk": f"""
            WITH t AS (
                SELECT lower(regexp_extract(dst_url,
                           '^[^:/?#]+://([^/?#:]*)', 1)) AS dst_host,
                       unnest(string_split_regex(trim(lower(anchor)),
                                                 '\\s+')) AS term
                FROM read_parquet('{_TRUTH_ROOT}/anchor_topk/*.parquet')),
            c AS (
                SELECT dst_host, term, count(*) AS n FROM t
                WHERE dst_host <> '' AND length(term) >= 2
                GROUP BY dst_host, term),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY dst_host
                    ORDER BY n DESC, term) AS rn
                FROM c)
            SELECT dst_host, term, n, rn FROM r WHERE rn <= 3
            ORDER BY dst_host, rn
        """,
        "mix_corpus": """
            WITH d AS (
                SELECT lang, doc_id,
                       CAST(len(string_split_regex(trim(lower(text)),
                                '\\s+')) AS BIGINT) AS n_tokens
                FROM documents),
            t AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT)
                         AS dom_toks
                  FROM d GROUP BY lang),
            r AS (
                SELECT d.*, least(1.0,
                    {budget} * (CASE d.lang
                                WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                                WHEN 'es' THEN CAST(0.25 AS DOUBLE)
                                WHEN 'de' THEN CAST(0.25 AS DOUBLE)
                                ELSE CAST(0 AS DOUBLE) END)
                    / dom_toks) AS rate
                FROM d JOIN t ON d.lang = t.lang),
            k AS (
                SELECT * FROM r
                WHERE ('0x' || substr(md5('42:mix:' || doc_id), 1, 15))
                      ::UBIGINT / (16.0 ** 15) < rate)
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(CAST(round(min(rate), 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS rate
            FROM k GROUP BY lang ORDER BY lang
        """.replace("{budget}", "16000.0"),
        "c2_filter_project": """
            SELECT doc_id, source, n_chars,
                   length(text) AS len_chars,
                   len(string_split_regex(trim(text), '\\s+')) AS n_tokens
            FROM documents WHERE lang = 'en' AND n_chars > 150
        """,
        "c3_dedup_latest": """
            SELECT user_id, event_id, event_type, value,
                   strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "c4_group_stats": """
            SELECT lang, source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(CAST(round(avg(n_chars), 4) AS DECIMAL(18,4)) AS VARCHAR) AS avg_chars
            FROM documents GROUP BY lang, source
        """,
        "c5_broadcast_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(CAST(round(sum(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "c8_salted_agg": """
            SELECT event_type, count(*) AS n,
                   CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS VARCHAR) AS sum_value
            FROM events GROUP BY event_type
        """,
        "c9_anti_join_resume": """
            SELECT o_orderpriority, count(*) AS n
            FROM orders WHERE o_orderkey % 10 <> 0
            GROUP BY o_orderpriority
        """,
        "c11_topk_sources": """
            SELECT source, count(*) AS n_docs,
                   CAST(CAST(round(avg(n_chars), 4) AS DECIMAL(18,4)) AS VARCHAR) AS avg_chars
            FROM documents GROUP BY source
            ORDER BY n_docs DESC, source LIMIT 10
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(round(sum(l_quantity), 2) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty,
                   CAST(CAST(round(sum(l_extendedprice), 2) AS DECIMAL(18,2)) AS VARCHAR) AS sum_base_price,
                   CAST(CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DECIMAL(18,2)) AS VARCHAR) AS sum_disc_price,
                   CAST(CAST(round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS DECIMAL(18,2)) AS VARCHAR) AS sum_charge,
                   CAST(CAST(round(avg(l_quantity), 4) AS DECIMAL(18,4)) AS VARCHAR) AS avg_qty,
                   CAST(CAST(round(avg(l_extendedprice), 4) AS DECIMAL(18,4)) AS VARCHAR) AS avg_price,
                   CAST(CAST(round(avg(l_discount), 4) AS DECIMAL(18,4)) AS VARCHAR) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts),
                            '%Y-%m-%d %H:%M:%S') AS hour_str,
                   event_type, count(*) AS n,
                   CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2)) AS VARCHAR) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "cube_stats": """
            SELECT coalesce(lang, '(all)') AS lang_g,
                   coalesce(source, '(all)') AS source_g,
                   count(*) AS n
            FROM documents GROUP BY CUBE (lang, source)
        """,
        "sessionize_events": """
            WITH g AS (
                SELECT user_id, ts, event_id, value,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
                FROM events),
            m AS (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN prev IS NULL
                                 OR CAST(floor(epoch(ts)) AS BIGINT)
                                    - CAST(floor(epoch(prev)) AS BIGINT)
                                    > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM g),
            s AS (
                SELECT user_id, value,
                       CAST(sum(new_s) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT)
                           AS session_no
                FROM m)
            SELECT user_id, session_no, count(*) AS n_events,
                   CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2))
                        AS VARCHAR) AS session_value
            FROM s GROUP BY user_id, session_no
        """,
        "events_tumbling": """
            SELECT strftime(time_bucket(INTERVAL '15 minutes', ts),
                            '%Y-%m-%d %H:%M:%S') AS w_start,
                   event_type, count(*) AS n,
                   CAST(CAST(round(sum(value), 2) AS DECIMAL(18,2))
                        AS VARCHAR) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "rollup_stats": """
            SELECT coalesce(lang, '(all)') AS lang_g,
                   coalesce(source, '(all)') AS source_g,
                   count(*) AS n,
                   CAST(CAST(round(sum(n_chars), 2) AS DECIMAL(18,2))
                        AS VARCHAR) AS sum_chars
            FROM documents GROUP BY ROLLUP (lang, source)
        """,
        "intersect_orders": """
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE o_orderkey % 3 = 0
            INTERSECT ALL
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE o_orderkey % 5 = 0
        """,
        "except_orders": """
            SELECT o_orderkey, o_orderpriority FROM orders
            EXCEPT ALL
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE o_orderkey % 7 = 0
        """,
        "running_sum": """
            SELECT event_id, user_id,
                   CAST(CAST(round(sum(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       2) AS DECIMAL(18,2)) AS VARCHAR) AS running_value
            FROM events
        """,
        "semi_join_customers": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_totalprice > 100000)
            GROUP BY c_mktsegment
        """,
        "pivot_event_values": """
            SELECT user_id,
                   CAST(CAST(round(sum(CASE WHEN event_type = 'click'
                       THEN value ELSE 0.0 END), 2) AS DECIMAL(18,2))
                       AS VARCHAR) AS sum_click,
                   CAST(CAST(round(sum(CASE WHEN event_type = 'view'
                       THEN value ELSE 0.0 END), 2) AS DECIMAL(18,2))
                       AS VARCHAR) AS sum_view,
                   CAST(CAST(round(sum(CASE WHEN event_type = 'error'
                       THEN value ELSE 0.0 END), 2) AS DECIMAL(18,2))
                       AS VARCHAR) AS sum_error,
                   CAST(CAST(round(sum(CASE WHEN event_type = 'purchase'
                       THEN value ELSE 0.0 END), 2) AS DECIMAL(18,2))
                       AS VARCHAR) AS sum_purchase
            FROM events GROUP BY user_id
        """,
        "dedup_exact": """
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS fingerprint,
                   min(doc_id) AS canonical_id,
                   count(*) AS n_members
            FROM documents GROUP BY 1
        """,
        "bm25_search": f"""
            WITH {_BM25_CTES}
            SELECT doc_id, n_hits,
                   CAST(CAST(round(score, 4) AS DECIMAL(18,4))
                        AS VARCHAR) AS score
            FROM bm
        """,
        "hybrid_search": f"""
            WITH {_BM25_CTES},
            lex AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id)
                           AS rank
                FROM bm QUALIFY rank <= 50),
            qv AS (SELECT embedding::DOUBLE[] AS v
                   FROM embeddings WHERE vec_id = 0),
            vec AS (
                SELECT e.vec_id AS doc_id,
                       row_number() OVER (
                           ORDER BY list_cosine_similarity(
                               e.embedding::DOUBLE[], qv.v) DESC,
                               e.vec_id) AS rank
                FROM embeddings e CROSS JOIN qv
                WHERE e.vec_id <> 0
                QUALIFY rank <= 50),
            fused AS (
                SELECT doc_id, 1.0 / (60 + rank) AS c FROM lex
                UNION ALL
                SELECT doc_id, 1.0 / (60 + rank) FROM vec)
            SELECT doc_id, count(*) AS n_lists,
                   CAST(CAST(round(sum(c), 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS rrf
            FROM fused GROUP BY 1
        """,
        "doc_len_quantiles": """
            SELECT lang, count(*) AS n,
                   CAST(CAST(round(quantile_cont(n_chars, 0.25), 2)
                             AS DECIMAL(18,2)) AS VARCHAR) AS p25,
                   CAST(CAST(round(quantile_cont(n_chars, 0.50), 2)
                             AS DECIMAL(18,2)) AS VARCHAR) AS p50,
                   CAST(CAST(round(quantile_cont(n_chars, 0.75), 2)
                             AS DECIMAL(18,2)) AS VARCHAR) AS p75,
                   CAST(CAST(round(quantile_cont(n_chars, 0.95), 2)
                             AS DECIMAL(18,2)) AS VARCHAR) AS p95
            FROM documents GROUP BY lang
        """,
        "grouping_sets_stats": """
            SELECT coalesce(lang, '(all)') AS lang_g,
                   coalesce(source, '(all)') AS source_g,
                   count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents
            GROUP BY GROUPING SETS ((lang, source), (source), ())
        """,
        "lm_scores": """
            WITH tk AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+')
                           AS t
                FROM documents),
            b AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])) AS bi
                FROM tk WHERE len(t) >= 2),
            c2 AS (SELECT bi, count(*) AS c2 FROM b GROUP BY 1),
            u AS (SELECT unnest(t) AS w FROM tk),
            c1 AS (SELECT w, count(*) AS c1 FROM u GROUP BY 1),
            v AS (SELECT count(*) AS v FROM c1),
            s AS (
                SELECT b.doc_id, count(*) AS n_bigrams,
                       avg(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)))
                           AS avg_logprob
                FROM b
                JOIN c2 USING (bi)
                JOIN c1 ON c1.w = string_split(b.bi, ' ')[1]
                CROSS JOIN v
                GROUP BY 1)
            SELECT tk.doc_id,
                   coalesce(s.n_bigrams, 0) AS n_bigrams,
                   CAST(CAST(round(s.avg_logprob, 4) AS DECIMAL(18,4))
                        AS VARCHAR) AS avg_logprob
            FROM tk LEFT JOIN s USING (doc_id)
        """,
        "warc_ingest": """
            SELECT 'https://w' || (doc_id % 20)::VARCHAR
                   || '.example.com/d/' || doc_id::VARCHAR AS url,
                   '2024-05-01 00:00:00' AS ts_str,
                   '<html><body>' || text || '</body></html>'
                       AS html_text,
                   octet_length(encode('<html><body>' || text
                                || '</body></html>'))::BIGINT AS n_bytes
            FROM documents
            WHERE doc_id % 7 <> 0
        """,
        "decode_pages": """
            SELECT doc_id,
                   CASE doc_id % 3
                        WHEN 0 THEN '<meta charset="iso-8859-1"><p>'
                                    || text || ' café</p>'
                        ELSE '<p>' || text || ' café</p>' END
                       AS text_decoded,
                   CASE doc_id % 3 WHEN 1 THEN 'utf-8'
                        ELSE 'cp1252' END AS encoding,
                   CASE doc_id % 3 WHEN 0 THEN 'ok:meta'
                        WHEN 1 THEN 'ok:utf8'
                        ELSE 'ok:fallback' END AS status
            FROM documents
        """,
        "page_meta": """
            SELECT 'https://m.example.com/' || doc_id::VARCHAR AS url,
                   'Doc ' || doc_id::VARCHAR AS title,
                   source || ' doc' AS meta_description,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'https://c.example.com/'
                             || doc_id::VARCHAR END AS canonical,
                   NULL::VARCHAR AS og_title,
                   'en' AS lang_attr,
                   'H' || doc_id::VARCHAR AS h1,
                   'ok' AS status
            FROM documents
        """,
        "pdf_real_pages": """
            WITH tk AS (SELECT doc_id,
                               string_split_regex(trim(text), '\\s+') AS t
                        FROM documents),
            pg AS (SELECT doc_id,
                          unnest(range(0, cast(ceil(len(t) / 15.0)
                                               AS INT))) AS page_no,
                          t
                   FROM tk)
            SELECT doc_id,
                   page_no::BIGINT AS page_no,
                   'ok' AS status,
                   array_to_string(t[(page_no * 15 + 1):
                                     (page_no * 15 + 15)], ' ') AS text,
                   CASE WHEN array_to_string(
                            t[(page_no * 15 + 1):(page_no * 15 + 15)],
                            ' ') = '' THEN 0 ELSE 1 END::BIGINT
                       AS n_lines
            FROM pg
        """,
        "pii_scrub": """
            WITH m AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' contact user' || doc_id::VARCHAR
                                    || '@example.com now'
                               ELSE '' END
                       || CASE WHEN doc_id % 4 = 0
                               THEN ' from 192.168.1.10 logged'
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' call +1 555 010 '
                                    || (doc_id % 90 + 10)::VARCHAR
                               ELSE '' END AS t
                FROM documents),
            -- counts mirror Spark's progressive-scrub semantics:
            -- pattern i counts on the text with patterns 1..i-1
            -- already replaced, so sum(counts) == replacements
            s1 AS (SELECT doc_id, t, regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
                   FROM m),
            s2 AS (SELECT doc_id, t, t1, regexp_replace(t1,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                       '<IP>', 'g') AS t2
                   FROM s1)
            SELECT doc_id,
                   len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS n_email,
                   len(regexp_extract_all(t1,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                       AS n_ip,
                   len(regexp_extract_all(t2,
                       '\\+\\d[\\d()\\- ]{7,}\\d')) AS n_phone,
                   regexp_replace(t2,
                       '\\+\\d[\\d()\\- ]{7,}\\d', '<PHONE>', 'g')
                       AS text_scrubbed
            FROM s2
        """,
        "gopher_flags": """
            WITH tk AS (
                SELECT doc_id, text,
                       string_split_regex(trim(text), '\\s+') AS t
                FROM documents),
            f AS (
                SELECT doc_id, len(t) AS n_words,
                       round(length(regexp_replace(text, '\\s+', '',
                                                   'g'))
                             / greatest(len(t), 1), 4) AS avg_word_len,
                       round(len(regexp_extract_all(text,
                                 '(#|\\.\\.\\.|…)'))
                             / greatest(len(t), 1), 4) AS symbol_ratio,
                       round(len(list_filter(t,
                                 x -> regexp_matches(x, '[A-Za-z]')))
                             / greatest(len(t), 1), 4)
                           AS alpha_word_ratio
                FROM tk)
            SELECT doc_id, n_words,
                   CAST(CAST(avg_word_len AS DECIMAL(18,4)) AS VARCHAR)
                       AS avg_word_len,
                   CAST(CAST(symbol_ratio AS DECIMAL(18,4)) AS VARCHAR)
                       AS symbol_ratio,
                   CAST(CAST(alpha_word_ratio AS DECIMAL(18,4))
                        AS VARCHAR) AS alpha_word_ratio,
                   n_words BETWEEN 30 AND 100000 AS ok_words,
                   avg_word_len BETWEEN 3.0 AND 10.0 AS ok_word_len,
                   symbol_ratio <= 0.10 AS ok_symbols,
                   alpha_word_ratio >= 0.80 AS ok_alpha,
                   (n_words BETWEEN 30 AND 100000)
                   AND (avg_word_len BETWEEN 3.0 AND 10.0)
                   AND (symbol_ratio <= 0.10)
                   AND (alpha_word_ratio >= 0.80) AS gopher_pass
            FROM f
        """,
        "url_canon": """
            WITH m AS (
                SELECT CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Site'
                            ELSE 'https://site' END
                       || (doc_id % 7)::VARCHAR
                       || CASE WHEN doc_id % 2 = 0 THEN '.COM:443'
                               ELSE '.com' END
                       || '/Article/' || (doc_id % 50)::VARCHAR
                       || CASE WHEN doc_id % 3 = 0
                               THEN '/?utm_source=feed&b=2&a=1#frag'
                               WHEN doc_id % 3 = 1 THEN '?b=2&a=1'
                               ELSE '/' END AS url
                FROM documents),
            s AS (
                SELECT url, regexp_replace(url, '#.*$', '') AS nofrag,
                       lower(regexp_extract(url,
                           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme
                FROM m),
            p AS (
                SELECT url, scheme,
                       regexp_replace(lower(regexp_extract(nofrag,
                           '^[^:/?#]+://([^/?#]*)', 1)),
                           '^www\\.', '') AS host1,
                       regexp_replace(regexp_extract(nofrag,
                           '^[^:/?#]+://[^/?#]*([^?]*)', 1),
                           '/+$', '') AS path0,
                       list_sort(list_filter(
                           string_split(regexp_extract(nofrag,
                               '\\?([^#]*)', 1), '&'),
                           q -> q <> '' AND NOT regexp_matches(q,
                               '^(utm_[^=]*|gclid|fbclid|ref)=')))
                           AS params
                FROM s),
            c AS (
                SELECT url,
                       scheme || '://'
                       || CASE WHEN scheme = 'http'
                               THEN regexp_replace(host1, ':80$', '')
                               WHEN scheme = 'https'
                               THEN regexp_replace(host1, ':443$', '')
                               ELSE host1 END
                       || CASE WHEN path0 = '' THEN '/' ELSE path0 END
                       || CASE WHEN len(params) > 0
                               THEN '?' || array_to_string(params, '&')
                               ELSE '' END AS url_canon
                FROM p)
            SELECT url_canon, min(url) AS first_url,
                   count(*) AS n_variants
            FROM c GROUP BY 1
        """,
        "robots_frontier": """
            SELECT 'https://r' || (doc_id % 10)::VARCHAR
                   || '.example.com'
                   || CASE WHEN doc_id % 4 = 0
                           THEN '/private/p' || doc_id::VARCHAR
                           ELSE '/public/p' || doc_id::VARCHAR END
                       AS url,
                   'r' || (doc_id % 10)::VARCHAR || '.example.com'
                       AS host,
                   NOT (doc_id % 10 % 2 = 0 AND doc_id % 4 = 0)
                       AS allowed,
                   CASE WHEN doc_id % 10 % 2 = 0 THEN 2.0 END
                       AS crawl_delay
            FROM documents
        """,
        "crawl_waves": """
            WITH u AS (
                SELECT 'https://h'
                       || (CASE WHEN doc_id % 3 = 0 THEN 0
                                ELSE doc_id % 20 END)::VARCHAR
                       || '.example.com/d/' || doc_id::VARCHAR AS url
                FROM documents),
            h AS (SELECT url,
                         regexp_extract(url, '^https?://([^/]+)', 1)
                             AS host
                  FROM u),
            c AS (SELECT host, count(*) AS n FROM h GROUP BY 1)
            SELECT h.url, h.host,
                   CAST(floor(
                       ('0x' || substr(md5('42:w:' || h.url), 1, 15))
                           ::UBIGINT / (16.0 ** 15)
                       * greatest(ceil(c.n / 4.0), 1)) AS BIGINT)
                       AS wave,
                   CAST(floor(
                       ('0x' || substr(md5('42:s:' || h.url), 1, 15))
                           ::UBIGINT / (16.0 ** 15) * 4) AS BIGINT)
                       AS slot
            FROM h JOIN c USING (host)
        """,
        "contamination": f"""
            WITH {_SHINGLES_CTE},
            ev AS (SELECT DISTINCT tok FROM sh WHERE doc % 17 = 0),
            tr AS (SELECT doc, tok FROM sh WHERE doc % 17 <> 0)
            SELECT tr.doc AS doc_id, count(*) AS n_overlap
            FROM tr JOIN ev USING (tok)
            GROUP BY 1
        """,
        "repetition": """
            WITH tk AS (
                SELECT doc_id, length(text) AS chars,
                       string_split_regex(trim(text), '\\s+') AS t
                FROM documents),
            g2 AS (
                SELECT doc_id, chars,
                       unnest(list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])) AS g
                FROM tk WHERE len(t) >= 2),
            c2 AS (SELECT doc_id, chars, g, count(*) AS cnt
                   FROM g2 GROUP BY 1, 2, 3),
            top AS (
                SELECT doc_id, cnt * length(g) AS top_chars,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY cnt DESC, g) AS rn
                FROM c2),
            g5 AS (
                SELECT doc_id, chars,
                       unnest(list_transform(range(1, len(t) - 3),
                              i -> array_to_string(t[i : i+4], ' ')))
                           AS g
                FROM tk WHERE len(t) >= 5),
            c5 AS (SELECT doc_id, chars, g, count(*) AS cnt
                   FROM g5 GROUP BY 1, 2, 3),
            dup AS (SELECT doc_id,
                           sum(cnt * length(g)) AS dup_chars
                    FROM c5 WHERE cnt > 1 GROUP BY 1)
            SELECT tk.doc_id, len(t) AS n_words,
                   CAST(CAST(round(coalesce(top.top_chars, 0)
                                   / greatest(tk.chars, 1), 6)
                             AS DECIMAL(18,6)) AS VARCHAR) AS top2_frac,
                   CAST(CAST(round(coalesce(dup.dup_chars, 0)
                                   / greatest(tk.chars, 1), 6)
                             AS DECIMAL(18,6)) AS VARCHAR) AS dup5_frac
            FROM tk
            LEFT JOIN (SELECT * FROM top WHERE rn = 1) top USING (doc_id)
            LEFT JOIN dup USING (doc_id)
        """,
        "para_dedup": """
            WITH tk AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS t
                FROM documents),
            ch AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           range(0, cast(ceil(len(t) / 8.0) AS INT)),
                           i -> array_to_string(t[i*8+1 : i*8+8], ' ')),
                           chr(10)) AS text
                FROM tk),
            pars AS (
                SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS par,
                       unnest(range(0, len(string_split(text, chr(10)))))
                           AS pos
                FROM ch),
            keep AS (
                SELECT doc_id, pos, par,
                       row_number() OVER (PARTITION BY par
                                          ORDER BY doc_id, pos) AS rn
                FROM pars),
            agg AS (
                SELECT doc_id,
                       string_agg(par, chr(10) ORDER BY pos)
                           AS text_dedup,
                       count(*) AS n_kept
                FROM keep WHERE rn = 1 GROUP BY doc_id)
            SELECT c.doc_id,
                   coalesce(a.text_dedup, '') AS text_dedup,
                   len(string_split(c.text, chr(10))) AS n_pars,
                   coalesce(a.n_kept, 0) AS n_kept
            FROM ch c LEFT JOIN agg a USING (doc_id)
        """,
        "line_freq": """
            WITH tk AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS t
                FROM documents),
            ch AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           range(0, cast(ceil(len(t) / 8.0) AS INT)),
                           i -> array_to_string(t[i*8+1 : i*8+8], ' ')),
                           chr(10)) AS text
                FROM tk),
            pars AS (
                SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS par,
                       unnest(range(0, len(string_split(text, chr(10)))))
                           AS pos
                FROM ch),
            freq AS (
                SELECT par, count(DISTINCT doc_id) AS ndocs
                FROM pars GROUP BY par),
            agg AS (
                SELECT p.doc_id,
                       string_agg(p.par, chr(10) ORDER BY p.pos)
                           AS text_kept,
                       count(*) AS n_kept
                FROM pars p JOIN freq f USING (par)
                WHERE f.ndocs <= 2
                GROUP BY p.doc_id)
            SELECT c.doc_id,
                   coalesce(a.text_kept, '') AS text_kept,
                   len(string_split(c.text, chr(10))) AS n_lines,
                   coalesce(a.n_kept, 0) AS n_kept
            FROM ch c LEFT JOIN agg a USING (doc_id)
        """,
        "pack_seqs": """
            WITH tk AS (
                SELECT doc_id,
                       len(string_split_regex(trim(lower(text)),
                           '\\s+'))::BIGINT AS n_tokens,
                       CAST(floor(
                           ('0x' || substr(md5('42:bin:'
                                || doc_id::VARCHAR), 1, 15))::UBIGINT
                           / (16.0 ** 15) * 4) AS BIGINT) AS bin
                FROM documents),
            w AS (
                SELECT *, sum(n_tokens) OVER (
                           PARTITION BY bin ORDER BY doc_id
                       )::BIGINT AS end_tok
                FROM tk)
            SELECT doc_id, bin, n_tokens,
                   (end_tok - n_tokens)::BIGINT AS start_tok, end_tok,
                   CAST(floor((end_tok - n_tokens) / 128.0) AS BIGINT)
                       AS seq_first,
                   CAST(floor((end_tok - 1) / 128.0) AS BIGINT)
                       AS seq_last
            FROM w
        """,
        "minhash_lsh": f"""
            WITH {_MINHASH_PAIRS_CTES}
            SELECT doc_a, doc_b, n_bands FROM mh_pairs
        """,
        "incr_dedup": f"""
            WITH {_SHINGLES_CTE},
            sigs AS (SELECT doc,
                     min(md5('0:' || tok)) AS s0, min(md5('1:' || tok)) AS s1,
                     min(md5('2:' || tok)) AS s2, min(md5('3:' || tok)) AS s3,
                     min(md5('4:' || tok)) AS s4, min(md5('5:' || tok)) AS s5,
                     min(md5('6:' || tok)) AS s6, min(md5('7:' || tok)) AS s7
                     FROM sh GROUP BY doc),
            bands_all AS (
                SELECT doc, 0 AS band, s0 || '|' || s1 AS bkey FROM sigs
                UNION ALL
                SELECT doc, 1, s2 || '|' || s3 FROM sigs
                UNION ALL
                SELECT doc, 2, s4 || '|' || s5 FROM sigs
                UNION ALL
                SELECT doc, 3, s6 || '|' || s7 FROM sigs),
            nb AS (SELECT doc AS nid, band, bkey FROM bands_all
                   WHERE doc % 5 = 0),
            cb AS (SELECT doc AS cid, band, bkey FROM bands_all
                   WHERE doc % 5 <> 0
                   QUALIFY count(*) OVER (PARTITION BY band, bkey)
                           <= 64),
            near AS (SELECT nid, min(cid) AS near_match
                     FROM nb JOIN cb USING (band, bkey) GROUP BY 1),
            fp AS (SELECT doc_id,
                          md5(regexp_replace(lower(trim(text)),
                                             '\\s+', ' ', 'g')) AS f
                   FROM documents),
            ex AS (SELECT n.doc_id AS nid, min(c.doc_id) AS exact_match
                   FROM fp n JOIN fp c
                     ON n.f = c.f AND c.doc_id % 5 <> 0
                   WHERE n.doc_id % 5 = 0 GROUP BY 1)
            SELECT n.doc_id,
                   CASE WHEN ex.exact_match IS NOT NULL
                        THEN 'exact_dup'
                        WHEN near.near_match IS NOT NULL
                        THEN 'near_dup'
                        ELSE 'new' END AS verdict,
                   coalesce(ex.exact_match, near.near_match)
                       AS match_id
            FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) n
            LEFT JOIN ex ON ex.nid = n.doc_id
            LEFT JOIN near ON near.nid = n.doc_id
        """,
        "dup_components": f"""
            WITH RECURSIVE {_MINHASH_PAIRS_CTES},
            e AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
                  UNION SELECT doc_b, doc_a FROM mh_pairs),
            reach AS (
                SELECT DISTINCT a AS node, a AS lbl FROM e
                UNION
                SELECT e.a, reach.lbl
                FROM e JOIN reach ON e.b = reach.node)
            SELECT node AS doc_id, min(lbl) AS component,
                   (node = min(lbl)) AS is_canonical
            FROM reach GROUP BY node
        """,
        "jaccard_pairs": f"""
            WITH {_SHINGLES_CTE},
            capped AS (SELECT tok FROM (
                SELECT tok, count(*) AS c FROM sh GROUP BY tok)
                WHERE c <= 100),
            r AS (SELECT doc, tok FROM sh JOIN capped USING (tok)),
            sizes AS (SELECT doc, count(*) AS sz FROM r GROUP BY doc),
            inter AS (SELECT a.doc AS da, b.doc AS db, count(*) AS i
                      FROM r a JOIN r b USING (tok)
                      WHERE a.doc < b.doc GROUP BY 1, 2)
            SELECT da AS doc_a, db AS doc_b,
                   round(i / (sa.sz + sb.sz - i), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc = da
            JOIN sizes sb ON sb.doc = db
            WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.05
        """,
        "minhash_overcap": f"""
            WITH {_SHINGLES_CTE},
            sigs AS (SELECT doc,
                     min(md5('0:' || tok)) AS s0, min(md5('1:' || tok)) AS s1,
                     min(md5('2:' || tok)) AS s2, min(md5('3:' || tok)) AS s3,
                     min(md5('4:' || tok)) AS s4, min(md5('5:' || tok)) AS s5,
                     min(md5('6:' || tok)) AS s6, min(md5('7:' || tok)) AS s7
                     FROM sh GROUP BY doc),
            bands_all AS (
                SELECT doc, 0 AS band, s0 || '|' || s1 AS bkey FROM sigs
                UNION ALL
                SELECT doc, 1, s2 || '|' || s3 FROM sigs
                UNION ALL
                SELECT doc, 2, s4 || '|' || s5 FROM sigs
                UNION ALL
                SELECT doc, 3, s6 || '|' || s7 FROM sigs)
            SELECT CAST(band AS BIGINT) AS band, bkey,
                   count(*) AS n_docs
            FROM bands_all GROUP BY band, bkey HAVING count(*) > 2
        """,
        "overcap_canonicals": f"""
            WITH {_SHINGLES_CTE},
            sigs AS (SELECT doc,
                     min(md5('0:' || tok)) AS s0, min(md5('1:' || tok)) AS s1,
                     min(md5('2:' || tok)) AS s2, min(md5('3:' || tok)) AS s3,
                     min(md5('4:' || tok)) AS s4, min(md5('5:' || tok)) AS s5,
                     min(md5('6:' || tok)) AS s6, min(md5('7:' || tok)) AS s7
                     FROM sh GROUP BY doc),
            bands_all AS (
                SELECT doc, 0 AS band, s0 || '|' || s1 AS bkey FROM sigs
                UNION ALL
                SELECT doc, 1, s2 || '|' || s3 FROM sigs
                UNION ALL
                SELECT doc, 2, s4 || '|' || s5 FROM sigs
                UNION ALL
                SELECT doc, 3, s6 || '|' || s7 FROM sigs),
            ov AS (SELECT band, bkey FROM bands_all
                   GROUP BY band, bkey HAVING count(*) > 2),
            m AS (SELECT doc, band, bkey FROM bands_all
                  JOIN ov USING (band, bkey)),
            c AS (SELECT band, bkey, min(doc) AS bc
                  FROM m GROUP BY band, bkey)
            SELECT m.doc AS doc, min(c.bc) AS canonical_id
            FROM m JOIN c USING (band, bkey) GROUP BY m.doc
        """,
        "winnow_fps": """
            WITH tk AS (SELECT doc_id,
                        string_split_regex(trim(lower(text)), '\\s+') AS t
                        FROM documents),
            g AS (SELECT doc_id,
                         unnest(range(1, greatest(len(t) - 1, 1))) AS pos,
                         unnest(list_transform(
                             range(1, greatest(len(t) - 1, 1)),
                             i -> md5(t[i] || ' ' || t[i+1] || ' '
                                      || t[i+2]))) AS h
                  FROM tk),
            w AS (SELECT doc_id AS doc,
                         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                             AS fp
                  FROM g)
            SELECT DISTINCT doc, fp FROM w
        """,
        "simhash_docs": f"""
            WITH {_SIMHASH_CTE}
            SELECT doc, simhash FROM sims
        """,
        "simhash_pairs": f"""
            -- mirror of drop_zero=True: simhash=0 is the degenerate
            -- bucket (every sub-shingle_k-word doc), excluded from
            -- Hamming LSH on both sides
            WITH {_SIMHASH_CTE}
            SELECT a.doc AS doc_a, b.doc AS doc_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sims a JOIN sims b ON a.doc < b.doc
            WHERE a.simhash <> 0 AND b.simhash <> 0
              AND bit_count(xor(a.simhash, b.simhash)) <= 8
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id,
                              embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 8),
            s AS (SELECT query_id, e.vec_id AS neighbor_id,
                         list_cosine_similarity(e.embedding::DOUBLE[], qv)
                             AS sim
                  FROM embeddings e CROSS JOIN q
                  WHERE e.vec_id <> query_id)
            SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, neighbor_id)
                           AS rank
                FROM s)
            WHERE rank <= 5
        """,
        "corpus_clean": _clean_verdict_sql("documents", 0.25),
        "web_corpus": f"""
            SELECT reason, count(*) AS n
            FROM ({_clean_verdict_sql(
                "(SELECT url AS doc_id, text FROM read_parquet('"
                + _TRUTH_ROOT + "/web_corpus/*.parquet'))", 0.2)})
            GROUP BY reason ORDER BY reason
        """,
        "extract_pages": f"""
            WITH latest AS (
                SELECT url, text,
                       row_number() OVER (PARTITION BY url
                                          ORDER BY warc_ts DESC) AS rn
                FROM read_parquet('{_TRUTH_ROOT}/extract_pages/*.parquet'))
            SELECT url,
                   CASE (CAST(regexp_extract(url, 'host(\\d+)', 1)
                              AS INT) % 3)
                        WHEN 0 THEN 't_article'
                        WHEN 1 THEN 't_forum'
                        ELSE 't_product' END AS template_id,
                   text <> '' AS ok,
                   nullif(text, '') AS text
            FROM latest WHERE rn = 1
        """,
        "raw_extract": f"""
            WITH latest AS (
                SELECT url, text,
                       row_number() OVER (PARTITION BY url
                                          ORDER BY warc_ts DESC) AS rn
                FROM read_parquet('{_TRUTH_ROOT}/raw_extract/*.parquet'))
            SELECT url, text <> '' AS ok, nullif(text, '') AS text
            FROM latest WHERE rn = 1
        """,
        "induce_roundtrip": f"""
            SELECT sample_id, status, title, author, text, junk
            FROM read_parquet('{_TRUTH_ROOT}/induce_roundtrip/*.parquet')
        """,
        "fields_long": f"""
            SELECT url, warc_ts, field, value
            FROM read_parquet('{_TRUTH_ROOT}/fields_long/*.parquet')
        """,
        "extract_spans": f"""
            SELECT url, warc_ts, span_start, span_end
            FROM read_parquet('{_TRUTH_ROOT}/extract_spans/*.parquet')
        """,
        "pdf_pages": f"""
            SELECT doc_id, page_no, n_lines, n_bytes
            FROM read_parquet('{_TRUTH_ROOT}/pdf_pages/*.parquet')
        """,
        "compression_ratios": f"""
            SELECT doc_id, n_raw_bytes, n_compressed_bytes, ratio
            FROM read_parquet(
                '{_TRUTH_ROOT}/compression_ratios/*.parquet')
        """,
        "induce_hosts": f"""
            SELECT host_pattern, template_id, n_samples, status
            FROM read_parquet('{_TRUTH_ROOT}/induce_hosts/*.parquet')
        """,
        "ivf_ann_topk": f"""
            SELECT query_id, neighbor_id, rank
            FROM read_parquet('{_TRUTH_ROOT}/ivf_ann_topk/*.parquet')
        """,
        # page-policy closed forms
        "robots_noindex": """
            SELECT 'https://h' || (doc_id % 10) ||
                       '.example.org/p/a/' || doc_id AS url,
                   (doc_id % 5 IN (0, 2)) AS noindex,
                   (doc_id % 5 IN (1, 2)) AS nofollow
            FROM documents
        """,
        "canonical_groups": """
            WITH c AS (
                SELECT doc_id AS d,
                       'https://h' || (doc_id % 10) ||
                           '.example.org/p/a/' || doc_id AS url,
                       CASE
                         WHEN doc_id % 4 = 1 THEN
                           'https://c.example.org/canon/' ||
                           (doc_id - doc_id % 4) || '?a=1&b=2'
                         WHEN doc_id % 4 = 2 THEN
                           -- a <base href> re-bases ROOT-relative
                           -- hrefs too (WHATWG): origin comes from
                           -- the base when one is declared
                           CASE WHEN doc_id % 9 = 0 THEN
                             'https://b.example.org/canon/' ||
                             (doc_id - doc_id % 4)
                           ELSE
                             'https://h' || (doc_id % 10) ||
                             '.example.org/canon/' ||
                             (doc_id - doc_id % 4)
                           END
                         WHEN doc_id % 4 = 3 THEN
                           CASE WHEN doc_id % 9 = 0 THEN
                             'https://b.example.org/dir/x/' ||
                             (doc_id - doc_id % 4)
                           ELSE
                             'https://h' || (doc_id % 10) ||
                             '.example.org/p/a/x/' ||
                             (doc_id - doc_id % 4)
                           END
                         ELSE 'https://h' || (doc_id % 10) ||
                              '.example.org/p/a/' || doc_id
                       END AS canonical_url
                FROM documents)
            SELECT canonical_url, count(*)::BIGINT AS n_pages,
                   min(url) AS first_url,
                   sum(CASE WHEN canonical_url = url THEN 1
                            ELSE 0 END)::BIGINT AS n_self
            FROM c GROUP BY canonical_url
        """,
        # CDX family closed forms: the SURT transform's expected output
        # and the CDXJ parse/dedup results are all stated directly
        # from the planting arithmetic
        "surt_keys": """
            WITH u AS (
                SELECT doc_id AS d,
                       (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://'
                             ELSE 'https://' END) ||
                       (CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
                             ELSE '' END) ||
                       'Sub' || (doc_id % 5) || '.Example.ORG' ||
                       (CASE WHEN doc_id % 2 = 0 THEN ':80'
                             WHEN doc_id % 9 = 0 THEN ':8080'
                             ELSE '' END) ||
                       '/Path/' || doc_id ||
                       (CASE WHEN doc_id % 4 = 0 THEN '///'
                             ELSE '' END) ||
                       (CASE WHEN doc_id % 5 = 0
                                  THEN '?B=2&UTM_source=x&a=1'
                             WHEN doc_id % 5 = 1
                                  THEN '?jsessionid=ABC&z=9'
                             ELSE '' END) ||
                       (CASE WHEN doc_id % 6 = 0 THEN '#Frag'
                             ELSE '' END) AS url
                FROM documents)
            SELECT url,
                   'org,example,sub' || (d % 5) ||
                   (CASE WHEN d % 2 <> 0 AND d % 9 = 0 THEN ':8080'
                         ELSE '' END) ||
                   ')/path/' || d ||
                   (CASE WHEN d % 5 = 0 THEN '?a=1&b=2'
                         WHEN d % 5 = 1 THEN '?z=9'
                         ELSE '' END) AS urlkey
            FROM u
        """,
        "cdx_records": """
            WITH t AS (SELECT doc_id AS d, doc_id % 211 AS k
                       FROM documents)
            SELECT
                CASE WHEN d % 23 = 0 THEN NULL
                     ELSE 'org,example,h' || (k % 20) || ')/p/' || k
                     END AS urlkey,
                CASE WHEN d % 23 = 0 THEN NULL
                     ELSE strftime(TIMESTAMP '2026-01-01 00:00:00'
                                   + to_seconds((d * 37)::BIGINT),
                                   '%Y%m%d%H%M%S') END AS ts14,
                CASE WHEN d % 23 = 0 OR d % 29 = 0 THEN NULL
                     ELSE 'https://h' || (k % 20) ||
                          '.example.org/p/' || k END AS url,
                CASE WHEN d % 23 = 0 OR d % 29 = 0 THEN NULL
                     ELSE 'text/html' END AS mime,
                CASE WHEN d % 23 = 0 OR d % 29 = 0 THEN NULL
                     WHEN d % 9 = 0 THEN 404 ELSE 200
                     END::INT AS status_code,
                CASE WHEN d % 23 = 0 OR d % 29 = 0 THEN NULL
                     WHEN k % 3 = 0 THEN 'sha1:K' || k
                     ELSE 'sha1:D' || d END AS digest,
                CASE WHEN d % 23 = 0 OR d % 29 = 0 THEN NULL
                     ELSE (d * 7) % 9973 END::BIGINT AS length,
                CASE WHEN d % 23 = 0 OR d % 29 = 0 THEN NULL
                     ELSE (d * 13) % 65536 END::BIGINT AS "offset",
                CASE WHEN d % 23 = 0 OR d % 29 = 0 THEN NULL
                     ELSE 'crawl-' || (d % 4) || '.warc.gz'
                     END AS filename,
                CASE WHEN d % 23 = 0 THEN 'error:BadLine'
                     WHEN d % 29 = 0 THEN 'error:BadJson'
                     ELSE 'ok' END AS status
            FROM t
        """,
        "temp_mix": """
            WITH d AS (
                SELECT lang, doc_id,
                       CAST(len(string_split_regex(trim(lower(text)),
                                '\\s+')) AS BIGINT) AS n_tokens
                FROM documents),
            t AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT)
                         AS dom_toks
                  FROM d GROUP BY lang),
            w AS (SELECT lang, dom_toks,
                         sqrt(dom_toks::DOUBLE) AS pw FROM t),
            zz AS (SELECT sum(pw) AS z FROM w),
            r AS (SELECT d.*,
                         least(1.0, round(16000.0 * (w.pw / zz.z)
                                          / w.dom_toks, 9)) AS rate
                  FROM d JOIN w ON d.lang = w.lang, zz),
            k AS (SELECT * FROM r
                  WHERE ('0x' || substr(md5('42:tmix:' || doc_id),
                                        1, 15))::UBIGINT
                        / (16.0 ** 15) < rate)
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(CAST(round(min(rate), 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS rate
            FROM k GROUP BY lang
        """,
        "minhash_incr": f"""
            WITH {_MINHASH_PAIRS_CTES}
            SELECT doc_a, doc_b, n_bands,
                   CASE WHEN doc_a % 3 = 0 AND doc_b % 3 = 0
                        THEN 'new_new' ELSE 'new_old' END AS side
            FROM mh_pairs
            WHERE doc_a % 3 = 0 OR doc_b % 3 = 0
        """,
        "warc_write": f"""
            SELECT filename, url, "offset", length, digest
            FROM read_parquet('{_TRUTH_ROOT}/warc_write/*.parquet')
        """,
        "canonical_redirects": """
            WITH mm AS (SELECT max(doc_id) AS m FROM documents),
            dd AS (SELECT doc_id AS d, doc_id - doc_id % 8 AS s
                   FROM documents)
            SELECT 'https://r.example.com/p/' || least(s + 3, m + 1)
                       AS canonical_final,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   min('https://r.example.com/p/' || d) AS first_url
            FROM dd, mm
            GROUP BY s, m
        """,
        "warc_fetch": """
            SELECT 'https://w' || (doc_id % 20) || '.example.com/d/'
                       || doc_id AS url,
                   '<html><body>' || text || '</body></html>'
                       AS html_text,
                   CAST(octet_length(encode('<html><body>' || text ||
                        '</body></html>')) AS BIGINT) AS n_bytes,
                   'ok' AS status
            FROM documents
        """,
        "redirect_map": """
            WITH mm AS (SELECT max(doc_id) AS m FROM documents),
            dd AS (SELECT doc_id AS d, doc_id % 8 AS o,
                          doc_id - doc_id % 8 AS s
                   FROM documents)
            SELECT 'https://r.example.com/p/' || d AS src_url,
                   CASE WHEN o <= 2 THEN 'https://r.example.com/p/'
                             || least(s + 3, m + 1)
                        WHEN o = 6 AND m = s + 6
                             THEN 'https://r.example.com/p/' || (s+7)
                        END AS final_url,
                   (CASE WHEN o <= 2 THEN least(s + 3, m + 1) - d
                         WHEN o = 6 AND m = s + 6 THEN 1
                         END)::BIGINT AS n_hops,
                   CASE WHEN o <= 2 OR (o = 6 AND m = s + 6)
                        THEN 'ok' ELSE 'unresolved' END AS status
            FROM dd, mm WHERE o IN (0, 1, 2, 6, 7)
        """,
        "warc_cdx": f"""
            SELECT urlkey, ts14, url, status_code, digest,
                   "offset", length, filename
            FROM read_parquet('{_TRUTH_ROOT}/warc_cdx/*.parquet')
        """,
        "cdx_dedup": """
            WITH r AS (
                SELECT doc_id % 211 AS k, doc_id AS d,
                       'org,example,h' || ((doc_id % 211) % 20) ||
                       ')/p/' || (doc_id % 211) AS urlkey,
                       CASE WHEN (doc_id % 211) % 3 = 0
                                THEN 'sha1:K' || (doc_id % 211)
                            ELSE 'sha1:D' || doc_id END AS digest
                FROM documents
                WHERE doc_id % 23 <> 0 AND doc_id % 29 <> 0)
            SELECT urlkey, count(*)::BIGINT AS n_records,
                   count(DISTINCT digest)::BIGINT
                       AS n_distinct_digests,
                   strftime(TIMESTAMP '2026-01-01 00:00:00'
                            + to_seconds((max(d) * 37)::BIGINT),
                            '%Y%m%d%H%M%S') AS latest_ts14,
                   -- Spark side tie-breaks max_by on struct(ts,
                   -- digest); DuckDB arg_max rejects struct keys,
                   -- but d (hence ts = f(d)) is UNIQUE in this
                   -- planted corpus so the tie-break never fires and
                   -- arg_max(digest, d) is an exact mirror
                   arg_max(digest, d) AS latest_digest,
                   (count(DISTINCT digest) <= 1) AS all_same
            FROM r GROUP BY urlkey
        """,
        # the lifecycle loop's closed form: mirror drift_points over
        # the staged truth (daily err1 rates → lag → argmax jump,
        # earliest-day tie-break, min_jump 0.5), then the before/
        # after error-rate rollup over each detected host's
        # post-drift-day pages (err1 = original registry, err2 =
        # re-induced registry)
        "template_refresh": f"""
            WITH t AS (
                SELECT * FROM read_parquet(
                    '{_TRUTH_ROOT}/template_refresh/*.parquet')),
            daily AS (
                SELECT host, day, min(day_date) AS day_date,
                       avg(err1) AS rate
                FROM t GROUP BY host, day),
            stepped AS (
                SELECT host, day, day_date, rate,
                       lag(rate) OVER (PARTITION BY host
                                       ORDER BY day) AS prev
                FROM daily),
            ranked AS (
                SELECT host, day, day_date, rate - prev AS jump,
                       row_number() OVER (
                           PARTITION BY host
                           ORDER BY rate - prev DESC, day ASC) AS rn
                FROM stepped WHERE prev IS NOT NULL),
            det AS (
                SELECT host, day AS dday, day_date AS dday_date
                FROM ranked WHERE rn = 1 AND jump >= 0.5)
            SELECT t.host,
                   strftime(det.dday_date, '%Y-%m-%d') AS drift_day,
                   count(*)::BIGINT AS n_post,
                   CAST(CAST(round(avg(t.err1), 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS rate_before,
                   count(*)::BIGINT AS n_post_after,
                   CAST(CAST(round(avg(t.err2), 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS rate_after
            FROM t JOIN det ON t.host = det.host
                           AND t.day >= det.dday
            GROUP BY t.host, det.dday_date
        """,
        "boiler_extract": f"""
            SELECT url,
                   strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
                   'ok' AS status, text
            FROM read_parquet('{_TRUTH_ROOT}/boiler_extract/*.parquet')
            WHERE text <> ''
        """,
        "extract_rescued": f"""
            WITH latest AS (
                SELECT url, decode(html) AS h, text,
                       row_number() OVER (PARTITION BY url
                                          ORDER BY warc_ts DESC) AS rn
                FROM read_parquet(
                    '{_TRUTH_ROOT}/extract_rescued/*.parquet')),
            cls AS (
                SELECT CASE WHEN text <> '' THEN 'ok'
                            WHEN starts_with(h, '<html><body><table>')
                                 THEN 'ok_heuristic'
                            ELSE 'failed' END AS status_class
                FROM latest WHERE rn = 1)
            SELECT status_class, count(*) AS n FROM cls
            GROUP BY status_class ORDER BY status_class
        """,
        # the frontier composition is fully closed-form, so its twin
        # needs no staging: canonicalization mirrors url_canon, the
        # robots policy is the synthetic Disallow's closed form, and
        # wave/slot reuse crawl_waves' md5-uniform draw
        "frontier": """
            WITH raw AS (
                SELECT doc_id % 6 AS h,
                       CASE WHEN doc_id % 4 = 0
                            THEN '/private/p' || doc_id::VARCHAR
                            ELSE '/p/' || doc_id::VARCHAR END AS path
                FROM documents),
            canon AS (
                SELECT 'https://f' || h::VARCHAR || '.example.com'
                       || path AS url,
                       'f' || h::VARCHAR || '.example.com' AS host,
                       1::BIGINT AS n_variants
                FROM raw WHERE NOT starts_with(path, '/private/')),
            c AS (SELECT host, count(*) AS n FROM canon GROUP BY 1)
            SELECT canon.url, canon.host,
                   CAST(floor(
                       ('0x' || substr(md5('42:w:' || canon.url), 1, 15))
                           ::UBIGINT / (16.0 ** 15)
                       * greatest(ceil(c.n / 4.0), 1)) AS BIGINT)
                       AS wave,
                   CAST(floor(
                       ('0x' || substr(md5('42:s:' || canon.url), 1, 15))
                           ::UBIGINT / (16.0 ** 15) * 4) AS BIGINT)
                       AS slot,
                   canon.n_variants,
                   CAST(NULL AS DOUBLE) AS crawl_delay
            FROM canon JOIN c USING (host)
        """,
        "sample_strata": """
            SELECT doc_id, lang, source FROM documents
            WHERE ('0x' || substr(md5('42:' || doc_id), 1, 15))::UBIGINT
                  / (16.0 ** 15)
                  < (CASE lang WHEN 'en' THEN 0.5
                               WHEN 'es' THEN 0.25 ELSE 0.0 END)
        """,
        "lsh_near_dup": f"""
            WITH sigged AS (
                SELECT vec_id, embedding,
                       {_srp_bucket_sql(4)} AS bucket
                FROM embeddings),
            overcap AS (SELECT bucket FROM sigged
                        GROUP BY bucket HAVING count(*) > 48),
            kept AS (SELECT * FROM sigged
                     WHERE bucket NOT IN (SELECT bucket FROM overcap))
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 4)
                       AS cosine
            FROM kept a JOIN kept b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 4)
                  >= 0.35
        """,
        "srp_overcap": f"""
            WITH sigged AS (
                SELECT vec_id, {_srp_bucket_sql(4)} AS bucket
                FROM embeddings)
            SELECT bucket, count(*) AS n_docs
            FROM sigged GROUP BY bucket HAVING count(*) > 48
        """,
        "semantic_dedup": f"""
            WITH sims AS (
                SELECT e.vec_id, e.embedding, c.idx,
                       list_cosine_similarity(e.embedding::DOUBLE[],
                                              c.cent) AS sim
                FROM embeddings e CROSS JOIN {_semdedup_cents_sql()}),
            assign AS (
                SELECT vec_id, embedding, idx AS cluster_id,
                       sim AS cent_sim
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY vec_id
                          ORDER BY sim DESC, idx DESC) AS rn
                      FROM sims)
                WHERE rn = 1),
            overcap AS (SELECT cluster_id FROM assign
                        GROUP BY cluster_id HAVING count(*) > 68),
            cap AS (SELECT * FROM assign
                    WHERE cluster_id NOT IN
                          (SELECT cluster_id FROM overcap)),
            dropped AS (
                SELECT DISTINCT b.vec_id
                FROM cap a JOIN cap b
                  ON a.cluster_id = b.cluster_id
                 AND a.vec_id <> b.vec_id
                WHERE round(list_cosine_similarity(
                          a.embedding::DOUBLE[],
                          b.embedding::DOUBLE[]), 4) >= 0.35
                  AND (a.cent_sim < b.cent_sim
                       OR (a.cent_sim = b.cent_sim
                           AND a.vec_id < b.vec_id)))
            SELECT s.vec_id, s.cluster_id,
                   CAST(CAST(round(s.cent_sim, 6) AS DECIMAL(18,6))
                        AS VARCHAR) AS cent_sim,
                   CASE WHEN s.cluster_id IN
                            (SELECT cluster_id FROM overcap)
                            THEN 'overcap'
                        WHEN s.vec_id IN (SELECT vec_id FROM dropped)
                            THEN 'dropped'
                        ELSE 'kept' END AS status
            FROM assign s
        """,
        "lsh_ann_topk": f"""
            WITH sigged AS (
                SELECT vec_id, embedding,
                       {_srp_bucket_sql(6)} AS bucket
                FROM embeddings),
            overcap AS (SELECT bucket FROM sigged
                        GROUP BY bucket HAVING count(*) > 18),
            kept AS (SELECT * FROM sigged
                     WHERE bucket NOT IN (SELECT bucket FROM overcap)),
            q AS (SELECT query_id, qv, unnest([bucket,
                             xor(bucket, 1), xor(bucket, 2)]) AS bucket
                  FROM (SELECT vec_id AS query_id, embedding AS qv,
                               bucket
                        FROM sigged WHERE vec_id < 8)),
            s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                         list_cosine_similarity(e.embedding::DOUBLE[],
                                                q.qv::DOUBLE[]) AS sim
                  FROM kept e JOIN q ON e.bucket = q.bucket
                  WHERE e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, neighbor_id)
                           AS rank
                FROM s)
            WHERE rank <= 5
        """,
        "token_counts": """
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subtokens,
                   length(text) AS len_chars
            FROM documents
        """,
        "embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 4)
                       AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 4)
                  >= 0.35
        """,
        "quality_scores": """
            WITH f AS (
                SELECT doc_id,
                       len(string_split_regex(trim(text), '\\s+'))
                           AS n_tokens,
                       length(regexp_replace(text, '\\s+', '', 'g'))
                           AS n_alpha,
                       len(list_distinct(
                           string_split_regex(trim(text), '\\s+')))
                           AS n_uniq
                FROM documents)
            SELECT doc_id, n_tokens,
                   round(n_alpha / greatest(n_tokens, 1), 4)
                       AS avg_token_len,
                   round(n_uniq / greatest(n_tokens, 1), 4) AS uniq_ratio,
                   round(round(n_uniq / greatest(n_tokens, 1), 4) *
                         least(1.0, n_tokens / 64.0), 4) AS quality_score
            FROM f
        """,
        "fingerprints": """
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS fingerprint
            FROM documents
        """,
        # decision-for-decision mirror of textstats._predict_lang:
        # CJK script check on the first 400 chars, then first-wins
        # (dict order en,es,de,fr) strict-greater stopword majority,
        # latin fallback 'en', empty/token-less -> 'und'
        "lang_id": f"""
            WITH f AS (
              SELECT doc_id, lang, text,
                     length(regexp_replace(substr(text, 1, 400),
                            '[^\\x{{4E00}}-\\x{{9FFF}}]', '', 'g')) AS cjk,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '') AS toks
              FROM documents),
            c AS (
              SELECT doc_id, lang, text, cjk, len(toks) AS n_toks,
                     len(list_filter(toks, t -> t IN ({_mk_inlist('en')})))
                         AS c_en,
                     len(list_filter(toks, t -> t IN ({_mk_inlist('es')})))
                         AS c_es,
                     len(list_filter(toks, t -> t IN ({_mk_inlist('de')})))
                         AS c_de,
                     len(list_filter(toks, t -> t IN ({_mk_inlist('fr')})))
                         AS c_fr
              FROM f)
            SELECT doc_id, lang,
                   CASE WHEN length(text) = 0 THEN 'und'
                        WHEN cjk > 5 THEN 'zh'
                        WHEN n_toks = 0 THEN 'und'
                        WHEN c_en > 0 AND c_en >= c_es AND c_en >= c_de
                             AND c_en >= c_fr THEN 'en'
                        WHEN c_es > 0 AND c_es > c_en AND c_es >= c_de
                             AND c_es >= c_fr THEN 'es'
                        WHEN c_de > 0 AND c_de > c_en AND c_de > c_es
                             AND c_de >= c_fr THEN 'de'
                        WHEN c_fr > 0 AND c_fr > c_en AND c_fr > c_es
                             AND c_fr > c_de THEN 'fr'
                        ELSE 'en' END AS predicted_lang
            FROM c
        """,
    }
