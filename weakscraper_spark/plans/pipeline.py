"""End-to-end extraction pipeline — C1..C13 of SURVEY.md §3C, in
SHUFFLE-MINIMAL order:

    scan → filter/project → resume-anti-join → attach-template
    (broadcast, map-side) → [optional salt/repartition] → mapInArrow
    extract → dedup-latest on the NARROW output → sink, whose write
    job also reports the run (one ``Observation``).

Why extract-first / dedup-after (the load-bearing scale decision):
the heavy column is ``html`` (~50 KB/row at CC scale). A pre-extract
latest-snapshot window would shuffle the FULL corpus width once (and
a salting repartition would shuffle it again) before any page is
parsed — at 100 TB that is 100 TB of shuffle I/O, and measured on
this sandbox it's exactly the stage that anti-scales (disk-bound).
Running the Arrow extract stage directly on input splits makes the
entire heavy path map-only (scan → broadcast-hash-join → Python,
pipelined, zero exchanges); the latest-snapshot dedup then windows
over ~200-byte result rows — a ~250× smaller shuffle — at the cost
of parsing superseded snapshots (~10% of CC rows). Python parse time
for 10% extra rows ≪ a full-width shuffle of the corpus.

Other scale notes (10^12 rows / 1000 executors, tested local):
- Declarative throughout → Catalyst pushdown/pruning; the scan reads
  only (url, warc_ts, html, lang) — never the ground-truth ``text``.
- Template registry is tiny → ``F.broadcast`` join (C5): map-side,
  no exchange on the pages side.
- Skew: extraction parallelism comes from byte-range input splits,
  which are host-agnostic — a head host CANNOT flatline a core in
  the map-only plan. Explicit deterministic salting
  (``pmod(xxhash64(url), S)``, no rand() → resume-stable) remains
  available (``n_salts>0``) for host-clustered/bucketed inputs and is
  mandatory for host-keyed aggregations (host_stats_salted, C8).
- Resume: left_anti join against already-written urls (C9) makes the
  sink append idempotent at url granularity — the checkpoint is the
  sink itself (Iceberg commit in prod; parquet dir in sandbox).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.extract import extract_pages, status_ok
from ..sources.synth import compiled_specs, synth_pages, synth_templates


# --------------------------------------------------------------------------
# C2 — filter + project (+host derivation, JVM-side)
# --------------------------------------------------------------------------

def url_host() -> Column:
    """The host key of the ``url`` column — the key templates attach
    on and every per-host rate groups by. ``try_``: a malformed url
    in real CC data must NULL its host, not crash the job (Spark 4
    ANSI ``parse_url`` raises)."""
    return F.try_parse_url("url", F.lit("HOST"))


def prepare_pages(pages: DataFrame, langs: list[str] | None = None) -> DataFrame:
    """Filter to extractable rows and derive the host key. All
    JVM-side built-ins (pushed to the scan where possible)."""
    out = pages.filter(F.length("html") > 0)
    if langs:
        out = out.filter(F.col("lang").isin(langs))
    return out.withColumn("host", url_host())


# --------------------------------------------------------------------------
# C3 — latest-snapshot dedup per url
# --------------------------------------------------------------------------

def dedup_latest(rows: DataFrame) -> DataFrame:
    """Keep the newest ``warc_ts`` row per url (warc_ts is unique per
    url in CC-style inputs). Works on any DataFrame carrying
    (url, warc_ts); in the flagship plan it runs AFTER extraction on
    narrow result rows — see module docstring."""
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    return (rows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# --------------------------------------------------------------------------
# C5 — attach template via broadcast join on host
# --------------------------------------------------------------------------

def attach_template(pages: DataFrame, templates: DataFrame) -> DataFrame:
    """Broadcast equi-join pages ⨝ template registry. The registry is
    O(#hosts-with-templates) — always the broadcast side. Pages with
    no registered template are kept (left join) and surface as
    ``error:NoTemplate`` status rows downstream (audit-friendly)."""
    reg = templates.select(
        F.col("host_pattern").alias("host"), "template_id")
    return pages.join(F.broadcast(reg), "host", "left")


# --------------------------------------------------------------------------
# C8 — deterministic skew salting
# --------------------------------------------------------------------------

def salt_repartition(df: DataFrame, num_partitions: int,
                     n_salts: int = 16) -> DataFrame:
    """Repartition on (host, salt) where salt = pmod(xxhash64(url), S).
    Deterministic (resume-safe) and spreads any single head host over
    up to ``n_salts`` partitions while keeping co-residence for the
    downstream per-partition metrics."""
    return df.repartition(
        num_partitions,
        F.col("host"),
        F.pmod(F.xxhash64("url"), F.lit(n_salts)),
    )


# --------------------------------------------------------------------------
# C9 — checkpoint resume via anti join
# --------------------------------------------------------------------------

def resume_filter(pages: DataFrame, done: DataFrame | None) -> DataFrame:
    """Drop input rows already represented in the sink.

    ``done`` is either a bare url set (plain left_anti) or, from
    ``run_pipeline``, ``(url, done_ts)`` with done_ts = the newest
    extracted ``warc_ts`` per url. The composite form keeps
    latest-snapshot semantics under INCREMENTAL input: a snapshot
    newer than anything already extracted for that url is processed
    (the serving view ``dedup_latest(sink)`` then prefers it), while
    superseded snapshots are still skipped — an anti-join on the
    predicate ``url known AND warc_ts <= done_ts``."""
    if done is None:
        return pages
    if "done_ts" not in done.columns:
        return pages.join(done.select("url"), "url", "left_anti")
    return (pages.join(done.select("url", "done_ts"), "url", "left")
            .filter(F.col("done_ts").isNull() |
                    (F.col("warc_ts") > F.col("done_ts")))
            .drop("done_ts"))


# --------------------------------------------------------------------------
# C4 — host stats with explicit two-phase salted aggregation
# --------------------------------------------------------------------------

def host_stats_salted(pages: DataFrame, n_salts: int = 16) -> DataFrame:
    """groupBy(host) with a skewed head host → two-phase: partial agg
    on (host, salt), final agg on host. Result is salt-invariant
    (tested); the partial stage spreads the head host's map-side
    combine over ``n_salts`` reducers."""
    partial = (
        pages
        .withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(n_salts)))
        .groupBy("host", "_salt")
        .agg(F.count("*").alias("_n"),
             F.sum(F.length("html")).alias("_bytes"))
    )
    return (partial.groupBy("host")
            .agg(F.sum("_n").alias("n_pages"),
                 F.sum("_bytes").alias("bytes_in")))


# --------------------------------------------------------------------------
# C11 — worst-host report
# --------------------------------------------------------------------------

def host_report(out: DataFrame, k: int = 10) -> DataFrame:
    per_host = (
        out.withColumn("host", url_host())
        .groupBy("host")
        .agg(F.count("*").alias("n_pages"),
             F.sum(F.when(status_ok(), 0).otherwise(1))
             .alias("n_fail"))
        .withColumn("fail_rate", F.col("n_fail") / F.col("n_pages"))
    )
    return per_host.orderBy(F.desc("fail_rate"), F.desc("n_pages"),
                            "host").limit(k)


# --------------------------------------------------------------------------
# C13 — per-partition lineage/metrics (from the partition_id the
# extract stage stamped on every row; pure JVM-side aggregation)
# --------------------------------------------------------------------------

def partition_metrics(out: DataFrame, run_id: str) -> DataFrame:
    """Per-partition rows of ``out``, labelled ``run_id``: a lazy view
    read over the sink (one run's partition) or any extract output.
    ``run_pipeline`` never runs it; its own report is run-level."""
    return (
        out.groupBy("partition_id")
        .agg(F.count("*").alias("n_pages"),
             F.sum(F.when(status_ok(), 1).otherwise(0))
             .alias("n_ok"),
             F.sum(F.when(status_ok(), 0).otherwise(1))
             .alias("n_fail"),
             F.sum("n_nodes").alias("n_nodes"),
             F.sum("n_bytes").alias("bytes_in"),
             F.sum("parse_ms").alias("cpu_ms"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("ts", F.current_timestamp())
    )


# --------------------------------------------------------------------------
# The full pipeline
# --------------------------------------------------------------------------

def build_extract_plan(pages: DataFrame, templates: DataFrame,
                       specs: dict[str, str],
                       langs: list[str] | None = None,
                       done_urls: DataFrame | None = None,
                       num_partitions: int | None = None,
                       n_salts: int = 0,
                       fallback: str | None = None) -> DataFrame:
    """Compose the shuffle-minimal plan lazily (no action): map-only
    scan→broadcast-join→extract, then dedup-latest over narrow output
    rows. ``n_salts>0`` inserts the deterministic salted repartition
    before the Python stage — only useful when the input layout is
    host-clustered (module docstring). ``fallback='heuristic'``
    rescues template-failing pages with the boilerplate-strip
    extractor inside the same Python stage (operators/extract.py) —
    the plan stays map-only."""
    spark = pages.sparkSession
    staged = prepare_pages(pages, langs)
    staged = resume_filter(staged, done_urls)
    staged = attach_template(staged, templates)
    if n_salts > 0:
        num_partitions = num_partitions or max(
            spark.sparkContext.defaultParallelism * 2, 8)
        staged = salt_repartition(staged, num_partitions, n_salts)
    extracted = extract_pages(staged, specs, fallback=fallback)
    return dedup_latest(extracted)


def run_pipeline(spark: SparkSession, pages: DataFrame,
                 templates: DataFrame, specs: dict[str, str],
                 out_dir: str, run_id: str = "run0",
                 langs: list[str] | None = None,
                 n_salts: int = 0,
                 num_partitions: int | None = None,
                 fallback: str | None = None) -> dict:
    """Execute the pipeline with checkpoint-resume semantics against a
    parquet sink (Iceberg ``writeTo(...).append()`` in prod — sandbox
    has no Iceberg jars, SURVEY §8).

    Sink layout: one hive-style partition per run
    (``pages_out/run_id=<id>/``), written with per-run OVERWRITE — a
    retried/duplicate run_id replaces its own partition instead of
    double-appending, so the sink append is idempotent (the parquet
    stand-in for an Iceberg transactional commit). Consumers read
    ``pages_out`` whole; latest-per-url serving view =
    ``dedup_latest(sink)``; per-partition lineage =
    ``partition_metrics`` over the sink (every row keeps its
    ``partition_id``).

    Resume: the done-set (url, max extracted warc_ts) is computed
    from the sink and MATERIALIZED via ``localCheckpoint(eager=True)``
    before the write starts — the append job must not re-list the
    directory it is appending to (self-referential read/write; Iceberg
    snapshot isolation solves this in prod).

    The run report rides the write job as one ``Observation``: no job
    runs after the write. Counts follow ``status_ok()``; a NULL or
    unknown status counts in ``n_fail``, so ``ok_written + n_fail ==
    rows_written``. ``rescued`` counts heuristic rescues (already in
    ``ok_written``); ``cpu_ms`` is Σ``parse_ms``; the parse-time
    percentiles are NULL on a 0-row run. Every observed aggregate is
    one that cannot throw (``try_sum``, not ``sum``): an observed
    aggregate that throws leaves ``Observation.get`` blocked instead
    of failing the run."""
    pages_out = os.path.join(out_dir, "pages_out")
    inc_path = os.path.join(pages_out, f"run_id={run_id}")

    done = None
    if _dir_has_parquet(pages_out):
        # exclude THIS run's partition from the done-set: a retry of a
        # partially-written run must re-process its own rows (the
        # overwrite below replaces the partial partition), while still
        # resuming against every other run's output. Partition pruning
        # makes the exclusion a metadata-only filter.
        done = (spark.read.parquet(pages_out)
                .filter(F.col("run_id") != run_id)
                .groupBy("url").agg(F.max("warc_ts").alias("done_ts"))
                .localCheckpoint(eager=True))

    plan = build_extract_plan(pages, templates, specs, langs=langs,
                              done_urls=done, n_salts=n_salts,
                              num_partitions=num_partitions,
                              fallback=fallback)
    ok = status_ok()
    obs = Observation()
    plan = plan.observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        F.count_if(ok).alias("ok_written"),
        F.count_if(~ok).alias("n_fail"),
        F.count_if(F.col("status") == "ok_heuristic").alias("rescued"),
        F.try_sum("n_nodes").alias("n_nodes"),
        F.try_sum("n_bytes").alias("bytes_in"),
        F.try_sum("parse_ms").alias("cpu_ms"),
        F.percentile_approx("parse_ms", 0.5).alias("parse_ms_p50"),
        F.percentile_approx("parse_ms", 0.99).alias("parse_ms_p99"))

    t0 = time.perf_counter()
    plan.write.mode("overwrite").parquet(inc_path)
    wall_s = time.perf_counter() - t0
    report = obs.get
    if not report["rows_written"]:
        # try_sum over no rows is NULL; the empty run sums to 0
        report.update(n_nodes=0, bytes_in=0, cpu_ms=0.0)
    return {**report, "wall_s": wall_s, "pages_out": pages_out}


def compact_sink(spark: SparkSession, pages_out: str,
                 run_id: str = "compact") -> dict:
    """Periodic MERGE-shaped compaction: rewrite the sink keeping only
    the latest-per-url rows, collapsing the per-run partitions that
    snapshot-granular resume accumulates (a url re-extracted because a
    newer warc_ts arrived leaves its superseded row in an older run
    partition). Prod = Iceberg ``MERGE INTO``/rewrite-data-files with
    an atomic snapshot swap; the parquet stand-in stages the compacted
    view fully OUTSIDE the sink tree first (the job must not write
    under the tree it scans), then swaps directories. Swap ORDER is
    add-before-delete: the compacted partition is renamed INTO the
    sink first, then the superseded partitions are removed — the
    transient duplicate rows in that window are harmless under the
    ``dedup_latest`` serving view, whereas delete-first would leave
    the sink readable-as-empty if the job crashed mid-swap (and a
    0-row sink reads as 'nothing extracted' to resume). A crash at any
    point leaves either the old partitions or the staged copy (or
    both) on disk — never neither. The row count rides the write as an
    ``Observation`` (no second full read of the compacted output)."""
    import shutil

    sink = spark.read.parquet(pages_out)
    old_parts = [d for d in os.listdir(pages_out)
                 if d.startswith("run_id=")]
    compacted = dedup_latest(sink.drop("run_id"))
    obs = Observation()
    compacted = compacted.observe(obs, F.count(F.lit(1)).alias("n"))
    # stage OUTSIDE the sink root: the compaction job must not write
    # under the directory tree it is scanning (same self-referential
    # read/write rule as resume), then swap after the write commits
    staging = pages_out.rstrip("/") + f".compact_{run_id}"
    compacted.write.mode("overwrite").parquet(staging)
    n = obs.get["n"]
    target = os.path.join(pages_out, f"run_id={run_id}")
    if os.path.exists(target):
        # re-compaction under the same run_id: the old partition's
        # surviving rows are already in the staged copy
        shutil.rmtree(target)
    os.rename(staging, target)
    for d in old_parts:
        if d != f"run_id={run_id}":
            shutil.rmtree(os.path.join(pages_out, d))
    return {"rows": n, "compacted_partitions": len(old_parts),
            "pages_out": pages_out}


def _dir_has_parquet(path: str) -> bool:
    """True if the sink tree (incl. run_id=* partitions) has data."""
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


# --------------------------------------------------------------------------
# Convenience: synthesized end-to-end run (used by entry() and queries())
# --------------------------------------------------------------------------

def synth_and_extract(spark: SparkSession, n_pages: int,
                      fallback: str | None = None) -> DataFrame:
    """``build_extract_plan`` over synthesized pages, unsalted (the
    map-only heavy path) — this is the plan ``entry()`` runs, and it
    must BE the plan the module docstring promises (no corpus-width
    exchange before the Python stage; asserted on entry()'s DataFrame
    in tests/test_plan_quality.py). Salting stays opt-in on
    ``build_extract_plan`` for host-clustered input layouts."""
    pages = synth_pages(spark, n_pages)
    templates = synth_templates(spark)
    return build_extract_plan(pages, templates, compiled_specs(),
                              fallback=fallback)
