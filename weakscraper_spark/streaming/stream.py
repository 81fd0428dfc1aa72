"""Streaming extraction (SURVEY.md §4.4): ``readStream`` over a pages
source → the SAME batch extract stage via ``foreachBatch`` → append
sink. Extraction is per-row (stateless), so the base path needs no
state store; late data just appends and the batch ``dedup_latest``
view serves latest-per-url.

Two variants:

- ``stream_extract`` — stateless: every arriving snapshot is
  extracted and appended; latest-per-url is the downstream view.
- ``stream_extract_latest`` — stateful latest-per-url dedup UPSTREAM
  of extraction via ``applyInPandasWithState``: per url the state
  stores only the newest seen ``warc_ts`` (8 bytes/url), stale or
  duplicate snapshots are dropped BEFORE the Python parse (at CC
  scale ~10% of rows are superseded snapshots — that parse work
  disappears), and each batch emits only urls whose latest advanced.
  The sink then holds one row per (url, advance), and
  ``dedup_latest`` over it is exact. By default state never expires
  (``NoTimeout``): latest-per-url is a forever-semantics — in prod
  size the state store (RocksDB) for |urls|. For bounded-replay
  sources, ``state_ttl_s`` bounds state with a watermark-aligned
  EVENT-TIME timeout; eviction trades only re-parse work, never
  serving correctness (docstring there).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.drift import n_err
from ..operators.extract import extract_pages, status_ok
from ..plans.pipeline import attach_template, prepare_pages, url_host


def _batch_sink(templates: DataFrame, specs: dict[str, str],
                out_dir: str, fallback: str | None):
    """The ``foreachBatch`` body both extract streams run: the batch
    extract stage over one micro-batch, written over its own
    ``batch_id=<id>`` partition (``stream_extract``'s docstring has
    why that makes the sink idempotent)."""
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        staged = attach_template(prepare_pages(batch_df), templates)
        out = extract_pages(staged, specs, fallback=fallback)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}"))
    return process_batch


def stream_extract(spark: SparkSession, source_dir: str,
                   source_schema: str,
                   templates: DataFrame, specs: dict[str, str],
                   out_dir: str, checkpoint_dir: str,
                   trigger_available_now: bool = True,
                   fallback: str | None = None):
    """Start (and return) a streaming query writing extraction rows to
    ``out_dir``.

    Delivery semantics: foreachBatch is at-least-once (a batch retried
    after a partial failure re-executes), so the write is made
    IDEMPOTENT by keying it on the checkpoint's batch_id — each batch
    OVERWRITES its own hive partition ``out_dir/batch_id=<id>/``. A
    retry replaces the partial partition instead of double-appending,
    so the sink *contents* are effectively exactly-once. (This is the
    parquet stand-in for Iceberg's transactional append in prod.)"""
    stream = (spark.readStream.schema(source_schema)
              .parquet(source_dir))
    writer = (stream.writeStream.foreachBatch(
                  _batch_sink(templates, specs, out_dir, fallback))
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_latest(spark: SparkSession, source_dir: str,
                          source_schema: str,
                          templates: DataFrame, specs: dict[str, str],
                          out_dir: str, checkpoint_dir: str,
                          trigger_available_now: bool = True,
                          state_ttl_s: int | None = None,
                          watermark: str = "0 seconds",
                          fallback: str | None = None):
    """Stateful streaming variant: latest-per-url dedup BEFORE the
    extract stage (module docstring). Emits, per batch, one input row
    per url whose newest-seen ``warc_ts`` advanced; extraction then
    runs only on those rows. Write idempotence is the same
    batch_id-keyed partition overwrite as ``stream_extract``.

    State sizing: with ``state_ttl_s=None`` the per-url state (8
    bytes) lives forever — latest-per-url is a forever-semantics, so
    in prod size the RocksDB state store for |urls|. For BOUNDED-
    REPLAY sources (e.g. a log with retention <= TTL), pass
    ``state_ttl_s`` to bound state instead: the state carries an
    EVENT-TIME timeout of ``warc_ts + ttl``, aligned with the stream's
    watermark (``watermark`` is the out-of-order allowance), and is
    evicted once the watermark passes it. SAFETY: within the
    watermark contract this is EXACTLY the NoTimeout behavior with
    bounded memory — at eviction time the watermark already exceeds
    the evicted value + TTL, so any later replay that the evicted
    state would have filtered is older than the watermark and is
    dropped by the watermark itself (state never needed again); only
    rows violating the out-of-order allowance behave differently
    (dropped — the standard watermark trade)."""
    import pandas as pd

    stream = (spark.readStream.schema(source_schema)
              .parquet(source_dir))
    if state_ttl_s is not None:
        stream = stream.withWatermark("warc_ts", watermark)
    ttl_ms = None if state_ttl_s is None else state_ttl_s * 1000

    def keep_latest(key, pdfs, state):
        # state: newest warc_ts seen for this url, as epoch micros
        # (a plain long survives the state-store round trip exactly).
        # Vectorized per batch: one argmax over the warc_ts column
        # instead of a Python row loop (ties keep the first max row,
        # same as the scan form).
        if state.hasTimedOut:
            state.remove()
            return
        seen_us = state.get[0] if state.exists else None
        best = None
        best_us = seen_us
        for pdf in pdfs:
            if not len(pdf):
                continue
            us = pd.to_datetime(pdf["warc_ts"]).astype("int64") \
                   .to_numpy() // 1000
            j = int(us.argmax())
            if best_us is None or int(us[j]) > best_us:
                best_us = int(us[j])
                best = pdf.iloc[[j]]
        if best is not None:
            state.update((best_us,))
            if ttl_ms is not None:
                state.setTimeoutTimestamp(best_us // 1000 + ttl_ms)
            yield best

    latest = (stream.groupBy("url")
              .applyInPandasWithState(
                  keep_latest,
                  outputStructType=source_schema,
                  stateStructType="ts_us long",
                  outputMode="update",
                  timeoutConf=("EventTimeTimeout" if ttl_ms is not None
                               else "NoTimeout")))

    writer = (latest.writeStream.foreachBatch(
                  _batch_sink(templates, specs, out_dir, fallback))
              .outputMode("update")
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_host_error_rates(spark: SparkSession, source_dir: str,
                            source_schema: str, out_dir: str,
                            checkpoint_dir: str,
                            window: str = "1 day",
                            watermark: str = "1 day",
                            ts_col: str = "ts",
                            trigger_available_now: bool = True):
    """Streaming twin of ``operators/drift.py::host_error_daily`` —
    the live template-rot monitor: per (host, event-time tumbling
    window) page counts and error rate over the stream of extraction
    statuses, written append-only as windows CLOSE.

    Semantics: the watermark bounds lateness — a status row arriving
    later than ``watermark`` after its window's end is dropped (state
    for the window is already evicted and the row is emitted nowhere;
    monitoring tolerates that, dedup would not). Append mode means a
    window is emitted exactly once, when the watermark passes its
    end — the drift detector then runs as a plain batch query over
    the sink via ``drift_points_daily`` (operators/drift.py), which
    consumes the sink's (host, window, n_pages, n_err) AGGREGATES
    with exact error-rate weighting; do not binarize window rows
    into the row-level ``drift_points`` API (r06 review: a host with
    any baseline errors pins at rate 1.0 and real jumps vanish).

    Scale shape: Spark maintains per-(host, window) partial aggregates
    in the state store — map-side combined, keyed state ~|active
    hosts × open windows|, never per-row; the parquet append sink is
    the dashboard relation.

    The source rows carry ``host``, ``ok`` and the ``ts_col`` event
    time. Composition (r06): the source may be the STREAMING-EXTRACT
    sink itself — when ``host``/``ok`` are absent from the source
    schema but extraction's ``url``/``status`` columns are present,
    they are derived here (host from the url, ok from the status
    taxonomy), so extract → monitor → ``drift_points`` chains with no
    intermediate job."""
    stream = (spark.readStream.schema(source_schema)
              .parquet(source_dir))
    if "host" not in stream.columns and "url" in stream.columns:
        stream = stream.withColumn("host", url_host())
    if "ok" not in stream.columns and "status" in stream.columns:
        stream = stream.withColumn("ok", status_ok())
    stream = stream.withWatermark(ts_col, watermark)
    agg = (stream
           .groupBy("host", F.window(ts_col, window).alias("w"))
           .agg(F.count("*").alias("n_pages"), n_err())
           .select("host", F.col("w.start").alias("win_start"),
                   "n_pages", "n_err",
                   (F.col("n_err") / F.col("n_pages"))
                   .alias("err_rate")))
    writer = (agg.writeStream.outputMode("append").format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_minhash_candidates(spark: SparkSession, source_dir: str,
                              source_schema: str, store_dir: str,
                              out_dir: str, checkpoint_dir: str,
                              id_col: str = "doc_id",
                              col: str = "text",
                              n_hashes: int = 8, band_size: int = 2,
                              shingle_k: int = 3,
                              trigger_available_now: bool = True):
    """CONTINUOUS incremental near-dup: stream newly crawled docs
    against the persisted LSH band store (the
    ``minhash_band_store`` relation a weekly batch pipeline writes),
    emitting candidate pairs (new_doc, stored_doc, band, bkey)
    append-only as docs arrive — the streaming half of
    ``minhash_incremental_pairs``.

    Deliberately STATELESS end-to-end: signatures come from
    ``minhash_bands_narrow`` (row-local JVM array expressions — the
    batch path's explode + groupBy would be a stateful streaming
    aggregation needing a watermark), the band fan-out is a
    generator, and the store join is a STREAM-STATIC inner join —
    so append mode needs no watermark and a doc's candidates emit in
    the same micro-batch it arrives in. The LSH parameters
    (n_hashes/band_size/shingle_k) MUST match the ones the store was
    built with — mismatched band keys join to NOTHING, silently
    (they are pass-through parameters; defaults mirror
    ``minhash_band_store``'s).

    Scope (documented, NARROWER than the batch path): pairs against
    the STORE only — new×new pairs within the stream belong to the
    next batch compaction (a stream-stream self-join would need
    watermarked state for unbounded pairing). The bucket cap is
    STORE-side only: feed a store with over-cap buckets already
    removed (``_overcap_keys`` anti-join), which bounds each new
    doc's fan-out by the capped store-bucket size. This is NOT the
    batch path's combined cap — a store bucket under cap that the
    stream floods past the cap keeps emitting store pairs where
    ``minhash_incremental_pairs`` would drop the whole bucket; the
    periodic compaction that folds the stream into the store re-caps
    on combined sizes and restores exact batch semantics (the twin
    test compares with caps disabled for this reason).

    Scale shape: the static side reloads per micro-batch from
    parquet (partition-pruned on the band key's files if the store
    is written bucketed); per-row work is the narrow sig map; no
    state store at all."""
    from ..operators.dedup import minhash_bands_narrow

    stream = (spark.readStream.schema(source_schema)
              .parquet(source_dir))
    new_bands = minhash_bands_narrow(stream, id_col, col, n_hashes,
                                     band_size, shingle_k)
    store = (spark.read.parquet(store_dir)
             .select(F.col("doc").alias("stored_doc"),
                     "band", "bkey"))
    pairs = (new_bands
             .join(store, ["band", "bkey"])
             .filter(F.col("doc") != F.col("stored_doc"))
             .select(F.col("doc").alias("new_doc"), "stored_doc",
                     "band", "bkey"))
    writer = (pairs.writeStream.outputMode("append").format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
