"""Template-drift detection — the extraction tier's rot monitor.

A template (enginelib/spec.py) is pinned to a site's markup; when the
site redesigns, extraction keeps RUNNING but starts returning
``mismatch:*`` statuses (enginelib/errors.py taxonomy). At fleet
scale nobody reads per-page statuses — the operational signal is the
per-host failure-rate TIME SERIES and, specifically, the day it
jumps. This module turns extraction output (host, event time, ok
flag) into that signal:

- ``host_error_daily``: per (host, day) page counts + error rate —
  the dashboard relation.
- ``drift_points``: per host, the largest day-over-day error-rate
  jump (the redesign candidate): (host, drift_day, rate_before,
  rate_after, jump, n_days). Hosts with a single observed day have
  nothing to compare and are excluded.

Scale shape: one map-side-combinable groupBy(host, day); the lag +
argmax windows are partitioned BY HOST (the natural key — no global
window, no single-partition straggler), and they run on the
host×day AGGREGATE, which is ~10^4× smaller than the page corpus.
``max_by`` semantics: ties on jump resolve to the EARLIEST day
(deterministic, mirrored in the oracle twin via ORDER BY jump DESC,
day ASC)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def n_err() -> Column:
    """The ``n_err`` aggregate: rows whose ``ok`` flag (boolean or 0/1)
    is false or NULL. A NULL flag is an error, as a NULL status is in
    ``status_ok()``; ``sum`` over ``~ok`` would skip it and the row
    would read as a success."""
    return F.sum(F.when(F.col("ok").cast("boolean"), 0)
                 .otherwise(1)).alias("n_err")


def host_error_daily(df: DataFrame) -> DataFrame:
    """(host, day, n_pages, n_err, err_rate) over ``(host, ts, ok)``
    rows — ``day`` is the date of ``ts`` (date column or castable);
    ``ok`` is boolean or 0/1, NULL counting as an error. err_rate is
    DOUBLE in [0, 1]."""
    return (df.groupBy("host", F.col("ts").cast("date").alias("day"))
            .agg(F.count("*").alias("n_pages"), n_err())
            .withColumn("err_rate",
                        F.col("n_err") / F.col("n_pages")))


def drift_points(df: DataFrame,
                 min_jump: float | None = None) -> DataFrame:
    """Per host of ``(host, ts, ok)`` rows (``host_error_daily``), the
    largest day-over-day error-rate jump:

    (host, drift_day, rate_before, rate_after, jump, n_days)

    ``jump`` = err_rate(day) − err_rate(previous OBSERVED day) — gaps
    in the calendar compare adjacent observations, the right behavior
    for crawl schedules that skip days. ``min_jump=None`` (default)
    keeps EVERY host with ≥2 observed days — including recovering
    hosts whose largest jump is negative (r05 review: the old
    ``>= 0.0`` default silently dropped them from the monitoring
    relation); a numeric threshold keeps only hosts whose max jump
    reaches it. Ties on jump pick the earliest day."""
    return _jump_points(host_error_daily(df), min_jump)


def drift_points_daily(daily: DataFrame,
                       min_jump: float | None = None) -> DataFrame:
    """``drift_points`` over a PRE-AGGREGATED daily relation
    ``(host, day, n_pages, n_err)`` — the form the streaming
    monitor's parquet sink and any dashboard table already hold.

    Feeding aggregates through the row-level API would binarize the
    weighting (one coarse ok flag per window row: a host with ANY
    baseline errors pins at rate 1.0 and its real redesign jump
    vanishes — r06 review); here err_rate stays the exact
    sum(n_err)/sum(n_pages) per (host, day). Duplicate (host, day)
    rows (e.g. sub-daily windows, or one row per restart era)
    re-aggregate first, so any window granularity ≤ the day rolls up
    correctly."""
    rolled = (daily.groupBy("host", "day")
              .agg(F.sum("n_pages").alias("n_pages"),
                   F.sum("n_err").alias("n_err"))
              .withColumn("err_rate",
                          F.col("n_err") / F.col("n_pages")))
    return _jump_points(rolled, min_jump)


def _jump_points(daily: DataFrame,
                 min_jump: float | None) -> DataFrame:
    """Shared lag + argmax-jump core over a (host, day, err_rate)
    relation (semantics documented on ``drift_points``)."""
    w = Window.partitionBy("host").orderBy("day")
    stepped = (daily
               .withColumn("rate_before", F.lag("err_rate").over(w))
               .filter(F.col("rate_before").isNotNull())
               .withColumn("jump",
                           F.col("err_rate") - F.col("rate_before")))
    best = (stepped.groupBy("host")
            .agg(F.max_by(
                    F.struct("day", "rate_before",
                             F.col("err_rate").alias("rate_after"),
                             "jump"),
                    # max_by on (jump, -epoch(day)): earliest day wins ties
                    F.struct(F.col("jump"),
                             (-F.unix_date(F.col("day"))).alias("_d"))
                 ).alias("_b"),
                 (F.count("*") + 1).alias("n_days")))
    out = (best.select("host",
                        F.col("_b.day").alias("drift_day"),
                        F.col("_b.rate_before").alias("rate_before"),
                        F.col("_b.rate_after").alias("rate_after"),
                        F.col("_b.jump").alias("jump"),
                        "n_days"))
    if min_jump is not None:
        out = out.filter(F.col("jump") >= float(min_jump))
    return out


def snapshot_change_rate(old: DataFrame, new: DataFrame,
                         key_col: str = "url",
                         hash_col: str = "content_hash",
                         group_col: str = "host") -> DataFrame:
    """Between two crawl snapshots, the per-group churn signal
    adaptive re-crawl scheduling consumes:

    (group, n_old, n_new, n_added, n_removed, n_changed, n_same,
     change_rate)   change_rate = changed / (changed + same), NULL
    when the snapshots share no key.

    Precondition: ``key_col`` is unique within each snapshot (crawl
    tables are latest-per-url by construction — dedup_latest
    upstream). For a key present in both, the NEW side's
    group labels the row (a url that moved hosts counts under its
    current home). Presence is tracked by SIDE, not hash nullness
    (r05 review): a fetch-failed row with a NULL hash still counts in
    its snapshot, and NULL-vs-value compares as changed (null-safe
    equality), NULL-vs-NULL as same.

    Scale shape: union + ONE key-keyed aggregation pairs the two
    sides (instead of a full-outer join's two shuffle legs), then a
    map-side-combinable group rollup — two exchanges total, both on
    natural keys."""
    o = old.select(F.col(key_col).alias("k"),
                   F.col(group_col).alias("g"),
                   F.col(hash_col).alias("h"),
                   F.lit(0).alias("side"))
    n = new.select(F.col(key_col).alias("k"),
                   F.col(group_col).alias("g"),
                   F.col(hash_col).alias("h"),
                   F.lit(1).alias("side"))
    paired = (o.unionByName(n)
              .groupBy("k")
              .agg(F.coalesce(F.max(F.when(F.col("side") == 1,
                                           F.col("g"))),
                              F.max(F.when(F.col("side") == 0,
                                           F.col("g")))).alias("grp"),
                   F.max(F.when(F.col("side") == 0,
                                F.col("h"))).alias("h_old"),
                   F.max(F.when(F.col("side") == 1,
                                F.col("h"))).alias("h_new"),
                   F.max(F.when(F.col("side") == 0, 1)
                         .otherwise(0)).alias("in_old"),
                   F.max(F.when(F.col("side") == 1, 1)
                         .otherwise(0)).alias("in_new")))
    in_old = F.col("in_old") == 1
    in_new = F.col("in_new") == 1
    both = in_old & in_new
    same = F.col("h_old").eqNullSafe(F.col("h_new"))
    agg = (paired.groupBy(F.col("grp").alias(group_col))
           .agg(F.sum("in_old").alias("n_old"),
                F.sum("in_new").alias("n_new"),
                F.sum(F.when(in_new & ~in_old, 1)
                      .otherwise(0)).alias("n_added"),
                F.sum(F.when(in_old & ~in_new, 1)
                      .otherwise(0)).alias("n_removed"),
                F.sum(F.when(both & ~same, 1)
                      .otherwise(0)).alias("n_changed"),
                F.sum(F.when(both & same, 1)
                      .otherwise(0)).alias("n_same")))
    return agg.withColumn(
        "change_rate",
        F.col("n_changed") /
        F.nullif(F.col("n_changed") + F.col("n_same"), F.lit(0)))
