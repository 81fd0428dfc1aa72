"""Closed-loop template lifecycle — detection → re-induction →
re-extraction → verified recovery (VERDICT r05 #2).

At fleet scale template rot is the steady-state failure mode: sites
redesign, the registry's compiled template keeps RUNNING but returns
``mismatch:*`` for every new-layout page, and nobody reads per-page
statuses. The operational loop a real extraction tier runs weekly:

1. **Detect** — ``drift_points`` (operators/drift.py) over the
   extraction output's (host, day) error-rate series names the hosts
   whose failure rate jumped, and the day it jumped.
2. **Re-learn** — ``induce_templates`` (operators/induction.py) tree-
   aligns k sample pages from each rotted host's post-drift window
   into a fresh compiled template (robust to the odd off-template
   sample via leave-one-out).
3. **Re-extract** — the rotted hosts' post-drift pages run through
   the same map-only extract stage under the induced registry.
4. **Verify** — per-host before/after error rates over the SAME page
   set; recovery is a measured number, not an assumption.

Scale shape (10^12 rows / 1000 executors):
- Pass 1 is the flagship shuffle-minimal plan (plans/pipeline.py):
  map-only scan → broadcast-join → Arrow extract, dedup on narrow
  output rows. Its narrow output is localCheckpoint-ed here because
  three consumers read it (detection, the before-rates, the serving
  view); in production the sink itself is that checkpoint — pass 1
  is the weekly extraction you already ran, and this loop reads its
  output table instead of recomputing it (see ``run_pipeline``).
- Detection runs on host×day AGGREGATES (~10^4× smaller than the
  corpus); the rotted-host relation is O(#hosts) and broadcasts.
- Re-induction touches only rotted hosts' post-drift pages, and only
  k samples per host survive the WindowGroupLimit pre-filter.
- The induced registry is O(#rotted hosts) — the one driver
  ``collect()`` in the loop, same bounded registry-broadcast pattern
  as ``attach_template`` (specs must ship to executors as a
  broadcast dict either way).
- Re-extraction is the same map-only stage over the post-drift
  subset only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.drift import drift_points
from ..operators.extract import extract_pages, status_ok
from ..operators.induction import induce_templates
from .pipeline import (attach_template, build_extract_plan, dedup_latest,
                       prepare_pages, url_host)

_REGISTRY_SCHEMA = ("host_pattern string, template_id string, "
                    "template_json string")


def _narrow_status(out: DataFrame) -> DataFrame:
    """(url, warc_ts, status, host, ok) from extraction output —
    the relation every downstream lifecycle stage consumes."""
    return out.select(
        "url", "warc_ts", "status",
        url_host().alias("host"), status_ok().alias("ok"))


def _post_drift(df: DataFrame, rotted: DataFrame) -> DataFrame:
    """The rows of ``df`` (host, warc_ts, ...) on a rotted host from
    its drift day on, with that ``drift_day`` attached — the window
    re-induced, re-extracted and compared before and after."""
    return (df.join(F.broadcast(rotted), "host")
            .filter(F.col("warc_ts").cast("date") >= F.col("drift_day")))


def refresh_templates(pages: DataFrame, templates: DataFrame,
                      specs: dict[str, str], min_jump: float = 0.5,
                      k: int = 4, langs: list[str] | None = None,
                      fallback: str | None = None) -> dict:
    """Run the full lifecycle loop. Returns a dict of artifacts:

    - ``drift``: the detected (host, drift_day, …) rows.
    - ``induced``: the per-host induction registry rows (incl.
      ``error:*`` rows for hosts whose samples would not align).
    - ``registry`` / ``specs``: the REFRESHED registry — original
      rows for healthy hosts, induced rows for rotted ones — and the
      matching template_id → spec-JSON dict, ready for the next
      scheduled extraction run.
    - ``second``: narrow re-extraction output for the rotted hosts'
      post-drift pages (url, warc_ts, status, host, ok).
    - ``summary``: per rotted host, (host, drift_day, n_post,
      rate_before_refresh, n_post_after, rate_after_refresh) — the
      measured recovery.

    Eager at two points by design (this is an orchestration loop,
    not a lazy operator): pass 1's narrow output is materialized
    once for its three consumers, and the induced registry (O(#rotted
    hosts)) is collected to broadcast the new specs.
    """
    first = build_extract_plan(pages, templates, specs, langs=langs,
                               fallback=fallback)
    # pass 1's narrow output is materialized once for its three
    # consumers (detection, before-rates, serving view)
    first_narrow = _narrow_status(first).localCheckpoint(eager=True)
    return _refresh_loop(first_narrow, pages, templates, specs,
                         min_jump, k, langs, fallback)


def refresh_from_output(output: DataFrame, pages: DataFrame,
                        templates: DataFrame, specs: dict[str, str],
                        min_jump: float = 0.5, k: int = 4,
                        langs: list[str] | None = None,
                        fallback: str | None = None) -> dict:
    """The PRODUCTION entry of the lifecycle loop: pass 1 is the
    weekly extraction you already ran, so read its SERVING TABLE
    (``run_pipeline``'s sink — url/warc_ts/status at minimum) instead
    of re-extracting the corpus (the module docstring's scale note,
    made callable; at 10^12 rows, re-running pass 1 to detect drift
    would double the fleet's weekly extract bill). ``output`` must be
    MATERIALIZED (a table/parquet read — no checkpoint is taken
    here); ``pages`` is still needed for re-induction/re-extraction
    of the rotted hosts' post-drift window. Artifacts are identical
    to ``refresh_templates`` run on the same inputs
    (tests/test_refresh.py parametrizes the suite over both
    entries)."""
    return _refresh_loop(_narrow_status(output), pages, templates,
                         specs, min_jump, k, langs, fallback)


def _refresh_loop(first_narrow: DataFrame, pages: DataFrame,
                  templates: DataFrame, specs: dict[str, str],
                  min_jump: float, k: int,
                  langs: list[str] | None,
                  fallback: str | None) -> dict:
    spark = pages.sparkSession
    drift = drift_points(
        first_narrow.select("host", F.col("warc_ts").alias("ts"),
                            "ok"),
        min_jump=min_jump)
    rotted = drift.select("host", "drift_day")

    post_pages = _post_drift(prepare_pages(pages, langs), rotted)
    induced = induce_templates(post_pages, k=k)
    reg_rows = (induced.filter(F.col("status") == "ok")
                .select("host_pattern", "template_id",
                        "template_json")
                .collect())  # O(#rotted hosts) — registry scale
    new_specs = {r.template_id: r.template_json for r in reg_rows}
    induced_reg = spark.createDataFrame(
        [(r.host_pattern, r.template_id, r.template_json)
         for r in reg_rows], _REGISTRY_SCHEMA)

    # re-extract the post-drift pages under the induced registry
    # (attach_template's left join: a host whose induction failed
    # keeps template_id NULL and surfaces as error:NoTemplate —
    # visible, not vanished)
    second = _narrow_status(dedup_latest(extract_pages(
        attach_template(post_pages, induced_reg), new_specs,
        fallback=fallback)))

    err_rate = F.avg((~F.col("ok")).cast("double"))
    before = (_post_drift(first_narrow, rotted)
              .groupBy("host", "drift_day")
              .agg(F.count("*").alias("n_post"),
                   err_rate.alias("rate_before_refresh")))
    after = (second.groupBy("host")
             .agg(F.count("*").alias("n_post_after"),
                  err_rate.alias("rate_after_refresh")))
    summary = before.join(after, "host", "left")

    kept = templates.join(
        F.broadcast(rotted.select(
            F.col("host").alias("host_pattern"))),
        "host_pattern", "left_anti")
    refreshed_reg = (kept.select("host_pattern", "template_id",
                                 "template_json")
                     .unionByName(induced_reg))
    refreshed_specs = {**specs, **new_specs}

    return {"first": first_narrow, "drift": drift,
            "induced": induced, "registry": refreshed_reg,
            "specs": refreshed_specs, "second": second,
            "summary": summary}
