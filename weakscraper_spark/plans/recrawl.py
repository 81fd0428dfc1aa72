"""Adaptive recrawl planning — the CRAWL-side operational loop next
to the template lifecycle (plans/refresh.py): decide, per host, how
often to come back.

The two signals a fetch fleet actually has:

- **Importance** — the host-graph PageRank (operators/links.py):
  hub hosts feed discovery and deserve freshness.
- **Churn** — between-snapshot change rate
  (operators/drift.py::snapshot_change_rate): a host whose content
  never changes does not need daily fetches no matter how big it is.

``plan_recrawl`` combines them into a priority score and BANDS hosts
into recrawl intervals by score quantile — top q_hot mass recrawls
at ``intervals[0]`` days, the warm band at ``intervals[1]``, the
rest at ``intervals[2]``. Quantile banding (not fixed thresholds)
keeps the fleet's daily fetch budget stable as the corpus grows —
the bands are fractions of the host population by construction.

Everything is host-keyed (O(#hosts) relations): one full-outer join
pairs the two signals — a crawled-but-unlinked host and a
linked-but-uncrawled host BOTH stay visible — and the two quantile
thresholds broadcast back. Deterministic: the score is rounded to
8dp before thresholding, so the verdicts are
value-checked end-to-end against a DuckDB twin composed from the
pagerank and churn mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def plan_recrawl(rank: DataFrame, churn: DataFrame,
                 q_hot: float = 0.8, q_warm: float = 0.5,
                 intervals: tuple[int, int, int] = (1, 7, 30),
                 churn_floor: float = 0.1,
                 unknown_churn: float = 0.5) -> DataFrame:
    """(host, rank, change_rate, score, interval_days) per host.

    ``rank``: (node, rank) from ``pagerank``; ``churn``: any relation
    exposing (host, change_rate) — ``snapshot_change_rate`` output.
    score = round(rank · (churn_floor + churn), 8); a host absent
    from the graph scores with rank 0 (tail band — nothing links to
    it), a host with UNKNOWN churn (no snapshot overlap, or never
    re-crawled) is assumed ``unknown_churn`` rather than stable: lack
    of evidence must not park a host in the coldest band."""
    r = rank.select(F.col("node").alias("host"),
                    F.col("rank").alias("rank"))
    c = churn.select("host", "change_rate")
    j = r.join(c, "host", "full")
    score = F.round(
        F.coalesce(F.col("rank"), F.lit(0.0)) *
        (F.lit(float(churn_floor)) +
         F.coalesce(F.col("change_rate"), F.lit(float(unknown_churn)))),
        8)
    scored = j.select("host", "rank", "change_rate",
                      score.alias("score"))
    thr = scored.agg(
        F.percentile("score", F.lit(float(q_hot))).alias("hot"),
        F.percentile("score", F.lit(float(q_warm))).alias("warm"))
    hot_d, warm_d, cold_d = intervals
    return (scored.crossJoin(F.broadcast(thr))
            .select("host", "rank", "change_rate", "score",
                    F.when(F.col("score") >= F.col("hot"),
                           hot_d)
                     .when(F.col("score") >= F.col("warm"), warm_d)
                     .otherwise(cold_d).cast("int")
                     .alias("interval_days")))
