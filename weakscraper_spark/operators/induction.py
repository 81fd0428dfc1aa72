"""Distributed template induction — the north-star's "template-
induction STAGE" as a Spark operator, not just a driver-side helper
(enginelib/induce.py is the per-host kernel).

Shape at 100 TB: induction needs only k sample pages per host, so the
stage is (a) a window top-k per host — one shuffle over only the rows
that survive the sample limit via WindowGroupLimit map-side pruning —
then (b) one ``applyInArrow`` call per host group emitting a single
template-registry row. The registry output is O(#hosts), i.e. tiny,
and feeds straight into ``attach_template`` (C5 broadcast join).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from .extract import arrow_schema, decode_html

INDUCED_SCHEMA = ("host_pattern string, template_id string, "
                  "template_json string, n_samples int, status string")
# held-out pages per host that validate each induction candidate
K_VALIDATE = 8


def induce_templates(pages: DataFrame, k: int = 4) -> DataFrame:
    """Learn one template per ``host`` from k deterministic sample
    pages, VALIDATED against the next ``K_VALIDATE`` pages of
    the same host (held-out coverage check — see
    ``induce_template_robust``: slot count alone prefers overfit
    fixed-count skeletons when the induction draw happens to be
    structurally uniform; r06, caught by the correctness sweep).

    Returns template-registry rows ``(host_pattern, template_id,
    template_json, n_samples, status)``; ``n_samples`` counts the
    INDUCTION samples only. Hosts whose samples cannot be
    tree-aligned (or with < 2 samples) carry an ``error:*`` status row
    instead of failing the job — the extract stage then reports their
    pages as ``error:NoTemplate`` (audit-friendly, A13 style). Rows
    with a NULL ``html`` or host are dropped before the window, so a
    host with no readable page gets no registry row at all.

    Scale shape unchanged: the per-host window now keeps k+K_VALIDATE
    rows instead of k (still O(1) per host via WindowGroupLimit
    map-side pruning), and the per-host kernel runs (k+1) inductions
    plus (k+1)·(k+K_VALIDATE) extractions — constant work per host."""
    from ..enginelib.induce import induce_template_robust
    from ..enginelib.spec import spec_to_json

    w = Window.partitionBy("host").orderBy(F.xxhash64("url"), "url")
    samples = (pages
               .filter(F.col("html").isNotNull()
                       & F.col("host").isNotNull())
               .withColumn("_rk", F.row_number().over(w))
               .filter(F.col("_rk") <= k + K_VALIDATE)
               .select(F.col("host").alias("host_pattern"), "_rk",
                       "html"))
    schema = arrow_schema(INDUCED_SCHEMA)

    def run(key: tuple, table: pa.Table) -> pa.Table:
        host = key[0].as_py()
        # canonical sample ORDER, not just a deterministic sample SET:
        # applyInArrow delivers the group's rows in partition-
        # dependent order, and tree alignment is order-sensitive — an
        # unlucky arrival order can merge subtrees differently and
        # learn a less general template (r06: the correctness sweep
        # caught one host recovering 0/22 in one session and 22/22 in
        # another from the same pages)
        htmls = [decode_html(raw)[0] for raw in
                 table.sort_by("_rk").column("html").to_pylist()]
        induce, validate = htmls[:k], htmls[k:]
        try:
            spec = induce_template_robust(
                induce, validate_htmls=validate or None)
            row = (host, f"t_{host}", spec_to_json(spec),
                   len(induce), "ok")
        except Exception as e:  # alignment failure → status row
            row = (host, None, None, len(induce),
                   f"error:{type(e).__name__}")
        return pa.Table.from_pydict(
            {c: [v] for c, v in zip(schema.names, row)}, schema=schema)

    return samples.groupBy("host_pattern").applyInArrow(
        run, INDUCED_SCHEMA)
