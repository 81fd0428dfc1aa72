"""One timed extraction run at a given parallelism level — the unit
of the north-rule scaling measurement (N vs 4N executors; sandbox
proxy local[2] vs local[8], BASELINE.md).

Run as a subprocess so each parallelism level gets a fresh JVM:

    python -m weakscraper_spark.plans.bench_job <master> <pages_parquet>

Reads the SAME pre-synthesized pages parquet in both runs and times
the EXTRACTION JOB — scan → filter/project → broadcast template join
→ Arrow mapInPandas extract → no-op sink. This is the north-star unit
("batch-parses each page's html ... emits captured fields and main
text per url"); the latest-snapshot dedup is a downstream narrow-row
compaction (Iceberg-MERGE-shaped) that is correctness-tested in
tests/test_pipeline.py and timed separately by the ``extract_pages``
headline query (full plan incl. dedup).

Measurement design (each choice measured on this sandbox, r02):
- **Warmup pass first** (a few input files through the identical
  plan, untimed): pays the one-time JVM JIT, parquet-footer listing,
  python daemon fork + pandas/pyarrow import, and broadcast send
  OUTSIDE the timed region. Those are per-JOB constants (~4–6 s
  here), identical at both parallelism levels, so leaving them in the
  timed wall understates the *scaling* of the actual work — on a real
  cluster a 10^12-row job pays them once against hours of runtime.
- Fresh worker per task, as in every session: the session's
  preloading daemon (``weakscraper_spark._worker_daemon``) forks each
  one with pandas, pyarrow and the engine already imported, so a
  task no longer re-imports them (~0.5 s × n_tasks).
- **arrow_batch_rows=2048** (vs session default 512): the bench pages
  are ~6 KB, so 2048-row batches are ~12 MB — bigger batches quarter
  the per-batch pandas/Arrow overhead in the worker loop (measured:
  worker busy-fraction on engine code rose from ~55% to ~75%+,
  throughput 14k → 30k pages/s at local[8]).
- Input must be MANY balanced files (bench.py synthesizes one file
  per ~3k pages): with 8 single-row-group files the stage has only 8
  real tasks — zero load-balance slack at local[8], stragglers set
  the wall, and measured efficiency collapses to ~0.6 regardless of
  the code under test.

Why small levels (1/4 default, not 8 and 32): the box exposes 32 SMT
threads on ~16 physical cores, and in local mode each Spark task
keeps BOTH a JVM feed thread and a Python worker busy. At
local[1]/local[4] the 2×N busy threads sit well inside the physical
cores at BOTH levels — the ratio then measures data-parallel scaling,
which is what multi-executor scaling looks like on a real cluster
(executors get dedicated cores). At local[16]+ the JVM and Python
sides start competing for cores and SMT caps the ratio at ~2.6×/4
regardless of the code under test; and the high level's exposure to
the host's bursty steal grows with its thread count (r02 ran 2/8 —
16/16 busy threads at the high level — and needed a fully quiet
window; measured, see BASELINE.md).

Prints one JSON line:
    {"master":..., "pages":..., "wall_s":..., "pages_per_s":...}
"""

from __future__ import annotations

import glob
import json
import sys
import time

WARMUP_FILES = 4


def main(master: str, pages_path: str) -> None:
    from .pipeline import attach_template, prepare_pages
    from .session import get_spark
    from ..operators.extract import extract_pages
    from ..sources.synth import compiled_specs, synth_templates

    spark = get_spark(f"bench_{master}", master=master,
                      arrow_batch_rows=2048)
    templates = synth_templates(spark)
    specs = compiled_specs()

    warm = sorted(glob.glob(pages_path + "/*.parquet"))[:WARMUP_FILES]
    if warm:
        wpages = spark.read.parquet(*warm)
        extract_pages(attach_template(prepare_pages(wpages), templates),
                      specs).write.format("noop").mode("overwrite").save()

    pages = spark.read.parquet(pages_path)
    plan = extract_pages(attach_template(prepare_pages(pages), templates),
                         specs)

    t0 = time.perf_counter()
    plan.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0

    n = pages.count()  # rows fed to the extractor (incl. snapshots)
    print(json.dumps({
        "master": master, "pages": n, "wall_s": round(wall, 3),
        "pages_per_s": round(n / wall, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
