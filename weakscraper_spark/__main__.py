"""spark-submit entry point (BASELINE.json:6 "submitted via
spark-submit --py-files"):

    # package the pure-Python engine for executors
    (cd /root/repo && zip -qr /tmp/weakscraper_spark.zip weakscraper_spark)

    spark-submit --py-files /tmp/weakscraper_spark.zip \
        /root/repo/weakscraper_spark/__main__.py extract \
        --pages /data/pages_parquet --out /data/out --run-id r1

Subcommands:
    synth    — write a deterministic CC-style pages table
    extract  — run the full pipeline (resume-aware) into a sink dir;
               prints the run report (counts, sums, parse-time
               percentiles) as one JSON object
    report   — the k worst hosts of a sink by fail rate, one JSON
               object (host, n_pages, n_fail, fail_rate) per line

Imports are absolute so the file also runs as a plain script (the
spark-submit form above), not only as ``python -m weakscraper_spark``.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(prog="weakscraper_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("synth", help="synthesize a pages table")
    p.add_argument("--out", required=True)
    p.add_argument("--pages", type=int, default=10000)
    p.add_argument("--junk-words", type=int, default=12)

    p = sub.add_parser("extract", help="run the extraction pipeline")
    p.add_argument("--pages", required=True, help="input parquet dir")
    p.add_argument("--out", required=True, help="sink dir")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--langs", default="", help="comma list, empty=all")
    p.add_argument("--salts", type=int, default=0,
                   help=">0 enables salted repartition "
                        "(host-clustered inputs)")
    p.add_argument("--fallback", choices=["heuristic"], default=None,
                   help="rescue template-failing pages with the "
                        "boilerplate-strip extractor (in-stage)")

    p = sub.add_parser("report", help="host report from a sink dir")
    p.add_argument("--sink", required=True)
    p.add_argument("--k", type=int, default=10)

    args = ap.parse_args()

    from weakscraper_spark.plans.session import get_spark
    spark = get_spark(f"ws_{args.cmd}")

    if args.cmd == "synth":
        from weakscraper_spark.sources.synth import synth_pages
        synth_pages(spark, args.pages, junk_words=args.junk_words) \
            .write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "pages": args.pages}))

    elif args.cmd == "extract":
        from weakscraper_spark.plans.pipeline import run_pipeline
        from weakscraper_spark.sources.synth import (compiled_specs,
                                                     synth_templates)
        pages = spark.read.parquet(args.pages)
        langs = [s for s in args.langs.split(",") if s] or None
        stats = run_pipeline(
            spark, pages, synth_templates(spark), compiled_specs(),
            args.out, run_id=args.run_id, langs=langs,
            n_salts=args.salts, fallback=args.fallback)
        print(json.dumps(stats))

    elif args.cmd == "report":
        from weakscraper_spark.plans.pipeline import host_report
        out = spark.read.parquet(f"{args.sink}/pages_out")
        for row in host_report(out, args.k).collect():
            print(json.dumps(row.asDict()))

    spark.stop()


if __name__ == "__main__":
    main()
