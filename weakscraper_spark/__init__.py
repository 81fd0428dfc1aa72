"""weakscraper_spark — a PySpark-native template-based web-extraction engine.

A brand-new implementation (NOT a port) of the query/data-processing
capabilities of the reference template-extraction library
(y2kconnect/weakscraper): template-induced, wildcard-annotated DOM
matching compiled on the driver, broadcast to executors, and applied
to Common-Crawl-style page tables via Arrow-native ``mapInArrow``
batches — plus the pipeline steps built from Spark's own operators
(filter/dedup/agg/broadcast-join/anti-join-resume/salted-agg/top-k)
and the training-data operators (dedup exact/MinHash/SimHash,
similarity search, text analysis) a 100 TB-scale corpus pipeline
needs.

Layout:
- ``enginelib``  — pure-Python extraction core (no Spark import): DOM
  parse, template parse/compile, greedy tree alignment, capture,
  induction. Zippable for ``spark-submit --py-files``.
- ``operators`` — Spark DataFrame operators (extract, dedup,
  similarity, text stats).
- ``sources``   — table readers + deterministic synthesis of the
  CC-style pages table.
- ``plans``     — session builder + the end-to-end pipeline (C1–C13
  of SURVEY.md §3C).
- ``streaming`` — optional Structured Streaming wrapper.
"""

__version__ = "0.1.0"
