"""dataquality_spark — a from-scratch PySpark-native web-text quality engine.

Re-expresses the query/data-processing capabilities of the reference
(dfo-mpo/DataQuality: rule-check validation, per-rule scores, weighted
aggregation into a grade, per-record pass/fail reports — see SURVEY.md) as an
idiomatic Spark DAG over Common-Crawl-style pages:

    pages(url, warc_ts, html, text, lang)
      → heuristic quality rules (native DataFrame expressions)
      → language-ID + n-gram perplexity (batched pandas/Arrow UDFs,
        broadcast numpy model artifacts — no per-row Python)
      → regex PII/toxicity scrub (vectorized replace)
      → exact dedup (one groupBy, skew absorbed by the map-side partial min)
      → decisions + rule_metrics + lineage, checkpointed per partition.

Everything here derives from public knowledge only: the Apache Spark / PySpark
API, the reference repo's observable behavior, and published data-quality
heuristics (Gopher/C4-style rules).
"""

__version__ = "0.1.0"
