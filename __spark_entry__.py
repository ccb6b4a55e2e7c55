"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``dataquality_spark.queries`` (one aligned
Spark-impl + DuckDB-SQL pair per SQL-expressible operator from SURVEY.md §2,
plus rows-only entries for model UDFs / LSH / binary plumbing).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full quality-pipeline DAG (heuristic rules → langid +
    perplexity UDF → scrub → exact dedup) on the deterministic
    synthetic pages corpus, summarized as per-rule metrics (stable schema:
    rule_id, pass_count, fail_count, score — 11 rows, one per pipeline
    rule)."""
    from dataquality_spark import pipeline
    from dataquality_spark.synth import generate_pages

    pages = generate_pages(spark, 2000, seed=42)
    ann = pipeline.run_pipeline(spark, pages)
    return pipeline.pipeline_metrics(ann)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from dataquality_spark.queries import QUERIES
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from dataquality_spark.queries import ORACLE_SQL
    return dict(ORACLE_SQL)
