"""Uniform per-rule test API — the Spark-first analogue of the reference's
direct test contract (`dimensions/accuracy/test_template.py:21-52`, honored
by all 14 concrete tests, e.g. `a1.py:20-72`):

    Test(dataset_path, return_type, logging_path, **params).run_test()
        -> (score, evidence_or_None)          return_type == "score"/"dataset"
        -> (annotated DataFrame, None)        any other return_type
        -> ("No valid {TEST} results generated", None)   on empty input

Here the dataset is a DataFrame (or a parquet path), the rule comes from the
registry, parameters go through the typed metadata validation, and evidence
is written as parquet (a distributed sink, where the reference writes a CSV
via `core_operations.df_to_csv`). Scores follow G-1: pass rate = 1 -
failure rate (`dimensions/accuracy/a4.py:50`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataquality_spark import spec
from dataquality_spark.rules.heuristics import with_rule_flags

NO_RESULTS = "No valid {rule} results generated"


def run_rule(spark: SparkSession, dataset: DataFrame | str,
             rule_id: str, return_type: str = "score",
             logging_path: str | None = None,
             params: dict | None = None,
             text_col: str = "text", lang_col: str = "lang"):
    """Run ONE rule standalone under the reference's uniform contract.

    ``dataset``: a DataFrame or a parquet path (the reference accepts a file
    path and reads it eagerly; here the read stays lazy/distributed).
    ``rule_id``: any heuristic rule (``spec.HEURISTIC_RULES``) or ``dedup``.
    ``params``: typed overrides (``metadata.validate_params``).

    Returns per the contract above. ``"dataset"`` writes the evidence subset
    (failing rows + their stat columns, the `a1.py:61-67` shape) to
    ``logging_path`` as parquet and returns its path.
    """
    if isinstance(dataset, str):
        from dataquality_spark.sources import read_data
        dataset = read_data(spark, dataset)
    if rule_id == "dedup":
        from dataquality_spark.metadata import validate_params
        from dataquality_spark.operators.dedup import with_dedup_flag
        # the dedup rule has no parameters: an override is refused as
        # unknown, never silently ignored
        validate_params(params)
        flagged = with_dedup_flag(dataset, text_col=text_col)
    elif rule_id in spec.HEURISTIC_RULES:
        flagged = with_rule_flags(dataset, text_col, lang_col, params)
    else:
        raise ValueError(f"unknown rule {rule_id!r}; known: "
                         f"{spec.HEURISTIC_RULES + ['dedup']}")
    flag = F.col(f"r_{rule_id}")

    if return_type not in ("score", "dataset"):
        return flagged, None

    agg = flagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(flag.cast("double")).alias("score")).collect()[0]
    if agg["n"] == 0:
        return NO_RESULTS.format(rule=rule_id), None
    score = float(agg["score"])

    if return_type == "score":
        return score, None
    # "dataset": evidence subset = failing rows, distributed parquet sink
    out = logging_path or os.path.join("/tmp", f"dq_evidence_{rule_id}")
    evidence = flagged.where(~flag)
    evidence.write.mode("overwrite").parquet(out)
    return score, out


def run_rules(spark: SparkSession, dataset: DataFrame | str,
              rule_ids: list[str] | None = None,
              params: dict | None = None) -> dict[str, float]:
    """All requested rule scores in ONE aggregation pass (the reference's
    `run_tests` loop re-reads the input per test, `core_operations.py`;
    here every flag is a column in one projection). Empty input → {}."""
    if isinstance(dataset, str):
        from dataquality_spark.sources import read_data
        dataset = read_data(spark, dataset)
    rule_ids = rule_ids or spec.HEURISTIC_RULES
    unknown = [r for r in rule_ids if r not in spec.HEURISTIC_RULES]
    if unknown:
        raise ValueError(f"unknown rules {unknown}")
    flagged = with_rule_flags(dataset, params=params)
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.avg(F.col(f"r_{r}").cast("double")).alias(r) for r in rule_ids]
    row = flagged.agg(*aggs).collect()[0]
    if row["_n"] == 0:
        return {}
    return {r: float(row[r]) for r in rule_ids}
