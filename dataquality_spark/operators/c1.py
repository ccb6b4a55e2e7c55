"""C1 near-duplicate best-match with numeric-token rescue — the reference's
most intricate behavior, composed end-to-end (re-expresses
`/root/reference/dimensions/consistency/c1.py:93-141` + helpers
`utils/column_operations.py:48-67`, `utils/item_operations.py:41-49,67-68`).

Per row, over its gated candidate set (text similarity ≥ threshold):

  * extract all digit runs from both normalized strings (X-3);
  * if EITHER side contains a short number (1-4 digits, `c1.py:99-101`):
      - candidates whose number lists don't overlap are DROPPED
        (`numbers_match`, `c1.py:103-104`) — "Suite 12" ≠ "Suite 13" no
        matter how similar the text;
      - survivors are RE-SCORED on the short-number-stripped strings
        (`c1.py:106-110`), so the digits don't inflate the ratio;
  * otherwise the gate similarity is the score (`c1.py:114-117`);
  * best match = argmax score (first-wins tiebreak, `c1.py:111-117`),
    recommended only if best_score > threshold (`c1.py:120-125`).

Scale shape: candidates come from MinHash-LSH (`near_dup_pairs`) — never a
cross join — and the rescue is pure native expressions over the candidate
pairs. The only optional Python is the difflib-parity scorer
(`seq_ratio_udf`, X-5), an Arrow-batched UDF that runs ONLY on rescue
survivors (post-LSH, post-overlap — a vanishing fraction of the corpus).

Deliberate deviation: no province-abbreviation expansion
(`item_operations.py:8-23` is a Canada-specific address dictionary baked
into the reference's normalize; a web-corpus engine keeps normalization
domain-neutral).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataquality_spark.functions import text as TX


def normalize_keep_numbers(text: Column) -> Column:
    """Reference `normalize_text(text, remove_numbers=False)`
    (`item_operations.py:29-36`, minus province expansion): lower → strip →
    keep alnum+space → collapse whitespace. Digits are KEPT — C1 extracts
    them from the normalized string."""
    t = F.lower(F.trim(F.coalesce(text, F.lit(""))))
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def remove_short_numbers(text: Column) -> Column:
    """Strip 1-4 digit runs, exactly `re.sub(r"\\b\\d{1,4}\\b", "", text)`
    (`item_operations.py:41-42`) — note: does NOT re-collapse whitespace,
    matching the reference byte-for-byte."""
    return F.regexp_replace(text, r"\b\d{1,4}\b", "")


def contains_short_number(nums: Column) -> Column:
    """Any extracted number with ≤4 digits (`column_operations.py:48-49`)."""
    return F.exists(nums, lambda x: F.length(x) <= 4)


def numeric_similarity(nums_a: Column, nums_b: Column) -> Column:
    """Positionwise digit-string match ratio (X-8, reference
    `column_operations.py:60-66`): join each number list with " ", compare
    the two strings character-by-character up to the shorter length, divide
    matches by the longer length; 0 when both are empty.

    Native expressions over SHORT digit strings only (the interpreted
    ``filter``-over-``sequence`` is fine here: inputs are a handful of
    digit runs, never document text).

    Reference caveat for parity readers: the reference gates this with
    ``contains_short_number(numeric_parts)`` over the whole LIST OF LISTS
    (`table_operations.py:136`), i.e. "any observation extracted ≤4
    numbers" — almost certainly a bug for "any number has ≤4 digits". We
    expose the similarity itself and let callers choose the gate.
    """
    s1 = F.concat_ws(" ", nums_a)
    s2 = F.concat_ws(" ", nums_b)
    l1, l2 = F.length(s1), F.length(s2)
    # guard: sequence(1, 0) would generate DESCENDING [1, 0], not empty
    positions = F.when(F.least(l1, l2) > 0,
                       F.sequence(F.lit(1), F.least(l1, l2))
                       ).otherwise(F.array().cast("array<int>"))
    matches = F.size(F.filter(
        positions, lambda i: s1.substr(i, F.lit(1)) == s2.substr(i, F.lit(1))))
    return F.when(F.greatest(l1, l2) > 0,
                  matches / F.greatest(l1, l2)).otherwise(F.lit(0.0))


def seq_ratio_udf():
    """difflib.SequenceMatcher.ratio parity scorer (X-5, reference
    `item_operations.py:67-68`) as an Arrow-batched pandas UDF.

    Byte-exact by construction: it calls difflib itself per pair inside the
    Arrow batch. This is the slow path and is only ever applied to rescue
    survivors (post-LSH candidates with overlapping short numbers) — never
    to the corpus at large.
    """
    from difflib import SequenceMatcher

    @F.pandas_udf("double")
    def seq_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.empty(len(a), dtype=np.float64)
        for i, (x, y) in enumerate(zip(a, b)):
            if x is None or y is None:
                out[i] = 0.0
            else:
                out[i] = SequenceMatcher(None, x, y).ratio()
        return pd.Series(out)

    return seq_ratio


def _directed(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, sim) undirected → both orientations (C1 computes a best
    match for EVERY row, `c1.py:72`)."""
    return pairs.unionByName(pairs.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "sim"))


def c1_best_match(df: DataFrame, candidates: DataFrame, id_col: str = "url",
                  text_col: str = "text", threshold: float = 0.91,
                  rescue_score: str = "difflib") -> DataFrame:
    """Best consistent match per row with the numeric-token rescue.

    ``candidates``: (id_a, id_b, sim) with id_a < id_b — typically
    ``near_dup_pairs(...)`` output renamed ``jaccard`` → ``sim`` (LSH, the
    scale path; the caller owns its persisted signature frame through
    ``near_dup_pairs``' ``cleanup`` list). ``rescue_score``: ``difflib``
    (reference-exact SequenceMatcher ratio, Arrow UDF) or ``lev`` (native
    Levenshtein ratio — whole-stage-codegen'd and SQL-mirrorable; the oracle
    query uses this mode).

    Returns (id, best_match_id, best_score) — rows with no candidate scoring
    strictly above ``threshold`` are absent (the reference writes "No
    significant match"; a left join back to ``df`` reproduces that framing).
    """
    norm = df.select(F.col(id_col).alias("_id"),
                     normalize_keep_numbers(F.col(text_col)).alias("_norm"))
    cand = _directed(candidates.select("id_a", "id_b", "sim"))
    p = (cand
         .join(norm.select(F.col("_id").alias("id_a"),
                           F.col("_norm").alias("norm_a")), "id_a")
         .join(norm.select(F.col("_id").alias("id_b"),
                           F.col("_norm").alias("norm_b")), "id_b"))
    nums_a = TX.extract_numbers(F.col("norm_a"))
    nums_b = TX.extract_numbers(F.col("norm_b"))
    short = contains_short_number(nums_a) | contains_short_number(nums_b)
    overlap = F.arrays_overlap(nums_a, nums_b)
    p = (p.withColumn("_short", short)
         .withColumn("_keep", ~F.col("_short") | overlap)
         .where("_keep"))
    sa = remove_short_numbers(F.col("norm_a"))
    sb = remove_short_numbers(F.col("norm_b"))
    if rescue_score == "difflib":
        # score ONLY the rescue survivors and union the rest back: Catalyst
        # hoists pandas UDFs out of CASE WHEN into an ArrowEvalPython node
        # that runs on EVERY input row, so the when()-guarded spelling
        # silently paid the quadratic SequenceMatcher on the non-short
        # majority too
        shorts = (p.where("_short")
                  .withColumn("score", seq_ratio_udf()(sa, sb)))
        rest = p.where("NOT _short").withColumn("score", F.col("sim"))
        p = shorts.unionByName(rest)
    elif rescue_score == "lev":
        # native expression: codegen'd, conditional evaluation is free
        rescued = TX.levenshtein_ratio(sa, sb)
        p = p.withColumn(
            "score", F.when(F.col("_short"), rescued).otherwise(F.col("sim")))
    else:
        raise ValueError(f"unknown rescue_score {rescue_score!r}")
    w = Window.partitionBy("id_a").orderBy(F.desc("score"), F.asc("id_b"))
    return (p.withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & (F.col("score") > threshold))
            .select(F.col("id_a").alias(id_col),
                    F.col("id_b").alias("best_match_id"),
                    F.round("score", 6).alias("best_score")))
