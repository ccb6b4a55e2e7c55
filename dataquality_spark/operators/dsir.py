"""DSIR-style hashed n-gram importance selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling", NeurIPS —
public paper). Select raw-pool documents that look like a small trusted
target domain by comparing the two corpora's hashed word-n-gram
distributions.

Deviations from the paper, chosen deliberately and documented:

  * the paper scores log p_target(b) − log p_raw(b) per hashed bucket and
    sums over a document's n-grams; logs are float and the cross-engine
    last-ulp knife edge around any float threshold is the exact failure
    class fixed twice already (ivf_knn/cosine_allpairs 912acb1, semdedup
    r4). Here the per-bucket score is a FIXED-POINT ODDS RATIO computed
    with integer floor division only —

        pt[b] = (tc[b]+1)·SCALE  //  (tmass + B)      (add-1 smoothed)
        pr[b] = (rc[b]+1)·SCALE  //  (rmass + B)
        s[b]  = (pt[b]+1)·SCALE  //  (pr[b]+1)

    and a document's importance score is the int64 sum of s[bucket] over
    its n-gram OCCURRENCES (bag semantics, like the paper). Every value
    is an exact integer in any summation order — the decision is
    bit-portable between Spark and any SQL engine (the quantized
    quality-classifier pattern, models/quality.py).
  * the paper samples with Gumbel top-k; selection here is deterministic
    top-k by (score DESC, doc_id ASC) — the paper's τ→0 limit, and the
    only reproducible choice for a correctness-gated query.

Feature spec (ENGINE-PORTABLE, shared machinery with the portable
quality classifier): normalize via ``shingles_portable``'s regexes
(strip non-ASCII BEFORE lower, explicit ASCII whitespace class), word
hash = ``poly_hash31`` (``quality.word_hashes_batch``), unigram bucket =
h % B, bigram bucket = (h_i·1000003 + h_{i+1}) % M % B, B = 4096.

Scale: the bucket-count aggregation is ONE groupBy over exploded grams
with map-side partial combine down to ≤B rows per task; the B-row
log-ratio table is broadcast back (never collected to Python); per-doc
scoring is explode → broadcast-join → groupBy(doc_id); the final top-k
is TakeOrderedAndProject (distributed heap-k, no global sort, no
window). int64 bounds: (tc+1)·SCALE caps at ~9.2e18 ⇒ safe below ~9e12
gram occurrences (≈36 TB of English text); past that halve SCALE or
widen to DECIMAL(38,0) — the plan shape is unchanged.

Reference parity note: the reference (dfo-mpo/DataQuality) has no
corpus-selection operator; this extends the engine's training-data
pipeline tier alongside decontaminate/token_budget_sample.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DSIR_BUCKETS = 1 << 12
DSIR_SCALE = 1_000_000
_QK = 1_000_003  # bigram combiner — same constant as the LSH/classifier fold


def dsir_buckets_batch(texts) -> list[np.ndarray]:
    """Hashed uni+bigram bucket ids WITH MULTIPLICITY per text (bag
    semantics — unlike the classifier's set-like features, DSIR weighs a
    bucket once per occurrence, and keeps every word: no prefix cap).
    The word hashes come from the classifier's batch word-hash step."""
    from dataquality_spark.models.quality import (
        _fold, interleave, split_docs, word_hashes_batch)

    _, k, h = word_hashes_batch(texts)
    bi, nb = _fold(h, k, 1, _QK)
    return split_docs(*interleave([(h % DSIR_BUCKETS, k),
                                   (bi % DSIR_BUCKETS, nb)]))


def make_dsir_buckets_udf():
    """Arrow-batched UDF: text → array<long> of hashed n-gram bucket ids
    (with multiplicity). Stateless — nothing to broadcast."""

    @F.pandas_udf("array<long>")
    def dsir_buckets(text: pd.Series) -> pd.Series:
        return pd.Series([b.tolist() for b in
                          dsir_buckets_batch(text.tolist())])

    return dsir_buckets


def dsir_select(docs: DataFrame, is_target: Column, k: int = 50,
                id_col: str = "doc_id", text_col: str = "text",
                cleanup: list[DataFrame] | None = None) -> DataFrame:
    """Top-``k`` raw-pool documents by the fixed-point DSIR importance
    score (columns: doc_id, dsir_score, rank). ``is_target`` marks the
    trusted-domain rows that DEFINE the target distribution; selection
    ranks only the complement (the raw pool), as in the paper. Documents
    that normalize to zero grams cannot be scored and are never selected
    (they carry no evidence either way). A NULL ``is_target`` (e.g. NULL
    source at crawl scale) is coalesced to false — the row is raw-pool,
    NOT silently dropped from both distributions (the when/otherwise vs
    CASE/ELSE null asymmetry class the differential fuzzer hunts).

    ``cleanup``: the hashed-bucket frame feeds BOTH the distribution
    estimate and the per-doc scoring pass, and the tiny bucket table
    feeds both the mass totals and the ratio table — without persists the
    Arrow hashing UDF re-executes per consumer (3× measured in the plan;
    the simhash signature-frame lesson). Both pins are appended for the
    caller to unpersist after materialization."""
    udf = make_dsir_buckets_udf()
    hashed = (docs.select(F.col(id_col).alias("doc_id"),
                          F.coalesce(is_target, F.lit(False)).alias("is_t"),
                          udf(F.col(text_col)).alias("bs"))
              .persist())
    if cleanup is not None:
        cleanup.append(hashed)
    feat = hashed.select("doc_id", "is_t", F.explode("bs").alias("b"))
    # one shuffle: partial map-side combine collapses each task's grams
    # to ≤B rows before the exchange; the ≤B-row result is pinned so the
    # scalar mass aggregate doesn't rerun the gram pass
    bt = feat.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("tc"),
        F.sum(F.when(~F.col("is_t"), 1).otherwise(0)).alias("rc")).persist()
    if cleanup is not None:
        cleanup.append(bt)
    masses = bt.agg(F.sum("tc").alias("tmass"), F.sum("rc").alias("rmass"))
    B, S = DSIR_BUCKETS, DSIR_SCALE
    lr = (bt.crossJoin(F.broadcast(masses))
          .select("b",
                  F.expr(f"((tc + 1) * {S}) div (tmass + {B})").alias("pt"),
                  F.expr(f"((rc + 1) * {S}) div (rmass + {B})").alias("pr"))
          .select("b",
                  F.expr(f"((pt + 1) * {S}) div (pr + 1)").alias("s")))
    scored = (feat.where(~F.col("is_t"))
              .join(F.broadcast(lr), "b")
              .groupBy("doc_id").agg(F.sum("s").alias("dsir_score"))
              .orderBy(F.desc("dsir_score"), F.asc("doc_id")).limit(k))
    # rank over the k already-selected rows only (k is small by contract;
    # the heavy ordering above stays TakeOrderedAndProject)
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("dsir_score"), F.asc("doc_id"))
    return scored.select("doc_id", "dsir_score",
                         F.row_number().over(w).alias("rank"))
