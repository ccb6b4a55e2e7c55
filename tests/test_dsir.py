"""DSIR importance selection (operators/dsir.py): portable feature spec
parity against a scalar reference, bag (multiplicity) semantics, and the
operator's selection contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataquality_spark.operators.dsir import (DSIR_BUCKETS, _QK,
                                              dsir_buckets_batch,
                                              dsir_select)


def _scalar_buckets(text):
    """Slow per-word reference, independent of the batch kernel: the
    portable normalization spelled with its regexes, poly_hash31 fold, uni
    then bigram buckets in spec order — the vectorized batch must match
    exactly."""
    from dataquality_spark.operators.dedup import (_MERSENNE, _PORT_KEEP,
                                                   _PORT_WS, poly_hash31)

    n = _PORT_WS.sub(" ", _PORT_KEEP.sub("", text or "")).strip().lower()
    if not n:
        return []
    h = [poly_hash31(w) for w in n.split(" ")]
    out = [x % DSIR_BUCKETS for x in h]
    out += [(h[i] * _QK + h[i + 1]) % _MERSENNE % DSIR_BUCKETS
            for i in range(len(h) - 1)]
    return out


@pytest.mark.parametrize("text", [
    None, "", "one", "one two", "the the the",          # multiplicity!
    "Pünct, (strip) — İstanbul 東京 mixed ASCII tail",
    "tabs\tand\nnewlines  collapse",
    "x" * 500,
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
])
def test_buckets_match_scalar_reference(text):
    got = dsir_buckets_batch([text])[0]
    assert got.tolist() == _scalar_buckets(text)


def test_buckets_bag_semantics():
    # "the the the" → 3 unigram occurrences + 2 identical bigrams: the
    # bag MUST keep all 5 (DSIR weighs per occurrence, unlike the
    # set-like classifier features)
    b = dsir_buckets_batch(["the the the"])[0]
    assert len(b) == 5 and len(set(b.tolist())) <= 2


def test_batch_offsets_are_per_doc():
    texts = ["alpha beta", None, "", "gamma", "alpha beta"]
    outs = dsir_buckets_batch(texts)
    assert [len(o) for o in outs] == [3, 0, 0, 1, 3]
    assert outs[0].tolist() == outs[4].tolist()


def test_dsir_select_contract(spark):
    rows = []
    for i in range(60):
        # targets (src0) are heavy in 'quality signal tokens'; half the
        # raw pool mimics them, half is junk — selection must prefer the
        # mimics and NEVER return a target row
        if i < 15:
            rows.append((i, "clean prose about science and history", "src0"))
        elif i < 40:
            rows.append((i, "clean prose about science and history", "raw"))
        else:
            rows.append((i, "zzz qqq 111 222 333 buy now click", "raw"))
    df = spark.createDataFrame(rows, "doc_id: long, text: string, "
                                     "source: string")
    out = dsir_select(df, F.col("source") == "src0", k=10).collect()
    assert len(out) == 10
    assert [r.rank for r in out] == list(range(1, 11))
    ids = [r.doc_id for r in out]
    assert all(15 <= i < 40 for i in ids), ids  # mimics win, no targets
    # deterministic top-k: equal scores break by doc_id ascending
    assert ids == sorted(ids)
    scores = [r.dsir_score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_dsir_select_partition_invariance(spark):
    rows = [(i, f"tok{i % 7} tok{i % 3} filler words w{i % 11}",
             "src0" if i % 5 == 0 else "raw") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, "
                                     "source: string")
    tgt = F.col("source") == "src0"
    one = dsir_select(df.coalesce(1), tgt, k=20).collect()
    many = dsir_select(df.repartition(13), tgt, k=20).collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in many]


def test_dsir_select_heavy_ordering_is_heap_k_not_global_sort(spark):
    """Pin the docstring's plan claim (dsir.py:38-40,148-149): the top-k
    over the full raw pool compiles to TakeOrderedAndProject (distributed
    per-partition heap-k + driver merge of k rows), and the only
    single-partition Window (the rank over the already-selected rows) sits
    ABOVE that limit — i.e. its input is bounded by k, never the corpus.
    A regression to orderBy-without-limit (global Sort feeding the Window)
    would put a corpus-wide single-partition exchange in the plan, the
    exact anti-pattern operators/packing.py exists to avoid."""
    rows = [(i, f"tok{i % 7} tok{i % 3} words w{i % 11}",
             "src0" if i % 5 == 0 else "raw") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, "
                                     "source: string")
    out = dsir_select(df, F.col("source") == "src0", k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    # the Window's child chain must contain the heap-k limit, so the
    # window input is k rows: in the tree string the Window node appears
    # ABOVE (before) TakeOrderedAndProject
    assert "Window" in plan, plan
    win_at = plan.find("Window")
    tk_at = plan.find("TakeOrderedAndProject")
    assert win_at < tk_at, plan[:600]
    # and no global Sort node below the heap-k (Sort would mean the
    # corpus-wide ordering materialized before the limit)
    assert "Sort " not in plan[tk_at:], plan[tk_at:tk_at + 600]
