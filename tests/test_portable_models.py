"""Unit tests for the ENGINE-PORTABLE fixed-point model specs (round 5):
the quantized langid argmax (models/langid.py § portable), the quantized
trigram LM gate (models/ngram_lm.py § portable), and the portable pipeline
mode (`run_pipeline(portable_models=True)`) that makes the full
pages_pipeline metrics query exact-oracle. Cross-engine parity itself is
covered by the sweep + tests/test_differential.py; these tests pin the
ENGINE-side invariants the specs promise.
"""

import io
import re
from contextlib import redirect_stdout

import numpy as np
import pandas as pd
import pytest

from dataquality_spark import spec
from dataquality_spark.models import corpus, langid as L, ngram_lm as LM


def test_portable_langid_deterministic():
    a, b = L.train_langid_portable(), L.train_langid_portable()
    assert a["langs"] == b["langs"]
    assert np.array_equal(a["dq"], b["dq"])
    assert np.array_equal(a["baseq"], b["baseq"])


def test_portable_langid_seed_accuracy():
    """The quantized spec must not lose separability: 100% on seed docs
    (the production 32k-bucket model's own gate is the accuracy test;
    this pins that quantization + 4k buckets didn't destroy the signal)."""
    art = L.get_portable_langid()
    for li, lg in enumerate(spec.LANGS):
        docs = corpus.seed_corpus(lg, n_docs=50)
        pred, margin = L.predict_portable_batch(pd.Series(docs), art)
        assert (pred == li).all(), lg
        assert (margin > 0).all(), lg


def test_portable_langid_degenerate_rows():
    art = L.get_portable_langid()
    pred, margin = L.predict_portable_batch(
        pd.Series([None, "", "a", float("nan")]), art)
    assert pred.tolist() == [-1, -1, -1, -1]
    assert margin.tolist() == [0, 0, 0, 0]


def test_portable_langid_prefix_budget():
    """Chars past L_MAX_CHARS must not affect the decision (the SQL
    mirror substrings to the same budget)."""
    art = L.get_portable_langid()
    base = "der die das und " * 64          # > 256 chars
    p1, m1 = L.predict_portable_batch(pd.Series([base]), art)
    p2, m2 = L.predict_portable_batch(
        pd.Series([base[:L.L_MAX_CHARS] + "xyz appended garbage"]), art)
    assert p1[0] == p2[0] and m1[0] == m2[0]


def test_portable_lm_deterministic_and_bounds():
    a, b = LM.train_lm_portable(), LM.train_lm_portable()
    assert np.array_equal(a["qtri"], b["qtri"])
    assert np.array_equal(a["lo_q"], b["lo_q"])
    assert (a["lo_q"] < a["hi_q"]).all()
    # int64 envelope: |per-position| · max n must stay far from 2^63
    worst = max(abs(int(a["qtri"].max())), abs(int(a["qtri"].min()))) \
        + abs(int(a["qctx"].max()))
    assert worst * (LM.LM_MAX_CHARS - 2) < 2 ** 40


def test_portable_lm_gate_passes_seed_docs():
    art = LM.get_portable_lm()
    for li, lg in enumerate(spec.LANGS):
        docs = corpus.seed_corpus(lg, n_docs=40)
        n, s = LM.lm_score_portable_batch(docs, np.full(len(docs), li), art)
        ok = (n > 0) & (art["lo_q"][li] * n <= s) & (s <= art["hi_q"][li] * n)
        assert ok.all(), lg


def test_portable_lm_rejects_junk():
    """Symbol/digit spam scores outside the per-lang band (the gate's
    whole point); uses the quality model's junk generator."""
    from dataquality_spark.models.quality import junk_corpus
    art = LM.get_portable_lm()
    li = spec.LANGS.index("en")
    junk = junk_corpus(40)
    n, s = LM.lm_score_portable_batch(junk, np.full(len(junk), li), art)
    ok = (n > 0) & (art["lo_q"][li] * n <= s) & (s <= art["hi_q"][li] * n)
    assert ok.mean() < 0.2


def test_portable_pipeline_fused_single_arrow_stage(spark):
    """portable_models=True keeps the one-UDF stage-B contract and
    produces the same 11-rule metrics schema."""
    from dataquality_spark import pipeline as P
    from dataquality_spark.synth import generate_pages
    pages = generate_pages(spark, 400, seed=7)
    cleanup = []
    ann = P.run_pipeline(spark, pages, cleanup=cleanup, portable_models=True)

    def arrow_count(frame):
        buf = io.StringIO()
        with redirect_stdout(buf):
            frame.explain("formatted")
        return len(set(re.findall(r"\((\d+)\) ArrowEvalPython",
                                  buf.getvalue())))

    base = P.run_pipeline(spark, pages, cleanup=cleanup)
    assert arrow_count(ann) == arrow_count(base)

    m = P.pipeline_metrics(ann).collect()
    assert len(m) == 11
    assert {r["rule_id"] for r in m} == set(P.PIPELINE_RULES)
    for r in m:
        assert r["pass_count"] + r["fail_count"] == 400, r
    # model rules fire in BOTH directions on the dirty corpus (wrong-lang
    # labels fail lang_match; clean docs pass both gates)
    by = {r["rule_id"]: r for r in m}
    assert by["lang_match"]["pass_count"] > 0
    assert by["lang_match"]["fail_count"] > 0
    assert by["perplexity"]["pass_count"] > 0


def test_portable_pipeline_rejects_unsupported_combos(spark):
    """lang_optional needs the float spec's confidence; the classifier
    stage composes with the portable spec (one quality kernel for both)."""
    from dataquality_spark import pipeline as P
    from dataquality_spark.synth import generate_pages
    pages = generate_pages(spark, 10, seed=7)
    with pytest.raises(ValueError, match="portable_models"):
        P.run_pipeline(spark, pages, portable_models=True, lang_optional=True)
    cleanup = []
    ann = P.run_pipeline(spark, pages, cleanup=cleanup, portable_models=True,
                         with_classifier=True)
    m = {r["rule_id"]: r for r in P.pipeline_metrics(ann).collect()}
    assert m["quality"]["pass_count"] + m["quality"]["fail_count"] == 10
    for f in cleanup:
        f.unpersist()
