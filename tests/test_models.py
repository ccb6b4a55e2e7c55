"""langid + perplexity fixtures (fx_langid, fx_perplexity — FIXTURES.md §3)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataquality_spark import spec
from dataquality_spark.models import corpus, langid, ngram_lm
from dataquality_spark.models.udf import score_batch, with_model_scores_and_scrub


def test_langid_accuracy_on_seed_corpus(artifacts):
    """Predict held-out-ish docs (later indices of the seed corpus)."""
    art = artifacts["langid"]
    texts, labels = [], []
    for lg in spec.LANGS:
        for d in corpus.seed_corpus(lg, n_docs=220)[200:]:
            texts.append(d)
            labels.append(lg)
    pred, conf = langid.predict_batch(pd.Series(texts), art)
    langs = np.array(art["langs"])
    acc = (langs[pred] == np.array(labels)).mean()
    assert acc >= 0.95, acc


def test_langid_null_and_empty(artifacts):
    pred, conf = langid.predict_batch(pd.Series([None, "", "a"]), artifacts["langid"])
    assert pred[0] == -1 and conf[0] == 0.0
    assert pred[1] == -1


def test_perplexity_separates_gibberish(artifacts):
    lm = artifacts["lm"]
    li = spec.LANGS.index("en")
    good = corpus.seed_corpus("en", n_docs=5)
    gibberish = ["qzx jvk wfp zzq xqv " * 30, "zzzzzzzz qqqqqq xxxxx " * 20]
    lp_good = ngram_lm.logprob_batch(pd.Series(good), np.full(5, li), lm)
    lp_bad = ngram_lm.logprob_batch(pd.Series(gibberish), np.full(2, li), lm)
    assert lp_good.min() > lp_bad.max()
    lo, hi = lm["lo"][li], lm["hi"][li]
    assert all((lp >= lo) and (lp <= hi) for lp in lp_good)
    assert all(lp < lo for lp in lp_bad)


def test_model_udf_matches_local(spark, artifacts):
    """Fused Spark UDF's model columns == driver-side score_batch
    (plumbing parity)."""
    texts = (corpus.seed_corpus("en", 10) + corpus.seed_corpus("fr", 10)
             + [None, "", "zzz qqq xxx " * 40])
    pdf = pd.DataFrame({
        "url": [f"u{i}" for i in range(len(texts))],
        "text": texts,
        "lang": ["en"] * len(texts),
    })
    sdf = spark.createDataFrame(pdf)
    out = with_model_scores_and_scrub(spark, sdf, artifacts["langid"],
                                      artifacts["lm"])
    got = out.select("url", "pred_lang", "lang_conf", "logprob",
                     "r_perplexity").toPandas().set_index("url").sort_index()
    ref = score_batch(pdf["text"], artifacts["langid"], artifacts["lm"])
    ref.index = pdf["url"]
    ref = ref.sort_index()
    assert (got["pred_lang"].fillna("-") == ref["pred_lang"].fillna("-")).all()
    assert np.allclose(got["lang_conf"], ref["lang_conf"], atol=1e-12)
    lg, lr = got["logprob"].to_numpy(), ref["logprob"].to_numpy()
    mask = ~np.isnan(lr)
    assert np.allclose(lg[mask], lr[mask], atol=1e-9)
    assert (np.isnan(lg) == np.isnan(lr)).all()
    assert (got["r_perplexity"].astype(bool) == ref["lp_ok"].astype(bool)).all()


# --- quality classifier (models/quality.py) --------------------------------

def test_quality_classifier_separates_junk(artifacts_q):
    """Held-out positives (unseen seed-corpus docs) and held-out junk of all
    four kinds (different generator seed) must separate at 0.5."""
    import pandas as pd
    from dataquality_spark import spec
    from dataquality_spark.models import corpus, quality

    art = artifacts_q
    pos = []
    for lg in spec.LANGS:
        pos.extend(corpus.seed_corpus(lg, n_docs=150)[120:])
    pp = quality.predict_batch(pd.Series(pos), art)
    assert (pp > 0.5).mean() >= 0.99
    for kind in range(4):
        junk = [quality._junk_doc(0xFEED * 1_000_003 + d)
                for d in range(kind, 120, 4)]
        pj = quality.predict_batch(pd.Series(junk), art)
        assert (pj < 0.5).mean() >= 0.95, f"junk kind {kind}"


def test_quality_training_deterministic():
    """Two independent trainings (past the lru_cache, which would hand
    back the same object) agree bit for bit."""
    from dataquality_spark.models import quality
    train = quality.train_quality.__wrapped__
    a, b = train(epochs=40), train(epochs=40)
    assert a["w"] is not b["w"]
    assert a["w"].tobytes() == b["w"].tobytes()
    assert a["b"] == b["b"]


def test_quality_udf_parity_and_nulls(spark, artifacts_q):
    """The Arrow UDF must equal predict_batch through the full Spark
    plumbing (broadcast, batching, nulls); empty/null text scores 0.0."""
    import pandas as pd
    from pyspark.sql import functions as F
    from dataquality_spark.models import quality

    texts = ["the quick brown fox and the lazy dog run home again",
             "", None, "xqzjvk wpfmtr zzkkqq " * 10]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i: long, text: string")
    udf = quality.make_quality_udf(spark, artifacts_q)
    got = (df.select("i", udf("text").alias("p")).toPandas()
           .sort_values("i")["p"].to_numpy())
    want = quality.predict_batch(pd.Series(texts), artifacts_q)
    assert abs(got - want).max() < 1e-12
    assert got[1] == 0.0 and got[2] == 0.0


# --- quantized PORTABLE artifact (the exact-oracle decision spec) -----------

def test_quality_portable_artifact_reproducible():
    """The committed fixed-point artifact regenerates bit-for-bit from
    source: training is full-batch GD on seeded synthetic corpora, so the
    JSON under models/artifacts/ is provenance, not opaque state."""
    import numpy as np
    from dataquality_spark.models import quality

    retrained = quality.quantized_artifact(
        quality.train_quality(feature_spec="portable"))
    committed = quality.load_quantized_artifact()
    assert np.array_equal(retrained["wq"], committed["wq"])
    assert retrained["bq"] == committed["bq"]


def test_quality_portable_separates_junk():
    """Quantization must not cost separation: held-out positives and all
    four held-out junk kinds split on the SIGN of the integer logit."""
    from dataquality_spark import spec
    from dataquality_spark.models import corpus, quality

    qart = quality.load_quantized_artifact()
    pos = []
    for lg in spec.LANGS:
        pos.extend(corpus.seed_corpus(lg, n_docs=150)[120:])
    _, lp = quality.logit_batch(pos, qart)
    assert (lp > 0).mean() >= 0.99
    for kind in range(4):
        junk = [quality._junk_doc(0xFEED * 1_000_003 + d)
                for d in range(kind, 120, 4)]
        _, lj = quality.logit_batch(junk, qart)
        assert (lj <= 0).mean() >= 0.95, f"junk kind {kind}"


def test_quality_logit_udf_parity_and_edges(spark):
    """The integer-logit Arrow UDF equals logit_batch through Spark
    plumbing; null/empty/whitespace/non-ASCII-only text gives (0, 0) —
    the no-features ⇒ drop contract on both engines."""
    from dataquality_spark.models import quality

    texts = ["the quick brown fox and the lazy dog run home again",
             "", None, "   ", "あいう",  # strips to nothing
             "xqzjvk wpfmtr zzkkqq " * 10]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i: long, text: string")
    qart = quality.load_quantized_artifact()
    udf = quality.make_quality_logit_udf(spark, qart)
    got = (df.select("i", udf("text").alias("s"))
           .select("i", "s.n_feat", "s.logit_num").toPandas()
           .sort_values("i"))
    nf, lg = quality.logit_batch(texts, qart)
    assert (got["n_feat"].to_numpy() == nf).all()
    assert (got["logit_num"].to_numpy() == lg).all()
    for j in (1, 2, 3, 4):
        assert nf[j] == 0 and lg[j] == 0


def test_fused_udf_once_per_spark_context():
    """The fused UDF and its model broadcasts are built once per
    SparkContext; after a stop and a restart the new context gets its own
    (a broadcast of the stopped context cannot be read) and the pipeline
    gives the same decisions. Runs in a fresh interpreter, because it
    stops its session."""
    import os
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent("""
        from dataquality_spark import pipeline as P
        from dataquality_spark.models import udf as U
        from dataquality_spark.session import get_spark
        from dataquality_spark.synth import generate_pages

        art = P.get_artifacts()

        def decisions(spark):
            pages = generate_pages(spark, 120, seed=5, partitions=2)
            cleanup = []
            ann = P.run_pipeline(spark, pages, cleanup=cleanup)
            rows = sorted(tuple(r) for r in P.decisions_table(ann)
                          .select("url", "keep", "scrubbed_text").collect())
            for f in cleanup:
                f.unpersist()
            return rows

        s1 = get_spark(master="local[2]", shuffle_partitions=4)
        u1 = U.make_score_scrub_udf(s1, art["langid"], art["lm"])
        assert U.make_score_scrub_udf(s1, art["langid"], art["lm"]) is u1
        first = decisions(s1)
        s1.stop()
        s2 = get_spark(master="local[2]", shuffle_partitions=4)
        u2 = U.make_score_scrub_udf(s2, art["langid"], art["lm"])
        assert u2 is not u1
        assert decisions(s2) == first and len(first) == 120
        s2.stop()
        print("ok")
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_DRIVER_MEM="1g")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=root, env=env, timeout=600)
    assert r.returncode == 0 and "ok" in r.stdout, r.stderr[-2000:]
