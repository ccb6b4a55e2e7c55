"""End-to-end gates: keep/drop F1 vs the pandas oracle (target ≥0.99,
BASELINE.md) and byte-identical scrubbed text per url."""

import pytest
from pyspark.sql import functions as F

from dataquality_spark import oracle, pipeline, spec
from dataquality_spark.synth import generate_pages

N = 2500


@pytest.fixture(scope="module")
def run(spark, artifacts):
    pages = generate_pages(spark, N, seed=42, partitions=8)
    cleanup = []
    ann = pipeline.run_pipeline(spark, pages, cleanup=cleanup)
    sp = (ann.select("url", "keep", "pre_dedup_pass", "scrubbed_text")
          .toPandas().sort_values("url").reset_index(drop=True))
    raw = pages.toPandas().sort_values("url").reset_index(drop=True)
    lab = oracle.full_labels(raw, artifacts["langid"], artifacts["lm"])
    met = pipeline.pipeline_metrics(ann).toPandas()
    for f in cleanup:
        f.unpersist()
    return sp, lab, met


def test_keep_f1(run):
    sp, lab, _ = run
    tp = (sp["keep"] & lab["keep"]).sum()
    fp = (sp["keep"] & ~lab["keep"]).sum()
    fn = (~sp["keep"] & lab["keep"]).sum()
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    f1 = 2 * prec * rec / (prec + rec)
    assert f1 >= 0.99, (f1, int(fp), int(fn))


def test_scrub_byte_identity(run):
    sp, lab, _ = run
    got = sp["scrubbed_text"].fillna("\0")
    want = lab["scrubbed_text"].fillna("\0")
    assert (got == want).all()


def test_keep_rate_sane(run):
    sp, _, _ = run
    assert 0.4 < sp["keep"].mean() < 0.95


def test_metrics_cover_all_rules(run):
    _, _, met = run
    assert set(met["rule_id"]) == set(pipeline.PIPELINE_RULES)
    assert ((met["pass_count"] + met["fail_count"]) == N).all()


def test_decisions_schema(spark, artifacts):
    pages = generate_pages(spark, 200, seed=7, partitions=4)
    cleanup = []
    ann = pipeline.run_pipeline(spark, pages, cleanup=cleanup)
    dec = pipeline.decisions_table(ann)
    fields = dict(dec.dtypes)
    assert fields["keep"] == "boolean"
    assert fields["rules"] == "map<string,boolean>"
    assert fields["scores"] == "map<string,double>"
    assert fields["scrubbed_text"] == "string"
    rows = dec.limit(5).collect()
    assert all(set(r["rules"].keys()) == set(pipeline.PIPELINE_RULES)
               for r in rows)
    for f in cleanup:
        f.unpersist()


@pytest.mark.parametrize("portable", [False, True])
def test_pipeline_classifier_rule_is_committed_logit(spark, portable):
    """The classifier stage scores with the committed fixed-point artifact
    under both model specs: per row, r_quality is the sign of the integer
    logit the quality_classifier query computes, and q_prob its sigmoid."""
    import numpy as np

    from dataquality_spark.models import quality

    qart = quality.load_quantized_artifact()
    pages = generate_pages(spark, 6000, seed=42)
    cleanup = []
    ann = pipeline.run_pipeline(spark, pages, cleanup=cleanup,
                                with_classifier=True,
                                portable_models=portable)
    got = (ann.select("url", "r_quality", "q_prob")
           .join(pages.select("url", "text"), "url").collect())
    for f in cleanup:
        f.unpersist()
    assert len(got) == 6000
    for r in got:
        n_feat, logit = quality.logit_batch([r["text"]], qart)
        assert r["r_quality"] == bool(logit[0] > 0), r["url"]
        assert np.isclose(r["q_prob"], quality.probability(n_feat, logit)[0],
                          rtol=0, atol=1e-15), r["url"]


def test_pipeline_classifier_stage_opt_in(spark):
    """with_classifier=True adds q_prob + the quality rule inside the SAME
    fused UDF (no second Python runner), gates keep on it, and surfaces it
    in decisions/metrics; the default path is unchanged."""
    from dataquality_spark import pipeline as P
    from dataquality_spark.synth import generate_pages

    pages = generate_pages(spark, 300, seed=11)
    cleanup = []
    base = P.run_pipeline(spark, pages, cleanup=cleanup)
    assert "q_prob" not in base.columns and "r_quality" not in base.columns

    ann = P.run_pipeline(spark, pages, cleanup=cleanup, with_classifier=True)
    assert "q_prob" in ann.columns and "r_quality" in ann.columns

    # the classifier must add ZERO extra Python runners (it rides the fused
    # UDF); compare Arrow node counts against the classifier-less plan
    # (both dedup join branches read the one persisted scored frame, which
    # the plan prints under each branch with the same node id, so the
    # distinct count is 1 on both sides)
    import io
    import re
    from contextlib import redirect_stdout

    def arrow_count(frame):
        buf = io.StringIO()
        with redirect_stdout(buf):
            frame.explain("formatted")
        return len(set(re.findall(r"\((\d+)\) ArrowEvalPython",
                                  buf.getvalue())))

    assert arrow_count(ann) == arrow_count(base) == 1

    rows = ann.select("keep", "pre_dedup_pass", "r_quality").collect()
    assert all((not r["pre_dedup_pass"]) or r["r_quality"] for r in rows)

    dec = P.decisions_table(ann)
    m = {r["rule_id"] for r in P.pipeline_metrics(ann).collect()}
    assert "quality" in m
    one = dec.first()
    assert "quality" in one["rules"] and "q_prob" in one["scores"]

    # clean synthetic pages: the classifier should agree with quality for
    # the overwhelming majority of gated rows
    frac = ann.where("heuristic_pass").agg(
        __import__("pyspark.sql.functions", fromlist=["avg"])
        .avg(__import__("pyspark.sql.functions", fromlist=["col"])
             .col("r_quality").cast("double"))).collect()[0][0]
    assert frac is not None and frac >= 0.9, frac
