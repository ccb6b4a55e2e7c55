"""The single model-scoring pandas UDF: langid + perplexity in one pass.

One struct-returning Arrow-batched UDF per the plan in SURVEY.md §4.4
("keep UDF count per stage minimal: one struct-returning UDF for
langid+perplexity"). Model artifacts are broadcast once via
``SparkContext.broadcast``; each task unpacks numpy tables from the broadcast,
never re-pickling driver globals per batch.
"""

from __future__ import annotations

import functools
import threading

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataquality_spark import spec
from dataquality_spark.models import langid as L
from dataquality_spark.models import ngram_lm as LM

SCORE_SCHEMA = T.StructType([
    T.StructField("pred_lang", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("logprob", T.DoubleType()),
    T.StructField("lp_ok", T.BooleanType()),
])


def score_batch(texts: pd.Series, langid_art: dict, lm_art: dict) -> pd.DataFrame:
    """Pure-pandas scoring — shared verbatim by the UDF and the oracle, so the
    per-row invariant is exact (the parity check then exercises the Spark
    plumbing: Arrow round-trip, nulls, broadcast, batching)."""
    pred_ix, conf = L.predict_batch(texts, langid_art)
    lp = LM.logprob_batch(texts, pred_ix, lm_art)
    langs = np.array(langid_art["langs"] + [None], dtype=object)
    pred_lang = langs[pred_ix]  # -1 → None
    lo, hi = lm_art["lo"], lm_art["hi"]
    ok = np.zeros(len(texts), dtype=object)
    valid = (pred_ix >= 0) & ~np.isnan(lp)
    ok[:] = False
    ok[valid] = (lp[valid] >= lo[pred_ix[valid]]) & (lp[valid] <= hi[pred_ix[valid]])
    return pd.DataFrame({
        "pred_lang": pred_lang,
        "lang_conf": conf,
        "logprob": lp,
        "lp_ok": ok.astype(bool),
    })


# the portable spec's model fields: fixed-point integer surfaces
# (models/langid.py § portable, models/ngram_lm.py § portable)
PORTABLE_SCORE_SCHEMA = T.StructType([
    T.StructField("pred_idx", T.IntegerType()),
    T.StructField("lg_n", T.IntegerType()),      # langid feature count
    T.StructField("margin", T.LongType()),       # best − runner-up, int64
    T.StructField("lm_n", T.IntegerType()),      # trigram count
    T.StructField("lm_num", T.LongType()),       # Σ quantized logprob terms
])


def portable_score_batch(texts: pd.Series, plang_art: dict,
                         plm_art: dict) -> pd.DataFrame:
    """The portable spec's ``score_batch``: one batched langid call yields
    pred + margin + feature count, then the LM scores under that pred."""
    pred, margin, lg_n = L.portable_scores_batch(
        list(texts.to_numpy(object)), plang_art)
    lm_n, lm_num = LM.lm_score_portable_batch(texts.tolist(), pred, plm_art)
    return pd.DataFrame({"pred_idx": pred.astype(np.int32),
                         "lg_n": lg_n.astype(np.int32),
                         "margin": margin,
                         "lm_n": lm_n.astype(np.int32),
                         "lm_num": lm_num})


# the fields both model specs share: the scrub, the fixed-ASCII-class text
# stats and the gated fast-path stats (functions/stats_batch: NULL on rows
# the ASCII gate rejects — the JVM regex forms decide those via coalesce)
_STAT_FIELDS = ("word_cnt", "nonws_len", "symbol_cnt", "nb_lines",
                "nb_distinct", "letterless", "stop_cnts")
_SHARED_FIELDS = (
    [T.StructField("scrubbed_text", T.StringType())]
    + [T.StructField(f, T.LongType()) for f in _STAT_FIELDS[:-1]]
    + [T.StructField("stop_cnts", T.ArrayType(T.IntegerType()))])
# the classifier's fields (with a quality artifact only): the exact
# integer decision numerator and the graded probability
_QUALITY_FIELDS = [T.StructField("q_logit", T.LongType()),
                   T.StructField("q_prob", T.DoubleType())]


def _emit_stats(out: pd.DataFrame, text: pd.Series) -> pd.DataFrame:
    """Append stats_batch columns to a fused-UDF result frame, turning the
    gated stats NULL wherever the row failed the ASCII fast-path gate."""
    from dataquality_spark.functions.stats_batch import stats_batch
    st = stats_batch(text)
    fast = st.pop("fast")
    ll = st.pop("letterless").astype(object)
    ll[~fast] = None
    sc = st.pop("stop_cnts").astype(np.int32).tolist()
    for k, v in st.items():
        out[k] = v
    out["letterless"] = ll
    out["stop_cnts"] = [sc[i] if fast[i] else None for i in range(len(fast))]
    return out


# artifact ids → (SparkContext, artifacts..., udf); an entry made under
# another SparkContext holds broadcasts that context took with it
_FUSED_UDFS: dict[tuple[int, int, int], tuple] = {}
_FUSED_LOCK = threading.Lock()


def _is_portable(langid_art: dict) -> bool:
    """The fixed-point langid artifact carries int64 ``dq`` tables where
    the float one carries ``W``."""
    return "dq" in langid_art


def make_score_scrub_udf(spark: SparkSession, langid_art: dict, lm_art: dict,
                         quality_art: dict | None = None):
    """Fused langid+perplexity+scrub UDF: ONE Arrow transfer of the text
    column instead of two (each ArrowEvalPython node ships `text` JVM→Python
    independently; fusing measured 11.4s→9.8s for the UDF stages at
    sf0.1/local[32]). Pure composition of the shared kernels (the model
    spec's scorer — ``score_batch``, or ``portable_score_batch`` for the
    fixed-point artifacts — + ``scrub_series_sparse`` + ``stats_batch``);
    parity tests on each kernel cover the fused path. When ``quality_art``
    (the committed quantized classifier) is given, the quality classifier
    (models/quality.py) rides the SAME Arrow crossing as two more struct
    fields instead of a second Python runner.

    Built once per SparkContext and artifact set (``_FUSED_UDFS``): the
    model broadcasts pickle ~8.5 MB, and a new UDF re-pickles its closure,
    so a per-call build is pure driver overhead. A new SparkContext (stop
    and restart) gets fresh broadcasts."""
    sc = spark.sparkContext
    key = (id(langid_art), id(lm_art), id(quality_art))
    with _FUSED_LOCK:
        hit = _FUSED_UDFS.get(key)
        if hit is None or hit[0] is not sc:
            # the entry holds the artifacts, so no live object reuses an id
            hit = _FUSED_UDFS[key] = (
                sc, langid_art, lm_art, quality_art,
                _build_score_scrub_udf(sc, langid_art, lm_art, quality_art))
    return hit[-1]


def _build_score_scrub_udf(sc, langid_art: dict, lm_art: dict,
                           quality_art: dict | None):
    from dataquality_spark.scrub import scrub_series_sparse
    b_langid = sc.broadcast(langid_art)
    b_lm = sc.broadcast(lm_art)
    b_q = sc.broadcast(quality_art) if quality_art is not None else None
    score, fields = ((portable_score_batch, PORTABLE_SCORE_SCHEMA.fields)
                     if _is_portable(langid_art)
                     else (score_batch, SCORE_SCHEMA.fields))
    schema = T.StructType(fields + _SHARED_FIELDS
                          + (_QUALITY_FIELDS if b_q is not None else []))

    @F.pandas_udf(schema)
    def score_scrub(text: pd.Series) -> pd.DataFrame:
        out = score(text, b_langid.value, b_lm.value)
        # sparse scrub: unchanged rows return None and the JVM coalesces
        # with the original column — halves the Arrow return traffic
        # (scrub.scrub_series_sparse; byte-identical after coalesce)
        out["scrubbed_text"] = scrub_series_sparse(text)
        # fixed-ASCII-class text stats + the gated fast-path stats ride
        # the same Arrow crossing (functions/stats_batch: bit-identical
        # to the JVM forms) so the downstream rules projection skips the
        # per-row JVM text passes wherever the gate admits the row
        out = _emit_stats(out, text)
        if b_q is not None:
            from dataquality_spark.models import quality
            n_feat, logit = quality.logit_batch(text.tolist(), b_q.value)
            out["q_logit"] = logit
            out["q_prob"] = quality.probability(n_feat, logit)
        return out

    return score_scrub.asNondeterministic()


def with_model_scores_and_scrub(spark: SparkSession, df: DataFrame,
                                langid_art: dict, lm_art: dict,
                                text_col: str = "text",
                                lang_col: str = "lang",
                                quality_art: dict | None = None,
                                lang_optional: bool = False) -> DataFrame:
    """Fused pipeline stage: appends pred_lang/lang_conf/logprob, the two
    model rule flags (r_lang_match, r_perplexity), ``scrubbed_text``, the
    fast-path text stats (and, with ``quality_art``, ``q_prob`` +
    ``r_quality``), in a single Python runner.

    ``lang_optional=True`` is the raw-crawl mode: pages straight from WARC
    carry no claimed language, so a NULL ``lang`` passes the language rule
    whenever the model is confident (the claimed-vs-predicted agreement
    check only applies where a claim exists).

    With the fixed-point artifacts (``langid.get_portable_langid``,
    ``ngram_lm.get_portable_lm`` — ``run_pipeline(portable_models=True)``)
    the model fields are margin/lg_n/lm_n/lm_num and pred_lang, and every
    model decision is integer arithmetic (``_portable_decisions``).

    Two projections: the UDF call, then every output read straight off its
    struct (the UDF is nondeterministic, so it must sit in its own
    projection to run once per row)."""
    portable = None
    if _is_portable(langid_art):
        if lang_optional:
            raise ValueError("portable_models has no lang_optional mode: "
                             "its language rule needs a claimed language")
        portable = (tuple(langid_art["langs"]), tuple(lm_art["lo_q"].tolist()),
                    tuple(lm_art["hi_q"].tolist()))
    udf = make_score_scrub_udf(spark, langid_art, lm_art,
                               quality_art=quality_art)
    outputs = _fused_outputs(text_col, lang_col, lang_optional,
                             quality_art is not None, portable)
    return (df.withColumn("_m", udf(F.col(text_col)))
            .select(*df.columns, *outputs))


# r_lang_match margin floor, in L_QSCALE units PER FEATURE: the portable
# analogue of MIN_LANGID_CONF (a softmax level has no integer mirror; a
# mean per-feature log-odds margin does — ≥0.01 nats/feature over the
# runner-up). Pinned here because both the UDF columns and the SQL oracle
# derive the rule from it.
L_MARGIN_PER_FEAT = 10_000


def _portable_decisions(lang_col: str, langs: tuple, lo_q: tuple,
                        hi_q: tuple) -> tuple[Column, Column, Column]:
    """(pred_lang, r_lang_match, r_perplexity) of the portable spec — every
    decision pure integer arithmetic, SQL-replayable, which is what makes
    the full pipeline-metrics query exact-oracle:

      r_lang_match  = pred == claimed AND margin ≥ lg_n·L_MARGIN_PER_FEAT
      r_perplexity  = lm_n > 0 AND lo_q[pred]·lm_n ≤ lm_num ≤ hi_q[pred]·lm_n
    """
    pred = F.col("_m.pred_idx")
    pred_ok = pred >= 0

    def lookup(values: list) -> Column:
        return F.when(pred_ok, F.element_at(
            F.array(*[F.lit(v) for v in values]), pred + 1))

    pred_lang, lo_b, hi_b = lookup(langs), lookup(lo_q), lookup(hi_q)
    lm_n = F.col("_m.lm_n").cast("long")
    lang_match = F.coalesce(
        pred_ok & (pred_lang == F.col(lang_col))
        & (F.col("_m.margin")
           >= F.col("_m.lg_n").cast("long") * F.lit(L_MARGIN_PER_FEAT)),
        F.lit(False))
    perplexity = F.coalesce(
        pred_ok & (F.col("_m.lm_n") > 0)
        & (F.col("_m.lm_num") >= lo_b * lm_n)
        & (F.col("_m.lm_num") <= hi_b * lm_n),
        F.lit(False))
    return pred_lang, lang_match, perplexity


@functools.lru_cache(maxsize=16)
def _fused_outputs(text_col: str, lang_col: str, lang_optional: bool,
                   with_quality: bool,
                   portable: tuple | None) -> tuple[Column, ...]:
    """The fused stage's output columns over the UDF struct ``_m``, in
    output order; built once per argument set. The shared fields sit
    between the spec's model fields and its rule flags. ``portable``:
    the fixed-point spec's (langs, lo_q, hi_q), None for the float spec."""
    if portable:
        cols = [F.col(f"_m.{f}") for f in ("margin", "lg_n", "lm_n", "lm_num")]
        pred_lang, lang_match, perplexity = _portable_decisions(
            lang_col, *portable)
        flags = [pred_lang.alias("pred_lang")]
    else:
        cols = [F.col(f"_m.{f}") for f in ("pred_lang", "lang_conf", "logprob")]
        pred_lang = F.col("_m.pred_lang")
        agree = pred_lang == F.col(lang_col)
        if lang_optional:
            agree = F.col(lang_col).isNull() | agree
        lang_match = (pred_lang.isNotNull() & agree
                      & (F.col("_m.lang_conf") >= spec.MIN_LANGID_CONF))
        perplexity = F.col("_m.lp_ok")
        flags = []
    cols.append(F.coalesce(F.col("_m.scrubbed_text"), F.col(text_col))
                .alias("scrubbed_text"))
    cols += [F.col(f"_m.{f}") for f in _STAT_FIELDS]
    if with_quality:
        cols.append(F.col("_m.q_prob"))
    cols += flags
    cols += [lang_match.alias("r_lang_match"), perplexity.alias("r_perplexity")]
    if with_quality:
        cols.append((F.col("_m.q_logit") > 0).alias("r_quality"))
    return tuple(cols)

