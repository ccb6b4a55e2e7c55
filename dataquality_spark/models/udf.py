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


def make_score_udf(spark: SparkSession, langid_art: dict, lm_art: dict):
    """Struct-returning pandas UDF with broadcast artifacts."""
    sc = spark.sparkContext
    b_langid = sc.broadcast(langid_art)
    b_lm = sc.broadcast(lm_art)

    @F.pandas_udf(SCORE_SCHEMA)
    def score(text: pd.Series) -> pd.DataFrame:
        return score_batch(text, b_langid.value, b_lm.value)

    # nondeterministic ⇒ Catalyst must not duplicate the call when the four
    # struct fields are extracted (measured: 4× re-evaluation otherwise); the
    # UDF is pure, this only constrains plan rewrites
    return score.asNondeterministic()


FUSED_SCHEMA = T.StructType(
    SCORE_SCHEMA.fields + [T.StructField("scrubbed_text", T.StringType())]
    + [T.StructField(f, T.LongType()) for f in
       ("word_cnt", "nonws_len", "symbol_cnt", "nb_lines", "nb_distinct")]
    # gated fast-path stats (functions/stats_batch): NULL on rows the
    # ASCII gate rejects — the JVM regex forms decide those via coalesce
    + [T.StructField("letterless", T.LongType()),
       T.StructField("stop_cnts", T.ArrayType(T.IntegerType()))])


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


def make_score_scrub_udf(spark: SparkSession, langid_art: dict, lm_art: dict,
                         quality_art: dict | None = None):
    """Fused langid+perplexity+scrub UDF: ONE Arrow transfer of the text
    column instead of two (each ArrowEvalPython node ships `text` JVM→Python
    independently; fusing measured 11.4s→9.8s for the UDF stages at
    sf0.1/local[32]). Pure composition of the shared kernels
    (``score_batch`` + ``scrub_series``) — parity tests on each kernel
    cover the fused path. When ``quality_art`` is given, the learned quality
    classifier (models/quality.py) rides the SAME Arrow crossing as one more
    struct field instead of a second Python runner.

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
    schema = FUSED_SCHEMA
    if b_q is not None:
        schema = T.StructType(FUSED_SCHEMA.fields
                              + [T.StructField("q_prob", T.DoubleType())])

    @F.pandas_udf(schema)
    def score_scrub(text: pd.Series) -> pd.DataFrame:
        out = score_batch(text, b_langid.value, b_lm.value)
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
            out["q_prob"] = quality.predict_batch(text, b_q.value)
        return out

    return score_scrub.asNondeterministic()


def with_model_scores_and_scrub(spark: SparkSession, df: DataFrame,
                                langid_art: dict, lm_art: dict,
                                text_col: str = "text",
                                lang_col: str = "lang",
                                quality_art: dict | None = None,
                                lang_optional: bool = False) -> DataFrame:
    """Fused pipeline stage: same columns as ``with_model_scores`` plus
    ``scrubbed_text`` (and, with ``quality_art``, ``q_prob`` +
    ``r_quality``), in a single Python runner.

    ``lang_optional=True`` is the raw-crawl mode: pages straight from WARC
    carry no claimed language, so a NULL ``lang`` passes the language rule
    whenever the model is confident (the claimed-vs-predicted agreement
    check only applies where a claim exists).

    Two projections: the UDF call, then every output read straight off its
    struct (the UDF is nondeterministic, so it must sit in its own
    projection to run once per row)."""
    udf = make_score_scrub_udf(spark, langid_art, lm_art,
                               quality_art=quality_art)
    outputs = _fused_outputs(text_col, lang_col, lang_optional,
                             quality_art is not None)
    return (df.withColumn("_m", udf(F.col(text_col)))
            .select(*df.columns, *outputs))


@functools.lru_cache(maxsize=16)
def _fused_outputs(text_col: str, lang_col: str, lang_optional: bool,
                   with_quality: bool) -> tuple[Column, ...]:
    """The fused stage's output columns over the UDF struct ``_m``, in
    output order; built once per argument set."""
    pred_lang = F.col("_m.pred_lang")
    agree = pred_lang == F.col(lang_col)
    if lang_optional:
        agree = F.col(lang_col).isNull() | agree
    cols = [F.col(f"_m.{f}") for f in ("pred_lang", "lang_conf", "logprob")]
    cols.append(F.coalesce(F.col("_m.scrubbed_text"), F.col(text_col))
                .alias("scrubbed_text"))
    cols += [F.col(f"_m.{f}") for f in (
        "word_cnt", "nonws_len", "symbol_cnt", "nb_lines", "nb_distinct",
        "letterless", "stop_cnts")]
    if with_quality:
        cols.append(F.col("_m.q_prob"))
    cols.append((pred_lang.isNotNull() & agree
                 & (F.col("_m.lang_conf") >= spec.MIN_LANGID_CONF))
                .alias("r_lang_match"))
    cols.append(F.col("_m.lp_ok").alias("r_perplexity"))
    if with_quality:
        cols.append((F.col("_m.q_prob") >= spec.MIN_QUALITY_PROB)
                    .alias("r_quality"))
    return tuple(cols)


def with_model_scores(spark: SparkSession, df: DataFrame,
                      langid_art: dict, lm_art: dict,
                      text_col: str = "text", lang_col: str = "lang"
                      ) -> DataFrame:
    """Append pred_lang/lang_conf/logprob + the two model rule flags
    (r_lang_match, r_perplexity). No shuffle — one Python runner stage."""
    udf = make_score_udf(spark, langid_art, lm_art)
    df = df.withColumn("_m", udf(F.col(text_col)))
    return (
        df.select("*", "_m.pred_lang", "_m.lang_conf", "_m.logprob", "_m.lp_ok")
        .drop("_m")
        .withColumn(
            "r_lang_match",
            F.col("pred_lang").isNotNull()
            & (F.col("pred_lang") == F.col(lang_col))
            & (F.col("lang_conf") >= spec.MIN_LANGID_CONF),
        )
        .withColumn("r_perplexity", F.col("lp_ok"))
        .drop("lp_ok")
    )


# --- ENGINE-PORTABLE model stage (exact-oracle pipeline path) ---------------

# r_lang_match margin floor, in L_QSCALE units PER FEATURE: the portable
# analogue of MIN_LANGID_CONF (a softmax level has no integer mirror; a
# mean per-feature log-odds margin does — ≥0.01 nats/feature over the
# runner-up). Pinned here because both the UDF columns and the SQL oracle
# derive the rule from it.
L_MARGIN_PER_FEAT = 10_000

PORTABLE_SCHEMA = T.StructType([
    T.StructField("pred_idx", T.IntegerType()),
    T.StructField("lg_n", T.IntegerType()),      # langid feature count
    T.StructField("margin", T.LongType()),       # best − runner-up, int64
    T.StructField("lm_n", T.IntegerType()),      # trigram count
    T.StructField("lm_num", T.LongType()),       # Σ quantized logprob terms
    T.StructField("scrubbed_text", T.StringType()),
] + [T.StructField(f, T.LongType()) for f in
     ("word_cnt", "nonws_len", "symbol_cnt", "nb_lines", "nb_distinct")]
  + [T.StructField("letterless", T.LongType()),
     T.StructField("stop_cnts", T.ArrayType(T.IntegerType()))])


def make_portable_score_scrub_udf(spark: SparkSession, plang_art: dict,
                                  plm_art: dict):
    """Fused PORTABLE langid+LM+scrub UDF: the fixed-point integer surfaces
    (models/langid.py § portable, models/ngram_lm.py § portable) plus the
    byte-exact scrub, one Arrow crossing — same fusion contract as
    ``make_score_scrub_udf``."""
    from dataquality_spark.models import langid as L
    from dataquality_spark.models import ngram_lm as LM
    from dataquality_spark.scrub import scrub_series_sparse
    sc = spark.sparkContext
    b_lg = sc.broadcast(plang_art)
    b_lm = sc.broadcast(plm_art)

    @F.pandas_udf(PORTABLE_SCHEMA)
    def portable_score_scrub(text: pd.Series) -> pd.DataFrame:
        # one batched scorer call yields pred + margin + feature count
        # (the old per-row portable_lang_buckets pass for lg_n is free now)
        pred, margin, lg_n = L.portable_scores_batch(
            list(text.to_numpy(object)), b_lg.value)
        lm_n, lm_num = LM.lm_score_portable_batch(
            text.tolist(), pred, b_lm.value)
        out = pd.DataFrame({
            "pred_idx": pred.astype(np.int32),
            "lg_n": lg_n.astype(np.int32),
            "margin": margin,
            "lm_n": lm_n.astype(np.int32),
            "lm_num": lm_num,
            # sparse scrub (see make_score_scrub_udf): JVM coalesces
            "scrubbed_text": scrub_series_sparse(text),
        })
        # fixed-ASCII-class text stats + gated fast-path stats on the
        # same crossing (bit-identical to the JVM forms — stats_batch)
        return _emit_stats(out, text)

    return portable_score_scrub.asNondeterministic()


def with_portable_scores_and_scrub(spark: SparkSession, df: DataFrame,
                                   text_col: str = "text",
                                   lang_col: str = "lang") -> DataFrame:
    """PORTABLE stage-B: same r_lang_match / r_perplexity / scrubbed_text
    contract as ``with_model_scores_and_scrub``, but every decision is pure
    integer arithmetic — SQL-replayable, which is what makes the full
    pipeline-metrics query exact-oracle. The rules:

      r_lang_match  = pred == claimed AND margin ≥ lg_n·L_MARGIN_PER_FEAT
      r_perplexity  = lm_n > 0 AND lo_q[pred]·lm_n ≤ lm_num ≤ hi_q[pred]·lm_n
    """
    from dataquality_spark.models import langid as L
    from dataquality_spark.models import ngram_lm as LM
    plang = L.get_portable_langid()
    plm = LM.get_portable_lm()
    udf = make_portable_score_scrub_udf(spark, plang, plm)
    df = df.withColumn("_m", udf(F.col(text_col)))
    lang_arr = F.array(*[F.lit(c) for c in plang["langs"]])
    lo_arr = F.array(*[F.lit(int(v)) for v in plm["lo_q"].tolist()])
    hi_arr = F.array(*[F.lit(int(v)) for v in plm["hi_q"].tolist()])
    pred_ok = F.col("_m.pred_idx") >= 0
    pred_lang = F.when(pred_ok,
                       F.element_at(lang_arr, F.col("_m.pred_idx") + 1))
    lo_b = F.when(pred_ok, F.element_at(lo_arr, F.col("_m.pred_idx") + 1))
    hi_b = F.when(pred_ok, F.element_at(hi_arr, F.col("_m.pred_idx") + 1))
    return (
        df.select("*", "_m.margin", "_m.lg_n", "_m.lm_n", "_m.lm_num",
                  "_m.scrubbed_text", "_m.word_cnt", "_m.nonws_len",
                  "_m.symbol_cnt", "_m.nb_lines", "_m.nb_distinct",
                  "_m.letterless", "_m.stop_cnts")
        .withColumn("scrubbed_text",
                    F.coalesce(F.col("scrubbed_text"), F.col(text_col)))
        .withColumn("pred_lang", pred_lang)
        .withColumn(
            "r_lang_match",
            F.coalesce(
                pred_ok & (F.col("pred_lang") == F.col(lang_col))
                & (F.col("margin")
                   >= F.col("lg_n").cast("long") * F.lit(L_MARGIN_PER_FEAT)),
                F.lit(False)))
        .withColumn(
            "r_perplexity",
            F.coalesce(
                pred_ok & (F.col("lm_n") > 0)
                & (F.col("lm_num") >= lo_b * F.col("lm_n").cast("long"))
                & (F.col("lm_num") <= hi_b * F.col("lm_n").cast("long")),
                F.lit(False)))
        .drop("_m")
    )
