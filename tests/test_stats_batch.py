"""Bit-exact parity for the batched text-stat kernel (functions/stats_batch)
against the JVM stat forms it replaces in the fused-pipeline path.

Two layers:
1. the raw counts (word_cnt / nonws_len / symbol_cnt / nb_lines /
   nb_distinct) equal their JVM spellings on hostile + generated text;
2. `with_text_stats(precomputed=True)` — the fused-pipeline branch — is
   BIT-equal (float equality, not tolerance) to the default JVM branch for
   every STAT_COL, since the pipeline's decisions/metrics/oracles are exact.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from dataquality_spark.functions import text as TX
from dataquality_spark.functions.stats_batch import stats_batch
from dataquality_spark.rules.heuristics import STAT_COLS, with_text_stats

HOSTILE = [
    None, "", "\n", "\n\n\n", " \t\x0b\f\r", "a", "a b  c\td\ne",
    "İstanbul DİYARBAKIR", "🎉🎊 astral 🎉", "\xa0nbsp\xa0edge\xa0",
    "line1\nline1\nline2\n\nline1", "  \r\nCRLF\r\nCRLF\r\n",
    "#@%^*+=<>|~ symbols #@", "＃fullwidth＃", "ÄÖÜ äöü ß ẞ",
    "x" * 5000, ("dup\n" * 200) + "tail", "\v\f vertical \v",
    "mixé çédille ñ", "tab\tsep\tvals", "trailing ws   \n   ",
    "\rlone\rcarriage\r", "a\x00b nul", "🎉\n🎉\n🎊", " ", "\t",
    "word", "two words",
]

ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " \t\n\x0b\f\r" + "#@%^*+=<>|~" + ".,;:!?()'\"-" + "éüßñçøあ中🎉"
    + "\xa0"
)


def _jvm_counts(spark, texts):
    """The JVM spellings of the five moved counts."""
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(len(texts)), "text": texts}),
        "id long, text string")
    t = F.col("text")
    ws = " \t\n\x0b\f\r"
    nonblank = F.filter(
        TX.lines_col(t),
        lambda l: F.length(F.translate(l, ws, "")) != 0)
    rows = df.select(
        "id",
        TX.word_count_rx(t).alias("word_cnt"),
        F.coalesce(F.length(F.translate(t, ws, "")), F.lit(0))
        .cast("long").alias("nonws_len"),
        TX.symbol_count(t).alias("symbol_cnt"),
        F.coalesce(F.size(nonblank), F.lit(0)).cast("long").alias("nb_lines"),
        F.coalesce(F.size(F.array_distinct(nonblank)), F.lit(0))
        .cast("long").alias("nb_distinct"),
    ).collect()
    return {r["id"]: r.asDict() for r in rows}


def _assert_counts_match(spark, texts):
    want = _jvm_counts(spark, texts)
    got = stats_batch(pd.Series(texts, dtype=object))
    for i, t in enumerate(texts):
        for col in ("word_cnt", "nonws_len", "symbol_cnt",
                    "nb_lines", "nb_distinct"):
            assert int(got[col][i]) == want[i][col], (
                col, repr(t), int(got[col][i]), want[i][col])


def test_counts_match_jvm_hostile(spark):
    _assert_counts_match(spark, HOSTILE)


@settings(max_examples=4, deadline=None)
@given(rows=st.lists(st.text(alphabet=ALPHABET, max_size=200) | st.none(),
                     min_size=30, max_size=60))
def test_counts_match_jvm_generated(spark, rows):
    _assert_counts_match(spark, rows)


GATED_HOSTILE = [
    None, "", "THE AND is Of", "the the the", "de la el en",
    "the.\nthe, the", "a\x1cb the", "\x1d\x1e\x1f", "K the",  # Kelvin sign
    "İ the", "o", "O  o\tO\no", "un2de de2un de un", "das ist DAS",
    "x" * 300 + " the", "not-a-stopword the notthe", " the ", "\tthe\t",
    "the\x0bthe\x0cthe", "pero es este estes", "więc być the",
]


@settings(max_examples=4, deadline=None)
@given(extra=st.lists(st.text(alphabet=ALPHABET, max_size=120) | st.none(),
                      min_size=10, max_size=30))
def test_gated_stats_match_jvm_on_fast_rows(spark, extra):
    """letterless / stop_cnts: on gate-admitted rows the kernel equals the
    JVM regex forms for EVERY language; on rejected rows it emits NULL."""
    from dataquality_spark import spec
    texts = GATED_HOSTILE + extra
    from dataquality_spark.models.udf import _emit_stats
    pdf = _emit_stats(pd.DataFrame({"id": range(len(texts)),
                                    "text": pd.Series(texts, dtype=object)}),
                      pd.Series(texts, dtype=object))
    df = spark.createDataFrame(
        pdf[["id", "text", "letterless", "stop_cnts"]],
        "id long, text string, letterless long, stop_cnts array<int>")
    t = F.col("text")
    wc = TX.word_count_rx(t)
    sel = [
        "id", "letterless", "stop_cnts",
        F.coalesce(F.regexp_count(t, F.lit(r"(^|\s)[^\p{L}\s]+(?=\s|$)")),
                   F.lit(0)).alias("jvm_letterless"),
    ]
    for lg in spec.LANGS:
        sel.append(TX.stopword_count_rx(t, F.lit(lg)).alias(f"jvm_{lg}"))
    rows = {r["id"]: r for r in df.select(*sel).collect()}
    from dataquality_spark.functions.stats_batch import stats_batch
    fast = stats_batch(pd.Series(texts, dtype=object))["fast"]
    for i, txt in enumerate(texts):
        r = rows[i]
        if not fast[i]:
            assert r["letterless"] is None and r["stop_cnts"] is None, repr(txt)
            continue
        assert r["letterless"] == r["jvm_letterless"], repr(txt)
        for li, lg in enumerate(spec.LANGS):
            assert r["stop_cnts"][li] == r[f"jvm_{lg}"], (lg, repr(txt))


def _bit_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    return a == b  # exact float equality — the fused path must be bit-equal


@settings(max_examples=3, deadline=None)
@given(rows=st.lists(
    st.tuples(st.text(alphabet=ALPHABET, max_size=200) | st.none(),
              st.sampled_from(["en", "de", "fr", "xx", None])),
    min_size=20, max_size=40))
def test_precomputed_branch_bit_equals_default(spark, rows):
    pdf = pd.DataFrame({
        "id": range(len(rows)),
        "text": [t for t, _ in rows],
        "lang": [lg for _, lg in rows],
    })
    df = spark.createDataFrame(pdf, "id long, text string, lang string")
    base = {r["id"]: r.asDict() for r in with_text_stats(df).collect()}

    # attach the kernel's counts the way the fused UDF does (incl. the
    # gated fast-path columns and their NULLing), then run the
    # precomputed branch
    from dataquality_spark.models.udf import _emit_stats
    pdf2 = _emit_stats(pdf.copy(), pdf["text"])
    df2 = spark.createDataFrame(
        pdf2, "id long, text string, lang string, word_cnt long, "
              "nonws_len long, symbol_cnt long, nb_lines long, "
              "nb_distinct long, letterless long, stop_cnts array<int>")
    got = {r["id"]: r.asDict()
           for r in with_text_stats(df2, precomputed=True).collect()}

    for i in base:
        for col in STAT_COLS:
            assert _bit_eq(got[i][col], base[i][col]), (
                col, repr(pdf["text"][i]), got[i][col], base[i][col])
        # helper columns must not leak into the output schema
        for helper in ("nonws_len", "symbol_cnt", "nb_lines", "nb_distinct",
                       "letterless", "stop_cnts"):
            assert helper not in got[i]


def test_stop_cnts_width_is_the_language_count_without_hits():
    """A batch with no stopword hit at all still emits one count per
    language (the zero default used to be one column per distinct
    stopword), so the array width never varies between batches."""
    from dataquality_spark import spec
    from dataquality_spark.models.udf import _emit_stats
    texts = pd.Series(["xyzzy qqq", "12 34 #", "", None, "plugh"],
                      dtype=object)
    st_ = stats_batch(texts)
    assert st_["stop_cnts"].shape == (len(texts), len(spec.LANGS))
    emitted = _emit_stats(pd.DataFrame(index=texts.index), texts)
    widths = {len(a) for a in emitted["stop_cnts"] if a is not None}
    assert widths == {len(spec.LANGS)}
