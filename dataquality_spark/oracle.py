"""Pandas reference implementation ("oracle") of the rule semantics.

Mirrors the reference repo's kernels — row-wise pandas, eager — and serves as
the labeled ground truth for the keep/drop F1 ≥ 0.99 gate (BASELINE.md). It is
a deliberately independent implementation of ``dataquality_spark.spec``: no
code is shared with the Spark expressions in rules/heuristics.py, so agreement
is a real semantic check, not a tautology.

Kernel lineage (cites into /root/reference):
  null/blank      `utils/column_operations.py:15-19`
  range bounds    `dimensions/consistency/c5.py:42-67`
  mean/ratios     `dimensions/accuracy/a1.py:34-58` select→flag→score shape
  duplicate rate  `dimensions/uniqueness/u1.py:34-39`
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from dataquality_spark import spec

_SYMBOL_RE = re.compile(spec.SYMBOL_RE)
# ASCII whitespace ONLY — the spec's word boundary (spec.WORD_SPLIT_RE note):
# CPython \s is Unicode-aware, Java regex / RE2 are not, so the oracle pins
# the ASCII class explicitly; \xa0 etc. are word characters in every engine.
_ASCII_WS = " \t\n\x0b\x0c\r"
_WS_RE = re.compile(f"[{_ASCII_WS}]+")


def _words(text) -> list[str]:
    if text is None or (isinstance(text, float) and np.isnan(text)):
        return []
    t = str(text).strip(_ASCII_WS)
    if not t:
        return []
    return _WS_RE.split(t)


def _has_letter(w: str) -> bool:
    return any(ch.isalpha() for ch in w)


def text_stats_row(text, lang) -> dict:
    ws = _words(text)
    n = len(ws)
    stops = set(spec.STOPWORDS.get(lang if lang in spec.STOPWORDS else "en",
                                   spec.STOPWORDS["en"]))
    stop_cnt = sum(1 for w in ws if w.lower() in stops)
    sym_cnt = len(_SYMBOL_RE.findall(str(text))) if text is not None else 0
    lines = [l for l in (str(text).split("\n") if text is not None else [])
             if l.strip(_ASCII_WS) != ""]
    return {
        "word_cnt": n,
        "mean_wlen": (sum(len(w) for w in ws) / n) if n else None,
        "alpha_frac": (sum(1 for w in ws if _has_letter(w)) / n) if n else None,
        "symbol_frac": (sym_cnt / n) if n else None,
        "stop_cnt": stop_cnt,
        "stop_frac": (stop_cnt / n) if n else None,
        "dupline_frac": (1.0 - len(set(lines)) / len(lines)) if lines else None,
    }


def heuristic_labels(pdf: pd.DataFrame, text_col: str = "text",
                     lang_col: str = "lang") -> pd.DataFrame:
    """r_{rule} PASS flags + heuristic_pass, row-wise pandas."""
    rows = [text_stats_row(t, lg) for t, lg in zip(pdf[text_col], pdf[lang_col])]
    st = pd.DataFrame(rows, index=pdf.index)
    out = pdf.copy()
    for c in st.columns:
        out[c] = st[c]

    def nz(series, pred):
        # single guarded pass: pred never sees None/NaN
        return series.apply(lambda v: bool(pd.notna(v)) and bool(pred(v)))

    out["r_nonempty"] = pdf[text_col].apply(
        lambda t: t is not None and not (isinstance(t, float) and np.isnan(t))
        and str(t).strip(_ASCII_WS) != ""
    )
    out["r_min_words"] = st["word_cnt"] >= spec.MIN_WORDS
    out["r_max_words"] = st["word_cnt"] <= spec.MAX_WORDS
    out["r_mean_word_len"] = nz(
        st["mean_wlen"],
        lambda v: spec.MIN_MEAN_WORD_LEN <= v <= spec.MAX_MEAN_WORD_LEN,
    )
    out["r_alpha_ratio"] = nz(st["alpha_frac"], lambda v: v >= spec.MIN_ALPHA_RATIO)
    out["r_symbol_ratio"] = nz(st["symbol_frac"], lambda v: v <= spec.MAX_SYMBOL_RATIO)
    out["r_stopword_ratio"] = nz(
        st["stop_frac"], lambda v: v >= spec.MIN_STOPWORD_RATIO
    ) & (st["stop_cnt"] >= spec.MIN_STOPWORD_COUNT)
    out["r_dup_lines"] = nz(
        st["dupline_frac"], lambda v: v <= spec.MAX_DUP_LINE_FRACTION
    )
    out["heuristic_pass"] = np.logical_and.reduce(
        [out[f"r_{r}"].to_numpy(dtype=bool) for r in spec.HEURISTIC_RULES]
    )
    return out


def full_labels(pdf: pd.DataFrame, langid_art: dict, lm_art: dict) -> pd.DataFrame:
    """Complete oracle labels: heuristics + model rules + exact-dedup winner
    → ``keep``; plus ``scrubbed_text``. Ground truth for the F1 ≥ 0.99 gate.

    Model scoring reuses models/udf.py::score_batch on purpose — the model IS
    the spec there; what the F1 gate then checks is the Spark-side plumbing
    (broadcast, Arrow round-trip, flag logic, the dedup shuffle).
    Heuristics and dedup policy are implemented independently here.
    """
    from dataquality_spark import spec as _spec
    from dataquality_spark.models.udf import score_batch

    out = heuristic_labels(pdf)
    m = score_batch(pdf["text"], langid_art, lm_art)
    out["pred_lang"] = m["pred_lang"].to_numpy()
    out["lang_conf"] = m["lang_conf"].to_numpy()
    out["logprob"] = m["logprob"].to_numpy()
    out["r_lang_match"] = (
        out["pred_lang"].notna()
        & (out["pred_lang"] == out["lang"])
        & (out["lang_conf"] >= _spec.MIN_LANGID_CONF)
    )
    out["r_perplexity"] = m["lp_ok"].to_numpy()
    out["pre_dedup_pass"] = (
        out["heuristic_pass"] & out["r_lang_match"] & out["r_perplexity"]
    )
    # exact dedup among survivors: winner = min (warc_ts, url) per raw text
    # (raw, like reference U1 `dimensions/uniqueness/u1.py:34-39`; the
    # normalized variant belongs to the near-dup stage)
    out["_norm"] = out["text"]
    cand = out[out["pre_dedup_pass"]]
    # na_position='first' matches Spark's min(struct(warc_ts, url)) null
    # ordering (NULLS FIRST) — pandas defaults NaT LAST, which picked a
    # different winner whenever a duplicate group contained a null ts
    winner_idx = (
        cand.sort_values(["_norm", "warc_ts", "url"], na_position="first")
        .groupby("_norm", sort=False)
        .head(1)
        .index
    )
    out["r_dedup"] = False
    out.loc[winner_idx, "r_dedup"] = True
    out["keep"] = out["pre_dedup_pass"] & out["r_dedup"]
    out["scrubbed_text"] = [scrub_text(t) for t in out["text"]]
    return out.drop(columns=["_norm"])


def scrub_text(text):
    """Oracle scrubber — same ordered patterns, Python `re` (spec.py).

    The pipeline's pandas-UDF scrubber must be byte-identical to this.
    """
    if text is None or (isinstance(text, float) and np.isnan(text)):
        return text
    t = str(text)
    for pat, repl in spec.SCRUB_PATTERNS:
        t = re.sub(pat, repl, t)
    for w in spec.TOXIC_WORDS:
        t = re.sub(rf"\b{re.escape(w)}\b", spec.TOXIC_REPLACEMENT, t)
    return t
