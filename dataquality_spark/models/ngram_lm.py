"""KenLM-style character n-gram language model for perplexity scoring.

Public-knowledge design: per-language character-trigram counts with add-k
smoothing, hashed context/trigram tables (Heafield, "KenLM: Faster and
Smaller Language Model Queries", 2011 — here reduced to hashed count tables
since the vocabulary is characters). Pure numpy artifact, broadcast, scored
in the same Arrow-batched UDF as langid.

The outlier gate re-expresses the reference's grouped-IQR outlier detection
A2 (`dimensions/accuracy/a2.py:46-67`, factor 1.5 from `a2.py:23`): per-lang
logprob bounds are computed at TRAIN time on the seed corpus, so the gate is
a deterministic artifact constant — identical in the Spark pipeline and the
pandas oracle.
"""

from __future__ import annotations

from functools import cache

import numpy as np
import pandas as pd

from dataquality_spark import spec
from dataquality_spark.models import corpus
from dataquality_spark.models.langid import _codepoints  # same text prep

N_BUCKETS = 1 << 16
_PA = np.uint64(1099511628211)
_PB = np.uint64(16777619)
_MASK = np.uint64(N_BUCKETS - 1)
ADD_K = 0.1
CHAR_VOCAB = 64.0  # smoothing denominator scale (≈ chars per language)
# the effective window: _codepoints (shared with langid) truncates to
# langid.MAX_CHARS first, so a larger value here would be dead — keep
# the two pinned together (a drift would silently shift the per-lang
# IQR bounds against previously trained artifacts)
MAX_CHARS = 256


def _tri_ctx_buckets(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(trigram bucket, bigram-context bucket) arrays for a codepoint seq."""
    if len(a) < 3:
        z = np.zeros(0, dtype=np.uint64)
        return z, z
    ctx = (a[:-2] * _PA) ^ a[1:-1]
    tri = (ctx * _PB) ^ a[2:]
    return tri & _MASK, ctx & _MASK


def _doc_logprob(text: str, tri_c: np.ndarray, ctx_c: np.ndarray) -> float:
    """Average per-char log probability under one language's tables."""
    a = _codepoints((text or "")[:MAX_CHARS])
    tri, ctx = _tri_ctx_buckets(a)
    n = len(tri)
    if n == 0:
        return float("nan")
    num = tri_c.take(tri.astype(np.int64)) + ADD_K
    den = ctx_c.take(ctx.astype(np.int64)) + ADD_K * CHAR_VOCAB
    return float(np.log(num / den).sum() / n)


def train_lm() -> dict:
    """Per-language trigram/context count tables + IQR logprob bounds."""
    langs = spec.LANGS
    docs = {lg: corpus.seed_corpus(lg) for lg in langs}
    tri_tab = np.zeros((len(langs), N_BUCKETS), dtype=np.float32)
    ctx_tab = np.zeros((len(langs), N_BUCKETS), dtype=np.float32)
    lo = np.zeros(len(langs)); hi = np.zeros(len(langs))
    with np.errstate(over="ignore"):
        for li, lg in enumerate(langs):
            for d in docs[lg]:
                a = _codepoints(d[:MAX_CHARS])
                tri, ctx = _tri_ctx_buckets(a)
                if len(tri):
                    np.add.at(tri_tab[li], tri.astype(np.int64), 1.0)
                    np.add.at(ctx_tab[li], ctx.astype(np.int64), 1.0)
        # per-lang logprob distribution on the training docs → IQR bounds
        for li, lg in enumerate(langs):
            lps = np.array([
                _doc_logprob(d, tri_tab[li], ctx_tab[li]) for d in docs[lg]
            ])
            q1, q3 = np.percentile(lps, [25, 75])
            iqr = q3 - q1
            pad = max(spec.IQR_FACTOR * iqr, 0.75)  # floor so degenerate IQR≈0
            lo[li], hi[li] = q1 - pad, q3 + pad     # doesn't reject everything
    return {"langs": list(langs), "tri": tri_tab, "ctx": ctx_tab,
            "lo": lo, "hi": hi}


def logprob_batch(texts: pd.Series, lang_idx: np.ndarray, artifact: dict
                  ) -> np.ndarray:
    """Per-text average char logprob under lang_idx's model (NaN if no lang
    or too-short text). Batch-vectorized like ``langid.predict_batch``: one
    shared codepoint buffer + one trigram-hash pass, rows grouped by prefix
    length score as stacked matrices with the per-row language selecting the
    gather row. Bit-identical to the per-row ``_doc_logprob``: the stacked
    float32 log-sum reduces the last axis with the same pairwise order, and
    the final division runs in float64 exactly like the scalar path
    (np.float32 scalar / int promotes to float64)."""
    from dataquality_spark.models.langid import _batch_prep
    n_rows = len(texts)
    out = np.full(n_rows, np.nan, dtype=np.float64)
    if n_rows == 0:
        return out
    tri_tab, ctx_tab = artifact["tri"], artifact["ctx"]
    cp, offs, lens = _batch_prep(texts)
    li_arr = np.asarray(lang_idx, dtype=np.int64)
    with np.errstate(over="ignore"):
        if len(cp) >= 3:
            ctx_u = (cp[:-2] * _PA) ^ cp[1:-1]
            tri_all = ((ctx_u * _PB) ^ cp[2:]) & _MASK
            ctx_all = ctx_u & _MASK
        else:
            tri_all = ctx_all = np.zeros(0, dtype=np.uint64)
        for ln in np.unique(lens):
            if ln < 3:
                continue  # no trigrams → stays NaN
            rows = np.nonzero((lens == ln) & (li_arr >= 0))[0]
            if len(rows) == 0:
                continue
            starts = offs[rows]
            idx = starts[:, None] + np.arange(ln - 2)[None, :]
            tri = tri_all[idx].astype(np.int64)
            ctxb = ctx_all[idx].astype(np.int64)
            li = li_arr[rows]
            num = tri_tab[li[:, None], tri] + ADD_K
            den = ctx_tab[li[:, None], ctxb] + ADD_K * CHAR_VOCAB
            out[rows] = (np.log(num / den).sum(axis=1).astype(np.float64)
                         / (ln - 2))
    return out


# --- ENGINE-PORTABLE fixed-point spec (exact-oracle path) -------------------
#
# Same architecture (per-language char-trigram add-k LM with train-time IQR
# logprob bounds), re-expressed so every step is identical in numpy and
# DuckDB SQL — the langid/quality-classifier pattern (models/langid.py §
# portable, models/quality.py). Shares the portable codepoint fold with
# langid: ctx hash of position i = h2_i = (cp_i·31 + cp_{i+1}) mod M31,
# trigram hash = h3_i = (h2_i·31 + cp_{i+2}) mod M31 — so the SQL oracle
# computes ONE h2/h3 chain and feeds both models.
#
# Per-position score (production: log((tri_c + k)/(ctx_c + k·V))) splits into
#   qtri[l, b3] − qctx[l, b2],   qtri = round(log(tri_c + 0.1)·QS),
#                                qctx = round(log(ctx_c + 6.4)·QS)
# so the per-doc sum is pure int64 — exact in any summation order. The IQR
# gate becomes the cross-multiplied integer window
#   lo_q[l]·n ≤ sum_q ≤ hi_q[l]·n
# (lo_q = floor(q1 − pad), hi_q = ceil(q3 + pad) in QS-scaled units — the
# floor/ceil widens the band by < 1e-6 nats/char, decision-irrelevant).
# Bounds: |per-position| ≤ ~1.6e7, n ≤ 254 ⇒ |sum_q| < 2^33; lo_q·n < 2^33.

# 8192, not langid's 2048: the gate's whole job is scoring UNSEEN trigrams
# low, and at 2048 the alias rate let consonant-gibberish pass (measured —
# junk kind 0 scored in-band). The seed corpus touches ~1k trigram buckets
# per language either way, so the oracle VALUES table barely grows
# (11,211 → 13,657 rows) while collisions for novel trigrams drop 4×.
LM_BUCKETS = 1 << 13
LM_QSCALE = 1_000_000
LM_MAX_CHARS = 256           # same prefix budget as the portable langid
_M31 = (1 << 31) - 1
LM_QTRI0 = int(np.rint(np.log(ADD_K) * LM_QSCALE))             # count 0
LM_QCTX0 = int(np.rint(np.log(ADD_K * CHAR_VOCAB) * LM_QSCALE))


def portable_tri_ctx(text) -> tuple[np.ndarray, np.ndarray]:
    """(trigram bucket, context bucket) arrays under the portable spec —
    raw codepoints, no case fold (the İ lesson)."""
    z = np.zeros(0, dtype=np.int64)
    if not isinstance(text, str) or len(text) < 3:
        return z, z
    cp = np.frombuffer(text[:LM_MAX_CHARS].encode("utf-32-le"),
                       dtype=np.uint32).astype(np.int64)
    if len(cp) < 3:
        return z, z
    h2 = (cp[:-1] * 31 + cp[1:]) % _M31
    h3 = (h2[:-1] * 31 + cp[2:]) % _M31
    return h3 % LM_BUCKETS, h2[:-1] % LM_BUCKETS


def train_lm_portable() -> dict:
    """Quantized portable LM: per-language int64 (qtri, qctx) tables + the
    integer IQR gate bounds. Deterministic; the SQL generator derives its
    VALUES tables from THIS function, so the engines cannot drift."""
    langs = spec.LANGS
    tri_c = np.zeros((len(langs), LM_BUCKETS), dtype=np.int64)
    ctx_c = np.zeros((len(langs), LM_BUCKETS), dtype=np.int64)
    for li, lg in enumerate(langs):
        for d in corpus.seed_corpus(lg):
            tb, cb = portable_tri_ctx(d)
            if len(tb):
                np.add.at(tri_c[li], tb, 1)
                np.add.at(ctx_c[li], cb, 1)
    qtri = np.rint(np.log(tri_c + ADD_K) * LM_QSCALE).astype(np.int64)
    qctx = np.rint(np.log(ctx_c + ADD_K * CHAR_VOCAB)
                   * LM_QSCALE).astype(np.int64)
    lo_q = np.zeros(len(langs), dtype=np.int64)
    hi_q = np.zeros(len(langs), dtype=np.int64)
    for li, lg in enumerate(langs):
        means = []
        for d in corpus.seed_corpus(lg):
            tb, cb = portable_tri_ctx(d)
            if len(tb) == 0:
                continue
            s = int(qtri[li][tb].sum() - qctx[li][cb].sum())
            means.append(s / len(tb))
        q1, q3 = np.percentile(np.array(means), [25, 75])
        pad = max(spec.IQR_FACTOR * (q3 - q1), 0.75 * LM_QSCALE)
        lo_q[li] = int(np.floor(q1 - pad))
        hi_q[li] = int(np.ceil(q3 + pad))
    return {"langs": list(langs), "qtri": qtri, "qctx": qctx,
            "lo_q": lo_q, "hi_q": hi_q}


def lm_score_portable_batch(texts, lang_idx: np.ndarray, art: dict
                            ) -> tuple[np.ndarray, np.ndarray]:
    """(n_trigrams, int64 score sum) per text under lang_idx's tables;
    (0, 0) when lang_idx < 0 or the text has no trigrams. Batched: one
    shared codepoint buffer + one h2/h3 hash pass for the whole batch,
    per-row sums via exact int64 prefix sums (order-invariant — bit-equal
    to the per-row fold by construction)."""
    from dataquality_spark.models.langid import (
        L_MAX_CHARS, _batch_prep_portable, _seg_sums)
    assert L_MAX_CHARS == LM_MAX_CHARS  # the shared-prefix pin (see above)
    qtri, qctx = art["qtri"], art["qctx"]
    n_rows = len(texts)
    n_out = np.zeros(n_rows, dtype=np.int64)
    s_out = np.zeros(n_rows, dtype=np.int64)
    if n_rows == 0:
        return n_out, s_out
    cp, offs, lens = _batch_prep_portable(texts)
    ncp = len(cp)
    h2_all = ((cp[:-1] * 31 + cp[1:]) % _M31 if ncp >= 2
              else np.zeros(0, dtype=np.int64))
    h3_all = ((h2_all[:-1] * 31 + cp[2:]) % _M31 if ncp >= 3
              else np.zeros(0, dtype=np.int64))
    n3 = np.where(lens >= 3, lens - 2, 0)
    v3 = np.ones(len(h3_all), dtype=bool)
    for d in (1, 2):             # last two positions of a row cross rows
        p = offs[1:] - d
        m = (p >= 0) & (p < len(h3_all))
        v3[p[m]] = False
    tri_flat = h3_all[v3] % LM_BUCKETS
    ctx_flat = h2_all[:-1][v3] % LM_BUCKETS  # trigram i's context is h2[i]
    li_arr = np.asarray(lang_idx, dtype=np.int64)
    li_safe = np.where(li_arr >= 0, li_arr, 0)
    li_rep = np.repeat(li_safe, n3)
    sums = (_seg_sums(qtri[li_rep, tri_flat], n3)
            - _seg_sums(qctx[li_rep, ctx_flat], n3))
    ok = (li_arr >= 0) & (n3 > 0)
    n_out[ok] = n3[ok]
    s_out[ok] = sums[ok]
    return n_out, s_out


@cache
def get_portable_lm() -> dict:
    """Train-once-per-process portable LM (shared by the Spark UDF stage
    and the oracle-SQL generator)."""
    return train_lm_portable()
