"""fastText-style quality classifier: hashed word-ngram logistic regression.

The classifier-based quality filter used by LLaMA/RedPajama-style corpus
prep (public knowledge: Joulin et al. 2016 "Bag of Tricks" architecture —
averaged hashed n-gram features into a linear model; Touvron et al. 2023
describe filtering CommonCrawl with exactly such a classifier). Complements
the HEURISTIC gate (rules/heuristics.py): the rules encode thresholds, the
classifier learns a decision surface from labeled examples and produces a
graded probability usable for head/middle/tail bucketing.

Everything is deterministic and self-contained: positives come from the
seed corpus (models/corpus.py), negatives from a junk generator covering
the canonical web-garbage failure modes (gibberish, symbol spam, repetition
spam, digit spam). Training is full-batch logistic regression in numpy with
a manual CSR layout — forward and gradient are two ``np.bincount`` calls
per epoch, no per-doc Python in the loop. The trained artifact is a plain
dict of numpy arrays: picklable, broadcast once, scored inside an
Arrow-batched pandas UDF like the langid/LM artifacts (models/udf.py).

Word hashing uses ``zlib.crc32`` (stable across processes — NEVER builtin
``hash()``, which is salted per interpreter) + the splitmix64 finalizer.
"""

from __future__ import annotations

import os as _os
import zlib
from functools import lru_cache as _lru_cache

import numpy as np
import pandas as pd

from dataquality_spark import spec
from dataquality_spark.models import corpus

N_WORD_BUCKETS = 1 << 12
N_CHAR_BUCKETS = 1 << 12
N_BUCKETS = N_WORD_BUCKETS + N_CHAR_BUCKETS
MAX_WORDS = 512  # score on a prefix — plenty for a quality signal
_WMASK = np.uint64(N_WORD_BUCKETS - 1)
_P = np.uint64(1099511628211)


def _doc_buckets(text: str | None) -> np.ndarray:
    """Hashed feature bucket ids for one document: word 1-/2-grams in the
    lower bucket half, char 2-/3-grams (langid's subword hasher) in the
    upper half. Word grams catch template junk (SEO phrases, repeated
    boilerplate); SUBWORD grams are what generalize to never-seen junk
    vocabulary — gibberish, symbol runs, and digit strings have
    characteristic character n-grams even when every token is novel (the
    same reason fastText uses subword features)."""
    from dataquality_spark.models import langid as L

    if not isinstance(text, str):  # None / NaN-from-pandas
        text = ""
    ws = text.lower().split()[:MAX_WORDS]
    if not ws:
        return np.zeros(0, dtype=np.int64)
    h = np.fromiter((zlib.crc32(w.encode("utf-8")) for w in ws),
                    dtype=np.uint64, count=len(ws))
    uni = corpus.mix64(h)
    grams = [uni & _WMASK]
    if len(h) > 1:
        with np.errstate(over="ignore"):
            grams.append(corpus.mix64(h[:-1] * _P ^ h[1:]) & _WMASK)
    with np.errstate(over="ignore"):
        cg = L._ngram_buckets(L._codepoints(text)) % np.uint64(N_CHAR_BUCKETS)
    grams.append(cg + np.uint64(N_WORD_BUCKETS))
    return np.concatenate(grams).astype(np.int64)


# --- ENGINE-PORTABLE feature spec (exact-oracle path) -----------------------
#
# Same architecture (averaged hashed word 1-/2-grams + char 2-/3-grams into
# a logreg), but every hashing step is expressible identically in numpy AND
# DuckDB SQL — the `shingles_portable`/`poly_hash31` pattern that made the
# composed fuzzy-dedup query exact-oracle:
#
#   * normalize like `shingles_portable` (strip non-ASCII BEFORE lower, the
#     explicit ASCII whitespace class) so SQL `lower()` == Python `.lower()`;
#   * word hash = base-31 polynomial over codepoints mod Mersenne-31
#     (`poly_hash31`); bigram combiner = (h_i·1000003 + h_{i+1}) mod M;
#   * char 2-/3-grams = the same base-31 fold over the codepoints of the
#     first Q_MAX_CHARS normalized chars;
#   * weights QUANTIZED to int64 fixed point (QSCALE) so the per-doc score
#     `Σ wq[bucket] + bq·n_feat` is pure integer arithmetic — exact in any
#     summation order, NO float knife edge between engines (the round(·,4)
#     lesson from ivf_knn/cosine_allpairs, 912ac1b).

Q_MAX_CHARS = 256   # char-gram prefix of the NORMALIZED text
QSCALE = 1_000_000  # fixed-point weight scale
_QK = 1_000_003     # word-bigram combiner (same constant as the LSH fold)


def _normalize_portable(text) -> str:
    from dataquality_spark.operators.dedup import _PORT_KEEP, _PORT_WS
    if not isinstance(text, str):
        text = ""
    return _PORT_WS.sub(" ", _PORT_KEEP.sub("", text)).strip().lower()


def portable_buckets_batch(texts) -> list[np.ndarray]:
    """Bucket-id arrays (one per doc) under the portable spec, batched:
    ONE `poly_hash_flat` call hashes every word of the batch (banded-pad
    matrix fold — the vectorized kernel the portable MinHash spec uses)."""
    from dataquality_spark.operators.dedup import _MERSENNE, poly_hash_flat

    norm = [_normalize_portable(t) for t in texts]
    words_per = [n.split(" ")[:MAX_WORDS] if n else [] for n in norm]
    flat = [w.encode("ascii") for ws in words_per for w in ws]
    hv = (poly_hash_flat(flat) if flat
          else np.zeros(0, dtype=np.int64))
    M = np.int64(_MERSENNE)
    out, off = [], 0
    for ws, n in zip(words_per, norm):
        k = len(ws)
        h = hv[off:off + k]
        off += k
        if k == 0:
            out.append(np.zeros(0, dtype=np.int64))
            continue
        grams = [h % N_WORD_BUCKETS]
        if k > 1:
            grams.append((h[:-1] * _QK + h[1:]) % M % N_WORD_BUCKETS)
        cp = np.frombuffer(n[:Q_MAX_CHARS].encode("ascii"),
                           dtype=np.uint8).astype(np.int64)
        if len(cp) >= 2:
            h2 = (cp[:-1] * 31 + cp[1:]) % M
            grams.append(h2 % N_CHAR_BUCKETS + N_WORD_BUCKETS)
            if len(cp) >= 3:
                h3 = (h2[:-1] * 31 + cp[2:]) % M
                grams.append(h3 % N_CHAR_BUCKETS + N_WORD_BUCKETS)
        out.append(np.concatenate(grams))
    return out


def _csr_from_buckets(bucket_list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    idx_parts, doc_parts, data_parts = [], [], []
    for i, b in enumerate(bucket_list):
        if len(b) == 0:
            continue
        idx_parts.append(b)
        doc_parts.append(np.full(len(b), i, dtype=np.int64))
        data_parts.append(np.full(len(b), 1.0 / len(b)))
    if not idx_parts:
        z = np.zeros(0, dtype=np.int64)
        return z, z, np.zeros(0)
    return (np.concatenate(idx_parts), np.concatenate(doc_parts),
            np.concatenate(data_parts))


def _csr(texts, feature_spec: str = "crc") -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(bucket_idx, doc_ids, data) with data = 1/n_features per doc —
    averaged features, the fastText formulation."""
    if feature_spec == "portable":
        return _csr_from_buckets(portable_buckets_batch(list(texts)))
    return _csr_from_buckets([_doc_buckets(t) for t in texts])


# --- deterministic junk generator (negative class) -------------------------

_JUNK_KINDS = 4


def _junk_doc(u: int) -> str:
    kind = u % _JUNK_KINDS
    if kind == 0:    # gibberish: long unpronounceable tokens, no stopwords
        vs = corpus.mix64(np.arange(u * 131, u * 131 + 40, dtype=np.uint64))
        return " ".join(
            "".join("bcdfghjklmnpqrstvwxz"[(v >> (3 * j)) % 20]
                    for j in range(8 + v % 7))
            for v in vs.tolist())
    v = int(corpus.mix64(np.array([u], dtype=np.uint64))[0])
    if kind == 1:    # symbol spam
        syms = "#@%^*+=<>|~$&"
        return " ".join(
            syms[(v >> (j % 50)) % len(syms)] * (2 + j % 4) + "win"
            for j in range(60))
    if kind == 2:    # repetition spam: one short phrase looped
        phrase = f"click here {v % 997} buy now"
        return (phrase + " ") * 50
    # digit spam
    return " ".join(str((v >> (j % 40)) + j * 7919) for j in range(80))


def junk_corpus(n_docs: int = 200, seed: int = 0xBAD) -> list[str]:
    return [_junk_doc(seed * 1_000_003 + d) for d in range(n_docs)]


# --- training --------------------------------------------------------------

@_lru_cache(maxsize=4)
def train_quality(n_per_class: int = 600, epochs: int = 800,
                  lr: float = 100.0, l2: float = 1e-6,
                  feature_spec: str = "crc") -> dict:
    """Binary logistic regression, full-batch GD, fixed schedule —
    bit-deterministic. Positives: seed-corpus docs round-robin over the
    supported languages; negatives: junk_corpus. Cached per-process like
    ``pipeline.get_artifacts`` (callers must not mutate the arrays).
    ``feature_spec="portable"`` trains on the SQL-expressible feature
    hashing above (the exact-oracle path for the registered query)."""
    langs = spec.LANGS
    per_lang = n_per_class // len(langs) + 1
    pos = []
    for lg in langs:
        pos.extend(corpus.seed_corpus(lg, n_docs=per_lang))
    pos = pos[:n_per_class]
    neg = junk_corpus(n_per_class)
    texts = pos + neg
    y = np.concatenate([np.ones(len(pos)), np.zeros(len(neg))])
    idx, doc_ids, data = _csr(texts, feature_spec=feature_spec)
    n = len(texts)

    w = np.zeros(N_BUCKETS)
    b = 0.0
    for _ in range(epochs):
        scores = np.bincount(doc_ids, weights=w[idx] * data, minlength=n) + b
        p = 1.0 / (1.0 + np.exp(-scores))
        err = p - y
        gw = np.bincount(idx, weights=err[doc_ids] * data,
                         minlength=N_BUCKETS) / n + l2 * w
        w -= lr * gw
        b -= lr * float(err.mean())
    return {"w": w, "b": b, "n_buckets": N_BUCKETS,
            "feature_spec": feature_spec}


def predict_batch(texts: pd.Series, art: dict) -> np.ndarray:
    """P(quality) per text; empty/null text scores exactly 0.0 (no features
    ⇒ junk by definition, matching the heuristic min-words rule)."""
    vals = texts.tolist()
    idx, doc_ids, data = _csr(vals, feature_spec=art.get("feature_spec", "crc"))
    n = len(vals)
    scores = (np.bincount(doc_ids, weights=art["w"][idx] * data, minlength=n)
              + art["b"])
    probs = 1.0 / (1.0 + np.exp(-scores))
    has_features = np.bincount(doc_ids, minlength=n) > 0
    probs[~has_features] = 0.0
    return probs


def make_quality_udf(spark, art: dict):
    """Double-returning Arrow-batched UDF with the broadcast artifact."""
    from pyspark.sql import functions as F

    b_art = spark.sparkContext.broadcast(art)

    @F.pandas_udf("double")
    def quality_prob(text: pd.Series) -> pd.Series:
        return pd.Series(predict_batch(text, b_art.value))

    return quality_prob


# --- quantized portable artifact (exact-oracle scoring) ---------------------

ARTIFACT_PATH = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                              "artifacts", "quality_portable_v1.json")


def quantized_artifact(art: dict) -> dict:
    """Int64 fixed-point weights (× QSCALE). The per-doc decision value
    becomes ``Σ wq[bucket] + bq·n_feat`` — the integer numerator of
    ``n_feat·QSCALE·(mean(w[bucket]) + b)`` — so keep = (logit_num > 0)
    is bit-identical in numpy and SQL. |wq| ≲ 1e8, n_feat ≤ ~1.5e3 ⇒
    |logit_num| < 2^48: no int64 overflow."""
    assert art.get("feature_spec") == "portable", \
        "quantized scoring is defined for the portable feature spec"
    return {"wq": np.rint(art["w"] * QSCALE).astype(np.int64),
            "bq": int(round(art["b"] * QSCALE))}


def save_quantized_artifact(qart: dict, path: str = ARTIFACT_PATH) -> None:
    import json
    import os
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spec": "portable-v1", "qscale": QSCALE,
                   "bq": qart["bq"], "wq": qart["wq"].tolist()}, f)


@_lru_cache(maxsize=1)
def load_quantized_artifact(path: str = ARTIFACT_PATH) -> dict:
    """The committed artifact. Training takes ~9-13 s on a 4-core host,
    almost all of it the 800 gradient-descent epochs (the corpus and its
    features take ~0.2 s); it is deterministic — a pytest retrains and
    asserts bit equality, tools/gen_quality_artifact.py regenerates. In a
    ``spark-submit --py-files`` zip deployment the file path does not
    exist on disk — fall back to importlib.resources, which reads through
    zipimport."""
    import json
    try:
        with open(path) as f:
            d = json.load(f)
    except OSError:
        from importlib import resources
        d = json.loads(resources.files("dataquality_spark.models")
                       .joinpath("artifacts/quality_portable_v1.json")
                       .read_text())
    assert d["spec"] == "portable-v1" and d["qscale"] == QSCALE
    return {"wq": np.asarray(d["wq"], dtype=np.int64), "bq": int(d["bq"])}


def logit_batch(texts, qart: dict) -> tuple[np.ndarray, np.ndarray]:
    """(n_feat, logit_num) int64 arrays per text — pure integer arithmetic,
    exact in any summation order. Empty/null text ⇒ (0, 0) ⇒ drop."""
    buckets = portable_buckets_batch(texts)
    wq, bq = qart["wq"], qart["bq"]
    n_feat = np.fromiter((len(b) for b in buckets), dtype=np.int64,
                         count=len(buckets))
    logit = np.fromiter(
        (int(wq[b].sum()) + bq * len(b) if len(b) else 0 for b in buckets),
        dtype=np.int64, count=len(buckets))
    return n_feat, logit


def make_quality_logit_udf(spark, qart: dict):
    """Arrow-batched UDF → struct(n_feat int, logit_num long): the
    engine-portable integer decision surface (keep ⇔ logit_num > 0)."""
    from pyspark.sql import functions as F

    b_q = spark.sparkContext.broadcast(qart)

    @F.pandas_udf("struct<n_feat: int, logit_num: long>")
    def quality_logit(text: pd.Series) -> pd.DataFrame:
        n_feat, logit = logit_batch(text.tolist(), b_q.value)
        return pd.DataFrame({"n_feat": n_feat.astype(np.int32),
                             "logit_num": logit})

    return quality_logit
