"""fastText-style quality classifier: hashed word-ngram logistic regression.

The classifier-based quality filter used by LLaMA/RedPajama-style corpus
prep (public knowledge: Joulin et al. 2016 "Bag of Tricks" architecture —
averaged hashed n-gram features into a linear model; Touvron et al. 2023
describe filtering CommonCrawl with exactly such a classifier). Complements
the HEURISTIC gate (rules/heuristics.py): the rules encode thresholds, the
classifier learns a decision surface from labeled examples.

ONE feature spec, engine-portable: every hashing step is expressible
identically in numpy AND DuckDB SQL — the `shingles_portable`/`poly_hash31`
pattern that made the composed fuzzy-dedup query exact-oracle:

  * normalize like `shingles_portable` (strip non-ASCII BEFORE lower, the
    explicit ASCII whitespace class) so SQL `lower()` == Python `.lower()`;
  * word hash = base-31 polynomial over codepoints mod Mersenne-31
    (`poly_hash31`); bigram combiner = (h_i·1000003 + h_{i+1}) mod M;
  * char 2-/3-grams = the same base-31 fold over the codepoints of the
    first Q_MAX_CHARS normalized chars — subword grams are what generalize
    to never-seen junk vocabulary (gibberish, symbol runs and digit
    strings have characteristic character n-grams even when every token
    is novel, the reason fastText uses subword features);
  * weights QUANTIZED to int64 fixed point (QSCALE) so the per-doc score
    `Σ wq[bucket] + bq·n_feat` is pure integer arithmetic — exact in any
    summation order, NO float knife edge between engines (the round(·,4)
    lesson from ivf_knn/cosine_allpairs, 912ac1b).

The trained, quantized artifact is committed (models/artifacts/); the
pipeline's classifier stage (``run_pipeline(with_classifier=True)``) and
the registry queries score with it, so no process trains at run time.
Training is deterministic: positives come from the seed corpus
(models/corpus.py), negatives from a junk generator covering the canonical
web-garbage failure modes (gibberish, symbol spam, repetition spam, digit
spam); full-batch logistic regression in numpy with a manual CSR layout —
forward and gradient are two ``np.bincount`` calls per epoch.
"""

from __future__ import annotations

import os as _os
from functools import lru_cache as _lru_cache

import numpy as np
import pandas as pd

from dataquality_spark import spec
from dataquality_spark.models import corpus

N_WORD_BUCKETS = 1 << 12
N_CHAR_BUCKETS = 1 << 12
N_BUCKETS = N_WORD_BUCKETS + N_CHAR_BUCKETS
MAX_WORDS = 512     # score on a prefix — plenty for a quality signal
Q_MAX_CHARS = 256   # char-gram prefix of the NORMALIZED text
QSCALE = 1_000_000  # fixed-point weight scale
_QK = 1_000_003     # word-bigram combiner (same constant as the LSH fold)


def _normalize_portable(text) -> str:
    from dataquality_spark.operators.dedup import _PORT_KEEP, _PORT_WS
    if not isinstance(text, str):
        text = ""
    return _PORT_WS.sub(" ", _PORT_KEEP.sub("", text)).strip().lower()


def word_hashes_batch(texts, max_words: int | None = None
                      ) -> tuple[list[str], np.ndarray, np.ndarray]:
    """The batch word-hash step of the portable spec, shared with DSIR
    (operators/dsir.py): (normalized texts, words per doc, the flat int64
    ``poly_hash31`` of every word, docs in order). Each doc keeps its first
    ``max_words`` words (all when None). Each DISTINCT word of the batch
    is hashed once and gathered back out: a batch repeats its vocabulary
    (3,000 synthetic pages hold 570k words but 4.6k distinct ones), so the
    banded ``poly_hash_flat`` fold runs over the vocabulary only."""
    from dataquality_spark.operators.dedup import poly_hash_flat

    norm = [_normalize_portable(t) for t in texts]
    words = [n.split(" ")[:max_words] if n else [] for n in norm]
    counts = np.fromiter(map(len, words), dtype=np.int64, count=len(words))
    flat = [w for ws in words for w in ws]
    if not flat:
        return norm, counts, np.zeros(0, dtype=np.int64)
    codes, vocab = pd.factorize(np.array(flat, dtype=object))
    return norm, counts, poly_hash_flat([w.encode("ascii") for w in vocab])[codes]


def _starts(counts: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum: each doc's offset in a flat per-doc array."""
    out = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=out[1:])
    return out


def _fold(h: np.ndarray, counts: np.ndarray, span: int, mult: int
          ) -> tuple[np.ndarray, np.ndarray]:
    """Base-``mult`` fold mod Mersenne-31 over every window of ``span``+1
    consecutive values inside one doc of a flat per-doc array, and the
    window count per doc."""
    from dataquality_spark.operators.dedup import _MERSENNE
    g = h
    for j in range(1, span + 1):
        g = (g[:-1] * mult + h[j:]) % _MERSENNE
    ends = np.repeat(_starts(counts) + counts, counts)[:len(g)]
    return g[np.arange(len(g)) + span < ends], np.maximum(counts - span, 0)


def interleave(parts) -> tuple[np.ndarray, np.ndarray]:
    """(values, counts) flat per-doc feature kinds → (features per doc,
    one flat array holding each doc's features kind by kind, docs in
    order): a scatter, no per-doc Python."""
    n = sum(c for _, c in parts)
    out = np.empty(int(n.sum()), dtype=np.int64)
    base = _starts(n)
    for v, c in parts:
        out[np.repeat(base - _starts(c), c) + np.arange(len(v))] = v
        base = base + c
    return n, out


def split_docs(n: np.ndarray, flat: np.ndarray) -> list[np.ndarray]:
    """A flat per-doc array as one array per doc."""
    return [flat[s:s + k] for s, k in zip(_starts(n).tolist(), n.tolist())]


def portable_buckets_batch(texts) -> tuple[np.ndarray, np.ndarray]:
    """(n_feat per doc, flat bucket ids) for a batch, fully vectorized:
    each doc's buckets are its word unigrams and bigrams (lower half),
    then its char 2-grams and 3-grams (upper half), in that order."""
    norm, k, h = word_hashes_batch(texts, MAX_WORDS)
    pre = [n[:Q_MAX_CHARS] for n in norm]
    m = np.fromiter(map(len, pre), dtype=np.int64, count=len(pre))
    cp = np.frombuffer("".join(pre).encode("ascii"),
                       dtype=np.uint8).astype(np.int64)
    bi, c2, c3 = _fold(h, k, 1, _QK), _fold(cp, m, 1, 31), _fold(cp, m, 2, 31)
    return interleave([
        (h % N_WORD_BUCKETS, k), (bi[0] % N_WORD_BUCKETS, bi[1]),
        (c2[0] % N_CHAR_BUCKETS + N_WORD_BUCKETS, c2[1]),
        (c3[0] % N_CHAR_BUCKETS + N_WORD_BUCKETS, c3[1])])


def _csr(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(bucket_idx, doc_ids, data) with data = 1/n_features per doc —
    averaged features, the fastText formulation."""
    n, idx = portable_buckets_batch(texts)
    return (idx, np.repeat(np.arange(len(n)), n),
            np.repeat(1.0 / np.maximum(n, 1), n))


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

def train_quality() -> dict:
    """Binary logistic regression, full-batch GD, fixed schedule —
    bit-deterministic. Positives: seed-corpus docs round-robin over the
    supported languages; negatives: junk_corpus. Regenerates the committed
    artifact (tools/gen_quality_artifact.py); nothing trains at run time."""
    n_per_class, epochs, lr, l2 = 600, 800, 100.0, 1e-6
    langs = spec.LANGS
    per_lang = n_per_class // len(langs) + 1
    pos = []
    for lg in langs:
        pos.extend(corpus.seed_corpus(lg, n_docs=per_lang))
    pos = pos[:n_per_class]
    neg = junk_corpus(n_per_class)
    texts = pos + neg
    y = np.concatenate([np.ones(len(pos)), np.zeros(len(neg))])
    idx, doc_ids, data = _csr(texts)
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
    return {"w": w, "b": b}


# --- quantized portable artifact (exact-oracle scoring) ---------------------

ARTIFACT_PATH = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                              "artifacts", "quality_portable_v1.json")


def quantized_artifact(art: dict) -> dict:
    """Int64 fixed-point weights (× QSCALE). The per-doc decision value
    becomes ``Σ wq[bucket] + bq·n_feat`` — the integer numerator of
    ``n_feat·QSCALE·(mean(w[bucket]) + b)`` — so keep = (logit_num > 0)
    is bit-identical in numpy and SQL. |wq| ≲ 1e8, n_feat ≤ ~1.5e3 ⇒
    |logit_num| < 2^48: no int64 overflow."""
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
    n_feat, buckets = portable_buckets_batch(texts)
    logit = np.zeros(len(n_feat), dtype=np.int64)
    has = n_feat > 0
    if has.any():
        logit[has] = (np.add.reduceat(qart["wq"][buckets], _starts(n_feat)[has])
                      + qart["bq"] * n_feat[has])
    return n_feat, logit


def probability(n_feat: np.ndarray, logit: np.ndarray) -> np.ndarray:
    """P(quality) = sigmoid(logit_num / (n_feat·QSCALE)), the sigmoid of
    mean(w[bucket]) + b; 0.0 for a doc with no features. The graded
    score only: the keep decision is the exact ``logit_num > 0``."""
    p = 1.0 / (1.0 + np.exp(-logit / (np.maximum(n_feat, 1) * QSCALE)))
    return np.where(n_feat > 0, p, 0.0)


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
