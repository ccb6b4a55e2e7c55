"""Deterministic per-language vocabulary + seed corpus.

No external data: content vocabularies are synthesized as a pure function of
(language code, word index) from language-characteristic syllable inventories,
seeded by the language's stop-word list. The pages generator (synth.py), the
langid trainer (langid.py) and the n-gram LM (ngram_lm.py) all derive from
THIS module, which is what makes language identification and perplexity
scoring well-posed on the synthetic corpus (FIXTURES.md §2 `lang_ref`).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from dataquality_spark import spec

# language-flavored syllable inventories (public-knowledge phonotactics,
# hand-written — enough to make char-ngram distributions separable)
_SYLLABLES: dict[str, list[str]] = {
    "en": ["tion", "ing", "ther", "wor", "ment", "sh", "th", "ck", "ly", "ed"],
    "fr": ["eau", "oux", "tion", "ment", "ée", "çon", "eur", "oi", "ais", "que"],
    "de": ["sch", "ung", "keit", "lich", "über", "ein", "zw", "pf", "tz", "ens"],
    "es": ["ción", "illo", "ar", "er", "os", "ña", "que", "ado", "ía", "ura"],
    "it": ["zione", "etto", "are", "ere", "oso", "ggi", "cch", "ino", "ità", "uro"],
    "pt": ["ção", "inho", "ar", "er", "os", "ão", "lh", "ado", "ia", "ura"],
    "nl": ["sch", "ij", "aa", "oo", "uu", "lijk", "heid", "ke", "tje", "een"],
    "sv": ["sk", "å", "ä", "ö", "ning", "lig", "are", "het", "ande", "sj"],
    "da": ["sk", "å", "æ", "ø", "ning", "lig", "ere", "hed", "ende", "kk"],
    "no": ["sk", "å", "æ", "ø", "ning", "lig", "ere", "het", "ende", "kj"],
    "fi": ["kk", "pp", "tt", "ai", "uo", "yö", "nen", "lla", "ssa", "sti"],
    "pl": ["cz", "sz", "rz", "ów", "ść", "dz", "ę", "ą", "ny", "ego"],
    "id": ["ng", "ny", "an", "kan", "me", "ber", "per", "nya", "lah", "kah"],
}

VOCAB_SIZE = 160  # content words per language


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a whole uint64 array — the engine's one
    deterministic PRNG primitive. Array arithmetic wraps mod 2^64 without
    an overflow check, so no ``np.errstate`` is needed; draw every value a
    caller needs in ONE call rather than one scalar at a time."""
    z = np.asarray(x).astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _lang_seed(lang: str) -> int:
    h = 1469598103934665603
    for ch in lang:
        h = ((h ^ ord(ch)) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h


@lru_cache(maxsize=None)
def content_vocab(lang: str) -> list[str]:
    """VOCAB_SIZE deterministic pseudo-words with the language's syllables.
    Two draws: one seed per word (its syllable count), then one per
    (word, syllable) over the VOCAB_SIZE × 4 grid."""
    syl = _SYLLABLES[lang]
    base = "bcdfglmnprstv"
    vowels = "aeiou"
    u = mix64(np.uint64(_lang_seed(lang))
              + np.arange(VOCAB_SIZE, dtype=np.uint64) * np.uint64(7919))
    n_syl = (2 + u % np.uint64(3)).tolist()
    grid = mix64(u[:, None]
                 + np.arange(4, dtype=np.uint64) * np.uint64(104729)).tolist()
    out = []
    for vs, n in zip(grid, n_syl):
        parts = []
        for v in vs[:n]:
            parts.append(base[v % len(base)] + vowels[(v >> 8) % len(vowels)])
            if (v >> 16) % 3 == 0:
                parts.append(syl[(v >> 24) % len(syl)])
        out.append("".join(parts))
    return out


@lru_cache(maxsize=None)
def full_vocab(lang: str) -> list[str]:
    """stop words + content words — the sampling pool for document text."""
    return list(spec.STOPWORDS[lang]) + content_vocab(lang)


def seed_corpus(lang: str, n_docs: int = 200) -> list[str]:
    """Deterministic 60-word training documents for the langid / LM
    models: the whole (doc, word) grid is one draw."""
    pool = np.array(full_vocab(lang), dtype=object)
    n_stop = len(spec.STOPWORDS[lang])
    u = mix64(np.uint64(_lang_seed(lang) ^ 0xC0FFEE)
              + np.arange(n_docs, dtype=np.uint64)[:, None] * np.uint64(1_000_003)
              + np.arange(60, dtype=np.uint64))
    ix = np.where(u % np.uint64(100) < np.uint64(40),  # ~40% stop words
                  u % np.uint64(n_stop),
                  n_stop + (u >> np.uint64(16)) % np.uint64(len(pool) - n_stop))
    return [" ".join(ws) for ws in pool[ix.astype(np.int64)].tolist()]
