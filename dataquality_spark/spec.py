"""Canonical text-statistics spec shared by the Spark expressions and the
pandas oracle.

Both implementations (``rules/heuristics.py`` — native Spark expressions — and
``oracle.py`` — pandas reference semantics) must compute *exactly* these
definitions, so that the keep/drop F1 target (BASELINE.md) is a real parity
check and not two drifting codebases.

Rule lineage back to the reference (cites are into /root/reference):
  * null/empty gate        ← P1 completeness `dimensions/completeness/p1.py:45-56`,
                             null-flag kernel `utils/column_operations.py:15-19`
  * word-stat bounds       ← C5 range predicates `dimensions/consistency/c5.py:42-67`
  * symbol/word ratio      ← A1 non-numeric detection `utils/column_operations.py:26-35`
  * stop-word ratio        ← A2 outlier gating spirit `dimensions/accuracy/a2.py:46-52`
  * duplicate-line frac    ← U1 duplicate detection `dimensions/uniqueness/u1.py:34-39`
  * lang conformance       ← C2/C3 reference-list conformance
                             `dimensions/consistency/c2.py:53-67`, `c3.py:42-55`
  * chronology             ← A4 `dimensions/accuracy/a4.py:40-47` (nulls valid)

The numeric thresholds are Gopher/C4-style published heuristics; reference
thresholds carried over where meaningful (BASELINE.md: similarity 0.91,
IQR 1.5).
"""

from __future__ import annotations

# --- tokenization ----------------------------------------------------------
# words  = trim(text) split on /\s+/ ; empty/whitespace-only text -> 0 words
# lines  = text split on '\n' (trailing empties kept, as both engines do)
# \s agreement zone: Java regex (Spark) and RE2 (DuckDB oracle) treat \s as
# ASCII [ \t\n\x0B\f\r]; CPython re (pandas oracle, scrub UDF) is Unicode-\s.
# The spec therefore defines a "word boundary" as ASCII whitespace — exotic
# Unicode spaces (\xa0 etc.) are word characters. Property-tested across
# engines in tests/test_property_parity.py.
WORD_SPLIT_RE = r"\s+"
LINE_SPLIT = "\n"

# A "symbol" for the symbol/word ratio (Gopher uses '#'/'…' ratios; we use a
# small fixed class so both engines agree byte-for-byte).
SYMBOL_RE = "[#@%^*+=<>|~]"

# A word is "alphabetic" if it contains at least one Unicode letter.
ALPHA_WORD_RE = r"\p{L}"  # Java regex (Spark); Python oracle uses str.isalpha scan

# --- rule thresholds (keep iff every rule passes) ---------------------------
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MIN_ALPHA_RATIO = 0.80
MAX_SYMBOL_RATIO = 0.10
MIN_STOPWORD_RATIO = 0.06
MIN_STOPWORD_COUNT = 2
MAX_DUP_LINE_FRACTION = 0.30

# language-ID gate (model stage)
MIN_LANGID_CONF = 0.65

# perplexity gate: per-language IQR outlier bounds, factor from the reference
# default (`dimensions/accuracy/a2.py:23`)
IQR_FACTOR = 1.5

# near-dup similarity threshold carried from the reference default
# (`dimensions/consistency/c1.py:22`)
NEAR_DUP_SIMILARITY = 0.91

# ordered rule ids (heuristic stage; model rules appended by the pipeline)
HEURISTIC_RULES = [
    "nonempty",
    "min_words",
    "max_words",
    "mean_word_len",
    "alpha_ratio",
    "symbol_ratio",
    "stopword_ratio",
    "dup_lines",
]
MODEL_RULES = ["lang_match", "perplexity"]
ALL_RULES = HEURISTIC_RULES + MODEL_RULES

# --- stop words -------------------------------------------------------------
# Minimal per-language function-word lists (public knowledge). The ratio rule
# uses the claimed/predicted language's list, falling back to English.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
           "was", "were", "that", "this", "it", "for", "on", "with", "as",
           "be", "at", "by", "from", "not", "have", "has"],
    "fr": ["le", "la", "les", "un", "une", "des", "et", "ou", "de", "du",
           "en", "est", "sont", "que", "qui", "ce", "pour", "sur", "avec",
           "pas", "au", "aux", "dans", "par", "plus", "se"],
    "de": ["der", "die", "das", "ein", "eine", "und", "oder", "von", "zu",
           "in", "ist", "sind", "dass", "es", "für", "auf", "mit", "als",
           "bei", "nicht", "haben", "hat", "im", "den", "dem", "sich"],
    "es": ["el", "la", "los", "las", "un", "una", "y", "o", "de", "del",
           "en", "es", "son", "que", "este", "para", "con", "como", "se",
           "no", "por", "al", "su", "lo", "más", "pero"],
    "it": ["il", "la", "i", "le", "un", "una", "e", "o", "di", "del",
           "in", "è", "sono", "che", "questo", "per", "con", "come", "si",
           "non", "al", "su", "lo", "più", "ma", "anche"],
    "pt": ["o", "a", "os", "as", "um", "uma", "e", "ou", "de", "do",
           "em", "é", "são", "que", "este", "para", "com", "como", "se",
           "não", "ao", "da", "no", "na", "mais", "mas"],
    "nl": ["de", "het", "een", "en", "of", "van", "te", "in", "is", "zijn",
           "dat", "dit", "voor", "op", "met", "als", "bij", "niet", "aan",
           "door", "naar", "ook", "maar", "om", "er", "dan"],
    "sv": ["en", "ett", "och", "eller", "av", "till", "i", "är", "var",
           "att", "det", "den", "för", "på", "med", "som", "vid", "inte",
           "har", "från", "om", "så", "kan", "men", "ska", "efter"],
    "da": ["en", "et", "og", "eller", "af", "til", "i", "er", "var",
           "at", "det", "den", "for", "på", "med", "som", "ved", "ikke",
           "har", "fra", "om", "så", "kan", "men", "skal", "efter"],
    "no": ["en", "et", "og", "eller", "av", "til", "i", "er", "var",
           "at", "det", "den", "for", "på", "med", "som", "ved", "ikke",
           "har", "fra", "om", "så", "kan", "men", "skal", "etter"],
    "fi": ["ja", "tai", "on", "ovat", "oli", "että", "tämä", "se", "ei",
           "mutta", "kun", "jos", "myös", "kuin", "niin", "hän", "he",
           "minä", "sinä", "me", "te", "ne", "joka", "mikä", "siis", "vain"],
    "pl": ["i", "lub", "z", "do", "w", "jest", "są", "był", "że", "to",
           "ten", "dla", "na", "przy", "jak", "się", "nie", "ma", "od",
           "o", "po", "ale", "już", "tak", "co", "być"],
    "id": ["yang", "dan", "atau", "dari", "ke", "di", "adalah", "itu",
           "ini", "untuk", "pada", "dengan", "sebagai", "tidak", "ada",
           "dalam", "akan", "oleh", "juga", "karena", "bisa", "satu",
           "dua", "saya", "kami", "mereka"],
}

LANGS = sorted(STOPWORDS)  # 13 languages, same cardinality spirit as the
# reference's 13 provinces/territories (`utils/item_operations.py:8-22`)

# --- scrub patterns ---------------------------------------------------------
# Ordered (order matters for byte-identity; applied first-to-last). Both the
# pandas UDF and the oracle use Python `re` with these exact patterns, so the
# output is byte-identical by construction (SURVEY.md §7.3 hard part #1).
SCRUB_PATTERNS: list[tuple[str, str]] = [
    # email
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # phone numbers: (123) 456-7890 | +1-234-567-8901 | 234 567 8901 etc.
    (r"\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}", "<PHONE>"),
    (r"\+?\d{1,3}[-. ]\d{3}[-. ]\d{3,4}[-. ]\d{2,4}\b", "<PHONE>"),
    # IPv4
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # SSN-ish / national-ID-ish digit groups
    (r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    # IBAN-ish
    (r"\b[A-Z]{2}\d{2}[A-Z0-9]{10,30}\b", "<IBAN>"),
]

# toxicity: tiny deterministic denylist (synthetic tokens; masked whole-word)
TOXIC_WORDS = ["frakking", "gorram", "smegging"]
TOXIC_REPLACEMENT = "<TOX>"
