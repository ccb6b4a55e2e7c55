"""Text-statistics column functions — native Spark expressions only.

Every function returns a ``Column`` built from ``pyspark.sql.functions``
(JVM-side, whole-stage-codegen'd). No Python executes per row here; the only
Python-in-the-loop stages of the pipeline are the model UDFs (models/) and the
scrubber (scrub.py), both Arrow-batched.

Implements the canonical spec in ``dataquality_spark.spec`` — the pandas
oracle (oracle.py) mirrors these definitions exactly.

Reference kernels re-expressed (cites into /root/reference):
  words/normalize chain   ← `utils/item_operations.py:29-49` (X-1..X-3)
  null/blank flag         ← `utils/column_operations.py:15-19` (F-4)
  range predicates        ← `dimensions/consistency/c5.py:42-67` (F-6)
  duplicate detection     ← `dimensions/uniqueness/u1.py:34-39` (G-8)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataquality_spark import spec


# ---------------------------------------------------------------------------
# Single-pass regex statistics — the pipeline hot path.
#
# Spark evaluates higher-order functions (filter/transform/aggregate)
# INTERPRETED (CodegenFallback), and repeated references re-execute the whole
# subtree (no interpreted subexpression elimination). The array formulation
# of these stats measured 26s/600k docs at 8 cores and barely scaled; the
# regexp_count formulations below are whole-stage-codegen'd, one pass over
# the text each, and token-equivalent to the per-word definitions of the
# pandas oracle (oracle.py) and the DuckDB SQL (a "word" is a maximal \S+
# run; the tests assert equivalence).
# ---------------------------------------------------------------------------

def word_count_rx(text: Column) -> Column:
    """Number of \\S+ runs — identical to len(words_col(text))."""
    return F.coalesce(
        F.regexp_count(text, F.lit(r"\S+")), F.lit(0)).cast("long")


# Java regex \s (default, non-UNICODE_CHARACTER_CLASS) is EXACTLY this
# 6-char ASCII set — a translate() char-map deletes the same characters a
# `\s` regex pass would count, at memcpy speed instead of regex-engine
# speed (measured: the \s regexp_count pass alone cost seconds per 600k
# docs in the rules projection).
_WS_CHARS = " \t\n\x0b\f\r"


def mean_word_len_rx(text: Column, wc: Column) -> Column:
    """(non-whitespace chars) / word_cnt — identical to the per-word mean.
    Whitespace removal via translate() — same count as the former
    ``regexp_count(text, '\\s')`` pass, no regex engine."""
    nonws = F.length(F.translate(text, _WS_CHARS, ""))
    return F.when(wc > 0, nonws / wc).otherwise(F.lit(None))


def alpha_ratio_rx(text: Column, wc: Column,
                   pre: Column | None = None) -> Column:
    """Fraction of words containing ≥1 Unicode letter: counts the letterless
    tokens with one bounded character-class pass and subtracts.

    ``pre``: optional precomputed letterless-token count (the fused UDF's
    gated ASCII fast path, ``functions/stats_batch``) — NULL rows fall
    back to the regex pass via coalesce (lazy in codegen, so the regex
    runs only on the residue)."""
    non_alpha = F.coalesce(
        F.regexp_count(text, F.lit(r"(^|\s)[^\p{L}\s]+(?=\s|$)")), F.lit(0))
    if pre is not None:
        non_alpha = F.coalesce(pre, non_alpha)
    return F.when(wc > 0, (wc - non_alpha) / wc).otherwise(F.lit(None))


def stopword_hits(text: Column, stoplist: list[str]) -> Column:
    """Tokens of ``text`` (lowercased) exactly equal to a word of
    ``stoplist``: one codegen'd alternation pass, counting exactly the
    whitespace-delimited tokens an array membership test accepts;
    longest-first ordering so prefixes never shadow longer stop words.
    NULL text counts 0."""
    alts = "|".join(sorted(stoplist, key=len, reverse=True))
    pat = rf"(^|\s)({alts})(?=\s|$)"
    return F.coalesce(F.regexp_count(F.lower(text), F.lit(pat)), F.lit(0))


def stopword_count_rx(text: Column, lang: Column,
                      pre: Column | None = None) -> Column:
    """Tokens exactly equal to a stop word, via one alternation pass per
    language branch (CASE WHEN → only the matching branch runs).
    ``pre``: optional precomputed per-language count array (spec.LANGS
    order) from the fused UDF's gated ASCII fast path — see below.

    Case mapping: Spark's lower() applies FULL Unicode mapping ('İ' →
    'i'+U+0307), DuckDB's the simple fold ('İ' → 'i') — U+0130 is the one
    unconditional difference, and it made a lone 'İ' match the it/sv/da/
    no/pl stopword 'i' in the oracle but not here (found by the
    differential fuzzer). The shim lives on the ORACLE side
    (queries._sql_full_lower mimics full mapping with a literal replace):
    an engine-side pre-fold was measured to blow the rules stage's
    generated code past the JIT threshold — 13 extra translate calls in
    the CASE branches took the whole projection 5.9s → 34s at
    600k/local[32]."""
    expr = None
    for lg in spec.LANGS:
        if lg == "en":
            continue
        branch = stopword_hits(text, spec.STOPWORDS[lg]).cast("long")
        expr = F.when(lang == lg, branch) if expr is None else expr.when(
            lang == lg, branch)
    out = expr.otherwise(
        stopword_hits(text, spec.STOPWORDS["en"]).cast("long"))
    if pre is not None:
        # precomputed per-language counts (the fused UDF's gated ASCII
        # fast path — functions/stats_batch): pick the claimed language's
        # element with the SAME branch structure as the regex CASE (any
        # lang outside spec.LANGS, incl. NULL, selects the 'en' slot);
        # NULL array rows (gate-rejected) fall back to the regex CASE —
        # Coalesce short-circuits in codegen, so the alternation pass
        # runs only on that residue.
        idx = None
        for i, lg in enumerate(spec.LANGS):
            if lg == "en":
                continue
            idx = (F.when(lang == lg, F.lit(i + 1)) if idx is None
                   else idx.when(lang == lg, F.lit(i + 1)))
        idx = idx.otherwise(F.lit(spec.LANGS.index("en") + 1))
        out = F.coalesce(F.element_at(pre, idx).cast("long"), out)
    return out


def words_col(text: Column) -> Column:
    """Whitespace tokens; empty/null/whitespace-only text → empty array.

    Note: Spark's ``trim`` strips only spaces (not ``\\n\\t``), so the
    canonical definition filters empty tokens after the split instead —
    byte-equivalent to Python's ``text.strip()`` + ``re.split(r'\\s+')``.
    """
    return F.filter(
        F.split(F.coalesce(text, F.lit("")), spec.WORD_SPLIT_RE),
        lambda w: w != "",
    )


# derive the translate charset from the canonical spec so they cannot
# drift; the spec is a single plain character class by construction
_SYMBOL_CHARS = spec.SYMBOL_RE[1:-1]
# chars that would make the class non-literal: '\', ']', mid-class '-',
# leading '^' (negation); any of these appearing means the translate
# spelling no longer mirrors the regex — fail loudly at import
assert (spec.SYMBOL_RE == "[" + _SYMBOL_CHARS + "]"
        and "\\" not in _SYMBOL_CHARS and "]" not in _SYMBOL_CHARS
        and "-" not in _SYMBOL_CHARS
        and not _SYMBOL_CHARS.startswith("^")), spec.SYMBOL_RE


def symbol_count(text: Column) -> Column:
    """Count of symbol characters — translate() char-map spelling of the
    former single-char-class ``regexp_count(text, spec.SYMBOL_RE)``
    (identical count: each match of a one-char class is one character)."""
    return F.coalesce(
        F.length(text) - F.length(F.translate(text, _SYMBOL_CHARS, "")),
        F.lit(0)
    ).cast("long")


def lines_col(text: Column) -> Column:
    """Split on newline, keeping empties — identical to Python str.split('\\n')."""
    return F.split(F.coalesce(text, F.lit("")), spec.LINE_SPLIT, -1)


def dup_line_fraction(text: Column) -> Column:
    """1 - distinct_lines/total_lines over non-blank lines; null if no lines.

    Blank test spelled as a translate() char-map (a line from a '\\n'
    split can contain no '\\n', so "matches ^\\s*$" ≡ "empty after
    deleting the other five \\s characters") — the HOF still evaluates
    interpreted, but without a regex match per line."""
    lines = F.filter(
        lines_col(text),
        lambda l: F.length(F.translate(l, _WS_CHARS, "")) != 0)
    return F.when(
        F.size(lines) > 0,
        1.0 - F.size(F.array_distinct(lines)) / F.size(lines),
    ).otherwise(F.lit(None))


def is_blank(text: Column) -> Column:
    """Null-or-blank flag (reference F-4 `utils/column_operations.py:15-19`).

    "Blank" = only whitespace — spelled as a translate() char-map ("empty
    after deleting every \\s character" ≡ the former ``rlike('^\\s*$')``,
    including the $-before-final-newline case: a string is all-\\s either
    way), not ``trim`` (which strips only spaces).
    """
    return text.isNull() | (F.length(F.translate(text, _WS_CHARS, "")) == 0)


def normalize_text(text: Column) -> Column:
    """Normalization chain for dedup keys (reference X-1, exact order:
    lower → strip digits runs of 1-4 → keep alnum+space → collapse whitespace
    — `utils/item_operations.py:29-36`)."""
    t = F.lower(F.trim(F.coalesce(text, F.lit(""))))
    t = F.regexp_replace(t, r"\b\d{1,4}\b", "")  # X-2 remove_short_numbers
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t


def extract_numbers(text: Column) -> Column:
    """All digit runs as array<string> (reference X-3 `utils/item_operations.py:48-49`)."""
    return F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(r"(\d+)"), 1)


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """1 - lev(a,b)/max(len) — native re-expression of Levenshtein.ratio
    (reference X-6 `utils/column_operations.py:81-87`)."""
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(denom > 0, 1.0 - F.levenshtein(a, b) / denom).otherwise(F.lit(1.0))


def content_hash(text: Column, normalize: bool = False) -> Column:
    """64-bit content hash for exact dedup (G-8).

    Raw by default — faithful to reference U1, which detects duplicates on
    raw rows (`dimensions/uniqueness/u1.py:34-39`); fuzzy variants are the
    near-dup (C1/MinHash) stage's job. The normalize chain costs ~190µs/row
    (Java-regex ``\\b`` over KB-scale text — measured 115s/600k docs, the
    single largest pipeline cost), so it must not sit on the exact-dedup
    hot path.
    """
    return F.xxhash64(normalize_text(text) if normalize else text)


import re as _re

_WS_ASCII = _re.compile(r"\s+", _re.ASCII)


def top_ngram_char_frac_py(text: str | None, n: int) -> float:
    """Gopher-style repetition signal (Rae et al. 2021 §A1.1): the largest
    character mass any single word n-gram accounts for, as a fraction of the
    normalized (single-spaced) text — max over grams of
    count * len(gram) / len(' '.join(words)). ASCII-whitespace split, same
    convention the token stats pin for cross-engine parity. 0.0 for empty
    text or fewer than n words."""
    if not text:
        return 0.0
    # split-then-filter (NOT .strip(), which is unicode-aware and would
    # diverge from the ASCII-\s JVM/SQL tokenization on NBSP-edged text)
    ws = [w for w in _WS_ASCII.split(text) if w]
    if len(ws) < n:
        return 0.0
    total = len(" ".join(ws))
    if total == 0:
        return 0.0
    from collections import Counter
    cnt = Counter(" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1))
    return max(c * len(g) for g, c in cnt.items()) / total


def dup_ngram_char_frac_py(text: str | None, n: int) -> float:
    """The companion Gopher signal (Rae et al. 2021 A1.1, n in 5..10):
    character mass of ALL word n-grams occurring more than once, over the
    single-spaced text — sum over duplicated grams of count * len(gram) /
    total (the standard overlap-counting simplification)."""
    if not text:
        return 0.0
    # split-then-filter (NOT .strip(), which is unicode-aware and would
    # diverge from the ASCII-\s JVM/SQL tokenization on NBSP-edged text)
    ws = [w for w in _WS_ASCII.split(text) if w]
    if len(ws) < n:
        return 0.0
    total = len(" ".join(ws))
    if total == 0:
        return 0.0
    from collections import Counter
    cnt = Counter(" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1))
    return sum(c * len(g) for g, c in cnt.items() if c >= 2) / total


def repetition_udf():
    """pandas UDF: text → struct(top2_frac, top3_frac double).

    Row-local by design: the explode → groupBy(doc, gram) formulation would
    shuffle |corpus| × |words| rows — a per-document statistic must never
    cost a corpus-wide exchange. One Counter pass per doc, Arrow-batched."""
    import pandas as pd
    from pyspark.sql import functions as F

    def rep(text_s):
        return pd.DataFrame({
            "top2_frac": [top_ngram_char_frac_py(t, 2) for t in text_s],
            "top3_frac": [top_ngram_char_frac_py(t, 3) for t in text_s],
            "dup5_frac": [dup_ngram_char_frac_py(t, 5) for t in text_s],
        })

    # hint-free form: this module has no module-level pandas import for
    # annotation resolution (it is the native-expressions module).
    # nondeterministic stops Catalyst re-evaluating the UDF once per
    # extracted struct field (the same fix measured in models/udf.py)
    return F.pandas_udf(
        rep, "struct<top2_frac: double, top3_frac: double, dup5_frac: double>"
    ).asNondeterministic()


def canonical_url(url):
    """Deterministic URL canonicalization for web-crawl keys — the standard
    pre-dedup normalization (crawl frameworks apply the same chain before
    URL-level dedup): lowercase scheme+host, strip default ports (:80 http,
    :443 https), drop the fragment, remove tracking parameters
    (utm_*, gclid, fbclid) with separator repair, drop trailing slashes.
    Pure native regexp chain — byte-exactly mirrored by the DuckDB oracle
    (`canonical_url` query). Host is kept verbatim apart from case/port
    (no www-stripping: that conflates distinct origins)."""
    from pyspark.sql import functions as F
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1))
    rest = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*([^#]*)", 1)
    host = F.when(scheme == "http",
                  F.regexp_replace(host, r":80$", "")) \
            .when(scheme == "https",
                  F.regexp_replace(host, r":443$", "")) \
            .otherwise(host)
    # three-step tracking-param removal with NO blanket '&'→'?' promotion
    # (the old promotion fired on query-less paths containing a literal
    # '&', corrupting '/p&a' into '/p?a'): non-first params go first, then
    # a leading param with a successor keeps its '?', then a lone one
    # drops it
    rest = F.regexp_replace(
        rest, r"&(utm_[^=&]*|gclid|fbclid)=[^&]*", "")
    rest = F.regexp_replace(
        rest, r"\?(utm_[^=&]*|gclid|fbclid)=[^&]*&", "?")
    rest = F.regexp_replace(
        rest, r"\?(utm_[^=&]*|gclid|fbclid)=[^&]*$", "")
    rest = F.regexp_replace(rest, r"[?&]+$", "")   # dangling separator
    rest = F.regexp_replace(rest, r"/+$", "")
    return F.when(scheme == "", u).otherwise(
        F.concat(scheme, F.lit("://"), host, rest))


# URL-shape quality thresholds (RefinedWeb §3.1-style URL filtering;
# UT1-style lists handle the host side via domain_blocklist). Exact
# rationals for cross-multiplied integer flags.
URL_MAX_PATH_DEPTH = 8          # deeper paths are calendar/faceted traps
URL_MAX_PATH_DIGIT_FRAC = (1, 2)  # >50% digits in the path = id-shaped
URL_MAX_QUERY_PARAMS = 4
_SESSION_PARAM_RX = r"(?i)(^|&)(sid|sessionid|phpsessid|jsessionid)="


def url_shape_features(url: Column) -> dict[str, Column]:
    """URL-shape signals for crawl-quality filtering (the URL side of a
    RefinedWeb-style filter; compose on `canonical_url` output so ports /
    case / tracking params / fragments are already normalized):

    - ``host``, ``host_depth`` (dot-separated label count)
    - ``path_depth`` (non-empty ``/`` segments), ``path_len``,
      ``path_digits`` (digit characters in the path)
    - ``n_params`` (``&``-separated query parameters)
    - four PASS flags (True = PASS, the rules/heuristics.py convention):
      ``r_path_depth`` (<= 8), ``r_path_digits`` (digit fraction <= 1/2,
      cross-multiplied integers — no division), ``r_params`` (<= 4),
      ``r_session`` (no session-id parameter: sid / sessionid /
      phpsessid / jsessionid, case-insensitive)

    Every measure is an int64 count or a boolean — float-free — and the
    whole thing is one zero-shuffle codegen projection (regexp_extract /
    split / filter HOFs, no UDF): at 100 TB it rides the scan for free and
    the flags push into downstream filters.
    """
    u = F.coalesce(url, F.lit(""))
    host = F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1)
    path = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    path_depth = F.size(F.filter(F.split(path, "/"),
                                 lambda s: s != F.lit(""))).cast("long")
    path_len = F.length(path).cast("long")
    path_digits = F.length(
        F.regexp_replace(path, r"[^0-9]", "")).cast("long")
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.split(query, "&"))).cast("long")
    host_depth = F.when(host == "", F.lit(0)).otherwise(
        F.size(F.split(host, r"\."))).cast("long")
    num, den = URL_MAX_PATH_DIGIT_FRAC
    return {
        "host": host,
        "host_depth": host_depth,
        "path_depth": path_depth,
        "path_len": path_len,
        "path_digits": path_digits,
        "n_params": n_params,
        "r_path_depth": path_depth <= F.lit(URL_MAX_PATH_DEPTH),
        "r_path_digits": path_digits * F.lit(den) <= path_len * F.lit(num),
        "r_params": n_params <= F.lit(URL_MAX_QUERY_PARAMS),
        "r_session": ~query.rlike(_SESSION_PARAM_RX),
    }


def lexicon_hits(text: Column, lexicon: list[str]) -> Column:
    """Case-insensitive whole-word hit count against a word list — the
    scoring half of a lexicon-based toxicity/blocklist stage (the scrub
    chain REDACTS; this MEASURES, the gate signal UT1-style pipelines
    threshold on). One JVM-side regexp_count, zero shuffle, no UDF: the
    lexicon compiles to a single alternation under ``(?i)`` with ``\\b``
    anchors — ASCII lexicons make Java and RE2 agree on both, the same
    parity class the mojibake counters pin. Lexicon terms must be
    regex-safe words (letters/digits/underscore); at 100 TB a real UT1
    list rides in as one compiled pattern per executor, no broadcast
    join needed below ~thousands of terms.
    """
    if not lexicon:
        # the degenerate pattern (?i)\b()\b matches the empty string at
        # every word boundary — an empty lexicon must mean zero hits, not
        # a per-boundary count (round-5 advisor note)
        raise ValueError("lexicon_hits requires a non-empty lexicon")
    for w in lexicon:
        if not w.replace("_", "").isalnum() or not w.isascii():
            raise ValueError(f"lexicon term not a plain ASCII word: {w!r}")
    pat = r"(?i)\b(" + "|".join(lexicon) + r")\b"
    return F.coalesce(
        F.regexp_count(F.coalesce(text, F.lit("")), F.lit(pat)), F.lit(0))
