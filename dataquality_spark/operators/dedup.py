"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Exact dedup is the north-rule shuffle (BASELINE.json): groupBy on a 64-bit
content hash of the text, one ``min(struct(warc_ts, url))`` per hash. Skew
(Zipfian-hot content: boilerplate duplicated across hot domains) is handled
by the map-side partial aggregate Spark plans below the one exchange:
``min`` is associative and commutative, so each map task folds its rows of a
hash into one partial state, and a hash held by millions of rows reaches its
reducer as at most one record per map task — the hot reducer's input is
bounded by the map task count, not by the group size. A salt cannot spread
an aggregate that is already combined: the states are one per (map task,
hash) before anything crosses the wire, so salting only multiplies them by
the salt count and needs a second exchange to merge them back into one row
per hash. tests/test_dedup.py pins the plan (one exchange, partial aggregate
below it) and the hot-group shuffle record count. AQE skew handling remains
on as the backstop for the join-back.

Re-expresses reference U1 exact-duplicate detection
(`dimensions/uniqueness/u1.py:34-39`) with an explicit, deterministic
keep-first policy (min (warc_ts, url)) instead of pandas `duplicated(keep=False)`,
and C1 near-dup similarity (`dimensions/consistency/c1.py:39-141`) as
MinHash-banded LSH blocking + verified Jaccard — never an O(n²) cross join
(SURVEY.md J-2).

The exact-dedup path is native DataFrame expressions end-to-end. MinHash and
SimHash signatures are Arrow-batched numpy UDFs (see ``shingle_bands_udf``
for the measured reason Spark HOFs lose here); candidate generation and
verification around them stay JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataquality_spark import spec
from dataquality_spark.functions import text as TX

# MinHash parameters: 64 permutations in 16 bands × 4 rows (public LSH
# S-curve: P(candidate) ≈ 1-(1-s^4)^16 → ~0.5 at s≈0.56, ~0.998 at s=0.91,
# the reference's similarity threshold spec.NEAR_DUP_SIMILARITY)
MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = 4
# Mersenne-31: a,b,x < 2^31 keeps a*x+b < 2^62 — no ANSI long overflow
_MERSENNE = (1 << 31) - 1


def _perm_params(k: int = MINHASH_PERMS) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    from dataquality_spark.models.corpus import mix64
    u = mix64(np.arange(1, 2 * k + 1, dtype=np.uint64)).tolist()
    return [(ua % (_MERSENNE - 1) + 1, ub % _MERSENNE)
            for ua, ub in zip(u[0::2], u[1::2])]


import re as _re

_PORT_KEEP = _re.compile(r"[^A-Za-z0-9 \t\n\r\f\v]+")
_PORT_WS = _re.compile(r"[ \t\n\r\f\v]+")


def shingles_portable(text: str | None, n: int = 3) -> list[str]:
    """Distinct word n-gram shingles of normalized text, order-preserving:
    THE shingling spec for MinHash and SimHash. Keep ASCII alnum + space →
    collapse whitespace → lowercase, with every step expressible
    identically in Python re AND DuckDB RE2 —

      * non-ASCII is stripped BEFORE lowercasing, so ``lower()`` only ever
        sees ASCII (Python and ICU lowercasing disagree on e.g. 'İ');
      * whitespace is the explicit ASCII class ``[ \\t\\n\\r\\f\\v]`` (a
        bare ``\\s`` is unicode-aware in Python but ASCII-only in RE2).

    Deliberately does NOT strip short digit runs — unlike
    ``TX.normalize_text`` (the exact-dedup key chain, which applies the
    reference's X-2 ``remove_short_numbers``): near-dup candidates must
    still distinguish "chapter 12" from "chapter 13"; the C1 rescue
    handles the number semantics downstream. Paired with ``poly_hash31``
    this makes every MinHash-LSH and SimHash candidate set reproducible in
    pure SQL."""
    if text is None:
        return []
    t = _PORT_WS.sub(" ", _PORT_KEEP.sub("", text)).strip().lower()
    if not t:
        return []
    ws = t.split(" ")
    if len(ws) < n:
        return [t]
    return list(dict.fromkeys(
        " ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)))


def poly_hash31(s: str) -> int:
    """Base-31 polynomial over codepoints mod Mersenne-31 — the
    SQL-expressible shingle hash: DuckDB spells it
    ``list_reduce(list_transform(str_split(s, ''), c -> unicode(c)::bigint),
    (a, b) -> (a * 31 + b) % 2147483647)`` (fold seeded with the first
    element, hence the asymmetric first step here). ``s`` must be
    non-empty."""
    h = ord(s[0])
    for c in s[1:]:
        h = (h * 31 + ord(c)) % _MERSENNE
    return h


def choose_banding(threshold: float) -> tuple[int, int]:
    """(bands, rows) factorization of the 64 permutations for a target
    similarity threshold: the steepest banding whose S-curve midpoint
    (1/b)^(1/r) sits at least 0.25 BELOW the threshold — the margin puts
    recall at the threshold above ~99% for every row in the table (e.g.
    16×4 at 0.91 → 0.998; 32×2 at 0.5 → 0.9999) while keeping the most
    selective curve that clears it (precision: fewer sub-threshold
    candidates than a flatter banding). Reproduces the measured 16×4 for
    the reference's 0.91 threshold; a 0.5-threshold caller gets 32×2
    instead of 16×4, whose midpoint IS 0.5 (≈50% recall right at the
    threshold)."""
    for b, r in [(4, 16), (8, 8), (16, 4), (32, 2)]:
        if (1.0 / b) ** (1.0 / r) <= threshold - 0.25:
            return (b, r)
    return (64, 1)


def poly_hash_flat(flat: list[bytes]) -> np.ndarray:
    """Vectorized poly_hash31 over EVERY string of an Arrow batch at
    once: left-pad to a char matrix and fold column-wise — leading
    zeros are identity under the polynomial (0·31^k), so padded ==
    scalar fold exactly (pytest-pinned against poly_hash31). Strings
    are grouped into power-of-two LENGTH BANDS and padded only to the
    band max (< 2× the shortest member), so one degenerate unbroken
    token (base64 blob, minified source — whose whole text becomes a
    single huge shingle) costs only its own bytes instead of inflating
    every string in the batch to its length: padded memory stays
    ≤ 2× total string bytes. Common crawls fit one band and run at
    the single-matrix speed (the per-row version measured 0.54s/5k
    docs; this form ~0.04s, the speed of a C-level per-shingle hash).
    Shared by the MinHash and SimHash signatures and the portable
    quality-classifier feature spec (models/quality.py)."""
    P = np.int64(_MERSENNE)
    lens = np.fromiter((len(b) for b in flat), dtype=np.int64,
                       count=len(flat))
    hv = np.zeros(len(flat), dtype=np.int64)
    order = np.argsort(lens, kind="stable")
    start, n = 0, len(flat)
    while start < n:
        l0 = int(lens[order[start]])
        band_max = 1 << max(l0 - 1, 0).bit_length()  # next pow2 ≥ l0
        end = start
        while end < n and lens[order[end]] <= band_max:
            end += 1
        idx = order[start:end]
        ml = int(lens[idx].max())
        buf = b"".join(bytes(ml - len(flat[i])) + flat[i] for i in idx)
        M = np.frombuffer(buf, dtype=np.uint8).reshape(len(idx), ml)
        h = np.zeros(len(idx), dtype=np.int64)
        for j in range(ml):
            h = (h * 31 + M[:, j]) % P
        hv[idx] = h
        start = end
    return hv


def shingle_bands_udf(shingle_n: int = 3, bands: int = LSH_BANDS,
                      rows: int = LSH_ROWS, emit_sig: bool = False):
    """pandas UDF: text → struct(sh array<string>, bands array<bigint>).
    With ``emit_sig`` the struct gains ``sig: array<long>`` (the raw
    64-permutation MinHash signature) for estimator diagnostics — the
    default schema stays unchanged so existing plans are untouched.

    The signature is SQL-replayable: ``shingles_portable`` shingles, each
    hashed by ``poly_hash31`` (batch-vectorized ``poly_hash_flat``), then
    the 64 seeded permutations and the band fold — DuckDB recomputes every
    band key bit-for-bit.

    Shingling AND minhash both live here. Why not JVM expressions: Spark
    HOFs evaluate interpreted (no codegen) and projection collapse re-inlines
    the words-split subtree into every slice iteration (O(words²)/doc —
    measured 72s/500 docs for the signature layer alone, 28s/5000 docs for
    shingling). Here shingles are one C-regex pass and the 64 permutations
    one vectorized numpy outer product per row, Arrow-batched — the standard
    Spark minhash shape at web scale.
    """
    params = _perm_params()
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    K = np.int64(1_000_003)
    P = np.int64(_MERSENNE)

    schema = "struct<sh: array<string>, bands: array<long>>"
    if emit_sig:
        schema = "struct<sh: array<string>, bands: array<long>, sig: array<long>>"

    @F.pandas_udf(schema)
    def sig_bands(text_s: pd.Series) -> pd.DataFrame:
        shs, keys_out, sigs_out = [], [], []
        all_sh = [shingles_portable(t, shingle_n) for t in text_s]
        flat = [s.encode("ascii") for sh in all_sh
                for s in sh]  # spec is ASCII-only
        hv_all = poly_hash_flat(flat) if flat else np.empty(
            0, dtype=np.int64)
        off = 0
        for sh in all_sh:
            if not sh:
                shs.append(None)
                keys_out.append(None)
                sigs_out.append(None)
                continue
            h = hv_all[off:off + len(sh)][None, :]
            off += len(sh)
            sig = ((A * h + B) % P).min(axis=1)  # [MINHASH_PERMS]
            bsig = sig.reshape(bands, rows)
            keys = np.arange(1, bands + 1, dtype=np.int64)
            for r in range(rows):
                keys = (keys * K + bsig[:, r]) % P
            shs.append(sh)
            keys_out.append(keys.tolist())
            sigs_out.append(sig.tolist())
        cols = {"sh": pd.Series(shs, dtype=object),
                "bands": pd.Series(keys_out, dtype=object)}
        if emit_sig:
            cols["sig"] = pd.Series(sigs_out, dtype=object)
        return pd.DataFrame(cols)

    return sig_bands.asNondeterministic()


def exact_dedup_winners(df: DataFrame, id_cols: tuple[str, str] = ("warc_ts", "url")
                        ) -> DataFrame:
    """Per-content-hash winner of a frame that carries ``content_hash``.

    Returns ``(content_hash, win)`` where win = min struct of id_cols: one
    aggregate, partial min in every map task, one exchange, final min.
    """
    ts, uid = id_cols
    return df.groupBy("content_hash").agg(
        F.min(F.struct(F.col(ts), F.col(uid))).alias("win"))


def with_dedup_flag(df: DataFrame, id_cols: tuple[str, str] = ("warc_ts", "url"),
                    text_col: str = "text", flag_col: str = "r_dedup",
                    normalize: bool = False) -> DataFrame:
    """Append ``r_dedup`` = True iff the row is its content group's winner.

    One map-side-combined aggregation + one hash-join back on content_hash
    (AQE skew-join is the backstop for hot hashes).
    """
    ts, uid = id_cols
    df = df.withColumn("content_hash",
                       TX.content_hash(F.col(text_col), normalize))
    joined = df.join(exact_dedup_winners(df, id_cols), "content_hash", "left")
    return joined.withColumn(
        flag_col,
        (F.col(f"win.{ts}") == F.col(ts)) & (F.col(f"win.{uid}") == F.col(uid)),
    ).drop("win")


def _lsh_candidate_pairs(base: DataFrame, max_bucket_size: int | None,
                         skew_metrics: dict | None = None) -> DataFrame:
    """THE banded-LSH candidate generator for MinHash, SimHash and the
    embedding near-dup path: explode ``_bands`` → hot-bucket cap → bucket
    self-join → keep id_a < id_b. ``base`` holds ``_id`` and ``_bands``
    (array<long> of bucket keys, band number packed in so different bands
    never collide); every other column rides the join as ``<col>_a`` /
    ``<col>_b``. Pairs are NOT deduplicated — a pair sharing k buckets
    appears k times; each caller dedups where it is cheapest.

    Hot-bucket cap: a bucket with m members emits O(m²) pairs, so one viral
    boilerplate page pins the join at web scale; buckets with more than
    ``max_bucket_size`` members are DROPPED (standard banded-LSH practice —
    each pair has other bands to collide in, and exact-duplicate
    mega-groups are exact dedup's job). The cap is a count WINDOW over
    ``_bucket``, whose bucket-partitioned, bucket-sorted output is what the
    sort-merge self-join requires: in the sort-merge regime
    (``spark.sql.autoBroadcastJoinThreshold=-1``) the join adds no exchange
    or sort of its own, but each join side runs its own Sort + Window over
    its own Exchange hashpartitioning(_bucket). With AQE off the second
    side's exchange is a ReusedExchange; with AQE on (the session default)
    each side reads the persisted frame through its own
    TableCacheQueryStage, so the final plan holds two bucket
    ShuffleQueryStages and nothing is reused. ``skew_metrics``: pass a
    dict to receive {"hot_buckets": n}, one eager distinct count over the
    same window frame."""
    extra = [c for c in base.columns if c not in ("_id", "_bands")]
    buckets = base.select("_id", *extra, F.explode("_bands").alias("_bucket"))
    if max_bucket_size is not None:
        from pyspark.sql import Window
        counted = buckets.withColumn(
            "_bn", F.count(F.lit(1)).over(Window.partitionBy("_bucket")))
        if skew_metrics is not None:
            skew_metrics["hot_buckets"] = (
                counted.where(F.col("_bn") > max_bucket_size)
                .select("_bucket").distinct().count())
        buckets = counted.where(F.col("_bn") <= max_bucket_size).drop("_bn")

    def side(s: str) -> DataFrame:
        return buckets.select(F.col("_id").alias(f"id_{s}"), "_bucket",
                              *[F.col(c).alias(f"{c}_{s}") for c in extra])

    return (side("a").join(side("b"), "_bucket")
            .where(F.col("id_a") < F.col("id_b")).drop("_bucket"))


def _minhash_pairs(df: DataFrame, id_col: str, text_col: str,
                   shingle_n: int, banding: tuple[int, int],
                   emit_sig: bool,
                   max_bucket_size: int | None,
                   skew_metrics: dict | None,
                   cleanup: list[DataFrame] | None) -> DataFrame:
    """Deduplicated MinHash-LSH candidate pairs with their shingle sets
    attached: (id_a, id_b, _sh_a, _sh_b[, _sig_a, _sig_b]). Shared by
    ``near_dup_pairs`` and ``minhash_pair_diagnostics`` so the two can
    never disagree on which pairs LSH surfaces.

    The signature frame is persisted — it feeds the bucketing AND both
    verify sides, so the UDF runs once; ``cleanup`` receives the handle
    (same contract as ``pipeline.run_pipeline``). Only (_id, _bands)
    enters the bucket-join shuffle; the shingle arrays (and ``sig``) attach
    to the deduplicated pairs afterwards."""
    from pyspark import StorageLevel

    udf = shingle_bands_udf(shingle_n, bands=banding[0], rows=banding[1],
                            emit_sig=emit_sig)
    cols = ["_sh", "_sig"] if emit_sig else ["_sh"]
    base = df.select(
        F.col(id_col).alias("_id"), udf(F.col(text_col)).alias("_sb")
    ).select(
        "_id", F.col("_sb.bands").alias("_bands"),
        *[F.col(f"_sb.{c[1:]}").alias(c) for c in cols]
    ).where(F.col("_sh").isNotNull() & (F.size("_sh") > 0)) \
     .persist(StorageLevel.MEMORY_AND_DISK)
    if cleanup is not None:
        cleanup.append(base)
    cand = (_lsh_candidate_pairs(base.select("_id", "_bands"),
                                 max_bucket_size, skew_metrics)
            .dropDuplicates(["id_a", "id_b"]))
    for s in ("a", "b"):
        cand = cand.join(base.select(F.col("_id").alias(f"id_{s}"),
                                     *[F.col(c).alias(f"{c}_{s}")
                                       for c in cols]), f"id_{s}")
    return cand


def minhash_pair_diagnostics(df: DataFrame, id_col: str = "url",
                             text_col: str = "text", shingle_n: int = 3,
                             banding: tuple[int, int] = (32, 2),
                             max_bucket_size: int | None = 200,
                             cleanup: list[DataFrame] | None = None
                             ) -> DataFrame:
    """Estimator-quality diagnostics for the banded MinHash-LSH path: for
    every LSH candidate pair, the signature-agreement Jaccard ESTIMATE
    (matching permutation slots / 64) next to the EXACT shingle Jaccard
    and their absolute error. This is the dedup-tuning table — it answers
    "is 64 permutations enough at this threshold" and "what does the
    hot-bucket cap cost in recall" with data instead of folklore.

    Same candidates and plan shape as ``near_dup_pairs`` (``_minhash_pairs``);
    the extra sig column rides the verify join, never the bucket-join
    shuffle. Returns (id_a, id_b, est_jaccard, exact_jaccard, abs_err).
    """
    pairs = _minhash_pairs(df, id_col, text_col, shingle_n, banding,
                           emit_sig=True,
                           max_bucket_size=max_bucket_size,
                           skew_metrics=None, cleanup=cleanup)
    n_perms = banding[0] * banding[1]
    matches = F.size(F.filter(
        F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda m: m))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    out = pairs.select(
        "id_a", "id_b",
        F.round(matches / F.lit(float(n_perms)), 6).alias("est_jaccard"),
        F.round(inter / union, 6).alias("exact_jaccard"))
    # abs_err from the ROUNDED columns so engine and oracle subtract the
    # same doubles (the round(·,6)/knife-edge discipline used throughout)
    return out.withColumn(
        "abs_err",
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6))


def near_dup_pairs(df: DataFrame, id_col: str = "url", text_col: str = "text",
                   jaccard_threshold: float = spec.NEAR_DUP_SIMILARITY,
                   shingle_n: int = 3,
                   max_bucket_size: int | None = 200,
                   skew_metrics: dict | None = None,
                   cleanup: list[DataFrame] | None = None,
                   measure: str = "jaccard",
                   banding: tuple[int, int] | str = "auto") -> DataFrame:
    """Candidate near-duplicate pairs via MinHash-banded LSH, verified with
    exact shingle Jaccard. Returns (id_a, id_b, jaccard), id_a < id_b.

    ``banding``: "auto" picks the (bands, rows) factorization of the 64
    permutations from ``jaccard_threshold`` via ``choose_banding`` (S-curve
    midpoint at or below the threshold — a 0.5-threshold caller gets 32×2
    instead of the 16×4 whose midpoint IS 0.5 and would lose ~half the
    borderline pairs); pass an explicit (bands, rows) to pin it.

    Plan shape: explode band keys → self-join on the bucket → distinct
    pairs → exact verify (``_lsh_candidate_pairs``); no cross join ever
    materializes (SURVEY.md J-2 requirement). Buckets with more than
    ``max_bucket_size`` members are dropped before the join (the hot-bucket
    cap). ``skew_metrics``: pass a dict to receive {"hot_buckets": n}
    eagerly. ``cleanup``: the signature frame is persisted; pass a list to
    receive the handle and unpersist after your terminal action — same
    contract as ``pipeline.run_pipeline``.
    """
    if banding == "auto":
        banding = choose_banding(jaccard_threshold)
    pairs = _minhash_pairs(df, id_col, text_col, shingle_n, banding,
                           emit_sig=False,
                           max_bucket_size=max_bucket_size,
                           skew_metrics=skew_metrics, cleanup=cleanup)
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    # "containment" scores |A∩B| / min(|A|,|B|): a short doc fully embedded
    # in a long one scores 1.0 where symmetric Jaccard (inter/union) stays
    # low — the quote-page / article-with-boilerplate case. NOTE the LSH
    # recall guarantee is on JACCARD: MinHash collision probability tracks
    # inter/union, so high-containment/low-jaccard pairs are only found when
    # their Jaccard still reaches a band. For systematic containment mining,
    # lower jaccard_threshold and verify with this measure.
    if measure == "containment":
        sim = inter / F.least(F.size("_sh_a"), F.size("_sh_b"))
    elif measure == "jaccard":
        sim = inter / union
    else:
        raise ValueError(f"unknown measure: {measure!r}")
    return (
        pairs.withColumn("jaccard", sim)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash64_portable_py(sh: list[str]) -> int:
    """Scalar SimHash spec (Charikar 2002): bit j of the result is 1 iff
    the sum of the shingles' ±1 votes on bit j is positive. Shingles come
    from ``shingles_portable``, each hashes through ``poly_hash31``, and
    bit j's vote is the PARITY of the j-th universal permutation
    g_j(h) = (a_j·h + b_j) mod M — the SAME ``_perm_params(64)`` table the
    MinHash signature uses,
    so DuckDB recomputes the full 64-bit signature bit-for-bit (parity of
    a residue mod the odd Mersenne prime is an unbiased coin). Returns a
    SIGNED 64-bit int (Spark ``long`` wrap-around)."""
    if not sh:
        return 0
    votes = [0] * 64
    for s in sh:
        h = poly_hash31(s)
        for j, (a, b) in enumerate(_perm_params()):
            votes[j] += 1 if ((a * h + b) % _MERSENNE) & 1 else -1
    v = 0
    for j in range(64):
        if votes[j] > 0:
            v |= 1 << j
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash_udf(shingle_n: int = 2):
    """pandas UDF: text → 64-bit SimHash (long), byte-equal to the scalar
    ``simhash64_portable_py`` spec (pytest oracle) and recomputed by the
    DuckDB oracles bit-for-bit.

    Replaces the round-1 JVM formulation (nested ``aggregate`` over 64 bit
    masks × shingle hashes — interpreted CodegenFallback, O(64·|shingles|)
    re-evaluated per row; measured >300s for 5k docs). Here: one C-regex
    shingling pass (``shingles_portable``, shared with the MinHash UDF),
    batch-vectorized ``poly_hash_flat``, and the 64 permutation parities
    as one numpy matrix op per row, Arrow-batched.
    """
    params = _perm_params()
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]

    @F.pandas_udf("long")
    def sim(text_s: pd.Series) -> pd.Series:
        out = np.zeros(len(text_s), dtype=np.int64)
        all_sh = [shingles_portable(t, shingle_n) for t in text_s]
        flat = [s.encode("ascii") for sh in all_sh for s in sh]
        hv_all = poly_hash_flat(flat) if flat else np.empty(
            0, dtype=np.int64)
        off = 0
        for i, sh in enumerate(all_sh):
            if not sh:
                continue
            h = hv_all[off:off + len(sh)][None, :]
            off += len(sh)
            # a,h < 2^31 ⇒ a*h + b < 2^62: no int64 overflow
            bits = ((A * h + B) % _MERSENNE) & 1  # [64, n_sh]
            votes = 2 * bits.sum(axis=1) - len(sh)
            v = np.uint64(0)
            for j in np.nonzero(votes > 0)[0]:
                v |= np.uint64(1) << np.uint64(j)
            out[i] = v.astype(np.int64)
        return pd.Series(out)

    return sim


def dedup_paragraphs(df: DataFrame, id_col: str = "url",
                     text_col: str = "text", order_col: str | None = None,
                     sep: str = "\n\n") -> DataFrame:
    """Cross-document exact PARAGRAPH dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the paragraph/span-level
    variant; C4 applies the same idea at three-sentence granularity): every
    distinct non-blank paragraph survives only at its FIRST occurrence
    (min (order, id, position)); later occurrences across AND within
    documents are dropped, and each document's text is rebuilt from its
    surviving paragraphs in original order joined by ``sep``.

    Returns (id_col, text_col) with the deduplicated text ('' when every
    paragraph was seen earlier). ``sep`` is a Java regex for the split and a
    literal for the re-join — pass a literal-safe separator.

    Scale shape: paragraphs cross the wire as 64-bit hashes only — the
    winner aggregation is the same map-side-combined min as
    ``exact_dedup_winners`` (hot paragraphs = boilerplate are exactly the
    skew case; each map task ships one partial state per hash), the text
    re-attaches via one hash equi-join, and reconstruction is one
    groupBy(id) with ``sort_array`` — a bounded number of engineered
    shuffles regardless of corpus size, never shuffling full documents.
    """
    order_col = order_col or id_col
    paras = (df.select(
        F.col(id_col).alias("_id"), F.col(order_col).alias("_ord"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_para"))
        .where(F.trim("_para") != ""))
    hashed = paras.withColumn("_h", F.xxhash64("_para"))
    winners = hashed.groupBy("_h").agg(
        F.min(F.struct("_ord", "_id", "_pos")).alias("_win"))
    kept = (hashed.join(winners, "_h")
            .where((F.col("_win._ord") == F.col("_ord"))
                   & (F.col("_win._id") == F.col("_id"))
                   & (F.col("_win._pos") == F.col("_pos"))))
    recon = (kept.groupBy("_id")
             .agg(F.concat_ws(sep, F.transform(
                 F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                 lambda x: x["_para"])).alias("_dedup_text")))
    return (df.select(F.col(id_col).alias("_id")).distinct()
            .join(recon, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("_dedup_text", F.lit(""))
                    .alias(text_col)))


def remove_boilerplate_lines(df: DataFrame, id_col: str = "url",
                             text_col: str = "text", group_col: str = "host",
                             sep: str = "\n", min_docs: int = 3) -> DataFrame:
    """CCNet-style per-group boilerplate line removal (Wenzek et al. 2020
    §3.1 applies the idea per shard; RefinedWeb/OSCAR apply it per host):
    a non-blank line that occurs in at least ``min_docs`` DISTINCT
    documents of the same group (host/domain) is boilerplate — navigation,
    cookie banners, footers — and is removed from EVERY document of that
    group; each document's text is rebuilt from its surviving lines in
    original order joined by ``sep``. Differs from ``dedup_paragraphs``
    (global first-occurrence wins, one survivor) in both scope (per-group)
    and policy (NO occurrence survives once the line is boilerplate).

    Returns (id_col, text_col) with the cleaned text ('' when every line
    was boilerplate or the text was null). ``sep`` is a Java regex for the
    split and a literal for the re-join — pass a literal-safe separator.
    NOTE the rebuild drops BLANK lines too (the trim != '' filter runs
    before reconstruction), so paragraph structure encoded as empty lines
    is not preserved — the rebuild is byte-exact over the NON-BLANK lines
    only, and the oracle mirrors exactly that (round-5 advisor note).

    Scale shape: lines cross the wire as 64-bit hashes only. The
    distinct-documents count is two engineered aggregations — a distinct
    on (group, hash, id), whose key includes the id and therefore spreads
    even a viral banner across reducers, then a map-side-combined count
    per (group, hash) — so a line duplicated across millions of pages of
    one host never pins a reducer. The boilerplate set (bounded by
    DISTINCT offending lines, not occurrences) anti-joins back against
    the hashed lines; AQE may broadcast it when small. Reconstruction is
    one groupBy(id) with ``sort_array`` — full documents are never
    shuffled, only their surviving lines once.
    """
    lines = (df.select(
        F.col(id_col).alias("_id"), F.col(group_col).alias("_g"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_line"))
        .where(F.trim("_line") != ""))
    hashed = lines.withColumn("_h", F.xxhash64("_line"))
    doc_hits = hashed.select("_g", "_h", "_id").distinct()
    boiler = (doc_hits.groupBy("_g", "_h")
              .agg(F.count(F.lit(1)).alias("_nd"))
              .where(F.col("_nd") >= min_docs)
              .select("_g", "_h"))
    kept = hashed.join(boiler, ["_g", "_h"], "left_anti")
    recon = (kept.groupBy("_id")
             .agg(F.concat_ws(sep, F.transform(
                 F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                 lambda x: x["_line"])).alias("_clean_text")))
    return (df.select(F.col(id_col).alias("_id")).distinct()
            .join(recon, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("_clean_text", F.lit(""))
                    .alias(text_col)))


def incremental_new_docs(new_docs: DataFrame, prior: DataFrame,
                         text_col: str = "text",
                         prior_text_col: str | None = None) -> DataFrame:
    """Docs from a NEW crawl snapshot whose content does not already exist
    in the PRIOR corpus — the incremental (snapshot-over-snapshot) form of
    exact dedup that recurring web crawls need: re-deduping the union from
    scratch re-shuffles the whole historical corpus every snapshot; the
    anti-join touches history once and shuffles only matching hash ranges.

    Plan: content-hash both sides, LEFT ANTI join new⋉prior on the hash —
    a hash-partitioned join where only 8-byte hashes shuffle, never text
    (the projection happens before the exchange). Note on runtime Bloom
    pre-filtering: Spark ≥3.3's ``runtime.bloomFilter`` injection applies
    to inner/semi joins only — under ANTI semantics a Bloom *miss* means
    the row must be KEPT, so no membership sketch can prune the streamed
    side (verified empirically: the semi form of this plan gets a
    BloomFilterMightContain node, the anti form cannot). The pre-shuffle
    reduction here is therefore the hash projection itself: per new-crawl
    row, exactly 8 bytes cross the exchange regardless of document size,
    and the prior side ships distinct hashes only.
    """
    prior_hashes = prior.select(
        TX.content_hash(F.col(prior_text_col or text_col)).alias("_ph"))
    hashed = new_docs.withColumn("_nh", TX.content_hash(F.col(text_col)))
    return (hashed.join(prior_hashes.distinct(),
                        hashed["_nh"] == prior_hashes["_ph"], "left_anti")
            .drop("_nh"))


def simhash_near_dup_pairs(df: DataFrame, id_col: str = "url",
                           text_col: str = "text", max_hamming: int = 3,
                           shingle_n: int = 2,
                           max_bucket_size: int | None = 200,
                           cleanup: list[DataFrame] | None = None) -> DataFrame:
    """SimHash near-dup pairs, the Manku/Jain/Das Sarma WWW'07 web-dedup
    design (public): split each 64-bit SimHash into 4 contiguous 16-bit
    bands — any two hashes within Hamming distance ≤3 agree EXACTLY on at
    least one band (pigeonhole), so candidate generation is four equi-joins
    on (band_no, band_value) expressed as one explode + self-join, and the
    verify stage is a cheap popcount on the XOR. Same plan skeleton as the
    MinHash path (``_lsh_candidate_pairs``): hot-bucket cap against
    boilerplate mega-buckets, dropDuplicates before verify. Returns
    (id_a, id_b, hamming).

    Guarantee is exact, not probabilistic: recall for distance ≤
    ``max_hamming`` ≤ 3 is 100% (pigeonhole over 4 bands); wider distances
    would need more/narrower bands.
    """
    if max_hamming > 3:
        raise ValueError("4 bands guarantee recall only for max_hamming <= 3")
    from pyspark import StorageLevel

    # the signature frame feeds both self-join sides — persist it so the
    # UDF runs once, not once per side (measured 7.5s → signature-once)
    base = df.select(F.col(id_col).alias("_id"),
                     simhash_udf(shingle_n)(
                         F.col(text_col)).alias("_sh")) \
             .persist(StorageLevel.MEMORY_AND_DISK)
    if cleanup is not None:
        cleanup.append(base)
    # band b of value v is bucket (b << 16) | v — one-to-one with (b, v)
    # since v < 2^16; the 8-byte _sh rides the join, so no attach joins
    bands = F.array(*[
        F.shiftrightunsigned("_sh", 16 * b).bitwiseAND(F.lit(0xFFFF))
        .bitwiseOR(F.lit(b << 16)) for b in range(4)])
    cand = (_lsh_candidate_pairs(base.select("_id", "_sh",
                                             bands.alias("_bands")),
                                 max_bucket_size)
            .dropDuplicates(["id_a", "id_b"]))
    ham = F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b")))
    return (cand.withColumn("hamming", ham)
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def remove_duplicated_spans(df: DataFrame, id_col: str = "url",
                            text_col: str = "text",
                            min_len: int = 5) -> DataFrame:
    """Exact duplicated-SUBSTRING removal (Lee et al. 2022's ExactSubstr,
    at word granularity): every word lying inside any ``min_len``-word
    window that occurs more than once in the corpus — across OR within
    documents — is cut, and each document is rebuilt from its surviving
    words in order. The reference Rust tool builds a corpus suffix array;
    the distributed re-expression is the standard window-hash formulation:
    duplicated fixed-length windows are exactly the length-``min_len``
    grams with global count > 1, and their union of covered positions is
    the removal set (for spans longer than ``min_len`` the windows tile
    the span, so the union reconstructs it).

    Scale shape: grams are built row-locally (transform over an index
    sequence, no per-gram Python) and cross the wire as xxhash64 keys
    only; the duplicate set comes from one partial-agg groupBy; coverage
    is a bounded ×``min_len`` explode of ONLY the duplicated grams (a
    small fraction of the corpus by construction); words re-attach via
    one (id, pos) anti-join and one groupBy(id) rebuild — never a suffix
    array, never full documents in a shuffle. 2^-64 hash-collision risk
    accepted (same stance as exact_dedup_winners).

    Returns (id_col, text_col) with '' when everything was duplicated.
    """
    # split-then-filter, never trim: SQL/unicode trim semantics diverge from
    # Spark's ASCII-space trim (caught by the differential fuzzer on
    # NBSP-edged text); filtering empties keeps positions canonical on the
    # word sequence itself
    base = df.select(F.col(id_col).alias("_id"),
                     F.filter(F.split(F.col(text_col), r"\s+"),
                              lambda x: x != "").alias("_ws"))
    words = base.select("_id", F.posexplode("_ws").alias("_pos", "_w"))
    grams = (base.where(F.size("_ws") >= min_len)
             .select("_id", F.posexplode(F.transform(
                 F.sequence(F.lit(1), F.size("_ws") - (min_len - 1)),
                 lambda i: F.xxhash64(
                     F.concat_ws(" ", F.slice("_ws", i, min_len)))))
                 .alias("_gp", "_h")))
    dup = (grams.groupBy("_h").agg(F.count(F.lit(1)).alias("_c"))
           .where(F.col("_c") > 1).select("_h"))
    covered = (grams.join(dup, "_h")
               .select("_id", F.explode(F.sequence(
                   "_gp", F.col("_gp") + (min_len - 1))).alias("_pos"))
               .distinct())
    # grams' _gp is 0-based from posexplode over the transform output;
    # words' _pos is 0-based over _ws — the sequence() above starts the
    # slice at 1 (1-based) while _gp stays 0-based, so covered positions
    # [_gp, _gp+min_len-1] line up with word positions directly
    kept = words.join(covered, ["_id", "_pos"], "left_anti")
    recon = (kept.groupBy("_id")
             .agg(F.concat_ws(" ", F.transform(
                 F.array_sort(F.collect_list(F.struct("_pos", "_w"))),
                 lambda x: x["_w"])).alias("_t")))
    return (df.select(F.col(id_col).alias("_id")).distinct()
            .join(recon, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("_t", F.lit("")).alias(text_col)))


WINNOW_K = 3      # words per k-gram
WINNOW_W = 4      # k-gram hashes per winnowing window
WINNOW_KEY = 1_000_003
WINNOW_MOD = 2_147_483_647


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = WINNOW_K,
                        w: int = WINNOW_W, key: int = WINNOW_KEY,
                        mod: int = WINNOW_MOD) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting"): hash every
    word ``k``-gram, slide a window of ``w`` consecutive gram hashes, and
    select each window's minimum — ties to the RIGHTMOST occurrence, the
    paper's rule — so any shared substring of length >= w+k-1 words between
    two documents is guaranteed to contribute a common selected hash. The
    per-document summary emitted here is (gram count, selected-set size,
    selected-hash sum mod ``mod``): the aggregate form used as a robust
    content key; the selected sets themselves join via the same banded
    patterns as MinHash.

    Engine-portable by construction, all int64: the per-word hash is the
    repo's fingerprint spec (len + 31*first-codepoint + 961*last-codepoint),
    word splitting is the explicit ASCII class ``[ \\t\\n\\x0B\\f\\r]`` (the
    Java-\\s / RE2-\\s common subset the portable-spec queries pin), gram
    hashes interleave ``% mod`` with every multiply so nothing overflows,
    and the fingerprint sum is commutative so the engines' differing
    distinct-order conventions cannot diverge it. The scalar spec is
    ``winnow_py``; the DuckDB oracle recomputes everything relationally,
    selecting the rightmost window min as ``w − position(min,
    reverse(window))``.

    Scale shape: ZERO shuffle — one Arrow-batched UDF pass (a pure-HOF
    formulation was tried first and abandoned: every window re-inlines the
    gram-array subexpression, the same measured blowup that made the
    MinHash signatures numpy UDFs, see ``shingle_bands_udf``). Per-row
    cost O(words · w). Documents shorter than k words emit (0, 0, 0);
    documents with fewer than w grams emit (m, 0, 0) — the winnowing
    guarantee is vacuous below one full window and callers fall back to
    exact hashing there.
    """
    @F.pandas_udf(
        "struct<n_grams: bigint, n_selected: bigint, winnow_fp: bigint>")
    def winnow(texts: pd.Series) -> pd.DataFrame:
        rows = [winnow_py(t, k=k, w=w, key=key, mod=mod) for t in texts]
        return pd.DataFrame(rows,
                            columns=["n_grams", "n_selected", "winnow_fp"])

    return (df.withColumn("_w", winnow(F.col(text_col)))
            .select(F.col(id_col), "_w.n_grams", "_w.n_selected",
                    "_w.winnow_fp"))


_JAVA_WS_RX = _re.compile(r"[ \t\n\x0b\f\r]+")


def winnow_py(text: str | None, k: int = WINNOW_K, w: int = WINNOW_W,
              key: int = WINNOW_KEY,
              mod: int = WINNOW_MOD) -> tuple[int, int, int]:
    """Scalar winnowing spec (see ``winnow_fingerprints``): returns
    (n_grams, n_selected, winnow_fp)."""
    ws = [t for t in _JAVA_WS_RX.split(text or "") if t != ""]
    wh = [len(t) + 31 * ord(t[0]) + 961 * ord(t[-1]) for t in ws]
    m = max(len(wh) - (k - 1), 0)
    grams = []
    for i in range(m):
        g = wh[i] % mod
        for off in range(1, k):
            g = (g * key + wh[i + off]) % mod
        grams.append(g)
    sel: set[int] = set()
    for j in range(max(m - (w - 1), 0)):
        win = grams[j:j + w]
        mn = min(win)
        sel.add(j + w - 1 - win[::-1].index(mn))   # rightmost min
    return m, len(sel), sum(grams[p] for p in sel) % mod
