"""Dedup fixtures (fx_exactdup, fx_neardup): winner policy, input-partition
invariance, the one-exchange winners plan and its map-side combine, LSH
recall/precision at the 0.91 reference threshold."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataquality_spark import spec
from dataquality_spark.operators.dedup import (
    dedup_paragraphs, exact_dedup_winners, near_dup_pairs, simhash_udf,
    with_dedup_flag,
)

BODY = ("the quick brown fox jumps over the lazy dog near the river "
        "while the old clock tower rings twelve times in the square ") * 4


def _pages(spark, rows):
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "text"])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    pdf["lang"] = "en"
    return spark.createDataFrame(pdf)


def test_exact_dedup_keeps_first_by_ts(spark):
    rows = [
        ("u_b", "2024-01-02", BODY),
        ("u_a", "2024-01-01", BODY),          # earliest → winner
        ("u_c", "2024-01-03", BODY),
        ("u_d", "2024-01-01", "completely different text " * 20),
    ]
    out = with_dedup_flag(_pages(spark, rows)).toPandas().set_index("url")
    assert out.loc["u_a", "r_dedup"]
    assert not out.loc["u_b", "r_dedup"]
    assert not out.loc["u_c", "r_dedup"]
    assert out.loc["u_d", "r_dedup"]


def test_exact_dedup_ts_tie_breaks_by_url(spark):
    rows = [
        ("u_z", "2024-01-01", BODY),
        ("u_a", "2024-01-01", BODY),
    ]
    out = with_dedup_flag(_pages(spark, rows)).toPandas().set_index("url")
    assert out.loc["u_a", "r_dedup"] and not out.loc["u_z", "r_dedup"]


def test_exact_dedup_normalization_opt_in(spark):
    """Raw hashing (default, U1 parity) treats case variants as distinct;
    normalize=True folds them (ref X-1/X-2 chain,
    `utils/item_operations.py:29-42`) — kept off the hot path."""
    rows = [
        ("u_a", "2024-01-01", BODY),
        ("u_b", "2024-01-02", BODY.upper()),
        ("u_c", "2024-01-03", BODY + " 1234"),
    ]
    raw = with_dedup_flag(_pages(spark, rows)).toPandas().set_index("url")
    assert raw["r_dedup"].all()  # all distinct under raw hashing
    norm = with_dedup_flag(_pages(spark, rows),
                           normalize=True).toPandas().set_index("url")
    assert norm.loc["u_a", "r_dedup"]
    assert not norm.loc["u_b", "r_dedup"] and not norm.loc["u_c", "r_dedup"]


@pytest.mark.parametrize("parts", [1, 2, 64, 257])
def test_partition_count_invariance(spark, parts):
    """Winner set must be invariant w.r.t. the input partition count: each
    map task folds its rows into partial min states, and min merges them
    exactly however the rows were split (BASELINE.md)."""
    rows = [(f"u{i:03d}", f"2024-01-{(i % 27) + 1:02d}",
             BODY if i % 3 == 0 else f"distinct text {i} " * 30)
            for i in range(60)]
    out = (with_dedup_flag(_pages(spark, rows).repartition(parts))
           .toPandas().set_index("url")["r_dedup"])
    base = (with_dedup_flag(_pages(spark, rows))
            .toPandas().set_index("url")["r_dedup"])
    assert base.sum() == 41  # one BODY winner + 40 distinct texts
    assert (out.sort_index() == base.sort_index()).all()


def _nodes(plan) -> list:
    """Every node of a physical plan in pre-order, with AQE's wrapper and
    query stages unwrapped (before execution: the initial plan)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _nodes(plan.executedPlan())
    if name.endswith("QueryStage"):
        return _nodes(plan.plan())
    kids = plan.children()
    return [plan] + [n for i in range(kids.size())
                     for n in _nodes(kids.apply(i))]


def _winners_plan(frame, key: str) -> list:
    """The subtree rooted at ``frame``'s final ``min`` aggregate grouped
    on ``key``."""
    grouped = re.compile(rf"key=\[{key}#\d+L?\], functions=\[min\(")
    final = [n for n in _nodes(frame._jdf.queryExecution().executedPlan())
             if n.nodeName().endswith("Aggregate")
             and grouped.search(n.simpleString(100))]
    assert len(final) == 1, [n.simpleString(100) for n in final]
    return _nodes(final[0])


def _assert_one_combined_exchange(frame, key: str):
    exchanges = [n for n in _winners_plan(frame, key)
                 if n.nodeName() == "Exchange"]
    assert len(exchanges) == 1, [n.simpleString(100) for n in exchanges]
    assert any(n.nodeName().endswith("Aggregate")
               and "partial_min(" in n.simpleString(100)
               for n in _nodes(exchanges[0]))


def _hashed(frame):
    return frame.withColumn("content_hash", F.xxhash64("text"))


def test_winners_plan_one_exchange_over_partial_min(spark, artifacts):
    """The winners aggregate of exact_dedup_winners, dedup_paragraphs and
    run_pipeline is ONE exchange with the partial min below it — no second
    exchange to merge salted partial states."""
    from dataquality_spark import pipeline as P
    from dataquality_spark.synth import generate_pages

    rows = [("u_a", "2024-01-01", BODY), ("u_b", "2024-01-02", BODY)]
    _assert_one_combined_exchange(
        exact_dedup_winners(_hashed(_pages(spark, rows))), "content_hash")
    docs = spark.createDataFrame(
        [("a", "alpha\n\nbeta"), ("b", "beta")], "url string, text string")
    _assert_one_combined_exchange(dedup_paragraphs(docs), "_h")
    cleanup = []
    ann = P.run_pipeline(spark, generate_pages(spark, 50, seed=3),
                         cleanup=cleanup)
    try:
        _assert_one_combined_exchange(ann, "content_hash")
    finally:
        for f in cleanup:
            f.unpersist()


@pytest.mark.parametrize("parts", [4, 16])
def test_hot_group_ships_one_record_per_map_task(spark, parts):
    """90% of rows share one text across every input partition; the
    winners exchange still writes at most one record per (map task,
    content hash) — the skew is absorbed before the shuffle."""
    n = 4000
    pages = _hashed(spark.range(0, n, 1, parts).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.lit("2024-01-01").cast("timestamp").alias("warc_ts"),
        F.when(F.col("id") % 10 < 9, F.lit(BODY))
        .otherwise(F.concat(F.lit("doc "), F.col("id").cast("string")))
        .alias("text")))
    pairs = (pages.select(F.spark_partition_id().alias("p"), "content_hash")
             .distinct().count())
    assert pairs == parts + n // 10
    winners = exact_dedup_winners(pages)
    # collect runs winners' own plan, whose exchange then holds the metric
    assert len(winners.collect()) == 1 + n // 10
    written = sum(node.metrics().apply("shuffleRecordsWritten").value()
                  for node in _winners_plan(winners, "content_hash")
                  if node.nodeName() == "Exchange")
    assert 0 < written <= pairs


def test_near_dup_pairs_finds_perturbed(spark):
    words = BODY.split()
    variant = " ".join(w.upper() if i == 7 else w for i, w in enumerate(words))
    rows = [
        ("u_a", "2024-01-01", BODY),
        ("u_b", "2024-01-02", variant),                  # near-dup of u_a
        ("u_c", "2024-01-03", "unrelated content " * 40),
    ]
    pairs = near_dup_pairs(_pages(spark, rows)).toPandas()
    got = {tuple(sorted(p)) for p in zip(pairs["id_a"], pairs["id_b"])}
    assert ("u_a", "u_b") in got
    assert all("u_c" not in p for p in got)
    assert (pairs["jaccard"] >= spec.NEAR_DUP_SIMILARITY).all()


def test_hot_bucket_cap_bounds_candidates(spark):
    """A pathological duplicate group (one viral page × m copies shares ALL
    band buckets → O(m²) candidates) must be capped, while recall on normal
    perturbed pairs is unchanged."""
    words = BODY.split()
    variant = " ".join(w.upper() if i == 7 else w for i, w in enumerate(words))
    viral = "breaking news shared boilerplate body " * 30
    rows = ([("u_a", "2024-01-01", BODY),
             ("u_b", "2024-01-02", variant)]
            + [(f"v{i:03d}", "2024-01-01", viral) for i in range(40)])
    df = _pages(spark, rows)

    metrics: dict = {}
    capped = near_dup_pairs(df, max_bucket_size=10,
                            skew_metrics=metrics).toPandas()
    got = {tuple(sorted(p)) for p in zip(capped["id_a"], capped["id_b"])}
    # the perturbed pair survives (its buckets hold 2 members)
    assert ("u_a", "u_b") in got
    # the 40-copy viral group's buckets are dropped: none of its O(m²)=780
    # pairs emitted
    assert not any(a.startswith("v") for a, b in got)
    assert metrics["hot_buckets"] > 0

    uncapped = near_dup_pairs(df, max_bucket_size=None).toPandas()
    assert len(uncapped) == len(got) + 780


def test_simhash_hot_bucket_cap_bounds_candidates(spark):
    """SimHash twin of the MinHash cap test: 40 identical docs share all
    four band buckets and are capped out of the join, while a perturbed
    pair (buckets of 2) survives; uncapped, all C(40,2)=780 viral pairs
    come back."""
    from dataquality_spark.operators.dedup import simhash_near_dup_pairs
    words = BODY.split()
    variant = " ".join(w.upper() if i == 7 else w for i, w in enumerate(words))
    viral = "breaking news shared boilerplate body " * 30
    rows = ([("u_a", "2024-01-01", BODY),
             ("u_b", "2024-01-02", variant + "!")]
            + [(f"v{i:03d}", "2024-01-01", viral) for i in range(40)])
    df = _pages(spark, rows)

    capped = simhash_near_dup_pairs(df, max_bucket_size=10).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert got == {("u_a", "u_b")}
    uncapped = simhash_near_dup_pairs(df, max_bucket_size=None).collect()
    assert len(uncapped) == len(got) + 780


def test_simhash_bucket_keys_keep_bands_apart(spark, monkeypatch):
    """Pins the (band << 16) | value bucket keys with chosen signatures
    (the text column carries the 64-bit value). Pair a/b shares bands
    0-2; group v holds those band values one band over, so a key without
    the band number merges a/b's buckets into v's hot ones; group w does
    the same for a key that shifts the band by 15 instead of 16. Pair c/d
    shares ONLY band 3 (one flipped bit in each of bands 0-2), so bands
    that are not the four 16-bit slices lose it; a/b differ in bit 62
    only, so a key that keeps bits above its slice loses a/b."""
    from dataquality_spark.operators import dedup as D

    def sig(*bands):                          # band 0 first
        v = sum(x << (16 * i) for i, x in enumerate(bands))
        return v - (1 << 64) if v >= 1 << 63 else v

    a = sig(0x9111, 0x2222, 0xB333, 0x4444)
    b = sig(0x9111, 0x2222, 0xB333, 0x0444)   # a ^ (1 << 62)
    c = sig(0x0123, 0x0456, 0x0789, 0x0ABC)
    d = sig(0x0122, 0x0457, 0x0788, 0x0ABC)   # Hamming 3, band 3 shared
    v = sig(0x4444, 0x9111, 0x2222, 0xB333)
    w = sig(0xA222, 0x1111, 0x5555, 0x3333)
    rows = ([("a", a), ("b", b), ("c", c), ("d", d)]
            + [(f"v{i:02d}", v) for i in range(40)]
            + [(f"w{i:02d}", w) for i in range(40)])
    df = spark.createDataFrame([(u, str(x)) for u, x in rows],
                               "url string, text string")
    monkeypatch.setattr(D, "simhash_udf", lambda *_: lambda col: col.cast("long"))

    capped = D.simhash_near_dup_pairs(df, max_bucket_size=10).collect()
    assert sorted(tuple(r) for r in capped) == [("a", "b", 1), ("c", "d", 3)]
    uncapped = D.simhash_near_dup_pairs(df, max_bucket_size=None).collect()
    assert len(uncapped) == 2 + 2 * 780


def test_simhash_close_for_near_dups(spark):
    # SimHash bits stabilize with feature count — use ~300 distinct shingles
    big = " ".join(f"word{i} token{i * 7 % 311}" for i in range(150))
    words = big.split()
    variant = " ".join(w + "x" if i == 5 else w for i, w in enumerate(words))
    other = " ".join(f"zzz{i} qqq{i * 3}" for i in range(150))
    df = _pages(spark, [("a", "2024-01-01", big), ("b", "2024-01-01", variant),
                        ("c", "2024-01-01", other)])
    out = df.select("url", simhash_udf()(F.col("text")).alias("sh")) \
            .toPandas().set_index("url")["sh"]
    ham_ab = bin(int(out["a"]) ^ int(out["b"])).count("1")
    ham_ac = bin(int(out["a"]) ^ int(out["c"])).count("1")
    assert ham_ab <= 10, ham_ab
    assert ham_ac >= 20, ham_ac


def test_simhash_portable_udf_matches_scalar_spec(spark):
    """The batch-vectorized SimHash UDF must equal the scalar
    simhash64_portable_py spec bit-for-bit, including sign wrap,
    empty/None inputs, non-ASCII stripped-to-empty text and mixed
    non-ASCII text with digits."""
    from dataquality_spark.operators.dedup import (
        shingles_portable, simhash64_portable_py)
    texts = [
        "the quick brown fox jumps over the lazy dog and runs away fast",
        "a b", "", None, "single", "データのみ",  # strips to empty
        " ".join(f"w{i}" for i in range(200)),
        "İstanbul 42 mixed ascii and ünicode here",
        "ümlaut schön straße und zahlen 42 99 hier",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r["sh"] for r in df.select(
        simhash_udf(2)(F.col("text")).alias("sh")).collect()]
    want = [simhash64_portable_py(shingles_portable(t, 2)) for t in texts]
    assert got == want


def test_simhash_portable_banded_join_equals_brute_force(spark):
    """Manku-style banded SimHash join: the pairs within Hamming<=3 are
    exactly the brute-force set (100% recall by pigeonhole over 4x16-bit
    bands, nothing beyond the threshold), uncapped (the registry/oracle
    configuration) and at the default hot-bucket cap; 4 bands cannot
    guarantee recall past Hamming 3, so max_hamming=4 is refused."""
    from itertools import combinations
    from dataquality_spark.operators.dedup import (
        shingles_portable, simhash64_portable_py, simhash_near_dup_pairs)

    base = " ".join(f"word{i} tok{i * 3 % 97}" for i in range(120))
    words = base.split()
    texts = {"d0": base,
             # one changed word: measured Hamming 3
             "near": " ".join(w + "z" if i == 5 else w
                              for i, w in enumerate(words)),
             # heavier perturbation: measured Hamming 11 (must NOT pair)
             "mid": " ".join(w + "z" if i % 60 == 0 else w
                             for i, w in enumerate(words)),
             "far": " ".join(f"zzz{i} qq{i * 7}" for i in range(120))}
    for k in (2, 5):  # increasing perturbation
        texts[f"d{k}"] = " ".join(
            w + "z" if i % (60 // k) == 0 else w for i, w in enumerate(words))

    hashes = {u: simhash64_portable_py(shingles_portable(t, 2))
              & ((1 << 64) - 1) for u, t in texts.items()}
    want = {(a, b) for a, b in combinations(sorted(texts), 2)
            if bin(hashes[a] ^ hashes[b]).count("1") <= 3}
    assert want, "fixture must contain at least one close pair"

    df = spark.createDataFrame(
        [(u, "2024-01-01", t) for u, t in texts.items()],
        "url string, warc_ts string, text string")
    for cap in (None, 200):
        got_rows = simhash_near_dup_pairs(
            df, max_hamming=3, max_bucket_size=cap).collect()
        assert {tuple(sorted((r["id_a"], r["id_b"])))
                for r in got_rows} == want, cap
        for r in got_rows:
            a, b = r["id_a"], r["id_b"]
            assert r["hamming"] == bin(hashes[a] ^ hashes[b]).count("1")

    with pytest.raises(ValueError):
        simhash_near_dup_pairs(df, max_hamming=4)


def test_dedup_paragraphs_semantics(spark):
    """Cross-doc + within-doc paragraph dedup with reconstruction: first
    occurrence (min (order, id, pos)) wins; blanks are not dedup keys; a
    fully-duplicated document reconstructs to ''."""
    rows = [
        ("a", 1, "alpha\n\nbeta\n\nalpha"),       # within-doc dup of alpha
        ("b", 2, "beta\n\ngamma"),                 # beta seen in a
        ("c", 3, "alpha\n\nbeta"),                 # fully duplicated
        ("d", 4, "delta\n\n\n\ndelta"),            # blank para + within dup
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts long, text string")
    got = {r["url"]: r["text"]
           for r in dedup_paragraphs(df, order_col="warc_ts").collect()}
    assert got == {
        "a": "alpha\n\nbeta",
        "b": "gamma",
        "c": "",
        "d": "delta",
    }


def test_dedup_paragraphs_partition_count_invariance(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"p{(i * 7 + j) % 23}" for j in range(4)).replace(
            " ", "\n\n"))
         for i in range(40)], "doc_id long, text string")
    a = sorted(dedup_paragraphs(docs, id_col="doc_id").collect())
    for parts in (1, 2, 64, 257):
        b = sorted(dedup_paragraphs(docs.repartition(parts),
                                    id_col="doc_id").collect())
        assert a == b, parts


def test_incremental_new_docs(spark):
    from dataquality_spark.operators.dedup import incremental_new_docs
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        "doc_id: long, text: string")
    prior = spark.createDataFrame(
        [(90, "beta"), (91, "delta"), (92, "beta")],
        "doc_id: long, text: string")
    kept = sorted(r["doc_id"]
                  for r in incremental_new_docs(new, prior).collect())
    assert kept == [1, 3]
    # Empty prior: everything is new; schema untouched (no helper columns).
    empty = prior.where("doc_id < 0")
    out = incremental_new_docs(new, empty)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3]
    assert out.columns == ["doc_id", "text"]


def test_near_dup_containment_measure(spark):
    """A short doc fully embedded in a long one: containment ~1.0, symmetric
    Jaccard low. The containment measure surfaces the pair at a high
    threshold where Jaccard misses it (both docs must still LSH-collide, so
    the fixture keeps them Jaccard-similar enough to share a band)."""
    long = " ".join(f"tok{i:03d} word{i * 7 % 113}" for i in range(80))
    short = " ".join(long.split()[:130])  # 130/160 tokens: jaccard ≈ 0.81,
    #                                       containment = 1.0
    rows = [("u_long", "2024-01-01", long),
            ("u_short", "2024-01-02", short)]
    df = _pages(spark, rows)
    cont = near_dup_pairs(df, jaccard_threshold=0.95,
                          measure="containment").toPandas()
    assert len(cont) == 1 and cont.iloc[0]["jaccard"] >= 0.99
    jac = near_dup_pairs(df, jaccard_threshold=0.95,
                         measure="jaccard").toPandas()
    assert len(jac) == 0  # symmetric Jaccard ~0.81 < 0.95 threshold

    with pytest.raises(ValueError):
        near_dup_pairs(df, measure="dice")


def test_choose_banding_and_low_threshold_recall(spark):
    """Auto-banding: the S-curve midpoint must sit at or below the
    threshold, and a moderately-similar pair (~0.6 jaccard) that 16x4
    banding frequently misses is found reliably under the auto 32x2."""
    from dataquality_spark.operators.dedup import choose_banding

    assert choose_banding(0.91) == (16, 4)   # the measured default
    assert choose_banding(0.76) == (16, 4)
    assert choose_banding(0.5) == (32, 2)
    assert choose_banding(0.15) == (64, 1)

    # ~0.62 shingle-jaccard pair (every 12th word perturbed; word 3-gram
    # shingles amplify each edit ~3x)
    long = " ".join(f"tok{i:03d} w{i * 11 % 103}" for i in range(60))
    words = long.split()
    variant = " ".join(w + "q" if i % 12 == 0 else w
                       for i, w in enumerate(words))
    df = _pages(spark, [("u_a", "2024-01-01", long),
                        ("u_b", "2024-01-02", variant)])
    auto = near_dup_pairs(df, jaccard_threshold=0.5).toPandas()
    assert len(auto) == 1 and 0.4 < auto.iloc[0]["jaccard"] < 0.8


# -- remove_duplicated_spans (ExactSubstr, word granularity) ----------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_dedup_cross_doc_span(spark):
    from dataquality_spark.operators.dedup import remove_duplicated_spans
    shared = "one two three four five six"              # 6 words: 2 windows
    rows = [(1, f"alpha {shared} beta"),
            (2, f"gamma {shared} delta epsilon")]
    out = {r["doc_id"]: r["text"] for r in
           remove_duplicated_spans(_docs(spark, rows), id_col="doc_id",
                                   min_len=5).collect()}
    # the shared 6-word span is tiled by its two duplicated 5-windows and
    # fully removed from BOTH docs; unique flanks survive in order
    assert out[1] == "alpha beta"
    assert out[2] == "gamma delta epsilon"


def test_substring_dedup_within_doc_and_short_docs(spark):
    from dataquality_spark.operators.dedup import remove_duplicated_spans
    rep = "a b c d e"
    rows = [(1, f"{rep} x y z {rep}"),       # same 5-window twice in ONE doc
            (2, "under five words"),          # shorter than min_len: no grams
            (3, rep)]                         # exactly one window, unique... 
    # doc 3's single window collides with doc 1's duplicated window
    out = {r["doc_id"]: r["text"] for r in
           remove_duplicated_spans(_docs(spark, rows), id_col="doc_id",
                                   min_len=5).collect()}
    assert out[1] == "x y z"
    assert out[2] == "under five words"
    assert out[3] == ""                       # fully erased → empty string


def test_substring_dedup_no_duplicates_is_identity(spark):
    from dataquality_spark.operators.dedup import remove_duplicated_spans
    rows = [(1, "p q r s t u v"), (2, "h i j k l m n")]
    out = {r["doc_id"]: r["text"] for r in
           remove_duplicated_spans(_docs(spark, rows), id_col="doc_id",
                                   min_len=5).collect()}
    assert out == {1: "p q r s t u v", 2: "h i j k l m n"}


# --- portable signature spec (the SQL-oracle MinHash path) -----------------

def test_poly_hash31_matches_duckdb_fold():
    """poly_hash31 must equal the documented DuckDB list_reduce spelling
    for every shingle shape the spec can produce."""
    import duckdb

    from dataquality_spark.operators.dedup import poly_hash31
    con = duckdb.connect()
    for s in ["a", "ab", "chapter 12 intro", "x" * 40, "0 0 0",
              "the quick brown"]:
        (got,) = con.execute(
            "SELECT list_reduce(list_transform(str_split(?, ''), "
            "c -> unicode(c)::bigint), (a, b) -> (a * 31 + b) % 2147483647)",
            [s]).fetchone()
        assert got == poly_hash31(s), s


def test_shingles_portable_matches_duckdb_normalization():
    """The portable normalization+shingling must agree with its DuckDB
    spelling on adversarial inputs (unicode, ASCII-vs-unicode whitespace,
    short docs) — the premise the fuzzy-dedup exact oracle stands on."""
    import duckdb

    from dataquality_spark.operators.dedup import shingles_portable
    con = duckdb.connect()
    sql = r"""
SELECT list_filter(list_distinct(list_transform(
    range(1, greatest(len(str_split(t, ' ')) - 3, 0) + 2),
    i -> array_to_string(list_slice(str_split(t, ' '), i, i + 2), ' ')
)), x -> x IS NOT NULL AND x <> '')
FROM (SELECT lower(trim(regexp_replace(regexp_replace(coalesce(?, ''),
    '[^A-Za-z0-9 \t\n\r\f\v]+', '', 'g'),
    '[ \t\n\r\f\v]+', ' ', 'g'))) AS t)
"""
    cases = ["", "a", "one two", "one two three four five",
             "Tab\there\nand\rmore\x0bws\x0cok",
             "café naïve 東京 данные mix", "UPPER lower MiXeD",
             "a b c d e",      # unicode NBSP is NOT portable ws
             "  padded   runs  ", "12 34 56 78", None]
    for text in cases:
        (got,) = con.execute(sql, [text]).fetchone()
        # list_distinct does not preserve order — only the SET feeds the
        # composition (min over hashes, list_intersect), so compare sorted
        assert sorted(got) == sorted(shingles_portable(text, 3)), repr(text)


def test_portable_udf_batch_hash_equals_scalar(spark):
    """The vectorized left-padded fold inside the MinHash UDF must equal
    the scalar poly_hash31 spec — checked through the full UDF output
    (signature band keys recomputed from scalar hashes)."""
    import numpy as np

    from dataquality_spark.operators.dedup import (_MERSENNE, _perm_params,
                                                   poly_hash31,
                                                   shingle_bands_udf,
                                                   shingles_portable)
    texts = ["the quick brown fox jumps over the lazy dog",
             "chapter 12 begins chapter 13 ends", "one", "",
             "a b c d e f g h i j k l m n o p q r s t",
             # degenerate unbroken token (base64-blob shape): becomes ONE
             # 20k-char shingle and must take the length-banded fold path
             # without inflating every other shingle in the batch to 20k
             "x" * 20_000]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    udf = shingle_bands_udf(3, bands=32, rows=2)
    rows = (df.select(udf("text").alias("s"))
            .select("s.sh", "s.bands").collect())
    params = _perm_params()
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    for t, row in zip(texts, rows):
        sh = shingles_portable(t, 3)
        if not sh:
            assert row.sh is None and row.bands is None
            continue
        assert row.sh == sh
        h = np.array([poly_hash31(s) for s in sh], dtype=np.int64)[None, :]
        sig = ((A * h + B) % _MERSENNE).min(axis=1)
        keys = np.arange(1, 33, dtype=np.int64)
        for r in range(2):
            keys = (keys * 1_000_003 + sig.reshape(32, 2)[:, r]) % _MERSENNE
        assert row.bands == keys.tolist(), t


# --- winnowing fingerprints (Schleimer et al. 2003) ------------------------

def _winnow_ref_sets(text, k=3, w=4, key=1_000_003, mod=2_147_483_647):
    """Independent reference: the selected (pos, hash) set, written from
    the paper's definition, not from winnow_py's code."""
    import re
    ws = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]
    wh = [len(t) + 31 * ord(t[0]) + 961 * ord(t[-1]) for t in ws]
    grams = []
    for i in range(max(len(wh) - k + 1, 0)):
        g = wh[i] % mod
        for o in range(1, k):
            g = (g * key + wh[i + o]) % mod
        grams.append(g)
    sel = set()
    for j in range(max(len(grams) - w + 1, 0)):
        best, best_p = None, None
        for o in range(w):          # ties -> rightmost: <= keeps updating
            if best is None or grams[j + o] <= best:
                best, best_p = grams[j + o], j + o
        sel.add((best_p, best))
    return grams, sel


def test_winnow_py_matches_reference_definition():
    from dataquality_spark.operators.dedup import winnow_py
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a a a a a a a a",                    # all-tie windows -> rightmost
        "one two",                            # < k words -> (0, 0, 0)
        "one two three four",                 # m=2 < w -> (2, 0, 0)
        "", None,
        "x " * 40 + "unique tail of words here",
    ]
    for t in texts:
        grams, sel = _winnow_ref_sets(t)
        m, n_sel, fp = winnow_py(t)
        assert m == len(grams)
        assert n_sel == len(sel)
        assert fp == sum(h for _, h in sel) % 2_147_483_647


def test_winnow_guarantee_shared_run_yields_common_hash():
    # any shared substring of >= w+k-1 = 6 words must contribute at least
    # one common selected hash (the paper's core guarantee)
    shared = "alpha beta gamma delta epsilon zeta"
    a = "left padding words here " + shared + " tail one"
    b = "completely different prefix tokens " + shared + " other ending"
    _, sa = _winnow_ref_sets(a)
    _, sb = _winnow_ref_sets(b)
    assert {h for _, h in sa} & {h for _, h in sb}


def test_winnow_spark_matches_scalar_spec(spark):
    from dataquality_spark.operators.dedup import (winnow_fingerprints,
                                                   winnow_py)
    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "a a a a a a a a"), (2, "one two"), (3, None), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_grams, r.n_selected, r.winnow_fp)
           for r in winnow_fingerprints(df).collect()}
    for i, t in rows:
        assert got[i] == winnow_py(t)


def test_winnow_is_shuffle_free_arrow_only(spark):
    from dataquality_spark.operators.dedup import winnow_fingerprints
    df = spark.createDataFrame([(0, "a b c d e f")], "doc_id long, text string")
    plan = winnow_fingerprints(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
