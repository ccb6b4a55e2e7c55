"""C1 numeric-token rescue parity (reference
`dimensions/consistency/c1.py:93-141`): the Spark operator must reproduce a
pure-Python mirror of the reference loop — same candidate gate, same
short-number drop/re-score, same first-wins argmax — with byte-exact
difflib.SequenceMatcher scores."""

import re
from difflib import SequenceMatcher

import pytest
from pyspark.sql import functions as F

from dataquality_spark.operators.c1 import c1_best_match, seq_ratio_udf
from dataquality_spark.operators.dedup import shingles_portable

# id → raw text. Mix of: typo pairs sharing a short number (rescued),
# same-name different-number pairs (dropped by the rescue), no-number pairs
# (scored by the gate sim), long-number rows (not "short"), punctuation.
CORPUS = {
    1: "fisheries and oceans research station north pacific division 12",
    2: "fisheries and oceans research statoin north pacific division 12",
    #     ^ typo, same short number → rescued
    3: "fisheries and oceans research station north pacific division 13",
    #     same name, different short number → dropped by rescue
    4: "pacific salmon commission annual review of stock assessments",
    5: "pacific salmon comission annual review of stock assessments",
    #     typo, no numbers → scored by gate sim
    6: "pacific salmon commission annual review of stock assessments 20254",
    #     long number only: NOT "short", no rescue
    7: "atlantic cod survey unit for the northern shelf region 7",
    8: "atlantic cod survey unit for the northern shelf region 7 ",
    #     whitespace variant, same number → normalizes identically
    9: "atlantic cod survey unit for the northern shelf region 9",
    10: "arctic char monitoring baseline",
}

THRESH = 0.30


def _norm(t):
    t = t.lower().strip()
    t = "".join(c for c in t if c.isalnum() or c.isspace())
    return " ".join(t.split())


def _jacc(a, b):
    sa, sb = set(shingles_portable(a)), set(shingles_portable(b))
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def reference_c1(corpus, threshold):
    """Direct transcription of the reference rescue loop (c1.py:93-141) over
    normalized strings, with shingle-Jaccard as the gate similarity and
    ascending-id candidate order."""
    norm = {i: _norm(t) for i, t in corpus.items()}
    out = {}
    for i, a in norm.items():
        best_score, best_id = 0.0, None
        nums_a = re.findall(r"\d+", a)
        for j in sorted(norm):
            if j == i:
                continue
            b = norm[j]
            sim = _jacc(a, b)
            if sim < threshold:
                continue
            nums_b = re.findall(r"\d+", b)
            if any(len(n) <= 4 for n in nums_a) or any(
                    len(n) <= 4 for n in nums_b):
                if not any(n in nums_b for n in nums_a):
                    continue
                s = SequenceMatcher(
                    None,
                    re.sub(r"\b\d{1,4}\b", "", a),
                    re.sub(r"\b\d{1,4}\b", "", b)).ratio()
            else:
                s = sim
            if s > best_score:
                best_score, best_id = s, j
        if best_id is not None and best_score > threshold:
            out[i] = (best_id, round(best_score, 6))
    return out


@pytest.fixture(scope="module")
def spark_result(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in CORPUS.items()], ["doc_id", "text"])
    # exact-Jaccard candidates over normalized shingles, gated at THRESH —
    # the python mirror uses the identical gate
    from dataquality_spark.operators.c1 import normalize_keep_numbers
    sh = df.select(
        "doc_id", normalize_keep_numbers(F.col("text")).alias("norm"))
    rows = {r["doc_id"]: r["norm"] for r in sh.collect()}
    cand = [(a, b, _jacc(rows[a], rows[b]))
            for a in rows for b in rows if a < b]
    cand_df = spark.createDataFrame(
        [c for c in cand if c[2] >= THRESH], ["id_a", "id_b", "sim"])
    res = c1_best_match(df, id_col="doc_id", text_col="text",
                        threshold=THRESH, candidates=cand_df,
                        rescue_score="difflib")
    return {r["doc_id"]: (r["best_match_id"], r["best_score"])
            for r in res.collect()}


def test_c1_matches_reference_loop(spark_result):
    want = reference_c1(CORPUS, THRESH)
    assert spark_result == want


def test_rescue_drops_number_mismatch(spark_result):
    # doc 3 ("... Station 13") is textually nearest to 1/2 but its short
    # number differs — the rescue must NOT match it to them
    assert spark_result.get(3, (None,))[0] not in (1, 2)
    # doc 1's best match is the typo twin sharing "12"
    assert spark_result[1][0] == 2


def test_rescue_rescores_without_short_numbers(spark_result):
    # 7 vs 8 normalize identically ("... unit 7"): rescue score is
    # SequenceMatcher on digit-stripped strings = 1.0
    assert spark_result[7] == (8, 1.0)


def test_numeric_similarity_reference_parity(spark):
    """Positionwise digit match must equal the reference formula
    (`column_operations.py:60-66`) on every pair, including empty lists and
    unequal lengths."""
    from dataquality_spark.operators.c1 import numeric_similarity

    def ref(num1_list, num2_list):
        num1, num2 = " ".join(num1_list), " ".join(num2_list)
        matches = sum(1 for a, b in zip(num1, num2) if a == b)
        max_length = max(len(num1), len(num2))
        return matches / max_length if max_length > 0 else 0

    cases = [
        (["12", "345"], ["12", "345"]),
        (["12", "345"], ["12", "346"]),
        (["12"], ["123456"]),
        ([], ["7"]),
        ([], []),
        (["999", "1"], ["99", "91"]),
    ]
    df = spark.createDataFrame(
        [(a, b) for a, b in cases], "a array<string>, b array<string>")
    got = [r["s"] for r in df.select(
        numeric_similarity(F.col("a"), F.col("b")).alias("s")).collect()]
    want = [float(ref(a, b)) for a, b in cases]
    assert got == want


def test_seq_ratio_byte_parity(spark):
    """The Arrow UDF must equal difflib.SequenceMatcher.ratio EXACTLY."""
    pairs = [(a, b) for a in CORPUS.values() for b in CORPUS.values()]
    pairs += [("", ""), ("a", ""), ("x" * 300, "x" * 299 + "y"),
              ("The quick brown fox", "the quick brown fox!")]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = [r["r"] for r in
           df.select(seq_ratio_udf()(F.col("a"), F.col("b")).alias("r"))
           .collect()]
    want = [SequenceMatcher(None, a, b).ratio() for a, b in pairs]
    assert got == want  # floats equal bit-for-bit: same difflib, same inputs
