"""Parity against the reference's OWN fixture dataset and golden reports.

`/root/reference/run_tests/example_reports/` holds one evidence CSV per test,
produced by the reference on its bundled salmon-records dataset. The A1
report contains the FULL original dataset (12 rows, all 62 columns) plus the
appended flag — so it doubles as the reconstructed fixture input, and every
per-row kernel can be verified against the reference's published flags on
the reference's own data, with the notebook's exact parameters
(`run_tests/Data Quality Complete.ipynb`: A1 AREA; A4 (START_DTT, END_DTT);
C4 DATE_1/DATE_2 '%Y-%m-%d %H:%M:%S'; C5 STOCK_LATITUDE/LONGITUDE region
"All"; A3 spawner components vs total).

The run log (read with this repo's own stdlib XLSX reader) supplies the
reference's scores; A1's logged 63.64% is reproduced exactly. U1's golden
evidence comes from the OTHER logged run (different dataset revision — its
P1 score differs), so it is used as a self-contained duplicate-pair input
rather than matched against this fixture; P1/P2 reproduce from that
revision's own evidence table (the logged 75.21% completeness and every
recoverable association coefficient to 1e-9).

Published results reproduce for 12 of the reference's 14 tests. The two
exceptions, verified irrecoverable: C2 needs an external (OneDrive)
reference dataset; I1 ran on a third dataset state — its sensitive columns
and coefficients match no recoverable table (checked empirically).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataquality_spark.rules.generic import (
    chronology_flag, datetime_invalid_flag, only_numbers_flag,
    range_invalid_flag, rowsum_mismatch_flag)

GOLD = "/root/reference/run_tests/example_reports/DQS_Output_Log_Test.xlsx"


@pytest.fixture(scope="module")
def fixture_pdf():
    pdf = pd.read_csv(GOLD + "a1_output_v1.csv")
    assert len(pdf) == 12
    return pdf


def _sdf(spark, pdf, cols):
    """Spark frame of the selected fixture columns, NaN → None for objects."""
    out = pdf[cols].copy()
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].where(out[c].notna(), None)
    return spark.createDataFrame(out)


def test_a1_only_numbers_flags_and_score(spark, fixture_pdf):
    df = _sdf(spark, fixture_pdf, ["AREA"])
    got = [r["f"] for r in
           df.select(only_numbers_flag(F.col("AREA")).alias("f")).collect()]
    want = fixture_pdf["AREA_Only_Numbers"].tolist()
    assert got == want
    # the reference scores only present values: 7/11 = the logged 63.64%
    nonnull = df.where(F.col("AREA").isNotNull())
    score = nonnull.agg(F.avg(only_numbers_flag(F.col("AREA"))
                              .cast("double"))).collect()[0][0]
    assert f"{score * 100:.2f}%" == "63.64%"


def test_a4_chronology_flags(spark, fixture_pdf):
    df = _sdf(spark, fixture_pdf, ["START_DTT", "END_DTT"])
    flagged = (df.withColumn(
        "f", chronology_flag(F.col("START_DTT"), F.col("END_DTT")))
        .where("f").select("START_DTT", "END_DTT").collect())
    got = sorted((r[0], r[1]) for r in flagged)
    g = pd.read_csv(GOLD + "a4_output_v1.csv")
    assert g["START_DTT_after_END_DTT"].all()
    assert got == sorted(zip(g["START_DTT"], g["END_DTT"]))


def test_c4_strptime_flags(spark, fixture_pdf):
    fmt = "%Y-%m-%d %H:%M:%S"
    df = _sdf(spark, fixture_pdf, ["DATE_1", "DATE_2"])
    out = (df.withColumn("f1", datetime_invalid_flag(F.col("DATE_1"), fmt))
           .withColumn("f2", datetime_invalid_flag(F.col("DATE_2"), fmt))
           .where(F.coalesce("f1", F.lit(False))
                  | F.coalesce("f2", F.lit(False))).collect())
    got = sorted((r["DATE_1"] or "", r["DATE_2"] or "", r["f1"],
                  "" if r["f2"] is None else r["f2"]) for r in out)
    g = pd.read_csv(GOLD + "c4_output_v1.csv")
    want = sorted(zip(g["DATE_1"].fillna(""), g["DATE_2"].fillna(""),
                      g["DATE_1_inconsistent"],
                      g["DATE_2_inconsistent"].fillna("")))
    assert got == want


def test_c5_coordinate_range_flags(spark, fixture_pdf):
    df = _sdf(spark, fixture_pdf, ["STOCK_LATITUDE", "STOCK_LONGITUDE"])
    out = (df.withColumn(
        "fla", range_invalid_flag(F.col("STOCK_LATITUDE"), -90, 90))
        .withColumn(
        "flo", range_invalid_flag(F.col("STOCK_LONGITUDE"), -180, 180))
        .where(F.coalesce("fla", F.lit(False))
               | F.coalesce("flo", F.lit(False))).collect())
    got = sorted((r[0], r[1], r["fla"], r["flo"]) for r in out)
    g = pd.read_csv(GOLD + "c5_output_v1.csv")
    want = sorted(zip(g["STOCK_LATITUDE"], g["STOCK_LONGITUDE"],
                      g["STOCK_LATITUDE_invalid"],
                      g["STOCK_LONGITUDE_invalid"]))
    assert got == want


def test_a3_rowsum_flags(spark, fixture_pdf):
    cols = ["NATURAL_ADULT_SPAWNERS", "NATURAL_JACK_SPAWNERS",
            "NATURAL_SPAWNERS_TOTAL"]
    df = _sdf(spark, fixture_pdf, cols)
    out = (df.withColumn("f", rowsum_mismatch_flag(
        [F.col(cols[0]), F.col(cols[1])], F.col(cols[2])))
        .where("f").collect())
    got = sorted(((-1.0 if r[0] is None or np.isnan(r[0]) else r[0]),
                  r[2]) for r in out)
    g = pd.read_csv(GOLD + "a3_output_v1.csv")
    want = sorted(zip(g["NATURAL_ADULT_SPAWNERS"].fillna(-1.0),
                      g["NATURAL_SPAWNERS_TOTAL"]))
    assert got == want


def test_u1_duplicate_pair_detected(spark):
    """The U1 golden is itself the duplicate pair the reference found: our
    exact dedup must place both rows in ONE content group with ONE winner
    (pandas `duplicated(keep=False)` marks both; the engine's deterministic
    keep-first policy is the documented deviation)."""
    from dataquality_spark.operators.dedup import with_dedup_flag
    g = pd.read_csv(GOLD + "u1_output_v1.csv")
    assert len(g) == 2
    df = spark.createDataFrame(pd.DataFrame({
        "url": ["r0", "r1"],
        "warc_ts": [0, 1],
        "text": [g.astype(str).iloc[i].str.cat(sep="|") for i in range(2)],
    }))
    out = with_dedup_flag(df, id_cols=("warc_ts", "url")).collect()
    assert len({r["content_hash"] for r in out}) == 1
    assert sorted(r["r_dedup"] for r in out) == [False, True]


def test_log_scores_readable_via_own_xlsx_reader():
    """The reference's append-log XLSX (S-6 schema) reads with this repo's
    stdlib reader: exact column roster, 21 runs, A1 at 63.64% in both."""
    from dataquality_spark.sources.xlsx import read_xlsx_pdf
    log = read_xlsx_pdf("/root/reference/run_tests/DQS_Output_Log_Test.xlsx")
    assert list(log.columns) == [
        "Dataset", "Dimension", "Test", "Selected_Columns", "Threshold",
        "Score", "Run_Time_and_Date", "New_or_Existing_Test",
        "One_Line_Summary", "Errors", "Why_Did_the_Test_Fail"]
    assert len(log) == 21
    assert set(log.loc[log["Test"] == "A1", "Score"]) == {"63.64%"}


def test_c3_province_similarity_score(spark, fixture_pdf):
    """C3 (`dimensions/consistency/c3.py:36-69`): normalize (incl. the
    reference's province-abbreviation expansion), best similarity vs the 13
    territory names, pass at >= 0.91, average the two columns — must equal
    the logged 86.36%.

    Pins an important semantic: the reference's `Levenshtein.ratio` is the
    INDEL similarity 2M/(la+lb) (= difflib's ratio on these strings, our
    `seq_ratio_udf`), NOT 1 - lev/max_len — the latter scores 68.18% here.
    """
    from dataquality_spark.operators.c1 import seq_ratio_udf
    abbr = {"BC": "British Columbia", "ON": "Ontario", "QC": "Quebec",
            "AB": "Alberta", "MB": "Manitoba", "SK": "Saskatchewan",
            "NS": "Nova Scotia", "NB": "New Brunswick",
            "NL": "Newfoundland and Labrador", "PE": "Prince Edward Island",
            "NT": "Northwest Territories", "YT": "Yukon", "NU": "Nunavut"}
    ref = spark.createDataFrame(
        [(v.lower(),) for v in abbr.values()], "ref string")

    def norm(col):
        t = F.lower(F.trim(col.cast("string")))
        for a, full in abbr.items():
            t = F.regexp_replace(t, rf"\b{a.lower()}\b", full.lower())
        t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
        return F.trim(F.regexp_replace(t, r"\s+", " "))

    col_scores = []
    for c in ["PROVINCE", "PROVINCE_OTHER"]:
        vals = (_sdf(spark, fixture_pdf, [c])
                .where(F.col(c).isNotNull())
                .select(norm(F.col(c)).alias("v"),
                        F.monotonically_increasing_id().alias("_row")))
        # per ROW, not per distinct value — the reference scores the dropna'd
        # series, so repeated values count once per occurrence
        scored = (vals.crossJoin(F.broadcast(ref))
                  .withColumn("r", seq_ratio_udf()(F.col("v"), F.col("ref")))
                  .groupBy("_row").agg(F.max("r").alias("best")))
        agg = scored.agg(
            F.avg((F.col("best") >= 0.91).cast("double"))).collect()[0][0]
        col_scores.append(agg)
    final = sum(col_scores) / len(col_scores)
    assert f"{final * 100:.2f}%" == "86.36%"


def test_c1_projname_no_near_dups(spark, fixture_pdf):
    """C1 on PROJ_NAME at 0.91 found no inconsistent near-duplicates in the
    fixture (logged 100%): our LSH-candidate best-match must agree — zero
    matches above threshold among the project names."""
    from dataquality_spark.operators.c1 import c1_best_match
    from dataquality_spark.operators.dedup import near_dup_pairs
    df = (_sdf(spark, fixture_pdf, ["PROJ_NAME"])
          .where(F.col("PROJ_NAME").isNotNull())
          .withColumn("url", F.col("PROJ_NAME")))
    cleanup = []
    cand = near_dup_pairs(df, id_col="url", text_col="PROJ_NAME",
                          jaccard_threshold=0.91, cleanup=cleanup
                          ).withColumnRenamed("jaccard", "sim")
    out = c1_best_match(df, cand, id_col="url", text_col="PROJ_NAME",
                        threshold=0.91)
    n = out.count()
    for f in cleanup:
        f.unpersist()
    assert n == 0


def test_a2_grouped_iqr_score(spark, fixture_pdf):
    """A2 with the notebook's params (TOTAL_RETURN_TO_RIVER by SPECIES,
    IQR factor 1.5, min group score 0.85): the reference logged 100.00% —
    every species group's inlier share exceeds 0.85. Exercises the nested
    two-level scoring (`a2.py:55-67`) and exact `percentile` (linear
    interpolation, same as pandas `quantile`) on the reference's own data."""
    from dataquality_spark.functions.stats import iqr_group_score
    df = _sdf(spark, fixture_pdf, ["SPECIES", "TOTAL_RETURN_TO_RIVER"])
    row = iqr_group_score(df, "SPECIES", "TOTAL_RETURN_TO_RIVER",
                          factor=1.5, min_score=0.85).collect()[0]
    assert row["n_groups"] == 5
    assert f"{row['a2_score'] * 100:.2f}%" == "100.00%"


def test_p2_null_association_pairs(spark):
    """P2 on the OTHER logged dataset revision: its P1 golden evidence is
    that revision's full table, and the P2 golden lists the above-threshold
    null-missingness correlations with exact coefficients. The engine's
    batched association matrix must reproduce every golden pair over the
    available columns to 1e-9 and find no extra pair above 0.5 (two golden
    pairs involve columns P1's evidence excludes — Contact/Recruits_Wild —
    and are skipped, documented)."""
    from dataquality_spark.functions.stats import association_matrix
    f2 = pd.read_csv(GOLD + "p1_output_v1.csv")
    g2 = pd.read_csv(GOLD + "p2_output_v1.csv")
    # P2 drops Comment/Comments before screening (`p2.py:37-41`)
    f2 = f2.drop(columns=[c for c in ("Comment", "Comments")
                          if c in f2.columns])
    cols = [c for c in f2.columns if f2[c].isna().sum() > 0]
    ind = spark.createDataFrame(
        f2[cols].isna().astype(int).rename(
            columns={c: f"c{i}" for i, c in enumerate(cols)}))
    name = {c: f"c{i}" for i, c in enumerate(cols)}
    m = association_matrix(ind, nominal=[], numeric=list(name.values()))

    checked = 0
    ours_above = {tuple(sorted((a, b)))
                  for (a, b), v in m.items() if abs(v) > 0.5}
    golden_above = set()
    for _, r in g2.iterrows():
        a, b = r["var1"], r["var2"]
        if a not in name or b not in name:
            continue  # column excluded from the P1 evidence table
        key = tuple(sorted((name[a], name[b])))
        golden_above.add(key)
        got = m.get((name[a], name[b]), m.get((name[b], name[a])))
        assert abs(got - r["corr_coeff"]) < 1e-9, (a, b, got)
        checked += 1
    assert checked == 6
    assert ours_above == golden_above  # completeness: no extra pairs


def test_p1_completeness_score(spark):
    """P1's golden evidence is the post-threshold kept-column frame; the
    dataset-level completeness (non-null cells / total cells, `p1.py:54-56`)
    computed by the engine's one-pass per-column aggregation must equal the
    logged 75.21%."""
    f2 = pd.read_csv(GOLD + "p1_output_v1.csv")
    df = _sdf(spark, f2, list(f2.columns))
    aggs = [F.avg(F.col(f"`{c}`").isNotNull().cast("double")).alias(c)
            for c in df.columns]
    row = df.agg(*aggs).collect()[0]
    score = sum(row) / len(df.columns)
    assert f"{score * 100:.2f}%" == "75.21%"
