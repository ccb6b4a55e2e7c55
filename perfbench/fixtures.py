"""Seeded benchmark inputs and their oracles, cached per seed.

Run as a script by ``run.py`` before the measured process starts, so input
generation and oracle computation never count toward any metric:

    python3 perfbench/fixtures.py --workload crawl_resume_skewed --seed 3 \
        --out .perfbench/fixtures/crawl_resume_skewed/... [--smoke]

Each fixture directory is complete once its ``_DONE`` marker exists; a
directory without it is rebuilt from scratch. Everything is a pure function
of (workload, seed, size): the program under test only ever sees the files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FIXTURE_VERSION = 5

# Registry mix: two LSH-family near-dup queries (simhash, c1), the
# embedding near-dup operator of operators/similarity and one scan-fan
# regression. Left out, to fit the run budget: the MinHash members
# (minhash_lsh_neardup, minhash_error, fuzzy_dedup_decisions), whose DuckDB
# oracles replay every MinHash permutation in SQL and take 80 s to over
# 90 s each on 500 documents, and semdedup, ivf_knn, sequence_pack,
# heuristic_gate and toxicity_score, which together would double the time
# of a pass and add 8 s to every cold start.
REGISTRY_QUERIES = (
    "simhash_neardup", "c1_neardup_rescue", "embedding_neardup",
    "domain_blocklist",
)

SIZES = {
    "crawl_resume_skewed": {"pages": 8_000},
    # the sf0.01 sizes of the test tables in TESTDATA.md
    "registry_small": {"documents": 500, "embeddings": 500, "events": 10_000},
}
SMOKE_SIZES = {
    "crawl_resume_skewed": {"pages": 800},
    "registry_small": {"documents": 100, "embeddings": 100, "events": 1_000},
}
PAGE_FILES = 8
SKEW_DUP_FRAC = 0.40   # share of rows that copy a hot clean page
SKEW_HOT_PAGES = 300   # distinct hot pages the copies are drawn from
SKEW_ZIPF_S = 1.0      # copy-count exponent: hottest text ≈ 6% of rows


def sizes_for(workload: str, smoke: bool) -> dict:
    return (SMOKE_SIZES if smoke else SIZES)[workload]


def source_digest() -> str:
    """Digest of the program sources an oracle depends on, so a cached
    fixture is rebuilt when the program changes under it."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "tools", "verify_queries.py")]
    for d, _, files in os.walk(os.path.join(ROOT, "dataquality_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def program_cached(cache_dir: str, name: str, build):
    """A value the program derives only from its own sources (the trained
    model artifacts, the oracle SQL), kept per source digest so that a new
    seed does not pay for it again. Only this module writes these files."""
    path = os.path.join(cache_dir, f"{name}-{source_digest()}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = build()
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(value, f)
    os.replace(tmp, path)
    return value


def fixture_dir(work: str, workload: str, seed: int, smoke: bool) -> str:
    tag = "smoke" if smoke else "full"
    return os.path.join(
        work, "fixtures", workload,
        f"seed{seed}-{tag}-v{FIXTURE_VERSION}-{source_digest()}")


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


# ---------------------------------------------------------------------------
# crawl_resume_skewed

def skewed_pages(seed: int, n: int) -> pd.DataFrame:
    """FIXTURES.md pages, then ~40% of rows overwritten with exact copies of
    a few hundred clean pages, copy counts Zipf-distributed. Copies keep
    their own url and warc_ts, so each hot group has one dedup winner."""
    from dataquality_spark.synth import gen_pages_pdf

    pdf = gen_pages_pdf(np.arange(n, dtype=np.int64), seed, n)
    hot = min(SKEW_HOT_PAGES, max(1, n // 20))
    # with n_rows = hot * 1000 the generator keeps every index < hot clean
    base = gen_pages_pdf(np.arange(hot, dtype=np.int64), seed ^ 0x5EED,
                         hot * 1000)
    # copy counts are the same for every seed (largest-remainder Zipf
    # shares), so the skew does not vary from seed to seed; the seed picks
    # which rows are copies and which clean page each one copies
    n_copies = int(round(SKEW_DUP_FRAC * n))
    share = 1.0 / np.power(np.arange(1, hot + 1), SKEW_ZIPF_S)
    share = share / share.sum() * n_copies
    counts = np.floor(share).astype(np.int64)
    rest = np.argsort(counts - share, kind="stable")[:n_copies - counts.sum()]
    counts[rest] += 1
    rng = np.random.default_rng(seed)
    rows = rng.permutation(n)[:n_copies]
    src = rng.permutation(hot)[np.repeat(np.arange(hot), counts)]
    for col in ("text", "lang", "html"):
        vals = pdf[col].to_numpy(dtype=object)
        vals[rows] = base[col].to_numpy(dtype=object)[src]
        pdf[col] = vals
    return pdf


def build_crawl(out: str, seed: int, sizes: dict) -> None:
    from dataquality_spark import oracle, pipeline

    n = sizes["pages"]
    pdf = skewed_pages(seed, n)
    pages_dir = os.path.join(out, "pages")
    os.makedirs(pages_dir)
    bounds = np.linspace(0, n, PAGE_FILES + 1).astype(int)
    for k in range(PAGE_FILES):
        _write_parquet(pdf.iloc[bounds[k]:bounds[k + 1]],
                       os.path.join(pages_dir, f"part-{k:05d}.parquet"))
    art = program_cached(os.path.dirname(os.path.dirname(out)),
                         "artifacts", pipeline.get_artifacts)
    labels = oracle.full_labels(pdf, art["langid"], art["lm"])
    exp = (labels[["url", "keep", "scrubbed_text"]]
           .sort_values("url").reset_index(drop=True))
    _write_parquet(exp, os.path.join(out, "oracle.parquet"))
    in_bytes = sum(os.path.getsize(os.path.join(pages_dir, f))
                   for f in os.listdir(pages_dir))
    # the traced run checks its layer cuts against these counts
    meta = {"rows": n, "in_bytes": in_bytes,
            "heuristic_pass": int(labels["heuristic_pass"].sum()),
            "pre_dedup_pass": int(labels["pre_dedup_pass"].sum()),
            "kept": int(labels["keep"].sum())}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


# ---------------------------------------------------------------------------
# registry_small

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_SPAN_S = 30 * 86_400   # the events stream covers January 2024
EVENT_USERS_PER_ROW = 0.015  # 150 users at 10,000 rows, 1,500 at 100,000


def events_table(seed: int, n: int) -> pd.DataFrame:
    """The ``events`` table in the shape measured on the test tables of
    TESTDATA.md (sf0.01 and sf0.1, see README.md): dense event ids, ts
    increasing with exponential gaps over 30 days from 2024-01-01,
    0.015 users per row, five equally likely event types, exponential
    values of mean 50 rounded to cents, ``props`` = ``{"k": K}`` with K
    uniform over 0..99, and no nulls."""
    rng = np.random.default_rng(seed ^ 0xE7E7)
    gaps = rng.exponential(EVENT_SPAN_S / n, size=n)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.cumsum(gaps), unit="s")
    users = max(1, round(EVENT_USERS_PER_ROW * n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.floor("us"),
        "user_id": rng.integers(0, users, size=n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), size=n)],
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def nation_table() -> pd.DataFrame:
    """The ``nation`` test table as measured at every scale factor: 25
    rows, ``n_name`` = ``NATION_<key>``, ``n_regionkey`` = key mod 5."""
    keys = np.arange(25, dtype=np.int32)
    return pd.DataFrame({"n_nationkey": keys,
                         "n_name": [f"NATION_{k}" for k in keys],
                         "n_regionkey": (keys % 5).astype(np.int32)})


def canon_digest(rows, cols) -> str:
    from tools.verify_queries import canon
    h = hashlib.sha256()
    for line in canon(rows, cols):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def build_registry(out: str, seed: int, sizes: dict) -> None:
    import duckdb

    from dataquality_spark.synth import gen_documents_pdf, gen_embeddings_pdf
    from tools.verify_queries import duck_type_class

    def oracle_sql():
        from dataquality_spark.queries import ORACLE_SQL
        return dict(ORACLE_SQL)

    tables = {
        "documents": gen_documents_pdf(
            np.arange(sizes["documents"], dtype=np.int64), seed,
            sizes["documents"]),
        "embeddings": gen_embeddings_pdf(
            np.arange(sizes["embeddings"], dtype=np.int64), seed),
        "events": events_table(seed, sizes["events"]),
        "nation": nation_table(),
    }
    for name, pdf in tables.items():
        _write_parquet(pdf, os.path.join(out, f"{name}.parquet"))
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"'{os.path.join(out, name)}.parquet'")
        expected = {}
        sqls = program_cached(os.path.dirname(os.path.dirname(out)),
                              "oracle_sql", oracle_sql)
        for q in REGISTRY_QUERIES:
            sql = sqls[q]
            types = {r[0]: duck_type_class(str(r[1]))
                     for r in con.execute(f"DESCRIBE {sql}").fetchall()}
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            expected[q] = {"rows": len(rows), "cols": sorted(cols),
                           "types": types,
                           "digest": canon_digest(rows, cols)}
    finally:
        con.close()
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)


MAKERS = {"crawl_resume_skewed": build_crawl,
            "registry_small": build_registry}


def ensure(out: str, workload: str, seed: int, smoke: bool) -> None:
    if os.path.exists(os.path.join(out, "_DONE")):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    MAKERS[workload](out, seed, sizes_for(workload, smoke))
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write("ok\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MAKERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    ensure(a.out, a.workload, a.seed, a.smoke)
    return 0


if __name__ == "__main__":
    sys.exit(main())
