"""WARC source: record iteration, HTTP payload split, gzip members,
distributed read, and the full crawl-bytes → pipeline composition."""

import pytest

from dataquality_spark.sources.warc import (
    iter_warc_records,
    pages_from_warc_bytes,
    read_warc,
    write_warc,
)

RECORDS = [
    ("http://a.example/one", "2024-01-02T03:04:05Z",
     b"<html><body>page one body</body></html>"),
    ("http://b.example/two", "2024-02-03T04:05:06Z",
     b"<html><body>page two body</body></html>"),
]


def _warcinfo_prefix() -> bytes:
    body = b"software: test\r\n"
    return (f"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode() + body + b"\r\n\r\n"


def test_iter_records_plain_and_gzip(tmp_path):
    for gz in (False, True):
        p = tmp_path / ("t.warc.gz" if gz else "t.warc")
        write_warc(RECORDS, str(p), gzip_per_record=gz)
        raw = p.read_bytes()
        recs = list(iter_warc_records(raw))
        assert len(recs) == 2
        assert recs[0][0]["warc-target-uri"] == "http://a.example/one"
        assert recs[1][0]["warc-type"] == "response"


def test_pages_from_warc_bytes_splits_http_and_skips_nonresponse(tmp_path):
    p = tmp_path / "t.warc"
    write_warc(RECORDS, str(p), gzip_per_record=False)
    raw = _warcinfo_prefix() + p.read_bytes()   # non-response record first
    pdf = pages_from_warc_bytes(raw, source="t.warc")
    assert len(pdf) == 2                         # warcinfo skipped
    assert bytes(pdf["html"][0]) == RECORDS[0][2]  # HTTP headers stripped
    assert pdf["url"].tolist() == [u for u, _, _ in RECORDS]
    assert str(pdf["warc_ts"][0]) == "2024-01-02 03:04:05"


def test_read_warc_distributed_and_pipeline_composition(spark, tmp_path):
    """crawl bytes → read_warc → extract text → heuristic rules: the full
    Common-Crawl-shaped front half composes."""
    from pyspark.sql import functions as F

    from dataquality_spark.functions.html_extract import with_extracted_text
    from dataquality_spark.rules.heuristics import with_rule_flags

    d = tmp_path / "crawl"
    d.mkdir()
    write_warc(RECORDS, str(d / "part-0.warc.gz"))
    write_warc([("http://c.example/three", "2024-03-04T05:06:07Z",
                 b"<html><body>page three body</body></html>")],
               str(d / "part-1.warc.gz"))

    pages = read_warc(spark, str(d))
    assert pages.count() == 3
    ex = with_extracted_text(pages, out_col="text") \
        .withColumn("lang", F.lit("en"))
    flagged = with_rule_flags(ex)
    got = {r["url"]: r["text"] for r in ex.select("url", "text").collect()}
    assert got["http://a.example/one"] == "page one body"
    assert "heuristic_pass" in flagged.columns
    assert flagged.count() == 3
    # two source files → two input rows for the parser
    assert pages.select("source_file").distinct().count() == 2


def test_truncated_warc_stops_cleanly():
    raw = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 9999\r\n\r\nshort"
    assert list(iter_warc_records(raw))[0][1] == b"short"
    assert pages_from_warc_bytes(b"garbage").empty


def _crawl_dir(tmp_path):
    """Four identical in-domain pages and one symbol-junk page."""
    from dataquality_spark.models import corpus

    d = tmp_path / "crawl2"
    d.mkdir()
    # seed-corpus vocabulary so the (synthetic-corpus-trained) perplexity
    # gate sees in-distribution text
    body = " ".join(corpus.seed_corpus("en", n_docs=3))
    recs = [(f"http://site{i}.example/p", "2024-01-02T03:04:05Z",
             f"<html><body>{body}</body></html>".encode()) for i in range(4)]
    recs.append(("http://junk.example/p", "2024-01-02T03:04:06Z",
                 b"<html><body>#@%^ #@%^ #@%^</body></html>"))
    write_warc(recs, str(d / "part-0.warc.gz"))
    return str(d)


def test_run_from_crawl_end_to_end(spark, tmp_path):
    """WARC bytes in, keep/drop decisions out — the north-rule DAG starting
    from crawl archives instead of a prepared pages table."""
    from dataquality_spark import pipeline as P

    cleanup = []
    ann = P.run_from_crawl(spark, _crawl_dir(tmp_path), cleanup=cleanup)
    rows = {r["url"]: r for r in
            ann.select("url", "keep", "pred_lang", "r_lang_match").collect()}
    for f in cleanup:
        f.unpersist()
    assert len(rows) == 5
    # identical-content pages: exactly one survives exact dedup
    kept = [u for u, r in rows.items() if r["keep"] and "site" in u]
    assert len(kept) == 1
    # symbol junk never passes
    assert not rows["http://junk.example/p"]["keep"]
    # raw-crawl mode: null claimed lang + confident model => rule passes
    assert rows[kept[0]]["r_lang_match"] and rows[kept[0]]["pred_lang"] == "en"


def test_checkpointed_crawl_pages_equal_run_from_crawl(spark, tmp_path):
    """``run_job.py --input-warc`` runs ``run_checkpointed`` over
    ``crawl_pages`` with ``lang_optional=True``: its written decisions must
    equal ``run_from_crawl``'s, url by url."""
    from dataquality_spark import pipeline as P
    from dataquality_spark.checkpoint import read_decisions, run_checkpointed
    from dataquality_spark.sources.warc import crawl_pages

    d = _crawl_dir(tmp_path)
    cols = ("url", "keep", "scrubbed_text")
    cleanup = []
    want = sorted(tuple(r) for r in P.run_from_crawl(
        spark, d, cleanup=cleanup).select(*cols).collect())
    for f in cleanup:
        f.unpersist()
    out = str(tmp_path / "run")
    run_checkpointed(spark, crawl_pages(spark, d), out, n_chunks=2,
                     lang_optional=True)
    got = sorted(tuple(r) for r in
                 read_decisions(spark, out).select(*cols).collect())
    assert len(want) == 5 and sum(k for _, k, _ in want) == 1
    assert got == want
