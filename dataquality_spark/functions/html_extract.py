"""HTML → text extraction (the step upstream of every text-quality rule).

The input contract (BASELINE.json input_hint) carries both ``html: binary``
and ``text: string``; the north rule's per-row invariant is BYTE-IDENTICAL
extracted text per url. This module makes that literal: a real HTML parser
(stdlib ``html.parser`` — event-driven, entity-decoding, no external
dependency) runs inside an Arrow-batched pandas UDF, and the pipeline can
derive ``text`` from ``html`` instead of trusting the upstream column.

Extraction policy (deterministic, documented — byte-identity demands an
exact spec, not "whatever the library does"):
  * ``script``/``style``/``template``/``noscript``/``head``/``title``
    subtrees contribute nothing (nesting-counted, so unbalanced close tags
    cannot unskip).
  * block-level boundaries (p, div, br, li, tr, headings, …) emit exactly
    one ``\\n`` each at open AND close; inline tags (span, a, b, …) emit
    nothing.
  * text nodes are emitted VERBATIM — no whitespace collapsing, no strip.
    Normalization is the downstream rules' job (`functions/text.py`), and
    verbatim emission is what makes extract(wrap(text)) == text exact.
  * character/entity references decode (&amp; &#65; &lt; …) via
    ``convert_charrefs``.
  * bytes decode as UTF-8 with ``errors="replace"`` — a mojibake page
    yields replacement chars, never a task failure.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SKIP_TAGS = frozenset({"script", "style", "template", "noscript", "head",
                       "title"})
BLOCK_TAGS = frozenset({
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "tr", "table", "section", "article", "header", "footer", "blockquote",
    "pre", "hr",
})


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip = 0

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip += 1
        elif tag in BLOCK_TAGS and not self._skip:
            self.parts.append("\n")

    # <br/> and friends arrive here, not at handle_starttag
    def handle_startendtag(self, tag, attrs):
        if tag in BLOCK_TAGS and not self._skip:
            self.parts.append("\n")

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag in BLOCK_TAGS and not self._skip:
            self.parts.append("\n")

    def handle_data(self, data):
        if not self._skip:
            self.parts.append(data)


def extract_text_py(html: bytes | str | None) -> str | None:
    """Scalar spec (the testable oracle the UDF must match)."""
    if html is None:
        return None
    raw = bytes(html).decode("utf-8", errors="replace") if isinstance(
        html, (bytes, bytearray, memoryview)) else html
    p = _Extractor()
    p.feed(raw)
    p.close()
    return "".join(p.parts)


def extract_text_udf():
    """pandas UDF: html binary/string → extracted text. The parser is
    CPython C-accelerated event dispatch; one UDF crossing per batch, the
    same Arrow placement rules as the model UDFs apply."""

    @F.pandas_udf("string")
    def extract(html_s: pd.Series) -> pd.Series:
        return pd.Series([extract_text_py(h) for h in html_s], dtype=object)

    return extract


def with_extracted_text(df: DataFrame, html_col: str = "html",
                        out_col: str = "text") -> DataFrame:
    """Derive/replace the text column from raw HTML — lets the pipeline
    start from crawl bytes instead of trusting an upstream extraction."""
    return df.withColumn(out_col, extract_text_udf()(F.col(html_col)))


def escape_html(text: Column) -> Column:
    """Native-expression HTML entity escaping (&, <, > — in that order, so
    ampersands in the input never double-escape); the inverse of the
    extractor's entity decoding, used by the round-trip oracle."""
    return F.replace(F.replace(F.replace(text, F.lit("&"), F.lit("&amp;")),
                               F.lit("<"), F.lit("&lt;")),
                     F.lit(">"), F.lit("&gt;"))


class _LinkCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []

    def _grab(self, tag, attrs):
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.links.append(v)

    handle_starttag = _grab

    def handle_startendtag(self, tag, attrs):
        self._grab(tag, attrs)


def extract_links_py(html: bytes | str | None) -> list[str]:
    """All <a href> values, in document order, entities decoded — the
    outlink-harvest step of a crawl frontier. Scalar spec for the UDF."""
    if html is None:
        return []
    raw = bytes(html).decode("utf-8", errors="replace") if isinstance(
        html, (bytes, bytearray, memoryview)) else html
    p = _LinkCollector()
    p.feed(raw)
    p.close()
    return p.links


def extract_links_udf():
    @F.pandas_udf("array<string>")
    def extract(html_s: pd.Series) -> pd.Series:
        return pd.Series([extract_links_py(h) for h in html_s], dtype=object)

    return extract


def outlinks(df: DataFrame, html_col: str = "html",
             url_col: str = "url") -> DataFrame:
    """(page url, outlink) pairs — compose with ``canonical_url`` +
    ``distinct`` for frontier dedup."""
    return (df.select(url_col,
                      F.explode(extract_links_udf()(F.col(html_col)))
                      .alias("outlink")))


def link_graph_stats(links: DataFrame, src_host_col: str = "src_host",
                     outlink_col: str = "outlink") -> DataFrame:
    """Host-level link-graph aggregation over harvested (source host,
    outlink) pairs — the crawl-frontier / host-reputation signal (UT1-style
    blocklists and crawl prioritizers both key on it): canonicalize each
    outlink (`functions/text.canonical_url`), key by its target host, and
    emit per host the total in-link count, the number of distinct linking
    source hosts, and the self-link count.

    Scale shape: the pairs are projected down to TWO short strings before
    the one hash-aggregate shuffle (bodies/HTML never cross the wire), the
    plain counts combine map-side, `countDistinct` runs Spark's standard
    two-phase expand, and the output is bounded at one row per distinct
    host. Host keys are the classic skew case (a few giant hosts dominate
    a crawl) — partial aggregation absorbs count skew and AQE's skew-join
    split covers the distinct phase, the same posture as the exact dedup
    groupBy (`operators/dedup.py`).

    The reference's nearest surface is whole-column membership/uniqueness
    (`/root/reference/dimensions/completeness/c3.py`,
    `dimensions/integrity/i1.py`); this is its web-graph analogue over the
    outlink harvest that `outlinks` + `canonical_url` already provide.
    """
    from dataquality_spark.functions.text import canonical_url

    curl = canonical_url(F.col(outlink_col))
    tgt = F.regexp_extract(curl, r"^[^:/?#]+://([^/?#]*)", 1)
    pairs = links.select(F.col(src_host_col).alias("_src"),
                         tgt.alias("host"))
    return (pairs.groupBy("host")
            .agg(F.count(F.lit(1)).cast("long").alias("in_links"),
                 F.countDistinct("_src").cast("long").alias("src_hosts"),
                 F.sum(F.when(F.col("_src") == F.col("host"), 1)
                       .otherwise(0)).cast("long").alias("self_links")))
