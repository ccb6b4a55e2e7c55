"""Structured-Streaming ingest for the quality rules (optional path).

The reference is strictly batch and v1's resume contract is checkpointed
partitions, not streaming (SURVEY.md §2.9). This module exists because the
rule stages are stateless projections, so they compose with
``readStream`` unchanged — incremental ingest of new page snapshots needs no
new operator code. Model scoring + scrub (stateless pandas UDFs) compose the
same way; exact dedup is the one stage that genuinely requires batch
semantics (global winner per content group) and is therefore excluded here —
streaming emits `pre_dedup_pass`, and the batch compactor finalizes `keep`.

Usage shape (files source; on a cluster this would be Kafka/Iceberg CDC):

    q = stream_rule_metrics(spark, in_dir, out_table)  # micro-batched
    q.processAllAvailable(); q.stop()
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataquality_spark import spec
from dataquality_spark.rules.heuristics import rule_counts, with_rule_flags

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def stream_pages(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def stream_flagged(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming frame with all heuristic rule flags — same projection as
    batch (stateless ⇒ identical results per row)."""
    return with_rule_flags(stream_pages(spark, input_dir).drop("html"))


def stream_rule_metrics_query(spark: SparkSession, input_dir: str,
                              query_name: str = "rule_metrics_stream"):
    """Running per-rule pass/fail counts over the stream (complete mode,
    memory sink — swap for an Iceberg/Kafka sink on a cluster)."""
    flagged = stream_flagged(spark, input_dir)
    aggs = []
    for r in spec.HEURISTIC_RULES:
        p, f = rule_counts(F.col(f"r_{r}"))
        aggs += [p.alias(f"{r}__pass"), f.alias(f"{r}__fail")]
    agg = flagged.agg(*aggs)
    return (agg.writeStream.outputMode("complete")
            .format("memory").queryName(query_name).start())


def stream_decisions_query(spark: SparkSession, input_dir: str,
                           out_dir: str, checkpoint_dir: str):
    """Incremental pre-dedup decisions to a parquet file sink with a
    checkpoint — the production shape: exactly-once per input file across
    restarts (the file source records consumed files in the checkpoint; a
    killed/restarted query neither drops nor duplicates rows — tested).
    Stateless stages only; the batch compactor finalizes ``keep``
    (module docstring)."""
    flagged = stream_flagged(spark, input_dir)
    # with_rule_flags already appends the canonical conjunction — reusing
    # it keeps the streaming gate definitionally identical to batch
    dec = flagged.withColumn("pre_dedup_pass",
                             F.col("heuristic_pass")).select(
        "url", "warc_ts", "pre_dedup_pass",
        *[f"r_{r}" for r in spec.HEURISTIC_RULES])
    return (dec.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .start())


def stream_windowed_metrics_query(spark: SparkSession, input_dir: str,
                                  window: str = "1 hour",
                                  watermark: str = "2 hours",
                                  query_name: str = "windowed_metrics"):
    """Event-time windowed pass rates with a watermark for late snapshots:
    per ``window(warc_ts)``, rows seen and heuristic-gate pass count. The
    watermark bounds state for out-of-order WARC captures — the standard
    late-data shape at crawl scale (update mode + memory sink here; Iceberg
    sink on a cluster)."""
    flagged = stream_flagged(spark, input_dir)
    agg = (flagged.withColumn("pass", F.col("heuristic_pass"))
           .withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window).alias("w"))
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("pass").cast("long")).alias("n_pass")))
    return (agg.select(F.col("w.start").alias("w_start"), "n_rows", "n_pass")
            .writeStream.outputMode("update")
            .format("memory").queryName(query_name).start())


def stream_first_seen_dedup_query(spark: SparkSession, input_dir: str,
                                  out_dir: str, checkpoint_dir: str,
                                  watermark: str = "24 hours"):
    """Streaming exact dedup: emit only the FIRST-ARRIVING row per content
    hash, state bounded by the event-time watermark
    (``dropDuplicatesWithinWatermark`` — Spark's native stateful dedup; no
    custom state UDF needed). Semantics differ from batch dedup by design:
    batch picks min(warc_ts, url) per group, streaming picks arrival order —
    both are deterministic "one winner per content group" policies; the
    batch compactor remains the canonical one."""
    from dataquality_spark.functions import text as TX
    pages = stream_pages(spark, input_dir).drop("html")
    hashed = (pages.withColumn("content_hash", TX.content_hash(F.col("text")))
              .withWatermark("warc_ts", watermark)
              .dropDuplicatesWithinWatermark(["content_hash"]))
    return (hashed.select("url", "warc_ts", "content_hash")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .start())


# same RFC-3986 scheme class as functions.text.canonical_url (a bare
# `[a-z]+` rejects digit/plus/dot-bearing schemes like s3://, collapsing
# their hosts into one '' reputation group); schemes are case-insensitive
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"

REPUTATION_OUTPUT = ("host string, docs bigint, fails bigint, "
                     "fail_rate double, blocked boolean")
REPUTATION_STATE = "docs bigint, fails bigint"


def _reputation_fn(min_docs: int, max_fail_rate: float):
    """Build the applyInPandasWithState update function. State per host =
    (docs_seen, fails_seen), monotone across micro-batches; a host is
    `blocked` once it has accumulated >= min_docs documents with a failure
    rate above max_fail_rate. Arrow-batched: one call per (host,
    micro-batch), vectorized sums inside."""
    def update(key, pdfs, state):
        import pandas as pd
        docs, fails = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            docs += len(pdf)
            fails += int((~pdf["doc_pass"]).sum())
        state.update((docs, fails))
        rate = fails / docs if docs else 0.0
        yield pd.DataFrame({
            "host": [key[0]], "docs": [docs], "fails": [fails],
            "fail_rate": [rate],
            "blocked": [docs >= min_docs and rate > max_fail_rate],
        })
    return update


def stream_host_reputation_query(spark: SparkSession, input_dir: str,
                                 query_name: str = "host_reputation",
                                 min_docs: int = 20,
                                 max_fail_rate: float = 0.5):
    """Adaptive per-host reputation — the custom stateful operator the
    built-ins can't express (running counters + a threshold decision that
    must survive across micro-batches): ``applyInPandasWithState`` keyed by
    ``url_host``. The web-pipeline pattern: spammy domains get blocked once
    enough of their pages fail the heuristic gate, without re-scanning
    history. State is two BIGINTs per distinct host — bounded by the host
    cardinality, not the document count, so it holds at crawl scale; the
    groupBy shuffle is the same keyed exchange the batch dedup pays."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    flagged = stream_flagged(spark, input_dir)
    per_doc = flagged.select(
        F.lower(F.regexp_extract("url", _HOST_RE, 1)).alias("host"),
        F.col("heuristic_pass").alias("doc_pass"))
    # scheme-less/unparseable URLs extract host '' — drop them rather than
    # accumulate a meaningless shared reputation group
    per_doc = per_doc.where(F.col("host") != "")
    status = per_doc.groupBy("host").applyInPandasWithState(
        _reputation_fn(min_docs, max_fail_rate),
        outputStructType=REPUTATION_OUTPUT,
        stateStructType=REPUTATION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    return (status.writeStream.outputMode("update")
            .format("memory").queryName(query_name).start())
