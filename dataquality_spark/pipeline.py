"""The full quality-pipeline DAG (SURVEY.md §3.4).

    pages ──► Stage A/C: text stats + heuristic rule flags   [native exprs, no shuffle]
          ──► Stage B:   langid + perplexity                 [one Arrow UDF, no shuffle]
          ──► Stage D:   scrub                               [one Arrow UDF, no shuffle]
          ──► Stage E:   exact dedup among surviving docs    [1 map-combined shuffle + join-back]
          ──► decisions(url, keep, rules, scores, scrubbed_text)
          ──► rule_metrics (one agg pass)                    [tiny]

Single engineered shuffle (Stage E). Everything upstream fuses into one
whole-stage-codegen span + two Python runners. Column pruning means `html`
is never deserialized unless the caller selects it (SURVEY.md §4.2).
"""

from __future__ import annotations

from functools import cache

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataquality_spark import spec
from dataquality_spark.models import langid, ngram_lm
from dataquality_spark.models.udf import with_model_scores_and_scrub
from dataquality_spark.rules.heuristics import (
    rule_counts, rule_metrics, rule_score, with_rule_flags,
)

PIPELINE_RULES = spec.ALL_RULES + ["dedup"]


@cache
def get_artifacts() -> dict:
    """Train-once-per-process model artifacts (deterministic, seed corpus).
    ``functools.cache`` returns the SAME objects on every call: the fused
    UDF's broadcast cache (models/udf.py) keys on their ids."""
    return {"langid": langid.train_langid(), "lm": ngram_lm.train_lm()}


# Above this estimated input size the scored frame is cached DISK_ONLY
# instead of MEMORY_AND_DISK: the heap-resident cache portion competes
# with UNMANAGED allocations (parquet writer row-group buffers, Arrow
# batches) that live outside Spark's managed pool — at 18M pages the
# combination OOM'd a 16g JVM even after the join exchange was sized
# (storage held its protected ~4.7g while ~23 concurrent writers needed
# ~300MB each). At 100 TB nobody heap-caches the corpus; disk-serialized
# cache keeps the double-consumer plan (winners agg + join probe) without
# the heap bill. The threshold keeps the bench-scale (≤ sf0.1, ~1 GB)
# fast path byte-identical.
CACHE_MEM_MAX_BYTES = 2 << 30

# Winners (content_hash + the winning id struct, one narrow row per
# distinct kept document) are broadcast for the join-back when their own
# plan estimate is at most this. The broadcast is collected and built on
# the driver, single-threaded, so the bound sits well below the cache
# bound above. Measured on bench.py's 600k-page input (seed 42, 100
# files): input 945,809,894 B, winners 97,137,231 B, so bench keeps the
# broadcast with 2x headroom; at that 10.3% ratio the bound cuts over at
# ~1.2M pages, just under where the cache bound alone used to (~1.36M).
WINNERS_BROADCAST_MAX_BYTES = 192 << 20


def input_bytes_estimate(df: DataFrame) -> int:
    """The optimizer's size estimate for ``df`` (driver-side, no job);
    -1 when stats are unavailable (e.g. a mocked frame)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return -1


def run_pipeline(spark: SparkSession, pages: DataFrame,
                 cleanup: list[DataFrame] | None = None,
                 with_classifier: bool = False,
                 lang_optional: bool = False,
                 portable_models: bool = False) -> DataFrame:
    """pages → annotated frame with all rule flags, keep, scrubbed_text.

    ``keep`` = every heuristic + model rule passes AND the row is its exact-dup
    group's winner. Scrubbing applies to all rows (byte-identity is a per-url
    invariant, BASELINE.json input_hint).

    Plan shape: the scored frame feeds BOTH the winners aggregation and the
    join probe, so it is persisted (MEMORY_AND_DISK) — otherwise the scan +
    Arrow UDF stage would run twice. ``content_hash`` is null for rows that
    fail the upstream gate, so blank/degenerate texts never form dedup groups
    and never skew the shuffle.

    The persisted frame is INTERNAL (pre-join), not the returned frame, so
    callers can't unpersist it directly. Pass ``cleanup`` (a list); every
    frame this call persists is appended to it, and the caller unpersists
    after its terminal action — otherwise each invocation pins one
    MEMORY_AND_DISK cache for the session's lifetime.
    """
    from dataquality_spark.functions import text as TX
    from dataquality_spark.operators.dedup import exact_dedup_winners
    art = None if portable_models else get_artifacts()
    # html is never consumed downstream (rules/models/scrub all read `text`);
    # dropping it here keeps it out of the persisted frame and the shuffle.
    # Column pruning would skip it at scan time anyway (SURVEY.md §4.2).
    df = pages.drop("html")
    # UDF stage FIRST: ArrowEvalPython buffers every pass-through column in
    # its row queue while batches round-trip to Python, so the Python node
    # must sit where rows are narrowest (measured 3× on the full frame).
    # langid+perplexity+scrub are FUSED into one UDF so `text` crosses the
    # JVM↔Python boundary once (measured 11.4s→9.8s at sf0.1/local[32]).
    # Optional learned-quality stage (with_classifier): the classifier rides
    # the SAME fused UDF crossing as one more struct field — no extra Python
    # runner, no extra Arrow transfer of `text`.
    if portable_models:
        # ENGINE-PORTABLE stage B (fixed-point integer rules — the
        # SQL-replayable mode the exact pipeline-metrics oracle runs;
        # same fused one-UDF contract). Decision surfaces only: callers
        # needing the graded lang_conf/logprob floats use the default.
        if with_classifier or lang_optional:
            raise ValueError("portable_models composes with the default "
                             "stage options only")
    q_art = None
    if with_classifier:
        from dataquality_spark.models import quality
        q_art = quality.train_quality()
    if portable_models:
        from dataquality_spark.models.udf import with_portable_scores_and_scrub
        df = with_portable_scores_and_scrub(spark, df)
    else:
        df = with_model_scores_and_scrub(spark, df, art["langid"], art["lm"],
                                         quality_art=q_art,
                                         lang_optional=lang_optional)
    # the fused UDF already emitted the fixed-ASCII-class counts — the
    # rules projection only runs the Unicode-table-sensitive stats
    # (alpha \p{L}, stopword lower()) in the JVM (functions/stats_batch)
    df = with_rule_flags(df, precomputed_stats=True)
    gate = F.col("heuristic_pass") & F.col("r_lang_match") & F.col("r_perplexity")
    if with_classifier:
        gate = gate & F.col("r_quality")
    # raw text is dead weight after hashing + scrubbing (decisions carry
    # scrubbed_text only): keep it out of the persisted frame and the join
    df = df.select(
        *[c for c in df.columns if c != "text"],
        gate.alias("pre_dedup_pass"),
        F.when(gate, TX.content_hash(F.col("text"))).alias("content_hash"),
    )
    level = (StorageLevel.DISK_ONLY
             if input_bytes_estimate(pages) > CACHE_MEM_MAX_BYTES
             else StorageLevel.MEMORY_AND_DISK)
    df = df.persist(level)
    if cleanup is not None:
        cleanup.append(df)
    winners = exact_dedup_winners(df.where("pre_dedup_pass"))
    # Join-back strategy (guide §3.1/§8): the probe side carries the
    # pipeline's heaviest column (scrubbed_text), while winners is three
    # narrow columns — the classic "heavy bytes shuffled to meet a small
    # decision table" shape. SIZE-GATED broadcast: when winners' own plan
    # estimate (driver-side, no job) is a safe broadcast, broadcasting
    # deletes the full-frame exchange outright (measured warm at 600k
    # rows: 18.1s → 16.9s end-to-end, identical keep count). Past it,
    # winners ≈ one row per distinct kept document, far too big to
    # broadcast, and the plan stays shuffle-hash with AQE skew handling
    # covering hot hashes.
    #
    # The shuffle path's join/write partition count scales with the input
    # via AQE's initialPartitionNum (session.py): exchanges start at 1024
    # and coalesce to ~64MB by MEASURED size, so reduce tasks stay heap-
    # bounded as data grows. (A pre-join repartition(N) cannot do this —
    # EnsureRequirements collapses it back to the conf count when
    # aligning the join sides; observed at 18M pages.)
    est = input_bytes_estimate(winners)
    winners = (F.broadcast(winners)
               if 0 <= est <= WINNERS_BROADCAST_MAX_BYTES
               else winners.hint("shuffle_hash"))
    joined = df.join(winners, "content_hash", "left")
    r_dedup = (F.col("pre_dedup_pass")
               & (F.col("win.warc_ts") == F.col("warc_ts"))
               & (F.col("win.url") == F.col("url")))
    return joined.select(
        *[c for c in joined.columns if c != "win"],
        r_dedup.alias("r_dedup"),
        (F.col("pre_dedup_pass") & r_dedup).alias("keep"),
    )


def pipeline_rules(with_classifier: bool) -> list[str]:
    """The rule ids of a run's decisions, in ``rules`` map order."""
    rules = list(PIPELINE_RULES)
    if with_classifier:  # opt-in classifier stage
        rules.insert(rules.index("dedup"), "quality")
    return rules


def decisions_table(annotated: DataFrame,
                    extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Project the SURVEY.md §1.4 decisions schema:
    decisions(url, keep, rules map<string,boolean>, scores map<string,double>,
    scrubbed_text[, *extra_cols]). ``extra_cols`` lets the checkpoint path
    carry its chunk key through to a partitioned write."""
    rule_entries = []
    for r in pipeline_rules("r_quality" in annotated.columns):
        rule_entries += [F.lit(r), F.col(f"r_{r}")]
    score_entries = [
        F.lit("lang_conf"), F.col("lang_conf"),
        F.lit("logprob"), F.col("logprob"),
        F.lit("stop_frac"), F.col("stop_frac").cast("double"),
        F.lit("dupline_frac"), F.col("dupline_frac").cast("double"),
    ]
    if "q_prob" in annotated.columns:
        score_entries += [F.lit("q_prob"), F.col("q_prob")]
    return annotated.select(
        "url",
        F.col("keep"),
        F.create_map(*rule_entries).alias("rules"),
        F.create_map(*score_entries).alias("scores"),
        "scrubbed_text",
        *extra_cols,
    )


def pipeline_metrics(annotated: DataFrame) -> DataFrame:
    """rule_metrics(rule_id, pass_count, fail_count, score) over all rules."""
    return rule_metrics(annotated,
                        pipeline_rules("r_quality" in annotated.columns))


def metrics_from_decisions(decisions: DataFrame,
                           group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Same rule_metrics schema, computed from a written decisions table's
    `rules` map — lets callers that already materialized decisions get
    metrics without re-running the dedup join (one cheap scan + agg).
    ``group_cols`` prepends grouping keys (e.g. the checkpoint chunk).
    The counts and score are ``rule_counts``/``rule_score``, shared with
    the checkpoint lineage."""
    gc = list(group_cols)
    exploded = decisions.select(
        *gc, F.explode("rules").alias("rule_id", "passed"))
    p, f = rule_counts(F.col("passed"))
    return (exploded.groupBy(*gc, "rule_id")
            .agg(p.alias("pass_count"), f.alias("fail_count"))
            .select(*gc, "rule_id", "pass_count", "fail_count",
                    rule_score(F.col("pass_count"), F.col("fail_count"))
                    .alias("score")))


def run_from_crawl(spark: SparkSession, warc_path: str,
                   **pipeline_kwargs) -> DataFrame:
    """The complete crawl-bytes → decisions DAG: ``sources.warc.crawl_pages``
    → the full quality pipeline in raw-crawl mode (no claimed language
    column — the language rule passes on model confidence alone; see
    ``lang_optional``).

    One extra Arrow UDF stage (the extractor) ahead of the fused model UDF;
    everything downstream is the standard single-engineered-shuffle plan.
    """
    from dataquality_spark.sources.warc import crawl_pages

    pipeline_kwargs.setdefault("lang_optional", True)
    return run_pipeline(spark, crawl_pages(spark, warc_path),
                        **pipeline_kwargs)
