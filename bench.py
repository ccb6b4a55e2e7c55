"""Benchmark harness (driver contract).

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {...}, "sf": ...}.

Headline = the full north-rule pipeline (heuristic rules → langid+perplexity
UDF → scrub → exact dedup → decisions write) over the deterministic
synthetic pages corpus sized to the scale factor (sf0.1 → 600k pages), plus
representative operator queries over the driver's tables. Pages generation is
excluded from timing (it is test fixture setup, not pipeline work); the
generated parquet is cached across runs keyed by (n, seed).

All diagnostics go to stderr; stdout carries exactly the one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sf_from_dir(sf_dir: str) -> float:
    import re
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def ensure_pages(spark, n_rows: int, seed: int = 42) -> str:
    from dataquality_spark.synth import generate_pages
    from dataquality_spark.synth import SYNTH_VERSION
    # keyed on the generator version too: a cached corpus from an older
    # generator would silently benchmark stale fixture bytes
    path = f"/tmp/dq_bench_pages_{n_rows}_{seed}_v{SYNTH_VERSION}"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        log(f"generating {n_rows} pages → {path}")
        # fixed file count regardless of generation parallelism: parquet
        # splits on row-group boundaries, so an 8-file write caps every
        # downstream scan at 8-way parallelism (measured: local[32] ran at
        # local[8] speed off an 8-file input)
        parts = max(96, n_rows // 6000)
        generate_pages(spark, n_rows, seed=seed, partitions=parts).write.mode(
            "overwrite").parquet(path)
    return path


def bench_pipeline(spark, pages_path: str, n_rows: int) -> dict:
    from dataquality_spark import pipeline
    pipeline.get_artifacts()  # train outside the timed region
    pages = spark.read.parquet(pages_path)
    out = "/tmp/dq_bench_decisions"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    cleanup = []
    ann = pipeline.run_pipeline(spark, pages, cleanup=cleanup)
    dec = pipeline.decisions_table(ann)
    dec.write.mode("overwrite").parquet(out)
    # metrics from the materialized decisions — avoids re-running the
    # dedup join for a second action
    metrics = pipeline.metrics_from_decisions(
        spark.read.parquet(out)).collect()
    dt = time.time() - t0
    for f in cleanup:
        f.unpersist()
    kept = {r.rule_id: r.pass_count for r in metrics}.get("dedup", 0)
    log(f"pipeline: {dt:.1f}s, {n_rows / dt:.0f} docs/s, kept={kept}")
    return {"sec": dt, "docs_per_sec": n_rows / dt, "rows": n_rows}


HEADLINE_QUERIES = [
    "heuristic_gate", "token_stats", "iqr_outliers", "topk_per_type",
    "membership_semijoin", "chronology", "rowsum_check",
    "minhash_lsh_neardup", "embedding_knn", "fingerprint",
    "c1_neardup_rescue", "iqr_group_score", "simhash_buckets",
    "ivf_knn", "cosine_allpairs", "paragraph_dedup", "repetition_topngram",
    "asof_join", "sessionize", "range_join", "hypertable_rollup",
    "canonical_url", "fuzzy_dedup_decisions", "decontaminate",
    "token_budget_sample", "incremental_dedup", "quality_buckets",
    "quality_classifier", "simhash_neardup", "image_features",
    "audio_features", "html_extract", "sequence_pack", "stratified_split",
    "bpe_tokenize", "domain_stats", "corpus_ngrams",
    "length_percentiles", "snapshot_diff", "substring_dedup",
    "mixture_rebalance", "sb_lm_score", "bm25_topk", "rolling_anomaly",
    "embedding_outliers", "bpe_pack", "region_revenue", "source_overlap",
    "semdedup", "domain_blocklist", "dsir_select", "token_drift",
    "textrank_keywords", "kmeans_clusters", "c4_line_filter",
    "gopher_line_flags", "embedding_neardup", "pii_stats",
    "rule_ablation", "readability", "minhash_error",
    "dedup_cluster_stats", "langid_confusion",
    # round-5 exact flips (driver window): the portable fixed-point langid
    # confusion and the FULL portable pipeline DAG over documents
    "langid_scores", "pages_pipeline",
    # round-5 late additions: per-host boilerplate line removal and top-K
    # vocabulary coverage (both exact-oracle, driver window)
    "boilerplate_lines", "vocab_coverage",
    # round-5 evaluation-harness additions: pairwise rule kappa, encoding-
    # anomaly stats, classifier-vs-gate PR sweep (exact-oracle, window)
    "rule_agreement", "mojibake_stats", "filter_pr_curve",
    # round-5: per-document sliding-window chunking (byte-exact, window)
    "chunk_windows",
    # round-5 late additions: Gopher A1.2 repetition signals (zero-shuffle
    # HOF projection) and the host-level link graph (outlink UDF +
    # canonical_url + one hash-agg shuffle) — both exact-oracle, window
    "gopher_repetition", "link_graph",
    # round-5 late addition: URL-shape quality signals (zero-shuffle
    # codegen projection over events) — exact-oracle, window
    "url_features",
    # round-5 late addition: winnowing fingerprints (Arrow UDF pass,
    # zero shuffle) — exact-oracle, window
    "winnow_fingerprint",
    # round-5 late addition: within-doc keep-first line dedup (byte-exact
    # rebuild, zero shuffle) — exact-oracle, window
    "trim_dup_lines",
    # round-5 late addition: one-pass corpus data card (single reduce to
    # one row) — exact-oracle, window
    "corpus_datacard",
    # round-5 late addition: lexicon toxicity scoring (one codegen
    # projection) — exact-oracle, past-window sweep
    "toxicity_score",
    # round-5 late addition: Dolma-style attribute spans (projection +
    # posexplode, zero shuffle) — exact-oracle, past-window sweep
    "attribute_spans",
    # round-5 late addition: keep-rate threshold calibration by
    # distributed exact selection (<=13 bounded-collect passes over one
    # persisted long column, no sort) — exact-oracle, past-window sweep
    "threshold_calibration",
    # NOT here: leakage_safe_split — its registry form builds edges with
    # the same O(n²) exact all-pairs witness as neardup_components
    # (deliberately absent from this list since round 2; measured 443.8s
    # at sf0.1, /tmp/bench_r5_auto2). Both are oracle-scale correctness
    # witnesses; the production composition rides fuzzy_dedup's banded
    # LSH candidates, benched via fuzzy_dedup_decisions above.
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    pipeline_only = "--pipeline-only" in sys.argv

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from dataquality_spark.session import get_spark
    from dataquality_spark import queries as Q
    from tools.cpu_window import at_speed, classify, probe

    # Window evidence rides the artifact itself: the host is co-tenant and
    # bursty (round-4 adjudication), so every bench line records a CPU
    # probe taken before Spark starts and after it stops. bench_compare
    # refuses to emit an automated regression verdict across mismatched
    # windows. Probing before AND after bounds the window for the whole
    # run — a burst that starts mid-suite still shows in the exit probe.
    #
    # If the entry probe reads degraded, WAIT for a quiet window (bounded:
    # the bursts observed in r3/r4 lasted seconds-to-minutes, and a bench
    # started degraded is a wasted run that understates the build — the
    # round-4 close-out artifacts cost exactly this). Override budget with
    # SPARK_GRAFT_QUIET_WAIT_SEC=0 to start immediately.
    # The wait gates on BOTH the fraction label and the absolute host-speed
    # floor (at_speed): r5 try 2 showed a uniformly throttled host passes
    # the fraction gate while inflating the suite ~1.3× — see cpu_window.py.
    wait_budget = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_SEC", "240"))
    t_wait0 = time.time()

    def _entry_ok(p):
        return classify(p) != "degraded" and at_speed(p)

    probe_before = probe()
    log(f"cpu probe (before): {probe_before} → {classify(probe_before)}"
        f"{'' if at_speed(probe_before) else ' (host throttled)'}")
    while (not _entry_ok(probe_before)
           and time.time() - t_wait0 < wait_budget):
        log(f"degraded/throttled entry window — waiting for quiet "
            f"({wait_budget - (time.time() - t_wait0):.0f}s budget left)")
        time.sleep(15)
        probe_before = probe()
        log(f"cpu probe (before): {probe_before} → {classify(probe_before)}"
            f"{'' if at_speed(probe_before) else ' (host throttled)'}")

    sf = sf_from_dir(sf_dir)
    n_pages = max(2000, int(6_000_000 * sf))
    # explicit corpus-size override: the scaling harness (bench_scaling.py)
    # pins a row floor so the ratio measures steady-state throughput, not
    # fixed job/JVM/commit costs (see BENCH/BASELINE.md scaling-history note)
    n_pages = int(os.environ.get("SPARK_GRAFT_PIPELINE_ROWS", n_pages))
    spark = get_spark(app_name="dq_bench", master=f"local[{cpus}]")
    log(f"bench: sf={sf} sf_dir={sf_dir} cpus={cpus} n_pages={n_pages}")

    pages_path = ensure_pages(spark, n_pages)

    # Warm to JIT STEADY STATE on a 10% slice, exercising the same code
    # paths as the timed run — including the decisions parquet WRITE (a
    # count()-only warm pass leaves the writer path interpreted). Measured
    # on an idle host: a 5k-row count-warm left the timed 600k run at
    # ~13-15k docs/s while a second same-process run hit ~19k — the gap was
    # C2 compilation of the codegen'd stages, not host noise. Steady-state
    # is the honest 100TB metric: cold-start amortizes to nothing over an
    # hours-long job. Artifact training (incl. the quality classifier's
    # lru-cached one) also happens here, outside any timed region.
    warm = ensure_pages(spark, max(5000, n_pages // 10), seed=7)
    from dataquality_spark import pipeline as P
    from dataquality_spark.models import quality
    quality.load_quantized_artifact()  # the registered query's artifact
    # portable fixed-point artifacts (langid_scores / pages_pipeline rows):
    # driver-side one-time training belongs in warm-up, not the timed query
    from dataquality_spark.models import langid as _L, ngram_lm as _LM
    _L.get_portable_langid()
    _LM.get_portable_lm()
    cleanup = []
    ann = P.run_pipeline(spark, spark.read.parquet(warm), cleanup=cleanup)
    shutil.rmtree("/tmp/dq_bench_warm_out", ignore_errors=True)
    P.decisions_table(ann).write.mode("overwrite").parquet(
        "/tmp/dq_bench_warm_out")
    for f in cleanup:
        f.unpersist()
    # settle: C2 compilation of the warm pass's codegen'd stages runs on
    # BACKGROUND JVM threads — timing the 600k run immediately after the
    # warm write still catches stages mid-compile. Measured A/B (r4): no
    # settle 37-41s, 10s settle 34.2s; round-3 got this settle by accident
    # (its warm phase trained the 9s crc quality artifact on the driver).
    time.sleep(10)

    pipe = bench_pipeline(spark, pages_path, n_pages)

    qsecs: dict[str, float] = {"pipeline": round(pipe["sec"], 3)}
    if not pipeline_only:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        for name in HEADLINE_QUERIES:
            fn = Q.QUERIES[name]
            t0 = time.time()
            out = fn(spark, sf_dir)
            # noop sink: forces FULL materialization of every output column.
            # A bare .count() lets Catalyst prune projection-only work —
            # including Arrow UDF columns — so it times the scan, not the
            # query (measured: bpe_tokenize's UDF node vanishes from the
            # count() plan entirely). The row count rides the SAME pass via
            # observe() — a second count() action would re-execute the query.
            obs = Observation()
            (out.observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
            qsecs[name] = round(time.time() - t0, 3)
            n = obs.get["n"]
            # release THIS query's pins (LSH signature frames, prefix-sum
            # range partitioning) — outside the timed region: release is
            # bookkeeping, not query work
            Q.release_cached(out)
            log(f"query {name}: {qsecs[name]}s ({n} rows)")

    total = round(sum(qsecs.values()), 3)
    spark.stop()
    probe_after = probe()
    log(f"cpu probe (after): {probe_after} → {classify(probe_after)}")
    # the run's window is the WORSE of the two bracketing probes
    labels = [classify(probe_before), classify(probe_after)]
    window = "degraded" if "degraded" in labels else "quiet"
    result = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": qsecs,
        "sf": sf,
        "pipeline_docs_per_sec": round(pipe["docs_per_sec"], 1),
        "pipeline_rows": pipe["rows"],
        "cpus": cpus,
        "cpu_probe_before": probe_before,
        "cpu_probe_after": probe_after,
        "window": window,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
