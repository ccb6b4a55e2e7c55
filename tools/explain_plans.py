"""Dump physical plans of the flagship pipeline + headline queries to
PLANS.md, with the scale-relevant properties called out (pushed filters,
codegen spans, exchange count, join strategies). Evidence artifact for plan
review — regenerate after plan-shape changes:

    python tools/explain_plans.py
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> str:
    checks = {
        "Exchanges (shuffles)": len(re.findall(r"\bExchange\b", plan)),
        "BroadcastExchange": plan.count("BroadcastExchange"),
        "WholeStageCodegen spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "ArrowEvalPython (vectorized UDF) nodes": len(set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))),
        "Row-at-a-time BatchEvalPython nodes": len(set(re.findall(r"\((\d+)\) BatchEvalPython", plan))),
        "PushedFilters present": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "CartesianProduct": plan.count("CartesianProduct"),
        "SortMergeJoin": plan.count("SortMergeJoin"),
        "ShuffledHashJoin": plan.count("ShuffledHashJoin"),
    }
    return "\n".join(f"- {k}: {v}" for k, v in checks.items())


def main():
    from pyspark.sql import functions as F

    from dataquality_spark import pipeline as P
    from dataquality_spark import queries as Q
    from dataquality_spark.session import get_spark
    from dataquality_spark.synth import generate_pages

    spark = get_spark(app_name="explain", master="local[4]")
    sf = "/root/testdata/sf0.01"
    sections = []

    pages = generate_pages(spark, 1000, seed=42)
    ann = P.run_pipeline(spark, pages)
    sections.append(("pipeline (pages → decisions)", formatted(ann)))

    for name in ["heuristic_gate", "iqr_outliers", "membership_semijoin",
                 "topk_per_type", "minhash_lsh_neardup", "embedding_knn",
                 "c1_neardup_rescue", "iqr_group_score", "null_assoc_screen",
                 "scrub_documents", "multimodal_decode", "simhash_buckets",
                 "cosine_allpairs", "embedding_neardup", "ivf_knn",
                 "normalize_text", "paragraph_dedup", "repetition_topngram",
                 "asof_join", "sessionize", "range_join", "hypertable_rollup",
                 "neardup_components", "token_budget_sample", "decontaminate",
                 "incremental_dedup", "quality_buckets", "quality_classifier",
                 "fuzzy_dedup_decisions", "image_features", "audio_features",
                 "html_extract", "sequence_pack", "bpe_tokenize",
                 "domain_stats", "corpus_ngrams", "length_percentiles",
                 "snapshot_diff", "substring_dedup", "mixture_rebalance",
                 "sb_lm_score", "bm25_topk", "rolling_anomaly",
                 "embedding_outliers", "bpe_pack", "region_revenue",
                 "source_overlap", "semdedup", "domain_blocklist",
                 "dsir_select", "token_drift", "c4_line_filter",
                 "gopher_line_flags", "pii_stats", "rule_ablation",
                 "readability", "minhash_error", "dedup_cluster_stats",
                 "langid_confusion", "textrank_keywords", "kmeans_clusters",
                 "langid_scores", "pages_pipeline", "boilerplate_lines",
                 "vocab_coverage", "rule_agreement", "mojibake_stats",
                 "filter_pr_curve", "chunk_windows", "gopher_repetition",
                 "link_graph", "url_features", "winnow_fingerprint",
                 "trim_dup_lines", "corpus_datacard", "leakage_safe_split",
                 "toxicity_score", "attribute_spans",
                 "threshold_calibration"]:
        sections.append((f"query: {name}", formatted(Q.QUERIES[name](spark, sf))))

    with open("/root/repo/PLANS.md", "w") as f:
        f.write("# PLANS — physical-plan review artifacts\n\n")
        f.write("Generated by `tools/explain_plans.py`. The summary block "
                "before each plan lists the scale-relevant properties "
                "(shuffle count, codegen spans, join strategies, Python "
                "node types — Arrow-vectorized only, never row-at-a-time)."
                "\n\n")
        for title, plan in sections:
            f.write(f"## {title}\n\n{summarize(plan)}\n\n"
                    f"```\n{plan.strip()}\n```\n\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
