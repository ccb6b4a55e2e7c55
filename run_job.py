"""spark-submit entry point for the quality pipeline.

Usage (cluster):
    python tools/package.py                       # → dist/dataquality_spark.zip
    spark-submit --py-files dist/dataquality_spark.zip run_job.py \
        --input /path/to/pages_parquet --output /path/to/run_dir \
        --chunks 64 [--synthetic N]

Resumes automatically: completed chunks (committed state files under
``<output>/_state/``) are skipped, so re-submitting after an executor/driver
loss continues exactly where the run stopped (north-rule checkpoint
contract; see dataquality_spark/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--input-warc", help="WARC archive dir/glob (.warc/.warc.gz) "
                    "— crawl bytes in, text extracted + language inferred")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True, help="run directory")
    ap.add_argument("--chunks", type=int, default=8)
    ap.add_argument("--master", default=None)
    ap.add_argument("--with-classifier", action="store_true",
                    help="gate keep on the learned quality classifier too "
                         "(fused into the model UDF; adds the 'quality' rule)")
    args = ap.parse_args()

    from dataquality_spark import scoring
    from dataquality_spark.checkpoint import lineage, run_checkpointed
    from dataquality_spark.session import get_spark
    from dataquality_spark.synth import generate_pages

    spark = get_spark(app_name="dq_run", master=args.master)
    lang_optional = False
    if args.synthetic:
        pages = generate_pages(spark, args.synthetic, seed=42)
    elif args.input_warc:
        from dataquality_spark.sources.warc import crawl_pages
        pages, lang_optional = crawl_pages(spark, args.input_warc), True
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        ap.error("need --input, --input-warc, or --synthetic")

    summary = run_checkpointed(spark, pages, args.output,
                               n_chunks=args.chunks,
                               with_classifier=args.with_classifier,
                               lang_optional=lang_optional)
    rows = lineage(args.output)
    agg: dict[str, dict] = {}
    for r in rows:
        for m in r["rule_metrics"]:
            a = agg.setdefault(m["rule_id"], {"pass": 0, "fail": 0})
            a["pass"] += m["pass_count"]
            a["fail"] += m["fail_count"]
    metrics = [
        {"rule_id": k, "score": v["pass"] / max(v["pass"] + v["fail"], 1)}
        for k, v in agg.items()
    ]
    grade = scoring.grade_from_metrics(metrics)
    print(json.dumps({
        "chunks_completed": summary["completed"],
        "rows_in": sum(r["rows_in"] for r in rows),
        "rows_kept": sum(r["rows_kept"] for r in rows),
        "dimension_score": round(grade["dimension_score"], 6),
        "grade": grade["grade"],
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
