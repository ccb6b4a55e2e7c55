#!/usr/bin/env python
"""Interactive data-quality runner — the engine's analogue of the
reference's second entry surface, the Streamlit UI
(`/root/reference/ui_tool/dq_ui.py:55-185`: upload → metadata-driven
parameter forms → weights → run → grade → output log). Re-expressed as a
dependency-free terminal tool so it works on a cluster edge node over ssh
and doubles as a scriptable CLI for CI; the underlying engine calls are
the same distributed one-pass aggregations the batch pipeline uses — the
interactivity is all driver-side.

Flow parity with the reference UI:

  ===========================  ==========================================
  dq_ui.py                     here
  ===========================  ==========================================
  file_uploader + read_data    DATASET arg (csv/xlsx/parquet) via
                               sources.read_data — same dispatch
  "View Uploaded Dataset"      schema + row count + head printed
  dimension/test multiselect   --rules a,b,c or interactive picker
  metadata-driven param form   rule_metadata() descriptors drive typed
                               prompts; invalid input → warn + default
                               (the reference's error path, dq_ui.py:110-117)
  test + dimension weights     --rule-weights / --dim-weights or prompt;
                               are_weights_valid → warn + uniform fallback
  "Calculate Data Quality"     ONE rule_metrics aggregation pass
  final grade + output logs    grade ladder print + optional run-log
                               append (ManifestCatalog) + XLSX export in
                               the reference's DQS_Output_Log schema
  ===========================  ==========================================

Usage:
    python dq_tool.py data.parquet                      # all rules, defaults
    python dq_tool.py data.csv --interactive            # prompt-driven
    python dq_tool.py data.parquet --rules min_words,max_words,dedup \
        --set min_words=20 \
        --rule-weights "{'min_words': 0.4, 'max_words': 0.6}" \
        --log-dir /tmp/dq_catalog --export-xlsx /tmp/dq_log.xlsx

Weights follow the reference's PER-DIMENSION contract (dq_ui.py collects
them on one form per dimension): a dimension's weights must cover ALL of
its selected rules and sum to >= 1.0, or that dimension warns and falls
back to uniform. Above, min_words/max_words are both accuracy (0.4+0.6=1);
dedup's dimension takes uniform weights.
"""

from __future__ import annotations

import argparse
import json
import sys

from dataquality_spark import spec
from dataquality_spark.metadata import rule_metadata, validate_params
from dataquality_spark.runlog import one_line_summary, rule_dimension
from dataquality_spark.scoring import (are_weights_valid, calculate_grade,
                                       calculate_dimension_score)

DEDUP_RULE = "dedup"


def _say(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _prompt(text: str, default: str = "") -> str:
    """EOF-safe input(): piped/closed stdin falls back to the default,
    so --interactive in a non-tty harness degrades to defaults instead
    of crashing."""
    try:
        raw = input(f"{text} ").strip()
    except EOFError:
        return default
    return raw or default


def known_rules() -> list[str]:
    return spec.HEURISTIC_RULES + [DEDUP_RULE]


def select_rules(arg: str | None, interactive: bool) -> list[str]:
    """--rules wins; else the interactive picker; else all rules (the
    reference runs every test of a dimension when none are singled out)."""
    if arg:
        rules = [r.strip() for r in arg.split(",") if r.strip()]
        unknown = [r for r in rules if r not in known_rules()]
        if unknown:
            raise SystemExit(f"unknown rules {unknown}; known: {known_rules()}")
        return rules
    if not interactive:
        return known_rules()
    _say("Rules (dimension) — enter to include all:")
    for r in known_rules():
        _say(f"  {r:16s} ({rule_dimension(r)})")
    raw = _prompt("Comma-separated rules [all]:")
    try:
        return select_rules(raw or None, False)
    except SystemExit as e:
        # interactive typos warn and fall back, like the parameter prompts
        # (the reference UI's error path) — only scripted input dies loud
        _say(f"  ! {e} — including all rules")
        return known_rules()


def gather_params(rule_ids: list[str], set_pairs: list[str],
                  interactive: bool) -> dict:
    """Typed parameter collection. Scripted: --set name=value pairs, parsed
    as JSON scalars/lists then validated (hard error — CI wants loud).
    Interactive: one prompt per parameter of each selected rule, rendered
    from the metadata descriptors; invalid entries warn and fall back to
    the default, mirroring the reference UI's error path."""
    overrides: dict[str, object] = {}
    for pair in set_pairs:
        name, _, raw = pair.partition("=")
        if not _:
            raise SystemExit(f"--set expects name=value, got {pair!r}")
        try:
            overrides[name] = json.loads(raw)
        except json.JSONDecodeError:
            overrides[name] = raw  # bare strings allowed
    if interactive:
        meta = {m["rule_id"]: m for m in rule_metadata()}
        for rid in rule_ids:
            for p in meta.get(rid, {"parameters": ()})["parameters"]:
                bounds = "".join([
                    f" min={p['min']}" if p["min"] is not None else "",
                    f" max={p['max']}" if p["max"] is not None else ""])
                raw = _prompt(
                    f"{p['title']} [{p['name']}={p['default']}{bounds}]:")
                if not raw:
                    continue
                try:
                    parsed = json.loads(raw)
                except json.JSONDecodeError:
                    parsed = raw
                try:
                    validate_params({p["name"]: parsed})
                    overrides[p["name"]] = parsed
                except ValueError as e:
                    _say(f"  ! {e} — using default {p['default']} "
                         f"(reference behavior)")
    return validate_params(overrides)  # scripted typos raise here


def compute_metrics(spark, df, rule_ids: list[str], params: dict,
                    text_col: str, lang_col: str,
                    id_cols: tuple[str, str]) -> list[dict]:
    """Flag every selected rule in one projection (+ the dedup shuffle when
    selected), then ONE aggregation pass → rule_metrics rows. Heuristic
    flagging only runs when a heuristic rule is actually selected (the
    reference UI computes selected tests only — advisor-flagged: a
    dedup-only run on a dataset without text/lang columns used to die in
    with_rule_flags with an AnalysisException instead of running dedup)."""
    from dataquality_spark.rules.heuristics import rule_metrics, with_rule_flags
    flagged = df
    if any(r != DEDUP_RULE for r in rule_ids):
        missing = [c for c in (text_col, lang_col) if c not in df.columns]
        if missing:
            raise SystemExit(
                f"heuristic rules need columns "
                f"[{text_col!r}, {lang_col!r}] (missing {missing}); pass "
                f"--text-col/--lang-col or select only dedup via --rules")
        flagged = with_rule_flags(flagged, text_col, lang_col, params)
    if DEDUP_RULE in rule_ids:
        missing = [c for c in id_cols if c not in df.columns]
        if missing:
            raise SystemExit(
                f"dedup winner ordering needs columns {list(id_cols)} "
                f"(missing {missing}); pass --id-cols col1,col2")
        if text_col not in df.columns:
            raise SystemExit(
                f"dedup hashes the text column ({text_col!r} not in the "
                f"dataset); pass --text-col")
        from dataquality_spark.operators.dedup import with_dedup_flag
        flagged = with_dedup_flag(flagged, id_cols=id_cols,
                                  text_col=text_col)
    return [r.asDict() for r in
            rule_metrics(flagged, rule_ids).collect()]


def grade_metrics(metrics: list[dict], rule_weights, dim_weights
                  ) -> tuple[list[dict], str]:
    """Group rule scores into dimensions, score each with (validated) rule
    weights, grade the dimension scores with (validated) dimension
    weights — the reference UI's two-level weighting, including its
    warn-and-fall-back-to-uniform path."""
    from dataquality_spark.scoring import parse_weights
    by_dim: dict[str, list[dict]] = {}
    for m in metrics:
        by_dim.setdefault(rule_dimension(m["rule_id"]), []).append(
            {"test": m["rule_id"], "value": m["score"]})
    # the reference UI collects weights on per-dimension forms; the flat
    # --rule-weights dict is parsed once here (same sanitize+literal_eval
    # as the library path), then each dimension validates ITS subset
    # (count + sum rules) and falls back to uniform with a warning —
    # dq_ui.py:161-164 behavior
    rw: dict = {}
    if rule_weights:
        parsed = parse_weights(rule_weights)
        if parsed is None:
            _say("! rule weights unparseable — using uniform defaults "
                 "(reference behavior)")
        else:
            rw = parsed
    dim_scores = []
    for d, scores in sorted(by_dim.items()):
        subset = {k: v for k, v in rw.items()
                  if k in {s["test"] for s in scores}}
        validated, ok = are_weights_valid(subset, scores) if subset \
            else ({}, True)
        if subset and not ok:
            _say(f"! weights for dimension {d} invalid (must cover ALL its "
                 f"selected rules and sum to >= 1.0) — using uniform "
                 "defaults (reference behavior)")
        dim_scores.append(calculate_dimension_score(d, scores,
                                                    validated or {}))
    dw, ok = are_weights_valid(dim_weights or {}, dim_scores,
                               kind="dimension")
    if dim_weights and not ok:
        _say("! dimension weights invalid — using uniform defaults "
             "(reference behavior)")
    return dim_scores, calculate_grade(dim_scores, dw or {})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dataset", help="csv/xlsx/parquet path")
    ap.add_argument("--rules", default=None,
                    help=f"comma list from {known_rules()}; default all")
    ap.add_argument("--set", action="append", default=[], metavar="NAME=VAL",
                    help="typed parameter override (repeatable)")
    ap.add_argument("--rule-weights", default="",
                    help="dict literal {'rule': w, ...} (reference format)")
    ap.add_argument("--dim-weights", default="",
                    help="dict literal {'dimension': w, ...}")
    ap.add_argument("--interactive", action="store_true",
                    help="prompt for rules and parameters")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--lang-col", default="lang")
    ap.add_argument("--id-cols", default="warc_ts,url",
                    help="dedup winner-ordering columns")
    ap.add_argument("--log-dir", default=None,
                    help="ManifestCatalog root: append this run's log")
    ap.add_argument("--export-xlsx", default=None,
                    help="also export the run log as DQS_Output_Log xlsx")
    ap.add_argument("--head", type=int, default=5,
                    help="preview rows printed (0 to skip)")
    args = ap.parse_args(argv)
    if args.export_xlsx and not args.log_dir:
        # fail BEFORE any Spark work — the log lives in the catalog
        raise SystemExit("--export-xlsx needs --log-dir (the log lives in "
                         "the catalog)")

    rule_ids = select_rules(args.rules, args.interactive)
    params = gather_params(rule_ids, args.set, args.interactive)

    from dataquality_spark.session import get_spark
    from dataquality_spark.sources import read_data
    spark = get_spark(app_name="dq_tool")
    df = read_data(spark, args.dataset)

    # "View Uploaded Dataset": schema + bounded preview, never a collect
    _say(f"dataset: {args.dataset}")
    _say("schema: " + ", ".join(f"{c}:{t}" for c, t in df.dtypes))
    if args.head:
        for row in df.take(args.head):
            _say("  " + json.dumps(
                {k: (str(v)[:40] if v is not None else None)
                 for k, v in row.asDict().items()}, ensure_ascii=False))

    metrics = compute_metrics(spark, df, rule_ids, params,
                              args.text_col, args.lang_col,
                              tuple(c.strip() for c in
                                    args.id_cols.split(",") if c.strip()))
    dim_scores, grade = grade_metrics(metrics, args.rule_weights,
                                      args.dim_weights)

    _say("")
    _say(f"{'rule':16s} {'dimension':14s} {'pass':>8s} {'fail':>8s} "
         f"{'score':>8s}  summary")
    for m in metrics:
        score = "n/a" if m["score"] is None else f"{m['score']:.4f}"
        _say(f"{m['rule_id']:16s} {rule_dimension(m['rule_id']):14s} "
             f"{m['pass_count']:8d} {m['fail_count']:8d} {score:>8s}  "
             f"{one_line_summary(m['rule_id'], m['pass_count'], m['fail_count'])}")
    for d in dim_scores:
        _say(f"dimension {d['dimension']:14s} score {d['score']:.4f}")
    _say(f"Calculated Data Quality: {grade}")

    if args.log_dir:
        from dataquality_spark.catalog import ManifestCatalog
        from dataquality_spark.runlog import append_run_log, export_run_log_xlsx
        cat = ManifestCatalog(args.log_dir)
        snap = append_run_log(spark, cat, args.dataset, metrics)
        _say(f"run log appended: snapshot {snap} in {args.log_dir}")
        if args.export_xlsx:
            export_run_log_xlsx(spark, cat, args.export_xlsx)
            _say(f"run log exported: {args.export_xlsx}")

    # the machine-readable result goes to STDOUT (stderr carries the chrome)
    print(json.dumps({
        "grade": grade,
        "dimension_scores": {d["dimension"]: round(d["score"], 6)
                             for d in dim_scores},
        "rules": {m["rule_id"]: m["score"] for m in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
