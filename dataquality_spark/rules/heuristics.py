"""Gopher/C4-style heuristic quality rules as native DataFrame expressions.

This is the Spark analogue of one reference test run — select → flag → score →
evidence subset (`dimensions/accuracy/a1.py:34-72` shape) — except all rules
are computed in ONE projection over ONE scan (the reference re-reads the input
per test, `a1.py:36-40`; Catalyst gives us column pruning + codegen for free,
SURVEY.md §4.1-4.2).

Flag-column convention mirrors the reference's `{col}_invalid` /
`{col}_inconsistent` evidence columns (`dimensions/consistency/c4.py:46`,
`c5.py:62-66`): one boolean ``r_{rule}`` per rule, True = PASS.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataquality_spark import spec
from dataquality_spark.functions import text as TX

# stat columns added by with_text_stats
STAT_COLS = [
    "word_cnt",
    "mean_wlen",
    "alpha_frac",
    "symbol_frac",
    "stop_cnt",
    "stop_frac",
    "dupline_frac",
]


def with_text_stats(df: DataFrame, text_col: str = "text",
                    lang_col: str = "lang",
                    precomputed: bool = False) -> DataFrame:
    """Append the canonical text statistics (spec.py).

    Uses the single-pass regexp_count forms (functions/text.py §regex stats)
    — whole-stage-codegen'd, no interpreted higher-order functions in the
    hot path; token-equivalence with the array forms is oracle-tested.
    (A Python-side PER-ROW counter inside the fused UDF was prototyped and
    measured SLOWER than these JVM passes — ~240µs/row for the token loop
    vs ~10µs/row here — so the standalone path keeps the regex forms.)

    ``precomputed=True`` is the fused-pipeline fast path: the Arrow UDF
    stage already emitted the fixed-ASCII-class counts (``word_cnt``,
    ``nonws_len``, ``symbol_cnt``, ``nb_lines``, ``nb_distinct`` —
    ``functions/stats_batch``, bit-identical to the JVM forms and
    parity-tested), so only the Unicode-table-sensitive stats
    (``alpha_frac``'s ``\\p{L}`` class, stopword ``lower()``) and the
    fraction arithmetic — spelled EXACTLY like the default branch so the
    IEEE results match bit-for-bit — run in the JVM. The helper count
    columns are dropped; the output schema is identical either way.

    Each dependency layer is one projection (every DataFrame call
    re-analyzes the whole plan), and the expressions are built once per
    process (``_stat_layers``).
    """
    layers = _stat_layers(text_col, lang_col, precomputed)
    for layer in layers[:-1]:
        df = df.withColumns(dict(layer))
    if not precomputed:
        return df.withColumns(dict(layers[-1]))
    keep = [c for c in df.columns if c not in _FUSED_HELPERS]
    return df.select(*keep, *(e.alias(n) for n, e in layers[-1]))


# the fused UDF's count columns that only feed the precomputed stats
_FUSED_HELPERS = frozenset(("nonws_len", "symbol_cnt", "nb_lines",
                            "nb_distinct", "letterless", "stop_cnts"))


@functools.lru_cache(maxsize=16)
def _stat_layers(text_col: str, lang_col: str, precomputed: bool
                 ) -> tuple[tuple[tuple[str, Column], ...], ...]:
    """The stat expressions of ``with_text_stats`` grouped into dependency
    layers, in output column order. Built once per argument set: the
    13-language stopword CASE alone is ~100 expression-builder calls."""
    t = F.col(text_col)
    wc = F.col("word_cnt")
    stop_frac = F.when(wc > 0, F.col("stop_cnt") / wc).otherwise(F.lit(None))
    if precomputed:
        return (
            (("mean_wlen",
              F.when(wc > 0, F.col("nonws_len") / wc).otherwise(F.lit(None))),
             # letterless / stop_cnts: the gated ASCII fast-path counts —
             # NULL rows (gate-rejected) fall back to the regex forms
             # inside the helpers, so the regex passes run only on the
             # non-ASCII residue (functions/stats_batch)
             ("alpha_frac", TX.alpha_ratio_rx(t, wc, pre=F.col("letterless"))),
             ("symbol_frac",
              F.when(wc > 0, F.col("symbol_cnt") / wc).otherwise(F.lit(None))),
             ("stop_cnt", TX.stopword_count_rx(t, F.col(lang_col),
                                               pre=F.col("stop_cnts")))),
            (("stop_frac", stop_frac),
             ("dupline_frac",
              F.when(F.col("nb_lines") > 0,
                     F.lit(1.0) - F.col("nb_distinct") / F.col("nb_lines"))
              .otherwise(F.lit(None)))),
        )
    return (
        (("word_cnt", TX.word_count_rx(t)),),
        (("mean_wlen", TX.mean_word_len_rx(t, wc)),
         ("alpha_frac", TX.alpha_ratio_rx(t, wc)),
         ("symbol_frac",
          F.when(wc > 0, TX.symbol_count(t) / wc).otherwise(F.lit(None))),
         ("stop_cnt", TX.stopword_count_rx(t, F.col(lang_col)))),
        (("stop_frac", stop_frac),
         ("dupline_frac", TX.dup_line_fraction(t))),
    )


def rule_flags(text_col: str = "text",
               params: dict | None = None) -> dict[str, Column]:
    """Boolean PASS flag per heuristic rule, over the stat columns.

    ``params``: optional overrides validated against the typed registry in
    ``dataquality_spark.metadata`` (the reference's create_metadata analogue)
    — defaults are the ``spec`` constants."""
    from dataquality_spark.metadata import validate_params
    p = validate_params(params)
    c = F.col
    return {
        "nonempty": ~TX.is_blank(c(text_col)),
        "min_words": c("word_cnt") >= p["min_words"],
        "max_words": c("word_cnt") <= p["max_words"],
        "mean_word_len": c("mean_wlen").isNotNull()
        & c("mean_wlen").between(p["min_mean_word_len"],
                                 p["max_mean_word_len"]),
        "alpha_ratio": c("alpha_frac").isNotNull()
        & (c("alpha_frac") >= p["min_alpha_ratio"]),
        "symbol_ratio": c("symbol_frac").isNotNull()
        & (c("symbol_frac") <= p["max_symbol_ratio"]),
        "stopword_ratio": c("stop_frac").isNotNull()
        & (c("stop_frac") >= p["min_stopword_ratio"])
        & (c("stop_cnt") >= p["min_stopword_count"]),
        "dup_lines": c("dupline_frac").isNotNull()
        & (c("dupline_frac") <= p["max_dup_line_fraction"]),
    }


def with_rule_flags(df: DataFrame, text_col: str = "text",
                    lang_col: str = "lang",
                    params: dict | None = None,
                    precomputed_stats: bool = False) -> DataFrame:
    """stats + one ``r_{rule}: boolean`` column per heuristic rule +
    ``heuristic_pass`` conjunction. No shuffle.
    ``precomputed_stats`` — see ``with_text_stats``."""
    df = with_text_stats(df, text_col, lang_col, precomputed=precomputed_stats)
    flags = (dict(_default_flags(text_col)) if params is None
             else rule_flags(text_col, params))
    return (df.withColumns({f"r_{r}": flag for r, flag in flags.items()})
            .withColumn("heuristic_pass", _heuristic_pass()))


@functools.lru_cache(maxsize=16)
def _default_flags(text_col: str) -> tuple[tuple[str, Column], ...]:
    """``rule_flags`` at the default parameters, built once per process."""
    return tuple(rule_flags(text_col).items())


@functools.lru_cache(maxsize=1)
def _heuristic_pass() -> Column:
    conj = F.lit(True)
    for r in spec.HEURISTIC_RULES:
        conj = conj & F.col(f"r_{r}")
    return conj


def rule_counts(passed: Column) -> tuple[Column, Column]:
    """The per-rule counts, as aggregate expressions: rows where the rule
    passed, rows where it failed (a NULL flag counts as neither). The one
    definition behind ``rule_metrics``, ``pipeline.metrics_from_decisions``
    and the checkpoint lineage."""
    return (F.count(F.when(passed, 1)), F.count(F.when(~passed, 1)))


def rule_score(pass_count: Column, fail_count: Column) -> Column:
    """score = 1 - failure rate, rounded to 6 places; NULL with no counts."""
    total = pass_count + fail_count
    return F.when(total > 0, F.round(pass_count / total, 6))


def rule_metrics(df: DataFrame, rules: list[str] | None = None) -> DataFrame:
    """Per-rule pass/fail counts + score in ONE aggregation pass.

    Spark analogue of the reference's per-test score dicts
    (`dimensions/accuracy/dimension_reference.py:80,100-101`): score =
    1 - failure_rate (G-1 `a4.py:50`). Partial aggregation (map-side combine)
    makes this a single cheap job even at 10^12 rows.
    """
    rules = rules or [r for r in spec.ALL_RULES if f"r_{r}" in df.columns]
    aggs = []
    for r in rules:
        p, f = rule_counts(F.col(f"r_{r}").cast("boolean"))
        aggs += [p.alias(f"{r}__pass"), f.alias(f"{r}__fail")]
    wide = df.agg(*aggs)
    # unpivot wide one-row frame → (rule_id, pass_count, fail_count, score)
    pairs = ", ".join(
        f"'{r}', named_struct('p', `{r}__pass`, 'f', `{r}__fail`)" for r in rules
    )
    return (
        wide.selectExpr(f"stack({len(rules)}, {pairs}) as (rule_id, pf)")
        .select(
            "rule_id",
            F.col("pf.p").alias("pass_count"),
            F.col("pf.f").alias("fail_count"),
            rule_score(F.col("pf.p"), F.col("pf.f")).alias("score"),
        )
    )
