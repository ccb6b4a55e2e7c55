"""Rule parameter-metadata surface — the Spark-first analogue of the
reference's UI metadata registry (`/root/reference/ui_tool/metadata.py:25-68`,
consumed by `dq_ui.py:86-143`, populated per test by each dimension's
``create_metadata()``, e.g. `dimensions/consistency/c1.py:159-168`).

The reference exposes every test parameter as a typed descriptor so its UI
can render input fields and route values back into the test constructor.
This engine's equivalent consumer is a config layer (CLI flags, a JSON job
spec, a notebook form): ``rule_metadata()`` enumerates every tunable rule
parameter with type/default/bounds, and ``validate_params()`` turns a user
override dict into the effective parameter set — type-coerced and
bounds-checked — which ``rules.heuristics.rule_flags(params=...)`` and the
dedup/near-dup operators accept. Defaults come from ``spec`` so there is
exactly one source of truth.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field
from enum import Enum

from dataquality_spark import spec
from dataquality_spark.runlog import rule_dimension


class ParameterType(Enum):
    """Subset of the reference's input vocabulary that is meaningful without
    an interactive UI (`ui_tool/metadata.py:8-19`)."""
    DECIMAL = "decimal"
    INTEGER = "integer"
    CHECKBOX = "checkbox"
    STRING_LIST = "string-list"
    SINGLE_SELECT = "single-select"


@dataclass(frozen=True)
class ParameterMetadata:
    """One tunable parameter (reference `ui_tool/metadata.py:57-68`)."""
    name: str
    title: str
    type: ParameterType
    default: object
    min: float | None = None
    max: float | None = None
    step: float = 0.01
    options: tuple = ()
    hint: str | None = None


@dataclass(frozen=True)
class RuleMetadata:
    """All parameters of one rule (reference ``TestMetadata``)."""
    rule_id: str
    dimension: str
    parameters: tuple[ParameterMetadata, ...] = field(default_factory=tuple)


def _p(name, title, type_, default, **kw) -> ParameterMetadata:
    return ParameterMetadata(name=name, title=title, type=type_,
                             default=default, **kw)


_REGISTRY: tuple[RuleMetadata, ...] = (
    RuleMetadata("min_words", rule_dimension("min_words"), (
        _p("min_words", "Minimum word count", ParameterType.INTEGER,
           spec.MIN_WORDS, min=0, step=1),)),
    RuleMetadata("max_words", rule_dimension("max_words"), (
        _p("max_words", "Maximum word count", ParameterType.INTEGER,
           spec.MAX_WORDS, min=1, step=1),)),
    RuleMetadata("mean_word_len", rule_dimension("mean_word_len"), (
        _p("min_mean_word_len", "Min mean word length",
           ParameterType.DECIMAL, spec.MIN_MEAN_WORD_LEN, min=0.0),
        _p("max_mean_word_len", "Max mean word length",
           ParameterType.DECIMAL, spec.MAX_MEAN_WORD_LEN, min=0.0),)),
    RuleMetadata("alpha_ratio", rule_dimension("alpha_ratio"), (
        _p("min_alpha_ratio", "Min alphabetic-word fraction",
           ParameterType.DECIMAL, spec.MIN_ALPHA_RATIO, min=0.0, max=1.0),)),
    RuleMetadata("symbol_ratio", rule_dimension("symbol_ratio"), (
        _p("max_symbol_ratio", "Max symbol/word ratio",
           ParameterType.DECIMAL, spec.MAX_SYMBOL_RATIO, min=0.0, max=1.0),)),
    RuleMetadata("stopword_ratio", rule_dimension("stopword_ratio"), (
        _p("min_stopword_ratio", "Min stop-word fraction",
           ParameterType.DECIMAL, spec.MIN_STOPWORD_RATIO, min=0.0, max=1.0),
        _p("min_stopword_count", "Min stop-word count",
           ParameterType.INTEGER, spec.MIN_STOPWORD_COUNT, min=0, step=1),)),
    RuleMetadata("dup_lines", rule_dimension("dup_lines"), (
        _p("max_dup_line_fraction", "Max duplicate-line fraction",
           ParameterType.DECIMAL, spec.MAX_DUP_LINE_FRACTION,
           min=0.0, max=1.0),)),
    RuleMetadata("lang_match", rule_dimension("lang_match"), (
        _p("min_langid_conf", "Min language-ID confidence",
           ParameterType.DECIMAL, spec.MIN_LANGID_CONF, min=0.0, max=1.0),)),
    RuleMetadata("perplexity", rule_dimension("perplexity"), (
        _p("iqr_factor", "Perplexity IQR outlier factor",
           ParameterType.DECIMAL, spec.IQR_FACTOR, min=0.0,
           hint="reference A2 default 1.5 (`accuracy/a2.py:23`)"),)),
    RuleMetadata("dedup", rule_dimension("dedup"), ()),
    RuleMetadata("near_dup", "consistency", (
        _p("near_dup_similarity", "Near-dup similarity threshold",
           ParameterType.DECIMAL, spec.NEAR_DUP_SIMILARITY,
           min=0.0, max=1.0,
           hint="reference C1 default 0.91 (`consistency/c1.py:22`)"),
        _p("max_bucket_size", "LSH hot-bucket cap", ParameterType.INTEGER,
           200, min=2, step=1),)),
)


def rule_metadata() -> list[dict]:
    """JSON-able registry — the ``create_metadata()`` analogue: one entry per
    rule, each with its typed parameter descriptors."""
    out = []
    for rm in _REGISTRY:
        d = asdict(rm)
        for p in d["parameters"]:
            p["type"] = p["type"].value
        out.append(d)
    return out


def default_params() -> dict[str, object]:
    """Flat {param_name: default} over every rule."""
    return {p.name: p.default for rm in _REGISTRY for p in rm.parameters}


def validate_params(overrides: dict[str, object] | None = None
                    ) -> dict[str, object]:
    """Merge ``overrides`` onto the defaults, coercing each value to its
    declared type and enforcing bounds. Unknown names and out-of-range or
    uncoercible values raise ``ValueError`` — the engine-side analogue of the
    reference UI's per-type input validation."""
    meta = {p.name: p for rm in _REGISTRY for p in rm.parameters}
    eff = default_params()
    for name, raw in (overrides or {}).items():
        p = meta.get(name)
        if p is None:
            raise ValueError(f"unknown parameter {name!r}; "
                             f"known: {sorted(meta)}")
        if p.type is ParameterType.INTEGER:
            if isinstance(raw, bool) or int(raw) != float(raw):
                raise ValueError(f"{name}: expected integer, got {raw!r}")
            v: object = int(raw)
        elif p.type is ParameterType.DECIMAL:
            v = float(raw)
        elif p.type is ParameterType.CHECKBOX:
            if not isinstance(raw, bool):
                raise ValueError(f"{name}: expected bool, got {raw!r}")
            v = raw
        elif p.type is ParameterType.STRING_LIST:
            if not (isinstance(raw, (list, tuple))
                    and all(isinstance(x, str) for x in raw)):
                raise ValueError(f"{name}: expected list[str], got {raw!r}")
            v = list(raw)
        else:
            if p.options and raw not in p.options:
                raise ValueError(f"{name}: {raw!r} not in {p.options}")
            v = raw
        if p.min is not None and isinstance(v, (int, float)) and v < p.min:
            raise ValueError(f"{name}: {v} < min {p.min}")
        if p.max is not None and isinstance(v, (int, float)) and v > p.max:
            raise ValueError(f"{name}: {v} > max {p.max}")
        eff[name] = v
    return eff
