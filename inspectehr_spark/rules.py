"""Rules table — the qref analog.

The reference drives its battery from a 255-row DQ-reference CSV with a
`ranges` string column like "[0, 100]" / "(0, Inf)" parsed per call
(`parse_range`, reference R/utils.R:377-433) plus a `possible_values`
list-column (R/evaluate_ranges.R:105-187). Here a rule table is a list of
`Rule` values on the driver, ranges parsed ONCE into (lo, hi, lo_incl,
hi_incl); `operators.checks.violation_sql` compiles each rule into the
plan as SQL text, so the table never reaches the executors as data.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

_RANGE_RE = re.compile(
    r"^\s*([\[\(])\s*(-?(?:\d+\.?\d*|Inf|inf))\s*,\s*(-?(?:\d+\.?\d*|Inf|inf))\s*([\]\)])\s*$"
)


def parse_range(ranges: str) -> tuple[float, float, bool, bool]:
    """Parse an interval string "[0, 100]" / "(0, Inf)" into
    (lo, hi, lo_inclusive, hi_inclusive). Reference: R/utils.R:377-433."""
    m = _RANGE_RE.match(ranges)
    if not m:
        raise ValueError(f"unparseable range: {ranges!r}")
    lo_br, lo_s, hi_s, hi_br = m.groups()
    lo = float(lo_s.replace("Inf", "inf"))
    hi = float(hi_s.replace("Inf", "inf"))
    return lo, hi, lo_br == "[", hi_br == "]"


@dataclass(frozen=True)
class Rule:
    """One row of the rules table (qref analog, reference R/datasets.R:5-25).

    Exactly one violation kind per rule, dispatched by
    `operators.checks.violation_sql`:
    - numeric interval (lo/hi) — evaluate_range numeric
    - possible_values set — evaluate_range string-set
    - pattern regex — evaluate_post_code-style conformance
    - ts_lo/ts_hi timestamp bounds — evaluate_range date/datetime_1d
    - not_equals_column — cross-column disagreement (langid vs declared lang)
    - flag — the column itself is the boolean verdict (e.g. is_duplicate)
    """

    check_code: str
    eval_code: str
    description: str
    column: str = "value"
    lo: float = -math.inf
    hi: float = math.inf
    lo_incl: bool = True
    hi_incl: bool = True
    possible_values: tuple[str, ...] = field(default_factory=tuple)
    pattern: str = ""          # regex-conformance checks
    not_equals_column: str = ""  # cross-column rule: fail iff column != other
    flag: bool = False           # boolean column: fail iff column is TRUE
    ts_lo: str = ""              # timestamp bounds rule ("YYYY-MM-DD HH:MM:SS")
    ts_hi: str = ""

    def required_columns(self) -> tuple[str, ...]:
        if self.not_equals_column:
            return (self.column, self.not_equals_column)
        return (self.column,)


# ---------------------------------------------------------------------------
# Default web-text rule battery (Gopher/C4-style heuristics recast from the
# reference's evaluate_range battery, R/evaluate_ranges.R).
#
# The batch pipeline runs exactly these rules: pipeline/run.py failure_flags
# selects violation_sql(rule) AS f_<check_code> for each, in spec.CHECKS
# order. Every threshold is imported from pipeline/spec.py, the constants
# the serial reference labeler implements with its own code.
# ---------------------------------------------------------------------------

from inspectehr_spark.pipeline import spec as _spec

ALLOWED_LANGS = _spec.ALLOWED_LANGS

WEB_RULES: list[Rule] = [
    Rule(
        "doc_length", "VE_VC_03",
        "document length (chars) outside allowed interval",
        column="n_chars", lo=_spec.LEN_LO, hi=_spec.LEN_HI),
    Rule(
        "word_count", "VE_VC_03",
        "token count outside allowed interval",
        column="n_tokens", lo=_spec.TOK_LO, hi=_spec.TOK_HI),
    Rule(
        "mean_word_length", "VE_VC_03",
        "mean word length outside Gopher bounds",
        column="mean_word_len", lo=_spec.MWL_LO, hi=_spec.MWL_HI),
    Rule(
        "symbol_ratio", "VE_VC_03",
        "symbol-to-character ratio above threshold",
        column="symbol_ratio", lo=0.0, hi=_spec.SYM_HI),
    Rule(
        "stopword_ratio", "VE_VC_03",
        "stopword density below threshold",
        column="stopword_ratio", lo=_spec.SW_LO, hi=1.0),
    Rule(
        "dup_ngram_frac", "VE_UP_02",
        "fraction of duplicated 3-grams above threshold",
        column="dup_ngram_frac", lo=0.0, hi=_spec.DUPNG_HI),
    Rule(
        "lang_allowed", "VE_VC_04",
        "language not in allowed set",
        column="lang", possible_values=ALLOWED_LANGS),
    Rule(
        "langid_agree", "VA_AP_02",
        "model language id disagrees with declared lang",
        column="lang_pred", not_equals_column="lang"),
    Rule(
        "perplexity", "VA_AP_03",
        "LM perplexity above threshold (low-quality text)",
        column="perplexity", lo=0.0, hi=_spec.PPL_HI),
    Rule(
        "warc_ts_bounds", "VE_VC_05",
        "crawl timestamp outside plausible window",
        column="warc_ts",
        ts_lo=_spec.TS_LO_ISO.replace("T", " "),
        ts_hi=_spec.TS_HI_ISO.replace("T", " ")),
    Rule(
        "exact_duplicate", "VE_UP_01",
        "exact duplicate of an earlier document",
        column="is_duplicate", flag=True),
]
