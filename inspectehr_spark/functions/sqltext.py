"""SQL text for literals.

A literal list built with the Column API costs a py4j round trip per
element (`isin(*words)` over 56 stopwords is 265 calls); the same list as
SQL text is parsed once on the JVM side. Spark-side builders and the
DuckDB oracle texts quote their lists with `sql_str_list`; text read only
by Spark quotes each value with `sql_str`."""

from __future__ import annotations


def sql_str(s: str) -> str:
    """A Spark SQL string literal, backslash and quote escaped (Spark's
    parser unescapes both; DuckDB does not — use sql_str_list there)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_str_list(values) -> str:
    """`'a', 'b', ...` — the body of an IN list or array literal. Spark SQL
    and DuckDB read it alike only for plain values: the two dialects escape
    a quote and a backslash differently, so a value holding either raises
    ValueError instead of being rendered for one dialect."""
    vals = [str(v) for v in values]
    for v in vals:
        if "'" in v or "\\" in v:
            raise ValueError(f"value needs dialect-specific escaping: {v!r}")
    return ", ".join(f"'{v}'" for v in vals)
