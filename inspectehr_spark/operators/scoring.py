"""Keep/drop decisions and quality scores.

The reference's core consumption primitive: a record passes iff absent from
the failure log (anti-join, R/quality_score.R:30-36,103-105). Scores are
pass-rates per grouping (score_events, R/quality_score.R:47-128).

Scale note: at 10^12 docs the anti-join is the dominant shuffle. Both sides
are keyed by the same column (url / doc_id); on Iceberg both tables should
be bucketed by that key so the join is storage-partitioned (no shuffle).
Locally we rely on AQE; the failure log is usually ≪ the corpus so AQE
turns the anti-join into a broadcast when it fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def keep(df: DataFrame, failure_log: DataFrame, key: str = "doc_id") -> DataFrame:
    """Rows with no failure record — `left_anti` IS the keep primitive."""
    return df.join(failure_log.select(key).distinct(), key, "left_anti")


def decisions(df: DataFrame, failure_log: DataFrame, key: str = "doc_id") -> DataFrame:
    """Full keep/drop decision table: every input row, keep flag, first
    failing check code (NULL when kept). One left join, no double scan."""
    first_fail = failure_log.groupBy(key).agg(
        F.min("check_code").alias("first_fail_code")
    )
    return df.select(key).join(first_fail, key, "left").select(
        key,
        F.col("first_fail_code").isNull().alias("keep"),
        "first_fail_code",
    )


def score(
    df: DataFrame,
    failure_log: DataFrame,
    group_cols: list[str],
    key: str = "doc_id",
) -> DataFrame:
    """Pass-rate per group: score = 1 - n_failed/n_submitted.

    Reference: score_events (R/quality_score.R:47-128) — submitted counts
    vs distinct-failed counts, full join, zero-fill, ratio. Here: one left
    join from the keyed universe to the distinct failure set, then a single
    aggregation (partial/map-side combine for free).
    """
    failed_keys = failure_log.select(key).distinct().withColumn("failed", F.lit(1))
    joined = df.select(key, *group_cols).join(failed_keys, key, "left")
    return joined.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_submitted"),
        F.count("failed").alias("n_failed"),
        F.round(
            F.lit(1.0) - F.count("failed") / F.count(F.lit(1)), 6
        ).alias("score"),
    )


def metrics(
    failure_log: DataFrame,
    universe: DataFrame,
    group_cols: list[str] = ("source",),
    partition_col: str | None = None,
    key: str = "doc_id",
    checks: list | None = None,
) -> DataFrame:
    """Per-(group, check, partition) n_checked / n_failed — the METRICS
    table every partition writes for lineage (north-star requirement;
    reference analog events_missing + score tables).

    The output is built over the full (group × partition × check) universe
    with zero-fill, so checks with zero failures still emit an
    n_failed=0 row (matching run.py metrics_table and the reference score
    tables). `partition_col`, when given, must be a column of BOTH
    `universe` and `failure_log` (it is folded into the grouping, then
    aliased to partition_id). `checks` optionally fixes the check
    dimension — a list of Rule objects or (check_code, eval_code,
    description) tuples; it defaults to the distinct checks present in the
    failure log (which cannot know about never-firing checks — pass the
    battery's rules for a complete lineage table).
    """
    gcols = list(group_cols)
    all_g = gcols + (
        [partition_col] if partition_col and partition_col not in gcols else []
    )
    pcol = (
        F.col(partition_col).cast("string") if partition_col else F.lit("__all__")
    )

    spark = universe.sparkSession
    if checks is not None:
        rows = [
            (c.check_code, c.eval_code, c.description)
            if hasattr(c, "check_code")
            else tuple(c)
            for c in checks
        ]
        check_dim = spark.createDataFrame(
            rows, "check_code string, eval_code string, description string"
        )
    else:
        check_dim = failure_log.select(
            "check_code", "eval_code", "description"
        ).distinct()

    checked = universe.groupBy(*all_g).agg(F.count(F.lit(1)).alias("n_checked"))
    grid = checked.crossJoin(F.broadcast(check_dim))
    failed = failure_log.groupBy(*all_g, "check_code").agg(
        F.count(F.lit(1)).alias("n_failed")
    )
    return grid.join(failed, [*all_g, "check_code"], "left").select(
        *gcols,
        "check_code",
        pcol.alias("partition_id"),
        "n_checked",
        F.coalesce("n_failed", F.lit(0)).alias("n_failed"),
        "eval_code",
        "description",
    )
