"""The registry's declared input schemas (tables.py) and the gate that
building a registry query runs no Spark job."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import DataType

from inspectehr_spark import tables
from inspectehr_spark.queries import QUERIES

# Queries that still run Spark jobs while they are built, each with the
# action that runs them. Every other registry query builds with no job.
CONSTRUCTION_JOBS = {
    "ks_drift": "distinct-group collect: the KS pair list is a literal, "
                "refused above max_groups (distribution._group_pairs)",
    "tod_ks_drift": "distinct-group collect of ks_pairwise (as ks_drift)",
    "drift_flagged_groups": "distinct-group collect of ks_pairwise (as ks_drift)",
    "near_dup_components": "edge count that picks the single-task small-graph "
                           "path (graph.connected_components)",
    "near_dup_survivors": "edge count of connected_components (as near_dup_components)",
    "ivf_topk": "query-vector first() and the centroid collect the probe "
                "cells are chosen from (ann.ivf_topk)",
    "ann_lsh_topk": "query-vector first(), checked against the oracle's "
                    "baked hyperplane dimension",
    "decisions_history": "writes three snapshot versions and materializes "
                         "the time-travel result before deleting its scratch root",
}


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_fixtures(spark, sf_dir, sf):
    """Each declared input schema equals the one Spark infers from the
    fixture table, so a fixture whose types change fails here instead of
    being read with the wrong types."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    for name, ddl in tables.SCHEMAS.items():
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert DataType.fromDDL(ddl) == inferred, name
        assert tables.table(spark, sf_dir, name).schema == inferred, name


def test_table_reads_launch_no_jobs(spark, sf_dir, count_jobs):
    assert count_jobs(lambda: [
        tables.table(spark, sf_dir, name) for name in tables.SCHEMAS
    ]) == 0


def test_registry_construction_launches_no_jobs(spark, sf_dir, count_jobs):
    """Build every registry query (no action) and count the Spark jobs the
    build runs: zero, except for the queries in CONSTRUCTION_JOBS — and
    those must still need their entry."""
    try:
        with_jobs = {
            name for name, (fn, _) in QUERIES.items()
            if count_jobs(lambda: fn(spark, sf_dir))
        }
    finally:
        # ks_pairwise and connected_components persist plans at build time
        spark.catalog.clearCache()
    assert with_jobs == set(CONSTRUCTION_JOBS)
