"""Shared lazy table loader for the query registry.

The registry reads ten input tables, ``<sf_dir>/<name>.parquet``, whose
schemas are fixed (the reference likewise works over a declared relational
schema). They are declared here, so a read runs no schema-inference job.
The three timestamps are ``timestamp_ntz``: the inputs carry no time zone,
and that is the type Spark infers from them.
``tests/test_tables.py`` holds each declaration equal to the schema
inferred from the fixture tables."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
            "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
                "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "events": "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
              "value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Input table `name` under `sf_dir`, read with its declared schema."""
    return spark.read.schema(SCHEMAS[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )


def parallel_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition of an UNDER-PARALLEL input (guide §2.5,
    "input skew ... repartition immediately after the read").

    A small table arrives as a single file split, so every CPU-heavy
    per-row projection downstream (hash sketches, n-gram construction,
    model arithmetic) serializes on ONE core while the rest of the
    cluster idles. When the plan's partition count is below the session's
    default parallelism, one keyless exchange of the (by definition
    small) input buys full-width execution of everything after it.

    Scale-adaptive by construction: at production scale a scan yields
    >= cores splits and this is the identity — no exchange is added. The
    threshold is the session's own parallelism (derived from the master /
    cluster, never a constant), so the same code is a no-op on a real
    cluster and a 32x win on a one-file fixture.

    Call it on the NARROW projection that feeds the expensive work (id +
    payload columns only), not on the full row, so the exchange moves the
    minimum bytes (guide §2.3 "project before the exchange")."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
