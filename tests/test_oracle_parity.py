"""Spark-vs-DuckDB parity for every SQL-expressible query in the registry —
a local replica of the driver's correctness gate (row count + schema names +
order-insensitive values)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from inspectehr_spark.queries import QUERIES

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(x):
    if x is None:
        return None
    if isinstance(x, float):
        if math.isnan(x):
            return None
        return round(x, 6)
    return x


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


SQL_QUERIES = [(n, fn, sql) for n, (fn, sql) in QUERIES.items() if sql is not None]


@pytest.mark.parametrize("name,fn,sql", SQL_QUERIES, ids=[n for n, *_ in SQL_QUERIES])
def test_parity(spark, sf_dir, name, fn, sql):
    sdf = fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    con = _duck(sf_dir)
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    sc, sr = _norm_rows(spark_cols, spark_rows)
    dc, dr = _norm_rows(duck_cols, duck_rows)
    assert len(sr) == len(dr), f"{name}: row count {len(sr)} vs {len(dr)}"
    mismatches = [(a, b) for a, b in zip(sr, dr) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_line_scrub_all_lines_dropped_parity(spark, tmp_path):
    """A document whose every line is under `min_words` keeps no segment:
    its oracle rebuilds NULL (DuckDB array_to_string of an empty list),
    and so must the operator — not ''."""
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM (VALUES (1::BIGINT, 'a b the c d the e'), "
        "(2::BIGINT, 'one two three four the x')) t(doc_id, text)) "
        f"TO '{tmp_path}/documents.parquet' (FORMAT parquet)"
    )
    con.close()
    fn, sql = QUERIES["line_scrub"]
    sdf = fn(spark, str(tmp_path))
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = _duck(str(tmp_path))
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]
    con.close()
    assert _norm_rows(sdf.columns, spark_rows) == _norm_rows(duck_cols, duck_rows)
    assert {r[0]: r[3] for r in spark_rows} == {1: None, 2: "one two three four"}


def _spark_entry():
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_driver_priority_names_every_query_once():
    """The correctness sweep checks the first 50 names of the entry
    module's ordering against the oracles; the priority list must name
    each registry query exactly once, and the rewritten ks_drift must sit
    inside that window."""
    mod = _spark_entry()
    prio = mod._DRIVER_PRIORITY
    assert len(prio) == len(set(prio)), sorted(n for n in set(prio) if prio.count(n) > 1)
    assert set(prio) == set(QUERIES)
    assert "ks_drift" in list(mod.queries())[:50]
