"""The Catalyst-compiled model stage must be BIT-IDENTICAL to the
mapInArrow/pandas model stage — both implement pipeline/spec.py with
integer-exact arithmetic, so equality is exact, not approximate."""

from __future__ import annotations

from pyspark.sql import functions as F


def _pages(spark, n=300):
    from inspectehr_spark.pipeline import corpus
    import tempfile, os

    d = tempfile.mkdtemp(prefix="native_pages_")
    p = os.path.join(d, "pages.parquet")
    corpus.write_pages_parquet(p, n=n, seed=7)
    return spark.read.parquet(p)


def test_native_models_bit_identical_to_arrow(spark):
    """text_x / lang_pred / perplexity from enrich_native equal the
    mapInArrow stage exactly on the pipeline's own corpus generator
    (which plants every failure mode: wrong-lang docs, symbol storms,
    repeats, dups)."""
    from inspectehr_spark.pipeline.models import map_extract_score
    from inspectehr_spark.pipeline.models_native import (
        native_extract_text,
        with_native_models,
    )

    pages = _pages(spark).select("url", "html")
    arrow = {
        r["url"]: (r["text_x"], r["lang_pred"], r["perplexity"])
        for r in map_extract_score(pages).collect()
    }
    native_df = with_native_models(
        pages.withColumn("text_x", native_extract_text("html")).drop("html")
    )
    native = {
        r["url"]: (r["text_x"], r["lang_pred"], r["perplexity"])
        for r in native_df.collect()
    }
    assert native.keys() == arrow.keys()
    diff = {u: (native[u], arrow[u]) for u in arrow if native[u] != arrow[u]}
    assert not diff, list(diff.items())[:3]
    # the fixture must exercise real diversity, or equality is vacuous
    langs = {v[1] for v in arrow.values()}
    assert len(langs) >= 3


def test_native_model_edge_cases(spark):
    """Empty text → 'und' / 0.0; vocab-free text → 'und'; known-vocab
    text → its language; crc32 costs match zlib exactly."""
    import zlib

    from inspectehr_spark.pipeline import spec
    from inspectehr_spark.pipeline.models_native import with_native_models

    rows = [
        (1, ""),                                  # no bigrams -> und, ppl 0
        (2, "12345 67890"),                       # no vocab bigrams
        (3, "the house and the water light"),     # english vocab
        (4, "der haus und das wasser licht"),     # german vocab
    ]
    df = spark.createDataFrame(rows, "id long, text_x string")
    out = {r["id"]: r for r in with_native_models(df).collect()}
    assert out[1]["lang_pred"] == "und" and out[1]["perplexity"] == 0.0
    assert out[3]["lang_pred"] == "en"
    assert out[4]["lang_pred"] == "de"

    def cost(tok):
        t = tok.lower()
        if t in spec._KNOWN_VOCAB:
            return 100 + (zlib.crc32(t.encode()) % 200)
        return 400 + (zlib.crc32(t.encode()) % 900)

    for rid, text in rows:
        toks = [t for t in text.split(" ") if t]
        want = sum(cost(t) for t in toks) / len(toks) if toks else 0.0
        assert out[rid]["perplexity"] == want, (rid, out[rid]["perplexity"], want)


def test_enrich_native_zero_python_plan(spark):
    """The native model stage's plan contains NO Python evaluation nodes —
    the property the full-battery DuckDB oracle relies on."""
    from inspectehr_spark.pipeline.models_native import enrich_native

    pages = _pages(spark, n=50).select("url", "warc_ts", "html", "lang")
    plan = enrich_native(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]


def test_native_oracle_crc_replay_assumptions(spark, sf_dir):
    """The DuckDB full-battery oracle replays zlib.crc32 as a byte-fold
    over ascii(char) — valid only while the corpus text is ASCII (char
    codepoint == UTF-8 byte). Assert that invariant on the test tables,
    and the embedded table against zlib on adversarial tokens."""
    import os
    import zlib

    import duckdb

    from inspectehr_spark.queries_noracle import _crc32_table

    con = duckdb.connect()
    p = os.path.join(sf_dir, "documents.parquet")
    (nonascii,) = con.execute(
        f"SELECT max(length(text) <> octet_length(encode(text))::INT) "
        f"FROM '{p}'"
    ).fetchone()
    assert nonascii is False

    tab = "[" + ",".join(map(str, _crc32_table())) + "]"
    toks = ["", "a", "the", "zzz9", "x" * 64, "mixedCASE", "0 0"]
    got = dict(con.execute(
        "SELECT s, CAST(xor(list_reduce(list_prepend(4294967295, "
        "list_transform(generate_series(1, length(s)), "
        "i -> ascii(substring(s, i, 1)))), "
        f"(acc, ch) -> xor(acc >> 8, ({tab})[xor(acc & 255, ch) + 1])), "
        "4294967295) AS BIGINT) FROM (SELECT unnest(?) AS s)",
        [toks],
    ).fetchall())
    for t in toks:
        assert got[t] == zlib.crc32(t.encode()), t
