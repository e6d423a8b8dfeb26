"""Property-based parity (hypothesis): the Spark implementations and the
serial spec implementations agree on arbitrary inputs — scrub chain
byte-identity, word n-grams, tokenization, langid. One Spark round-trip
per property (whole batch of examples in a single DataFrame)."""

from __future__ import annotations

import string

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from inspectehr_spark.functions.textfns import word_ngrams
from inspectehr_spark.pipeline import reference, spec
from inspectehr_spark.pipeline.scrub import scrub_text

# printable-ASCII + spaces + a few unicode letters the corpus uses
TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + " .@-+%_#ü é",
    min_size=0,
    max_size=120,
)


def _batch(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")


@settings(max_examples=3, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=200))
def test_scrub_byte_parity(spark, texts):
    df = _batch(spark, texts)
    got = {r["i"]: r["s"] for r in df.select("i", scrub_text("text").alias("s")).collect()}
    for i, t in enumerate(texts):
        assert got[i].encode() == reference.scrub_serial(t).encode(), repr(t)


@settings(max_examples=3, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=200))
def test_word_ngrams_parity(spark, texts):
    df = _batch(spark, texts).withColumn(
        "_toks", F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    )
    got = {
        r["i"]: r["g"]
        for r in df.select("i", word_ngrams(F.col("_toks"), 3).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        toks = spec.tokenize_py(t)
        expect = [" ".join(toks[j : j + 3]) for j in range(max(0, len(toks) - 2))]
        assert got[i] == expect, repr(t)


def _scored(spark, texts):
    """Each text through the pipeline's model stage as <p>text</p>: TEXT has
    no '<' or '&', so extraction returns the text unchanged."""
    from inspectehr_spark.pipeline.models import map_extract_score

    pages = spark.createDataFrame(
        [(i, f"<p>{t}</p>".encode()) for i, t in enumerate(texts)], "i long, html binary"
    )
    got = {r["i"]: r for r in map_extract_score(pages).collect()}
    for i, t in enumerate(texts):
        assert got[i]["text_x"] == t, repr(t)
    return got


@settings(max_examples=3, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=150))
def test_langid_udf_matches_serial(spark, texts):
    got = _scored(spark, texts)
    for i, t in enumerate(texts):
        assert got[i]["lang_pred"] == reference.langid_serial(t), repr(t)


@settings(max_examples=3, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=150))
def test_perplexity_udf_matches_serial(spark, texts):
    got = _scored(spark, texts)
    for i, t in enumerate(texts):
        expect = reference.perplexity_serial(spec.tokenize_py(t))
        assert abs(got[i]["perplexity"] - expect) < 1e-9, repr(t)


# ---------------------------------------------------------------------------
# As-of join properties: random timestamp multisets (with ties and NULLs),
# random tolerance, all three directions. Backward/forward check against
# DuckDB's native ASOF JOIN; nearest against an explicit Python reference
# (clearer tie semantics than any engine's: per-side tolerance, tie →
# backward). Right side is collapsed to one row per (key, ts) first — the
# operator's documented determinism contract.
# ---------------------------------------------------------------------------

_TS = st.one_of(st.integers(min_value=0, max_value=50), st.none())
_ROWS = st.lists(
    st.tuples(st.integers(min_value=1, max_value=3), _TS),
    min_size=1,
    max_size=40,
)


def _asof_frames(spark, lrows, rrows):
    import datetime as dt

    def ts(v):
        return None if v is None else dt.datetime(2025, 1, 1) + dt.timedelta(seconds=v)

    left = spark.createDataFrame(
        [(i, k, ts(v)) for i, (k, v) in enumerate(lrows)],
        "event_id long, k long, ts timestamp",
    )
    rmap = {}
    for i, (k, v) in enumerate(rrows):
        if v is None:
            continue
        rmap[(k, v)] = max(rmap.get((k, v), -1), i)
    right = spark.createDataFrame(
        [(k, ts(v), rid) for (k, v), rid in rmap.items()] or [(0, ts(0), 0)],
        "k long, ts timestamp, rid long",
    )
    return left, right, rmap


@settings(max_examples=3, deadline=None)
@given(_ROWS, _ROWS, st.sampled_from([None, 5.0, 20.0]))
def test_asof_backward_forward_vs_duckdb(spark, lrows, rrows, tol):
    import duckdb

    from inspectehr_spark.operators.asof import asof_join

    left, right, _ = _asof_frames(spark, lrows, rrows)
    lpd, rpd = left.toPandas(), right.toPandas()
    con = duckdb.connect()
    con.register("l", lpd)
    con.register("r", rpd)
    tol_us = None if tol is None else int(tol * 1e6)
    for direction, op in (("backward", ">="), ("forward", "<=")):
        got = {
            r["event_id"]: (r["asof_rid"], r["asof_ts"])
            for r in asof_join(
                left, right, key="k", left_ts="ts", right_ts="ts",
                payload=["rid"], direction=direction, tolerance_sec=tol,
            ).collect()
        }
        gate = (
            ""
            if tol_us is None
            else f"AND abs(epoch_us(l.ts) - epoch_us(r.ts)) <= {tol_us}"
        )
        # NULL left ts: our contract (and pandas merge_asof) = no match;
        # DuckDB's ASOF sorts the NULL into a match, so compare only
        # non-null left rows against it and assert the contract directly.
        want = {
            row[0]: (row[1], row[2])
            for row in con.execute(
                f"""SELECT l.event_id,
                           CASE WHEN true {gate} THEN r.rid END AS rid,
                           CASE WHEN true {gate} THEN r.ts END AS ts
                    FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts {op} r.ts
                    WHERE l.ts IS NOT NULL"""
            ).fetchall()
        }
        for i, (_k, v) in enumerate(lrows):
            if v is None:
                assert got[i] == (None, None), (direction, i, got[i])
            else:
                assert got[i] == want[i], (direction, tol, i, got[i], want[i])
    con.close()


@settings(max_examples=3, deadline=None)
@given(_ROWS, _ROWS, st.sampled_from([None, 5.0, 20.0]))
def test_asof_nearest_vs_python_reference(spark, lrows, rrows, tol):
    from inspectehr_spark.operators.asof import asof_join

    left, right, rmap = _asof_frames(spark, lrows, rrows)
    got = {
        r["event_id"]: r["asof_rid"]
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts",
            payload=["rid"], direction="nearest", tolerance_sec=tol,
        ).collect()
    }
    rts = sorted(rmap)  # (k, v) keys, v int seconds
    for i, (k, v) in enumerate(lrows):
        if v is None:
            assert got[i] is None, (i, k, v)
            continue
        back = [t for (rk, t) in rts if rk == k and t <= v
                and (tol is None or v - t <= tol)]
        fwd = [t for (rk, t) in rts if rk == k and t >= v
               and (tol is None or t - v <= tol)]
        b = max(back) if back else None
        f = min(fwd) if fwd else None
        if b is not None and (f is None or v - b <= f - v):
            expect = rmap[(k, b)]
        elif f is not None:
            expect = rmap[(k, f)]
        else:
            expect = None
        assert got[i] == expect, (i, k, v, b, f, got[i], expect)


def test_scrub_non_ascii_adversarial_parity(spark):
    """Engine regex-parity on NON-ASCII adversarial input: Unicode chars
    abutting PII/toxicity patterns (\\b is Unicode-aware in BOTH engines'
    defaults), Unicode case variants the (?i)-free [cC]-class toxicity
    pattern must NOT fold (ſ, ﬆ), and mixed-case terms it must match."""
    pieces = [
        "écrudword", "crudwordé", "ſlurx", "SLURXé", "crudword",
        "ïvulgword", "vulgwordï", "é1234567890", "1234567890é",
        "éSW1A 1AA", "01632 960 983é", "CrUdWoRd", "VULGWORD.", "slurx,",
        "ﬆslurx", "émail@ex.org", "mail@ex.orgé",
    ]
    import itertools

    texts = [" ".join(p) for p in itertools.combinations(pieces, 2)]
    df = _batch(spark, texts)
    got = {r["i"]: r["s"] for r in df.select("i", scrub_text("text").alias("s")).collect()}
    for i, t in enumerate(texts):
        assert got[i].encode() == reference.scrub_serial(t).encode(), repr(t)
    # sanity on the intended semantics
    one = {r["i"]: r["s"] for r in _batch(spark, ["CrUdWoRd x", "ſlurx y"]).select(
        "i", scrub_text("text").alias("s")).collect()}
    assert one[0] == "<TOX> x"          # ASCII case-insensitive
    assert one[1] == "ſlurx y"          # no Unicode folding


def test_map_extract_score_matches_serial(spark):
    """The mapInArrow model stage against the serial labeler on generated
    pages: extraction, langid and perplexity per url, all passthrough
    columns preserved, html consumed."""
    from inspectehr_spark.pipeline.corpus import generate_pages
    from inspectehr_spark.pipeline.models import map_extract_score

    rows, _ = generate_pages(n=200, seed=11)
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).repartition(4)

    got = map_extract_score(pages)
    assert "html" not in got.columns
    assert {"url", "warc_ts", "text", "lang"} <= set(got.columns)
    got_rows = {
        r["url"]: (r["text_x"], r["lang_pred"], r["perplexity"])
        for r in got.collect()
    }
    assert len(got_rows) == len(rows)
    for url, _ts, html, _text, _lang in rows:
        text_x = spec.extract_text_py(html)
        want_ppl = reference.perplexity_serial(spec.tokenize_py(text_x))
        assert got_rows[url][:2] == (text_x, reference.langid_serial(text_x)), url
        assert abs(got_rows[url][2] - want_ppl) < 1e-9, url


# Injected moderation lists the chain must stay byte-deterministic over:
# regex metacharacters, mixed case, multi-word phrase, unicode term,
# term colliding with a PII replacement token.
_INJECTED_LISTS = [
    ("a+b", "bad.word", "evil*"),                       # metachars escaped
    ("MiXeD", "UPPER", "lower"),                        # case handling
    ("two words", "naïve", "EMAIL"),                    # phrase / unicode / collision
    (),                                                 # empty list → stage omitted
]


@settings(max_examples=2, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=100))
def test_scrub_injected_terms_byte_parity(spark, texts):
    """r4 next-round #8: the scrub chain with an INJECTED term list (file /
    arg path) keeps the ordered-chain byte-identity property — Spark JVM
    regexp_replace vs the serial Python labeler — for every list shape a
    real moderation file can contain; the default chain is unchanged."""
    adversarial = [
        "a+b x", "aab", "bad.word", "badXword", "EVIL** evil*", "mixed MIXED",
        "two words apart", "naïve NAÏVE", "EMAIL mail@ex.org EMAIL",
    ]
    for terms in _INJECTED_LISTS:
        chain = spec.build_scrub_chain(tox_terms=terms)
        df = _batch(spark, list(texts) + adversarial)
        got = {
            r["i"]: r["s"]
            for r in df.select(
                "i", scrub_text("text", chain=chain).alias("s")
            ).collect()
        }
        for i, t in enumerate(list(texts) + adversarial):
            want = reference.scrub_serial_chain(t, chain)
            assert got[i].encode() == want.encode(), (terms, repr(t))
    # default chain unchanged by the refactor
    assert spec.SCRUB_CHAIN == spec.build_scrub_chain()
    assert spec.SCRUB_CHAIN[-1][1] == "<TOX>"


def test_load_tox_terms_roundtrip(tmp_path, spark):
    """File-injected terms (the run_pipeline --tox-terms path) land in the
    chain and scrub; comments and blanks skipped."""
    p = tmp_path / "terms.txt"
    p.write_text("# moderation list\nfoozle\n\n  Barzle  \n", encoding="utf-8")
    terms = spec.load_tox_terms(str(p))
    assert terms == ("foozle", "Barzle")
    chain = spec.build_scrub_chain(tox_terms=terms)
    out = _batch(spark, ["a foozle and a BARZLE here"]).select(
        scrub_text("text", chain=chain).alias("s")
    ).first()["s"]
    assert out == "a <TOX> and a <TOX> here"
