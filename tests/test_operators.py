"""Known-answer unit tests for each operator module, modeled on the
reference's testthat strategy (exact planted counts, exact schemas —
SURVEY §5): comparison operators on planted sys/dia-style pairs,
distribution KS on constructed samples, near-dup detection on constructed
near-duplicates, code validators on hand-picked literals."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from inspectehr_spark.functions import codes
from inspectehr_spark.operators import comparison, dedup, distribution, missingness, scoring, windows
from inspectehr_spark.rules import Rule, parse_range
from inspectehr_spark.schemas import FAILURE_COLS, make_failure_log


# --- rules / parse_range ----------------------------------------------------

def test_parse_range():
    assert parse_range("[0, 100]") == (0.0, 100.0, True, True)
    assert parse_range("(0, Inf)") == (0.0, float("inf"), False, False)
    assert parse_range("[-Inf, 5)") == (float("-inf"), 5.0, True, False)
    with pytest.raises(ValueError):
        parse_range("nonsense")


def test_violation_dispatch(spark):
    """Cross-column / flag / ts-bounds rules dispatch correctly, and an
    inexpressible rule raises instead of compiling to constant-false
    (VERDICT r1: the dead langid_agree rule)."""
    from inspectehr_spark.operators.checks import violation_for

    df = spark.createDataFrame(
        [
            (1, "en", "en", False, "2024-06-01 00:00:00"),
            (2, "en", "de", False, "2024-06-01 00:00:00"),   # disagree
            (3, None, "de", False, "2024-06-01 00:00:00"),   # NULL → no verdict
            (4, "fr", "fr", True, "2024-06-01 00:00:00"),    # dup flag
            (5, "es", "es", False, "2035-01-01 00:00:00"),   # future ts
        ],
        "id int, lang_pred string, lang string, is_duplicate boolean, warc_ts string",
    )
    cross = Rule("langid_agree", "VA_AP_02", "d", column="lang_pred",
                 not_equals_column="lang")
    assert [r["id"] for r in df.filter(violation_for(cross)).collect()] == [2]

    flag = Rule("exact_duplicate", "VE_UP_01", "d", column="is_duplicate", flag=True)
    assert [r["id"] for r in df.filter(violation_for(flag)).collect()] == [4]

    ts = Rule("warc_ts_bounds", "VE_VC_05", "d", column="warc_ts",
              ts_lo="1990-01-01 00:00:00", ts_hi="2030-01-01 00:00:00")
    assert [r["id"] for r in df.filter(violation_for(ts)).collect()] == [5]

    with pytest.raises(ValueError, match="no expressible predicate"):
        violation_for(Rule("empty", "X", "d", column="lang_pred"))


# --- comparison (sys > dia analog, exists/not_exists) ------------------------

def test_comparison_operators(spark):
    sys_bp = spark.createDataFrame(
        [(1, 120.0), (2, 115.0), (3, 80.0)], "episode_id int, value double"
    )
    dia_bp = spark.createDataFrame(
        [(1, 80.0), (2, 70.0), (3, 95.0), (4, 60.0)], "episode_id int, value double"
    )
    # sys > dia: only episode 3 violates (80 < 95); episode 4 has no sys → no verdict
    viol = comparison.compare_pair(sys_bp, dia_bp, ["episode_id"], ">").collect()
    assert [r["episode_id"] for r in viol] == [3]
    # exists: sys present but dia absent → none here
    assert comparison.compare_pair(sys_bp, dia_bp, ["episode_id"], "exists").count() == 0
    # reversed: dia 4 exists without sys
    viol = comparison.compare_pair(dia_bp, sys_bp, ["episode_id"], "exists").collect()
    assert [r["episode_id"] for r in viol] == [4]
    # not_exists: both present → all of 1,2,3 violate
    assert comparison.compare_pair(sys_bp, dia_bp, ["episode_id"], "not_exists").count() == 3
    with pytest.raises(ValueError):
        comparison.compare_pair(sys_bp, dia_bp, ["episode_id"], "LIKE")


# --- distribution: two-sample KS --------------------------------------------

def test_ks_known_answer(spark):
    # identical samples → KS 0; disjoint samples → KS 1
    rows = [("a", float(v)) for v in range(10)] + [("b", float(v)) for v in range(10)]
    df = spark.createDataFrame(rows, "g string, v double")
    ks = distribution.ks_pairwise(df, "g", "v").collect()
    assert len(ks) == 1 and ks[0]["ks_stat"] == 0.0

    rows = [("a", float(v)) for v in range(10)] + [("b", float(v + 100)) for v in range(10)]
    df = spark.createDataFrame(rows, "g string, v double")
    ks = distribution.ks_pairwise(df, "g", "v").collect()
    assert ks[0]["ks_stat"] == 1.0


def test_ks_pairwise_matches_duckdb_oracle(spark, tmp_path):
    """The distributed KS against the registry's DuckDB oracle for
    ks_drift (SQL_KS_DRIFT), run over the same seeded rows written as an
    events(event_type, value) table."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from inspectehr_spark.queries_ext import SQL_KS_DRIFT

    rng = random.Random(3)
    rows = [("a", rng.gauss(0, 1)) for _ in range(200)] + [
        ("b", rng.gauss(0.5, 1)) for _ in range(150)
    ] + [("c", rng.gauss(0, 2)) for _ in range(100)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r["group_a"], r["group_b"]): r["ks_stat"]
        for r in distribution.ks_pairwise(df, "g", "v").collect()
    }
    path = tmp_path / "events.parquet"
    pq.write_table(
        pa.table({"event_type": [g for g, _ in rows], "value": [v for _, v in rows]}),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    want = {(a, b): s for a, b, s in con.execute(SQL_KS_DRIFT).fetchall()}
    con.close()
    assert got.keys() == want.keys() == {("a", "b"), ("a", "c"), ("b", "c")}
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_drift_flags(spark):
    ks = spark.createDataFrame(
        [("a", "b", 0.1), ("a", "c", 0.7), ("b", "c", 0.8)],
        "group_a string, group_b string, ks_stat double",
    )
    flagged = distribution.drift_flags(ks, threshold=0.5).collect()
    # c is far from BOTH a and b; a-b are close so neither fails
    assert [r["group"] for r in flagged] == ["c"]


# --- dedup: minhash near-dup on constructed docs ------------------------------

def test_minhash_finds_constructed_near_dups(spark, tmp_path):
    base = " ".join(f"w{i}" for i in range(200))
    near = " ".join(f"w{i}" for i in range(195)) + " x1 x2 x3 x4 x5"
    far = " ".join(f"z{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = dedup.minhash_lsh_duplicates(
        df, num_hashes=64, bands=16, jaccard_threshold=0.5
    ).collect()
    assert len(pairs) == 1
    assert (pairs[0]["doc_id_a"], pairs[0]["doc_id_b"]) == (1, 2)
    assert pairs[0]["est_jaccard"] >= 0.5
    # exact verification path agrees
    jac = dedup.ngram_jaccard_pairs(
        df, spark.createDataFrame([(1, 2)], "doc_id_a long, doc_id_b long")
    ).collect()[0]["jaccard"]
    # shared trigrams: windows fully inside w0..w194 → 193; union = 203
    assert jac == pytest.approx(193 / 203, abs=1e-6)
    # 10 bands would band on only 60 of 64 hashes: refused, in the batch
    # operator and before a streaming sink starts
    from inspectehr_spark.streaming.quality_stream import near_dup_snapshot_sink

    with pytest.raises(ValueError, match="bands must divide num_hashes"):
        dedup.minhash_lsh_duplicates(df, num_hashes=64, bands=10)
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="bands must divide num_hashes"):
        near_dup_snapshot_sink(
            spark.readStream.format("rate").load(), str(tmp_path / "root"),
            str(tmp_path / "ckpt"), num_hashes=64, bands=10,
        )
    assert len(spark.streams.active) == active


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_minhash_shingle_less_docs_never_pair(spark, hash_fn):
    """Docs under 3 tokens have no shingles and no signature, so even at
    jaccard_threshold=0.0 they pair with nobody: with an all-NULL
    signature they would share one NULL band bucket and pair with each
    other at est_jaccard 0.0."""
    long_doc = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, "tiny"), (2, "two words"), (3, "also"), (4, long_doc)],
        "doc_id long, text string",
    )
    out = dedup.minhash_lsh_duplicates(
        df, num_hashes=16, bands=4, jaccard_threshold=0.0, hash_fn=hash_fn
    )
    assert out.collect() == []


def test_simhash_close_for_near_dups(spark):
    base = " ".join(f"w{i}" for i in range(100))
    near = " ".join(f"w{i}" for i in range(99)) + " different"
    far = " ".join(f"z{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["sh"] for r in dedup.with_simhash(df, out_col="sh").collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])
    assert hamming(out[1], out[2]) <= 8


def test_exact_duplicates_keep_first(spark):
    from inspectehr_spark.pipeline.run import flag_exact_duplicates

    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "other"), (5, "same")],
        "doc_id long, text string",
    )
    flagged = flag_exact_duplicates(df, "text", "doc_id")
    dups = sorted(r["doc_id"] for r in flagged.filter("is_duplicate").collect())
    assert dups == [3, 5]  # doc 1 is first by id


# --- windows: periodicity, overlap, sessionize --------------------------------

def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_sessionize_and_overlap(spark):
    rows = [
        (1, _ts(0)), (1, _ts(0, 10)), (1, _ts(2)),   # gap >30min → 2 sessions
        (2, _ts(5)),
    ]
    df = spark.createDataFrame(rows, "uid int, ts timestamp")
    s = windows.sessionize(df, "uid", "ts", gap_minutes=30)
    per_user = {
        r["uid"]: r["n"]
        for r in s.groupBy("uid").agg(F.max("session_id").alias("n")).collect()
    }
    assert per_user == {1: 2, 2: 1}

    iv = spark.createDataFrame(
        [(1, _ts(0), _ts(3)), (1, _ts(2), _ts(4)), (1, _ts(5), _ts(6))],
        "uid int, start timestamp, end timestamp",
    )
    ov = windows.overlaps(iv, "uid", "start", "end").collect()
    assert len(ov) == 1 and ov[0]["start"] == _ts(0)


def test_periodicity_flags(spark):
    rows = [(1, _ts(h)) for h in range(10)] + [(2, _ts(0))]  # 2 has 1 event
    df = spark.createDataFrame(rows, "uid int, ts timestamp")
    out = {r["uid"]: r["fail_reason"] for r in windows.periodicity(df, "uid", "ts", 0.5, 12.0).collect()}
    assert out == {1: "too_dense", 2: "lt2_events"}  # 10 events in 9h ≈ 26.7/day


def test_chronology(spark):
    rows = [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 15.0), (2, 1, 5.0)]
    df = spark.createDataFrame(rows, "uid int, ord int, value double")
    bad = windows.chronology_violations(df, "uid", "ord", "value").collect()
    assert len(bad) == 1 and bad[0]["ord"] == 2


# --- missingness ---------------------------------------------------------------

def test_global_and_local_missingness(spark):
    rows = [
        ("s1", "a", dt.datetime(2024, 1, 15)),
        ("s1", "a", dt.datetime(2024, 3, 15)),   # s1 skips February
        ("s2", "a", dt.datetime(2024, 1, 20)),
        ("s2", "b", dt.datetime(2024, 1, 25)),
    ]
    df = spark.createDataFrame(rows, "site string, code string, ts timestamp")
    missing = missingness.global_missingness(df, "site", "code").collect()
    assert [(r["site"], r["code"]) for r in missing] == [("s1", "b")]
    local = missingness.local_missingness(df, "site", "ts").collect()
    assert [(r["site"], str(r["month_start"])) for r in local] == [("s1", "2024-02-01")]


def test_simhash_hamming_pairs(spark):
    """Constructed near-dups: one token changed in a 40-token doc flips few
    simhash bits → pair found; an unrelated doc does not pair."""
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok7", "tokX")
    far = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in dedup.simhash_hamming_pairs(df, max_hamming=12, chunks=16).collect()
    }
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)
    assert pairs[(1, 2)] <= 12
    with pytest.raises(ValueError):
        dedup.simhash_hamming_pairs(df, max_hamming=4, chunks=4)


@pytest.mark.parametrize("op", ["minhash-md5", "minhash-xxhash64", "simhash"])
def test_band_join_hot_bucket_cap(spark, op):
    """cap + 3 identical documents put every band in one hot bucket: the
    band join keeps the `cap` lowest ids of that bucket, so the result is
    exactly the C(cap, 2) pairs among them — ids past the cap pair with
    nobody (cap_buckets, replayed by every band-join oracle)."""
    from itertools import combinations

    cap = 4
    ids = [17, 3, 11, 5, 29, 2, 8]  # cap + 3, unsorted on purpose
    text = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(i, text) for i in ids], "doc_id long, text string"
    )
    if op.startswith("minhash"):
        out = dedup.minhash_lsh_duplicates(
            df, num_hashes=16, bands=4, jaccard_threshold=0.5, bucket_cap=cap,
            hash_fn=op.split("-")[1],
        )
    else:
        out = dedup.simhash_hamming_pairs(
            df, max_hamming=3, chunks=4, bucket_cap=cap
        )
    got = sorted((r["doc_id_a"], r["doc_id_b"]) for r in out.collect())
    assert got == list(combinations(sorted(ids)[:cap], 2))


def test_evaluate_comparisons_decomposition(spark):
    """Lookup-driven battery + decomposition back to both sides
    (reference R/evaluate_comparison.R:101-192)."""
    sys_bp = spark.createDataFrame(
        [(1, 120.0), (2, 115.0), (3, 80.0)], "episode_id int, value double"
    )
    dia_bp = spark.createDataFrame(
        [(1, 80.0), (2, 70.0), (3, 95.0)], "episode_id int, value double"
    )
    death_date = spark.createDataFrame([(1, "d")], "episode_id int, value string")
    death_time = spark.createDataFrame([(2, "t")], "episode_id int, value string")
    lookup = [
        comparison.Comparison("sys_gt_dia", "sys", "dia", ">"),
        comparison.Comparison("death_date_needs_time", "death_date", "death_time", "exists"),
    ]
    out = comparison.evaluate_comparisons(
        {"sys": sys_bp, "dia": dia_bp, "death_date": death_date,
         "death_time": death_time},
        lookup, ["episode_id"],
    )
    rows = sorted(
        (r["check_code"], r["episode_id"], r["code_name"], r["value"])
        for r in out.collect()
    )
    # sys>dia violated only by episode 3 → BOTH sides decompose;
    # death_date without death_time: episode 1 → side a only
    assert rows == [
        ("death_date_needs_time", 1, "death_date", "d"),
        ("sys_gt_dia", 3, "dia", "95.0"),
        ("sys_gt_dia", 3, "sys", "80.0"),
    ]

    # the single-pass wide formulation (one scan, zero joins) is
    # output-identical on the pivoted frame
    wide = spark.createDataFrame(
        [(1, 120.0, 80.0, "d", None), (2, 115.0, 70.0, None, "t"),
         (3, 80.0, 95.0, None, None)],
        "episode_id int, sys double, dia double, death_date string,"
        " death_time string",
    )
    out_w = comparison.evaluate_comparisons_wide(wide, lookup, ["episode_id"])
    rows_w = sorted(
        (r["check_code"], r["episode_id"], r["code_name"], r["value"])
        for r in out_w.collect()
    )
    assert rows_w == rows


# --- scoring / failure-log schema ----------------------------------------------

def test_failure_log_schema_contract(spark):
    df = spark.createDataFrame(
        [("s", "u", 1, 99.0)], "source string, url string, doc_id long, value double"
    )
    log = make_failure_log(df, "chk", "VE_X", "desc")
    assert log.columns == FAILURE_COLS
    row = log.collect()[0]
    assert row["value"] == "99.0" and row["check_code"] == "chk"


def test_scoring_roundtrip(spark):
    docs = spark.createDataFrame(
        [(i, "s1" if i < 6 else "s2") for i in range(10)], "doc_id long, source string"
    )
    fails = spark.createDataFrame(
        [(0, "b_chk"), (0, "a_chk"), (7, "z_chk")], "doc_id long, check_code string"
    )
    dec = {r["doc_id"]: (r["keep"], r["first_fail_code"]) for r in scoring.decisions(docs, fails).collect()}
    assert dec[0] == (False, "a_chk")  # lexicographic min, deterministic
    assert dec[7] == (False, "z_chk")
    assert dec[1] == (True, None)
    sc = {r["source"]: (r["n_submitted"], r["n_failed"], r["score"]) for r in scoring.score(docs, fails, ["source"]).collect()}
    assert sc["s1"] == (6, 1, pytest.approx(1 - 1 / 6, abs=1e-6))
    assert sc["s2"] == (4, 1, 0.75)


def test_metrics_partition_col_and_zero_fill(spark):
    """ADVICE r1: metrics() with partition_col used to raise
    AnalysisException (column selected after it was aggregated away), and
    zero-failure checks were silently missing from the table."""
    docs = spark.createDataFrame(
        [(i, "s1" if i < 6 else "s2", f"d{i % 2}") for i in range(10)],
        "doc_id long, source string, p_date string",
    )
    fails = spark.createDataFrame(
        [(0, "s1", "a_chk", "VE_1", "da", "d0"), (7, "s2", "z_chk", "VE_2", "dz", "d1")],
        "doc_id long, source string, check_code string, eval_code string,"
        " description string, p_date string",
    )
    out = scoring.metrics(
        fails, docs, group_cols=["source"], partition_col="p_date",
        checks=[("a_chk", "VE_1", "da"), ("z_chk", "VE_2", "dz"),
                ("never_fires", "VE_3", "dn")],
    )
    rows = {(r["source"], r["partition_id"], r["check_code"]):
            (r["n_checked"], r["n_failed"]) for r in out.collect()}
    # full (group × partition × check) grid: 2 sources × 2 dates × 3 checks
    assert len(rows) == 12
    assert rows[("s1", "d0", "a_chk")] == (3, 1)
    assert rows[("s1", "d0", "never_fires")] == (3, 0)   # zero-filled
    assert rows[("s2", "d1", "z_chk")] == (2, 1)
    assert rows[("s2", "d0", "z_chk")] == (2, 0)


# --- code validators --------------------------------------------------------------

def test_code_validators(spark):
    df = spark.createDataFrame(
        [(codes.gen_valid_nhs_numbers(1)[0],), ("1234567890",), ("SW1A 1AA",),
         ("1.5.9",), ("2.12.13.54.17",), ("3.5.9",), ("1.13.9",), ("ZZ99 9ZZ",)],
        "v string",
    )
    out = df.select(
        "v",
        codes.nhs_checksum_valid(F.col("v")).alias("nhs"),
        codes.is_postcode(F.col("v")).alias("pc"),
        codes.icnarc_valid(F.col("v")).alias("icnarc"),
    ).collect()
    by_v = {r["v"]: r for r in out}
    assert by_v[codes.gen_valid_nhs_numbers(1)[0]]["nhs"] is True
    assert by_v["1234567890"]["nhs"] is False
    assert by_v["SW1A 1AA"]["pc"] is True
    assert by_v["ZZ99 9ZZ"]["pc"] is True
    assert by_v["1.5.9"]["icnarc"] is True
    assert by_v["2.12.13.54.17"]["icnarc"] is True
    assert by_v["3.5.9"]["icnarc"] is False       # level1 ∉ [1,2]
    assert by_v["1.13.9"]["icnarc"] is False      # level2 ∉ [1,12]


# --- round-3 guards: periodicity decomposition, battery strictness, KS cap,
# --- near-dup hot-cell cap -------------------------------------------------

def test_periodicity_failures_planted(spark):
    """Per-event decomposition (reference R/evaluate_periodicity.R:48-94):
    lt2-events user fails wholly; within a cadenced user, exactly the
    events whose NEXT gap is too long (>12h at lo=2/day) or too short
    (<0.5h at hi=48/day) fail; the last event has no verdict; equal
    timestamps attribute the zero gap to the lower event_id."""
    rows = [
        (1, 100, "2024-01-01 08:00:00"),              # user 100: single → fails
        (2, 200, "2024-01-01 00:00:00"),              # gap 1h → rate 24 → pass
        (3, 200, "2024-01-01 01:00:00"),              # gap 13h → sparse fail
        (4, 200, "2024-01-01 14:00:00"),              # gap 0.25h → dense fail
        (5, 200, "2024-01-01 14:15:00"),              # last → no verdict
        (6, 300, "2024-01-02 09:00:00"),              # tie: gap 0 → dense fail
        (7, 300, "2024-01-02 09:00:00"),              # last of tie → no verdict
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = windows.periodicity_failures(
        df, "user_id", "ts", 2.0, 48.0, id_col="event_id"
    )
    assert sorted(r["event_id"] for r in out.collect()) == [1, 3, 4, 6]
    assert out.columns[-2:] == ["eval_code", "description"]


def test_run_battery_surfaces_skipped_rules(spark):
    """A rule with a typo'd column is reported (warning + battery_coverage)
    and strict=True raises — never a silent drop (VERDICT r2 #5)."""
    import warnings

    from inspectehr_spark.operators.checks import battery_coverage, run_battery

    df = spark.createDataFrame([(1, "x" * 60)], "doc_id long, text string") \
        .withColumn("n_chars", F.length("text"))
    good = Rule("doc_length", "VE_RC_01", "d", column="n_chars", lo=100, hi=1e6)
    typo = Rule("doc_lenght", "VE_RC_01", "d", column="n_charz", lo=100, hi=1e6)

    ok, skipped = battery_coverage(df, [good, typo])
    assert [r.check_code for r in ok] == ["doc_length"]
    assert [r.check_code for r in skipped] == ["doc_lenght"]

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = run_battery(df, [good, typo])
        assert out.count() == 1  # the good rule still fires
    assert any("doc_lenght" in str(w.message) and "n_charz" in str(w.message)
               for w in caught)

    with pytest.raises(ValueError, match="doc_lenght.*n_charz"):
        run_battery(df, [good, typo], strict=True)


def test_ks_pairwise_group_cap(spark):
    """O(G²) fan-out is refused beyond max_groups with a clear error
    (VERDICT r2 #6), and the refused call leaves no cached plan behind."""
    df = spark.createDataFrame(
        [(f"g{i:03d}", float(i % 7)) for i in range(40)], "g string, v double"
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    with pytest.raises(ValueError, match="40 groups.*max_groups=10"):
        distribution.ks_pairwise(df, "g", "v", max_groups=10)
    assert cache.isEmpty()
    # raising the cap explicitly still works
    out = distribution.ks_pairwise(df, "g", "v", max_groups=40)
    assert out.count() == 40 * 39 // 2


def test_embedding_near_dup_hot_cell_cap(spark):
    """A planted hot cell (3000 identical-bucket vectors) is bounded by the
    cap: pair output ≤ cap·(cap-1)/2 with the lowest-id keep, and
    near_dup_cell_stats reports the drop count (VERDICT r2 #2)."""
    from inspectehr_spark.ann import embedding_near_dup_pairs, near_dup_cell_stats

    n, cap = 3000, 40
    rows = [(i, [1.0, float(i % 5), 2.0], 0) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = embedding_near_dup_pairs(
        emb, threshold=-1.0, bucket_col="label", bucket_cap=cap
    ).collect()
    assert len(pairs) == cap * (cap - 1) // 2          # all-pairs inside the cap
    assert max(max(r["vec_id_a"], r["vec_id_b"]) for r in pairs) == cap - 1

    stats = near_dup_cell_stats(emb, bucket_col="label", bucket_cap=cap).collect()
    assert len(stats) == 1
    assert (stats[0]["n_vectors"], stats[0]["n_kept"], stats[0]["n_dropped"]) == (
        n, cap, n - cap,
    )


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_brute_force_topk_rejects_non_finite_query(spark, bad):
    """A NaN/Inf query component has no SQL double literal: the vector
    literal builder names the bad component instead of failing analysis
    with an opaque parse error."""
    from inspectehr_spark.ann import brute_force_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="component 2"):
        brute_force_topk(emb, [0.5, 1.0, bad], k=1)


def test_near_dup_engines_agree(spark, sf_dir):
    """sql (HOF left-fold, oracle-exact) and arrow (per-cell numpy GEMM)
    engines produce identical pair sets and 6dp cosines on the fixture
    embeddings — the ulp caveat in the docstring never bites off the exact
    round/threshold boundary."""
    from inspectehr_spark.ann import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(threshold=0.2, bucket_col="label", bucket_cap=100)
    sql_pairs = sorted(
        (r["vec_id_a"], r["vec_id_b"], r["cos_sim"])
        for r in embedding_near_dup_pairs(emb, engine="sql", **kw).collect()
    )
    arrow_pairs = sorted(
        (r["vec_id_a"], r["vec_id_b"], r["cos_sim"])
        for r in embedding_near_dup_pairs(emb, engine="arrow", **kw).collect()
    )
    assert sql_pairs == arrow_pairs
    assert len(sql_pairs) > 0


def test_asof_join_planted(spark):
    """Backward-inclusive as-of semantics on planted rows: exact-ts match
    is taken (inclusive), earlier rows carry forward, no-match yields
    NULLs, and tolerance nulls out stale matches after the carry."""
    from inspectehr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"),
         (2, 10, "2024-01-01 12:00:00"),
         (3, 20, "2024-01-01 09:00:00"),
         (4, 30, "2024-01-01 09:00:00")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(100, 10, "2024-01-01 10:00:00"),   # exact tie with event 1
         (101, 10, "2024-01-01 08:00:00"),
         (102, 20, "2024-01-01 09:30:00")],  # after event 3 → no match
        "rid long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = {r["event_id"]: r for r in asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts", payload=["rid"]
    ).collect()}
    assert out[1]["asof_rid"] == 100            # inclusive tie
    assert out[2]["asof_rid"] == 100            # carried forward
    assert out[3]["asof_rid"] is None           # right is later
    assert out[4]["asof_rid"] is None           # key absent
    assert out[2]["asof_ts"] == dt.datetime(2024, 1, 1, 10, 0, 0)

    tol = {r["event_id"]: r for r in asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload=["rid"], tolerance_sec=3600.0,
    ).collect()}
    assert tol[1]["asof_rid"] == 100            # 0s old: kept
    assert tol[2]["asof_rid"] is None           # 2h old: nulled by tolerance


def test_connected_components_planted(spark):
    """A 4-node chain (needs multiple propagation rounds) + a separate
    pair: labels converge to the min reachable id."""
    from inspectehr_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_deep_chain_logarithmic(spark):
    """Pointer doubling: a 64-node chain (diameter 63) must converge in
    O(log d) rounds, not 63 — plain per-hop min propagation would blow
    the default max_iter. Labels still exact."""
    from inspectehr_spark.operators.graph import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src long, dst long"
    )
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        # threshold 0 forces the iterative path — this test exists to pin
        # the pointer-doubling round schedule, which the r7 small-graph
        # union-find path would bypass
        for r in connected_components(
            edges, stats=stats, small_graph_threshold=0
        ).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}
    # 2 plain warmup rounds + ~log2(63) doubling rounds; far below 63
    assert stats["rounds"] <= 14, stats


def test_connected_components_small_path_matches_iterative(spark):
    """The r7 single-task union-find path must emit exactly the iterative
    fixpoint's labels — same nodes, same min-reachable components."""
    from inspectehr_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (7, 4), (20, 21), (21, 22)],
        "src long, dst long",
    )
    stats_small: dict = {}
    small = {
        r["node"]: r["component"]
        for r in connected_components(edges, stats=stats_small).collect()
    }
    assert stats_small["rounds"] == 0  # took the single-task path
    stats_iter: dict = {}
    iterative = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, stats=stats_iter, small_graph_threshold=0
        ).collect()
    }
    assert stats_iter["rounds"] > 0
    assert small == iterative


def test_connected_components_mixed_id_types_take_iterative_path(spark):
    """src and dst of different types: the single-task union-find would
    type both outputs from src and compare mixed values, so the graph
    takes the iterative path, which coerces both ends to one type."""
    from inspectehr_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "src int, dst long"
    )
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, stats=stats).collect()
    }
    assert stats["rounds"] > 0
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_null_id_takes_iterative_path(spark):
    """A null id cannot enter the union-find (it is not comparable), so a
    small graph holding one takes the iterative path: the null becomes a
    (null, null) row and links nothing; the other labels are exact."""
    from inspectehr_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, None), (10, 11)], "src long, dst long"
    )
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, stats=stats).collect()
    }
    assert stats["rounds"] > 0
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 10: 10, 11: 10, None: None}


def test_psi_identity_and_shift(spark):
    """PSI of the reference group against itself is exactly 0; a shifted
    distribution scores positive."""
    from inspectehr_spark.operators.distribution import psi_by_group

    rows = [("ref", float(v)) for v in range(100)] + [
        ("shifted", float(v) + 60.0) for v in range(100)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r["psi"] for r in psi_by_group(df, "g", "v", "ref").collect()}
    assert got["ref"] == 0.0
    assert got["shifted"] > 1.0


def test_asof_join_forward_nearest(spark):
    """Forward matches the earliest right row at-or-after; nearest picks
    the closer side, ties to backward, tolerance applied per side."""
    from inspectehr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"),
         (2, 10, "2024-01-01 12:00:00"),
         (3, 20, "2024-01-01 09:00:00"),
         (5, 10, "2024-01-01 09:00:00")],   # equidistant: 08:00 vs 10:00
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(100, 10, "2024-01-01 10:00:00"),
         (101, 10, "2024-01-01 08:00:00"),
         (102, 20, "2024-01-01 09:30:00")],
        "rid long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    fwd = {r["event_id"]: r for r in asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload=["rid"], direction="forward",
    ).collect()}
    assert fwd[1]["asof_rid"] == 100            # inclusive exact match
    assert fwd[2]["asof_rid"] is None           # nothing at-or-after
    assert fwd[3]["asof_rid"] == 102
    assert fwd[5]["asof_rid"] == 100

    near = {r["event_id"]: r for r in asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload=["rid"], direction="nearest",
    ).collect()}
    assert near[2]["asof_rid"] == 100           # only backward exists
    assert near[3]["asof_rid"] == 102           # only forward exists
    assert near[5]["asof_rid"] == 101           # 1h tie → backward

    tol = {r["event_id"]: r for r in asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload=["rid"], direction="nearest", tolerance_sec=1800.0,
    ).collect()}
    assert tol[2]["asof_rid"] is None           # 2h backward out of tolerance
    assert tol[3]["asof_rid"] == 102            # 30min forward within
    assert tol[5]["asof_rid"] is None           # both sides 1h away

    with pytest.raises(ValueError):
        asof_join(left, right, key="user_id", left_ts="ts", right_ts="ts",
                  payload=["rid"], direction="sideways")


@pytest.fixture()
def webdocs(spark):
    """Two planted multi-line docs: doc 1 has an exact duplicate line, a
    too-short line, and a long terminal-punctuated line; doc 2 shares the
    short line with doc 1 (cross-doc survivor check)."""
    return spark.createDataFrame(
        [
            (1, "big cat sat.\nbig cat sat.\ntiny\nthe dog ran far away."),
            (2, "tiny\nnew line here."),
        ],
        "doc_id long, text string",
    )


def test_segment_dup_stats_planted(spark, webdocs):
    """Exact Gopher duplicate-line stats: 'big cat sat.' (12 chars)
    appears twice among 4 lines totalling 49 chars."""
    from inspectehr_spark.operators.webrules import segment_dup_stats

    out = {
        r["doc_id"]: r
        for r in segment_dup_stats(webdocs, "text", sep="\n").collect()
    }
    assert out[1]["seg_total"] == 4
    assert out[1]["seg_distinct"] == 3
    assert out[1]["seg_dup_frac"] == 0.25
    assert out[1]["seg_dup_char_frac"] == round(24 / 49, 6)
    assert out[2]["seg_dup_frac"] == 0.0
    assert out[2]["seg_dup_char_frac"] == 0.0


def test_segment_dup_stats_giant_doc_no_straggler(spark):
    """A planted 100k-segment document must complete in seconds: distinct
    counting rides the sorted-adjacent eq_prev pass (linear), NOT a
    string-array array_distinct (whose primitives-only fast path falls
    back to ~n²/2 string compares — a multi-second single-task straggler
    at this size). Values stay exact."""
    import time

    from inspectehr_spark.operators.webrules import segment_dup_stats

    n = 100_000
    # 50k distinct segments, each appearing exactly twice
    text = " ".join(f"w{i % (n // 2)}" for i in range(n))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    t0 = time.perf_counter()
    row = segment_dup_stats(df, "text", sep=" ").collect()[0]
    wall = time.perf_counter() - t0
    assert row["seg_total"] == n
    assert row["seg_distinct"] == n // 2
    assert row["seg_dup_frac"] == 0.5
    assert row["seg_dup_char_frac"] == 1.0
    assert wall < 30, f"giant-doc straggler: {wall:.1f}s"


def test_line_scrub_terminal(spark, webdocs):
    """C4 terminal-punctuation mode: keeps >=3-word lines ending in
    punctuation, drops 'tiny', rebuilds with the separator."""
    from inspectehr_spark.operators.webrules import line_scrub

    out = {
        r["doc_id"]: r
        for r in line_scrub(
            webdocs, "text", sep="\n", min_words=3, require_terminal=True
        ).collect()
    }
    assert (out[1]["lines_total"], out[1]["lines_kept"]) == (4, 3)
    assert out[1]["scrubbed"] == "big cat sat.\nbig cat sat.\nthe dog ran far away."
    assert (out[2]["lines_total"], out[2]["lines_kept"]) == (2, 1)
    assert out[2]["scrubbed"] == "new line here."


def test_dedup_segments_doc_and_corpus(spark, webdocs):
    """Doc scope keeps one 'big cat sat.' inside doc 1; corpus scope
    additionally awards 'tiny' to doc 1 (lowest (id, pos)), leaving doc 2
    rebuilt without it."""
    from inspectehr_spark.operators.webrules import dedup_segments

    doc = {
        r["doc_id"]: r
        for r in dedup_segments(webdocs, "doc_id", "text", sep="\n").collect()
    }
    assert doc[1]["text_deduped"] == "big cat sat.\ntiny\nthe dog ran far away."
    assert (doc[1]["lines_total"], doc[1]["lines_kept"]) == (4, 3)
    assert doc[2]["text_deduped"] == "tiny\nnew line here."

    corpus = {
        r["doc_id"]: r
        for r in dedup_segments(
            webdocs, "doc_id", "text", sep="\n", scope="corpus"
        ).collect()
    }
    assert corpus[1]["text_deduped"] == "big cat sat.\ntiny\nthe dog ran far away."
    assert corpus[2]["text_deduped"] == "new line here."
    assert (corpus[2]["lines_total"], corpus[2]["lines_kept"]) == (2, 1)


def test_assign_split_deterministic_and_partition_invariant(spark):
    """Split assignment is a pure function of the id: identical under
    repartitioning, roughly proportional to the weights, and every id
    gets exactly one split."""
    from inspectehr_spark.operators.sampling import assign_split

    df = spark.range(0, 2000).selectExpr("id AS doc_id")
    a = {r["doc_id"]: r["split"] for r in assign_split(df).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in assign_split(df.repartition(17)).collect()
    }
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 2000 - 0.8) < 0.05
    assert abs(c["val"] / 2000 - 0.1) < 0.04
    assert abs(c["test"] / 2000 - 0.1) < 0.04

    import pytest as _pytest

    with _pytest.raises(ValueError):
        assign_split(df, weights={"train": 0.5, "val": 0.2})


def test_stratified_sample_exact_k(spark):
    from inspectehr_spark.operators.sampling import stratified_sample

    df = spark.range(0, 300).selectExpr("id AS doc_id", "id % 3 AS g")
    out = stratified_sample(df, "g", k=7).collect()
    from collections import Counter

    per = Counter(r["g"] for r in out)
    assert per == {0: 7, 1: 7, 2: 7}
    # rerun identical (deterministic order)
    again = stratified_sample(df, "g", k=7).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in again)


def test_pack_sequences_contiguous_and_overflow(spark):
    """Bins are contiguous in order; a doc bigger than the target gets
    its own bin boundary; bin token totals stay near the target."""
    from inspectehr_spark.operators.sampling import pack_sequences

    rows = [(i, "g", [50, 60, 900, 2500, 40, 30][i]) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, g string, ntok long")
    out = {
        r["doc_id"]: r["bin_id"]
        for r in pack_sequences(df, "ntok", "g", "doc_id", 1000).collect()
    }
    # before-totals: 0,50,110,1010,3510,3550 → bins 0,0,0,1,3,3
    assert out == {0: 0, 1: 0, 2: 0, 3: 1, 4: 3, 5: 3}
    # bins never interleave: doc order within a group maps to nondecreasing bins
    assert [out[i] for i in range(6)] == sorted(out[i] for i in range(6))


def test_contamination_flags_planted(spark):
    """Exact decontamination counts: a doc sharing one 8-gram window with
    the benchmark is flagged with the right hit count; clean docs are
    not; a benchmark member is fully contaminated."""
    from inspectehr_spark.operators.dedup import contamination_flags

    bench_text = " ".join(f"b{i}" for i in range(10))     # 3 distinct 8-grams
    leak = " ".join(f"b{i}" for i in range(8))            # = bench 8-gram #1
    corpus = spark.createDataFrame(
        [
            (1, bench_text),                               # the benchmark doc itself
            (2, "prefix " + leak),                         # one leaked window
            (3, " ".join(f"c{i}" for i in range(20))),     # clean
            (4, "too short"),                              # < 8 tokens: no grams
        ],
        "doc_id long, text string",
    )
    bench = corpus.filter("doc_id = 1")
    got = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in contamination_flags(corpus, bench, ngram=8).collect()
    }
    assert got[1] == (3, True)
    assert got[2] == (1, True)
    assert got[3] == (0, False)
    assert got[4] == (0, False)


def test_assign_split_full_weight_edge(spark):
    """A non-final split of cumulative weight 1.0 must receive EVERY row
    (edge 256 formats as 3-char '100' and would otherwise lose the
    lexicographic compare for ~15/16 of buckets)."""
    from inspectehr_spark.operators.sampling import assign_split

    df = spark.range(0, 500).selectExpr("id AS doc_id")
    out = assign_split(df, weights={"train": 1.0, "test": 0.0})
    assert out.filter("split != 'train'").count() == 0


def test_ngram_jaccard_short_docs_zero(spark):
    """Docs below the n-gram width have empty shingle sets: Jaccard is
    defined as 0.0, not NULL (or an ANSI 0/0 error)."""
    from inspectehr_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "one two"), (2, "three"), (3, "a b c d")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_id_a long, doc_id_b long"
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, pairs).collect()
    }
    assert got[(1, 2)] == 0.0     # both empty
    assert got[(1, 3)] == 0.0     # one empty, one not


def test_scrub_frequent_segments_planted(spark):
    """Boilerplate = segments in >= min_docs DISTINCT docs: 'tiny' (docs
    1, 2, 3) scrubs everywhere; 'big cat sat.' repeats only within doc 1
    so it survives (within-doc repetition is dedup_segments' job, not
    boilerplate's). Doc 3 loses every segment but still appears, with an
    empty rebuild."""
    from inspectehr_spark.operators.webrules import scrub_frequent_segments

    docs = spark.createDataFrame(
        [
            (1, "big cat sat.\nbig cat sat.\ntiny\nthe dog ran far away."),
            (2, "tiny\nnew line here."),
            (3, "tiny"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in scrub_frequent_segments(
            docs, "doc_id", "text", sep="\n", min_docs=2
        ).collect()
    }
    assert out[1]["scrubbed"] == "big cat sat.\nbig cat sat.\nthe dog ran far away."
    assert (out[1]["lines_total"], out[1]["lines_kept"]) == (4, 3)
    assert out[2]["scrubbed"] == "new line here."
    assert (out[2]["lines_total"], out[2]["lines_kept"]) == (2, 1)
    assert out[3]["scrubbed"] == ""
    assert (out[3]["lines_total"], out[3]["lines_kept"]) == (1, 0)


def test_shingle_dup_coverage_planted(spark):
    """Known-answer coverage at n=2: 'a b' is shared (docs 1, 2, 4),
    'b c' / 'b x' / 'b a' are singletons; within-doc gram repetition
    (doc 4) counts once; a doc too short for any gram reports (0, 0,
    0.0) rather than vanishing."""
    from inspectehr_spark.operators.dedup import shingle_dup_coverage

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x"), (3, "z"), (4, "a b a b")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in shingle_dup_coverage(docs, "doc_id", "text", n=2).collect()
    }
    for d in (1, 2, 4):
        assert (out[d]["shingles_distinct"], out[d]["shingles_shared"]) == (2, 1)
        assert out[d]["dup_coverage"] == 0.5
    assert (out[3]["shingles_distinct"], out[3]["shingles_shared"]) == (0, 0)
    assert out[3]["dup_coverage"] == 0.0


def test_minhash_fast_path_matches_md5_variant(spark, sf_dir):
    """VERDICT r5 #5: the xxhash64 scale path (`minhash_lsh_pairs_fast`,
    rows-only in the driver) finds the SAME near-dup pair set as the
    md5 oracle-replay variant at the shared 32/16 sketch geometry — the
    hash family changes, the query semantics must not."""
    from inspectehr_spark.queries import QUERIES

    fast = QUERIES["minhash_lsh_pairs_fast"][0](spark, sf_dir)
    md5v = QUERIES["minhash_lsh_pairs"][0](spark, sf_dir)
    fp = sorted((r["doc_id_a"], r["doc_id_b"]) for r in fast.collect())
    mp = sorted((r["doc_id_a"], r["doc_id_b"]) for r in md5v.collect())
    assert len(fp) > 0
    assert fp == mp


def test_semantic_dedup_known_answer(spark):
    """Hand-verifiable SemDeDup cluster: v0=[1,0], v1≈v0 (cos 0.99995),
    v2 orthogonal, tau=0.95. keep='low' ranks ascending cent_cos — v2
    (outlier) first, then v0, then v1 (most prototypical) — so pair
    (v0,v1)'s later-ranked member v1 is the drop; keep='high' flips the
    rank order inside the pair, so v0 drops instead."""
    from inspectehr_spark.ann import semantic_dedup

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.999, 0.01], 0),
        (2, [0.0, 1.0], 0),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    low = {
        r["vec_id"]: r["is_semantic_dup"]
        for r in semantic_dedup(emb, threshold=0.95, keep="low").collect()
    }
    assert low == {0: False, 1: True, 2: False}
    high = {
        r["vec_id"]: r["is_semantic_dup"]
        for r in semantic_dedup(emb, threshold=0.95, keep="high").collect()
    }
    assert high == {0: True, 1: False, 2: False}


def test_semantic_dedup_many_pairless_cells_one_partition(spark):
    """Regression: the arrow cell kernel returns a SHARED empty frame for
    pair-less cells; the arrow_bkt wrapper must not mutate it in place
    (.insert of the cid key), or the SECOND empty cell processed by the
    same Python worker dies with 'cannot insert cid, already exists'.
    Force all cells into one shuffle partition so one worker sees them
    all sequentially."""
    from inspectehr_spark.ann import semantic_dedup

    rows = []
    for cid in range(6):  # every cluster: 2 orthogonal vectors -> no pairs
        rows.append((2 * cid, [1.0, 0.0], cid))
        rows.append((2 * cid + 1, [0.0, 1.0], cid))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        out = semantic_dedup(emb, threshold=0.95, keep="low").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(out) == 12
    assert all(r["is_semantic_dup"] is False for r in out)


def test_semantic_dedup_cap_overflow_null_and_false(spark):
    """Rows beyond bucket_cap leave the dedup's scope — NULL cent_cos,
    FALSE flag (the never-silent cap contract: a real run logs them via
    near_dup_cell_stats) — while the centroid still reflects the FULL
    cluster (it's computed before capping, like the oracle)."""
    from inspectehr_spark.ann import semantic_dedup

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.999, 0.01], 0),
        (2, [0.0, 1.0], 0),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["vec_id"]: r for r in semantic_dedup(emb, threshold=0.95, bucket_cap=2).collect()}
    assert out[2]["cent_cos"] is None and out[2]["is_semantic_dup"] is False
    assert out[1]["is_semantic_dup"] is True          # (v0,v1) still a pair
    assert out[0]["is_semantic_dup"] is False
    assert len(out) == 3                               # every input row present


def test_semantic_dedup_matches_serial_reference(spark):
    """Distributed verdicts == a serial numpy replay of the published
    SemDeDup rule (sort cluster by cent-cos, drop i iff any earlier j has
    cos(i,j) >= tau) on seeded random clusters — chain cases (a~b, b~c,
    a!~c) arise naturally and verify the rank-based (not survival-based)
    drop semantics."""
    import numpy as np

    from inspectehr_spark.ann import _round6, semantic_dedup

    rng = np.random.default_rng(11)
    rows = []
    for cid in range(3):
        base = rng.normal(size=4)
        for i in range(40):
            # half the rows are jittered copies of the cluster base —
            # dense near-dup structure with chains
            if i % 2:
                v = base + rng.normal(scale=0.15, size=4)
            else:
                v = rng.normal(size=4)
            rows.append((cid * 100 + i, [float(x) for x in v], cid))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    tau = 0.9
    got = {
        r["vec_id"]: r["is_semantic_dup"]
        for r in semantic_dedup(emb, threshold=tau, keep="low").collect()
    }

    want = {}
    for cid in range(3):
        mem = [(vid, np.array(v)) for vid, v, c in rows if c == cid]
        V = np.stack([v for _, v in mem])
        cent = np.array([_round6(float(x)) for x in V.mean(axis=0)])
        cc = [
            _round6(float((v @ cent) / (np.linalg.norm(v) * np.linalg.norm(cent))))
            for _, v in mem
        ]
        order = sorted(range(len(mem)), key=lambda i: (cc[i], mem[i][0]))
        for pos, i in enumerate(order):
            vid_i, vi = mem[i]
            dup = any(
                _round6(
                    float(
                        (vi @ mem[j][1])
                        / (np.linalg.norm(vi) * np.linalg.norm(mem[j][1]))
                    )
                )
                >= tau
                for j in order[:pos]
            )
            want[vid_i] = dup
    assert got == want
    assert any(want.values()) and not all(want.values())


def test_temperature_sample_deterministic_and_clamped(spark):
    """Rates follow n^alpha apportionment with the tail group clamped to
    rate 1 (all kept); verdicts are a pure function of the id (identical
    under repartitioning); realized kept totals track the expectation."""
    from inspectehr_spark.operators.sampling import temperature_sample

    df = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "CASE WHEN id < 1900 THEN 'big' ELSE 'small' END AS g"
    )
    out = temperature_sample(df, "g", target_total=1000, alpha=0.3)
    rows = out.collect()
    by = {}
    for r in rows:
        by.setdefault(r["g"], []).append(r)
    # small group: rate clamps to 1.0 → every row kept
    assert all(r["keep_rate"] == 1.0 and r["keep"] for r in by["small"])
    # big group: rate = 1000·w/1900 ≈ 0.372, realized within binomial noise
    big_rate = by["big"][0]["keep_rate"]
    assert 0.30 < big_rate < 0.45
    kept_big = sum(r["keep"] for r in by["big"])
    import math

    sd = math.sqrt(1900 * big_rate * (1 - big_rate))
    assert abs(kept_big - 1900 * big_rate) < 5 * sd

    again = {
        r["doc_id"]: r["keep"]
        for r in temperature_sample(
            df.repartition(13), "g", target_total=1000, alpha=0.3
        ).collect()
    }
    assert again == {r["doc_id"]: r["keep"] for r in rows}


def test_temperature_sample_alpha_one_uniform(spark):
    """alpha=1 degenerates to a single global rate target/total — every
    group gets the same keep_rate (the no-rebalancing identity)."""
    from inspectehr_spark.operators.sampling import temperature_sample

    df = spark.range(0, 1200).selectExpr("id AS doc_id", "id % 4 AS g")
    rates = {
        r["g"]: r["keep_rate"]
        for r in temperature_sample(df, "g", target_total=600, alpha=1.0).collect()
    }
    assert set(rates.values()) == {0.5}


def test_dsir_target_affinity_and_zero_gram(spark):
    """Docs built from target-corpus vocabulary score strictly higher
    than docs from disjoint vocabulary; a doc with <2 tokens has zero
    grams and scores exactly 0; scores are partition-invariant (BIGINT
    micro-unit sums commute)."""
    from pyspark.sql import functions as F

    from inspectehr_spark.operators.dsir import dsir_log_weights

    rows = [(i, "alpha beta gamma delta alpha beta", "tgt") for i in range(8)]
    rows += [(10 + i, "omega psi chi phi omega psi", "raw") for i in range(8)]
    rows += [(30, "alpha beta gamma delta", "raw"),   # target-like raw doc
             (31, "omega psi chi phi", "raw"),        # raw-like raw doc
             (32, "solo", "raw")]                     # 1 token -> 0 grams
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {
        r["doc_id"]: r
        for r in dsir_log_weights(df, F.col("src") == "tgt").collect()
    }
    assert out[30]["dsir_logw"] > out[31]["dsir_logw"]
    assert out[32]["n_grams"] == 0 and out[32]["score_micro"] == 0
    again = {
        r["doc_id"]: r["score_micro"]
        for r in dsir_log_weights(
            df.repartition(7), F.col("src") == "tgt"
        ).collect()
    }
    assert again == {k: v["score_micro"] for k, v in out.items()}


def test_substring_dup_stats_planted_and_short(spark):
    """Two docs sharing their full text produce shared spans at every
    aligned window; a unique doc shares none; a doc shorter than the
    window has zero windows and FALSE; the xxhash64 deployment twin
    produces the identical verdict set."""
    shared = ("the quick brown fox jumps over the lazy dog again and again "
              "until the sentence is comfortably longer than one window")
    rows = [
        (1, shared),
        (2, shared),
        (3, "an entirely different document body that is also long enough "
            "to produce several sliding windows of its very own text"),
        (4, "too short"),
    ]
    from inspectehr_spark.operators.dedup import substring_dup_stats

    df = spark.createDataFrame(rows, "doc_id long, text string")
    for hf in ("md5", "xxhash64"):
        out = {
            r["doc_id"]: r
            for r in substring_dup_stats(df, hash_fn=hf).collect()
        }
        assert out[1]["has_shared_span"] and out[2]["has_shared_span"]
        assert out[1]["n_shared"] == out[1]["n_windows"] > 0
        assert not out[3]["has_shared_span"] and out[3]["n_windows"] > 0
        assert out[4]["n_windows"] == 0 and not out[4]["has_shared_span"]


def test_grouped_quantile_assign_known_answer(spark):
    """Values 1..10 in one group split one per decile bucket (strict
    '>' puts each exact threshold tie in the LOWER bucket); a constant
    group collapses into bucket 1."""
    from inspectehr_spark.operators.distribution import grouped_quantile_assign

    rows = [(i, "a", float(i)) for i in range(1, 11)]
    rows += [(100 + i, "b", 7.0) for i in range(4)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r["id"]: r["q_bucket"] for r in grouped_quantile_assign(df, "g", "v").collect()}
    assert [out[i] for i in range(1, 11)] == list(range(1, 11))
    assert all(out[100 + i] == 1 for i in range(4))
