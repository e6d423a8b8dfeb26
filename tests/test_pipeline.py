"""End-to-end pipeline contract tests: keep/drop F1 vs the serial reference
labeler, byte-identical scrubbed text per url, planted-error detection,
and resume-from-manifest idempotence (BASELINE.json "metric"/"north_rule")."""

from __future__ import annotations

import os

import pytest

from inspectehr_spark.pipeline import corpus, reference
from inspectehr_spark.pipeline.run import read_sink, run_pipeline

N_DOCS = 1200
SEED = 42


@pytest.fixture(scope="module")
def fixture_corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    path = str(d / "pages.parquet")
    planted = corpus.write_pages_parquet(path, n=N_DOCS, seed=SEED)
    rows, _ = corpus.generate_pages(n=N_DOCS, seed=SEED)
    labels = reference.label_pages(rows)
    return path, planted, labels


@pytest.fixture(scope="module")
def pipeline_out(spark, fixture_corpus, tmp_path_factory):
    path, planted, labels = fixture_corpus
    out = str(tmp_path_factory.mktemp("out"))
    stats = run_pipeline(spark, path, out, resume=True, salt_partitions=8)
    return out, stats, planted, labels


def _decisions(spark, out):
    df = read_sink(spark, out, "decisions")
    return {
        r["url"]: (r["keep"], r["first_fail_code"], r["scrubbed_text"])
        for r in df.collect()
    }


def test_f1_against_reference(spark, pipeline_out):
    out, stats, planted, labels = pipeline_out
    got = _decisions(spark, out)
    assert len(got) == len(labels)
    tp = fp = fn = 0
    mismatches = []
    for url, ref in labels.items():
        keep_ref = ref["keep"]
        keep_got = got[url][0]
        if keep_got and keep_ref:
            tp += 1
        elif keep_got and not keep_ref:
            fp += 1
            mismatches.append((url, "kept-but-ref-drops", ref["first_fail_code"]))
        elif not keep_got and keep_ref:
            fn += 1
            mismatches.append((url, "dropped-but-ref-keeps", got[url][1]))
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, (f1, mismatches[:10])
    # and the failure attribution agrees too
    attr_mismatch = [
        (u, got[u][1], labels[u]["first_fail_code"])
        for u in labels
        if got[u][1] != labels[u]["first_fail_code"]
    ]
    assert not attr_mismatch, attr_mismatch[:10]


def test_scrubbed_text_byte_identical(spark, pipeline_out):
    out, _stats, _planted, labels = pipeline_out
    got = _decisions(spark, out)
    bad = [
        url
        for url, ref in labels.items()
        if got[url][2].encode("utf-8") != ref["scrubbed_text"].encode("utf-8")
    ]
    assert not bad, (len(bad), bad[:5])


def test_planted_errors_detected(spark, pipeline_out):
    out, _stats, planted, labels = pipeline_out
    got = _decisions(spark, out)
    for url in planted.too_short:
        assert got[url][0] is False, url
        assert got[url][1] == "doc_length", got[url]
    for url in planted.bad_lang:
        assert got[url][0] is False, url
    for url in planted.exact_dup:
        assert got[url][0] is False, url
    for url in planted.future_ts:
        assert got[url][0] is False, url
    for url in planted.high_symbol:
        assert got[url][0] is False, url
    for url in planted.repeated_ngram:
        assert got[url][0] is False, url
    # PII docs are scrubbed, not dropped — unless another rule fires
    for url in planted.pii:
        txt = got[url][2]
        assert "@" not in txt, url
        assert "<EMAIL>" in txt or "<PHONE>" in txt or "<POSTCODE>" in txt or "<ID>" in txt, url
    # toxicity terms are scrubbed case-insensitively
    from inspectehr_spark.pipeline import spec as _spec

    for url in planted.toxic:
        txt = got[url][2]
        assert "<TOX>" in txt, url
        low = txt.lower()
        assert not any(t in low for t in _spec.TOX_TERMS), url


def test_metrics_cover_all_partitions_and_checks(spark, pipeline_out):
    out, _stats, _planted, _labels = pipeline_out
    mets = read_sink(spark, out, "metrics")
    from inspectehr_spark.pipeline import spec

    rows = mets.collect()
    # metrics are partitioned by partition_id on disk; the dir key reads
    # back as the string it was written as (the data dir's _schema.json)
    parts = {str(r["partition_id"]) for r in rows}
    checks = {r["check_code"] for r in rows}
    assert checks == set(spec.CHECKS)
    dec = read_sink(spark, out, "decisions")
    # partitionBy writes p_date as a dir key that reads back as a string too
    assert parts == {
        str(r["p_date"]) for r in dec.select("p_date").distinct().collect()
    }
    # n_failed consistency for one check
    n_dup_metric = sum(r["n_failed"] for r in rows if r["check_code"] == "exact_duplicate")
    log = read_sink(spark, out, "failures")
    n_dup_log = log.filter(log.check_code == "exact_duplicate").count()
    assert n_dup_metric == n_dup_log


def test_crashed_run_leaves_nothing_visible(spark, fixture_corpus, tmp_path_factory):
    """Crash before the atomic manifest publish (ADVICE r1, now via
    sources/snapshots.py): sink data directories on disk but no committed
    manifest → readers see NOTHING, resume reprocesses everything, and the
    rerun neither duplicates nor drops rows."""
    import shutil

    path, _planted, labels = fixture_corpus
    out = str(tmp_path_factory.mktemp("out_crash"))
    run_pipeline(spark, path, out, resume=True)
    # simulate the crash: data dirs written, manifest publish never happened
    shutil.rmtree(os.path.join(out, "_manifests"))
    with pytest.raises(FileNotFoundError):
        read_sink(spark, out, "decisions")       # orphans are invisible
    stats = run_pipeline(spark, path, out, resume=True)
    dec = read_sink(spark, out, "decisions")
    assert stats["rows"] == len(labels)          # everything reprocessed
    assert dec.count() == len(labels)            # and nothing duplicated
    got = _decisions(spark, out)
    wrong = [u for u, ref in labels.items() if got[u][0] != ref["keep"]]
    assert not wrong, wrong[:5]


def test_sink_time_travel_and_rollback(spark, fixture_corpus, tmp_path_factory):
    """Every run_pipeline commit is a snapshot version: version 1 (half the
    corpus) stays readable after the full-corpus version 2 lands, and a
    snapshots.rollback makes v1 the latest again without rewriting
    history."""
    from pyspark.sql import functions as F

    from inspectehr_spark.sources import snapshots as snap

    path, _planted, _labels = fixture_corpus
    out = str(tmp_path_factory.mktemp("out_tt"))
    pages = spark.read.parquet(path)
    dates = sorted(
        r[0]
        for r in pages.select(F.to_date("warc_ts").cast("string")).distinct().collect()
    )
    half = dates[: len(dates) // 2]
    part1 = str(tmp_path_factory.mktemp("tt_p1") / "pages.parquet")
    pages.filter(F.to_date("warc_ts").cast("string").isin(half)).write.parquet(
        part1, mode="overwrite"
    )
    run_pipeline(spark, part1, out, resume=True)     # v1
    n1 = read_sink(spark, out, "decisions").count()
    run_pipeline(spark, path, out, resume=True)      # v2
    n2 = read_sink(spark, out, "decisions").count()
    assert n2 > n1
    assert read_sink(spark, out, "decisions", version=1).count() == n1
    v3 = snap.rollback(out, to_version=1)
    assert v3 == 3
    # latest read now sees only v1's data, while v2 still time-travels
    assert read_sink(spark, out, "decisions").count() == n1
    assert read_sink(spark, out, "decisions", version=2).count() == n2


def test_web_rules_follow_check_order():
    """failure_flags names its columns from WEB_RULES and decide reads them
    by spec.CHECKS: the two lists must be the same, in the same order."""
    from inspectehr_spark.pipeline import spec
    from inspectehr_spark.rules import WEB_RULES

    assert [r.check_code for r in WEB_RULES] == list(spec.CHECKS)


def test_battery_matches_failure_flags(spark, fixture_corpus):
    """run_battery(WEB_RULES)'s long log and the pipeline's failure_flags →
    failure_log agree check-for-check (VERDICT r1: threshold drift + dead
    langid_agree rule)."""
    from pyspark.sql import functions as F

    from inspectehr_spark.operators.checks import run_battery
    from inspectehr_spark.pipeline.run import (
        enrich,
        failure_flags,
        failure_log,
        flag_exact_duplicates,
    )
    from inspectehr_spark.rules import WEB_RULES

    path, _planted, _labels = fixture_corpus
    pages = spark.read.parquet(path).withColumn(
        "p_date", F.to_date("warc_ts").cast("string")
    )
    flagged = flag_exact_duplicates(enrich(pages))
    want = sorted(
        (r["url"], r["check_code"])
        for r in failure_log(failure_flags(flagged)).collect()
    )
    got = sorted(
        (r["url"], r["check_code"])
        for r in run_battery(flagged, WEB_RULES).collect()
    )
    assert got == want
    # the previously-dead cross-column rule actually fires
    assert any(c == "langid_agree" for _, c in got)


def test_resume_is_idempotent_and_incremental(spark, fixture_corpus, tmp_path_factory):
    path, _planted, labels = fixture_corpus
    out = str(tmp_path_factory.mktemp("out_resume"))

    # phase 1: pretend the job died after processing only the first dates —
    # simulate by pre-seeding the manifest with NOTHING and running over a
    # date-filtered subset written to a temp parquet.
    pages = spark.read.parquet(path)
    from pyspark.sql import functions as F

    dates = sorted(
        r[0] for r in pages.select(F.to_date("warc_ts").cast("string")).distinct().collect()
    )
    half = dates[: len(dates) // 2]
    part1 = str(tmp_path_factory.mktemp("p1") / "pages.parquet")
    pages.filter(F.to_date("warc_ts").cast("string").isin(half)).write.parquet(
        part1, mode="overwrite"
    )
    s1 = run_pipeline(spark, part1, out, resume=True)
    assert s1["partitions_processed"] == len(half)

    # phase 2: resume over the FULL corpus — only unprocessed partitions run
    s2 = run_pipeline(spark, path, out, resume=True)
    assert s2["partitions_processed"] == len(dates) - len(half)

    # phase 3: run again — nothing left to do
    s3 = run_pipeline(spark, path, out, resume=True)
    assert s3["partitions_processed"] == 0

    # final state == reference over the whole corpus (no dupes, no gaps)
    got = _decisions(spark, out)
    assert len(got) == len(labels)
    wrong = [u for u, ref in labels.items() if got[u][0] != ref["keep"]]
    assert not wrong, wrong[:5]


def test_null_warc_ts_resumes_cleanly(spark, tmp_path_factory):
    """A NULL warc_ts must land in the sentinel partition, resume without
    crashing sorted() over the date set, and never re-append (the NULL
    key would miss the anti-join every run). A NULL input fails no check:
    the metrics sink counts 0 for it, as the commit report does."""
    import datetime as dt

    from inspectehr_spark.sources import snapshots as snap

    rows = [
        ("https://x/1", dt.datetime(2025, 3, 1), b"<html><p>one doc here</p></html>", "one doc here", "en"),
        ("https://x/2", None, b"<html><p>no timestamp doc</p></html>", "no timestamp doc", "en"),
        ("https://x/3", dt.datetime(2025, 3, 1), b"<html><p>no lang doc</p></html>", "no lang doc", None),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    src = str(tmp_path_factory.mktemp("null_ts") / "pages.parquet")
    df.write.parquet(src)
    out = str(tmp_path_factory.mktemp("null_ts_out"))
    s1 = run_pipeline(spark, src, out, resume=True)
    assert s1["rows"] == 3
    assert s1["partitions_processed"] == 2        # real date + __no_date__
    metrics = read_sink(spark, out, "metrics").collect()
    assert metrics and all(isinstance(r["n_failed"], int) for r in metrics)
    sums: dict[str, int] = {}
    for r in metrics:
        sums[r["check_code"]] = sums.get(r["check_code"], 0) + r["n_failed"]
    assert sums == snap.latest_extra(out)["report"]["failures"]
    s2 = run_pipeline(spark, src, out, resume=True)
    assert s2["partitions_processed"] == 0        # nothing reprocessed
    dec = read_sink(spark, out, "decisions")
    assert dec.count() == 3                       # and nothing duplicated
    assert {str(r["p_date"]) for r in dec.select("p_date").distinct().collect()} == {
        "2025-03-01", "__no_date__"
    }


def test_commit_report_matches_sinks_and_reference(spark, pipeline_out):
    """The report observed on the decisions write, stored in the commit's
    extra, equals the metrics sink's totals and the serial labeler."""
    from inspectehr_spark.pipeline import spec
    from inspectehr_spark.sources import snapshots as snap

    out, stats, _planted, labels = pipeline_out
    report = snap.history(out)[-1]["extra"]["report"]
    rows, _ = corpus.generate_pages(n=N_DOCS, seed=SEED)
    mets = read_sink(spark, out, "metrics").collect()
    assert report["rows"] == stats["rows"] == len(labels)
    assert report["rows"] == sum(
        r["n_checked"] for r in mets if r["check_code"] == spec.CHECKS[0]
    )
    assert report["kept"] == sum(ref["keep"] for ref in labels.values())
    assert report["null_date_rows"] == sum(r[1] is None for r in rows)
    assert report["failures"] == {
        code: sum(r["n_failed"] for r in mets if r["check_code"] == code)
        for code in spec.CHECKS
    }
    assert report["failures"] == {
        code: sum(ref["checks"][code] for ref in labels.values())
        for code in spec.CHECKS
    }


# Jobs of one resumed commit that has rows: the pages schema inference,
# the resume-date broadcast, and the exchanges and writes of the three
# sinks. Inspecting the run with take/count/collect cost 17.
JOBS_PER_RESUMED_COMMIT = 10


def _refuse_driver_actions(monkeypatch, spark) -> None:
    def refuse(self, *args, **kwargs):
        raise AssertionError("run_pipeline ran a driver action on a DataFrame")

    cls = type(spark.range(1))
    for name in ("take", "head", "first", "count", "collect", "toLocalIterator"):
        monkeypatch.setattr(cls, name, refuse)


def test_resumed_commit_runs_only_its_write_jobs(
    spark, tmp_path_factory, count_jobs, monkeypatch
):
    """A resumed commit with rows runs only the jobs that write its sinks,
    none of them a take/count/collect; a resume with nothing new makes no
    version, leaves every sink as it was, and its uncommitted data
    directory is the one thing vacuum reclaims. The manifest at version k
    holds run k's report."""
    from pyspark.sql import functions as F

    from inspectehr_spark.sources import snapshots as snap

    base = tmp_path_factory.mktemp("jobs")
    src = str(base / "src.parquet")
    corpus.write_pages_parquet(src, n=240, seed=17)
    pages = spark.read.parquet(src)
    day = F.to_date("warc_ts").cast("string")
    dates = sorted(r[0] for r in pages.select(day).distinct().collect())
    first = pages.filter(day.isin(dates[: len(dates) // 2]))
    rest = pages.filter(~day.isin(dates[: len(dates) // 2]))
    n_first, n_rest = first.count(), rest.count()
    batches, out = str(base / "pages"), str(base / "out")
    first.write.parquet(batches)
    run_pipeline(spark, batches, out)
    rest.write.mode("append").parquet(batches)

    stats: dict = {}
    with monkeypatch.context() as m:
        _refuse_driver_actions(m, spark)
        jobs = count_jobs(lambda: stats.update(run_pipeline(spark, batches, out)))
    assert stats["rows"] == n_rest
    assert jobs <= JOBS_PER_RESUMED_COMMIT, jobs

    before = {k: sorted(map(tuple, read_sink(spark, out, k).collect()))
              for k in ("decisions", "failures", "metrics")}
    with monkeypatch.context() as m:
        _refuse_driver_actions(m, spark)
        empty = run_pipeline(spark, batches, out)
    assert (empty["partitions_processed"], empty["rows"]) == (0, 0)
    assert snap.latest_version(out) == 2
    assert before == {k: sorted(map(tuple, read_sink(spark, out, k).collect()))
                      for k in ("decisions", "failures", "metrics")}
    assert [h["extra"]["report"]["rows"] for h in snap.history(out)] == [
        n_first, n_rest,
    ]
    swept = snap.vacuum(out, grace_sec=0)
    assert len(swept) == 1 and swept[0].startswith("decisions"), swept


# py4j commands that build one commit's plan (enrich, flags, decide,
# failure log, metrics), measured 560, plus 10% headroom. Building the
# per-check lists with the Column API cost 3879.
PLAN_BUILD_PY4J = 616


def test_commit_plan_builds_in_few_py4j_calls(spark, fixture_corpus, count_py4j):
    from pyspark.sql import functions as F

    from inspectehr_spark.pipeline.run import (
        decide, enrich, failure_flags, failure_log, flag_exact_duplicates,
        metrics_table,
    )

    path, _planted, _labels = fixture_corpus
    pages = spark.read.parquet(path).withColumn(
        "p_date", F.to_date("warc_ts").cast("string")
    ).drop("text")

    def build():
        flagged = failure_flags(flag_exact_duplicates(enrich(pages))).drop(
            "warc_ts", "lang"
        )
        return decide(flagged), failure_log(flagged), metrics_table(flagged)

    build()  # first use resolves JVM classes once per session
    _, n = count_py4j(build)
    assert n <= PLAN_BUILD_PY4J, n


def test_ci_pattern_robust_terms():
    """_ci handles real-moderation-list shapes: mixed case normalizes,
    metacharacters and case-unstable letters escape literally."""
    import re

    from inspectehr_spark.pipeline.spec import _ci

    pat = re.compile(r"\b(?:" + _ci("Slur-X") + r")\b")
    assert pat.search("a slur-x b")
    assert pat.search("a SLUR-X b")
    p2 = re.compile(_ci("a+b"))
    assert p2.search("xA+By")
    assert not p2.search("aab")            # '+' is literal, not a quantifier
    re.compile(_ci("straße"))              # ß escapes, pattern stays valid
