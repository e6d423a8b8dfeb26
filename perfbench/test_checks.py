"""Self-test of the benchmark's output checks; needs no Spark session.

Each test feeds a check a small hand-made output that matches its reference,
asserts the check passes, then corrupts one thing and asserts the check
catches it. Run with ``python3 perfbench/test_checks.py`` or pytest.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
from inspectehr_spark.pipeline.corpus import PlantedCounts, generate_pages  # noqa: E402
from inspectehr_spark.pipeline.reference import label_pages  # noqa: E402

ROWS, PLANTED = generate_pages(60, seed=5)
LABELS = label_pages(ROWS)
DATES = {r[0]: r[1].date().isoformat() for r in ROWS}


def _decisions():
    return [
        (u, lab["keep"], lab["first_fail_code"], lab["scrubbed_text"])
        for u, lab in LABELS.items()
    ]


def _failures():
    return list(checks.expected_failures(LABELS).elements())


def _metrics():
    out = []
    for d in sorted(set(DATES.values())):
        urls = [u for u in LABELS if DATES[u] == d]
        for code in LABELS[urls[0]]["checks"]:
            out.append((dt.date.fromisoformat(d), code, len(urls),
                        sum(LABELS[u]["checks"][code] for u in urls)))
    return out


def test_decisions_flipped_keep_is_caught():
    rows = _decisions()
    assert checks.check_decisions(rows, LABELS) == []
    u, keep, code, text = rows[3]
    rows[3] = (u, not keep, code, text)
    assert checks.check_decisions(rows, LABELS)


def test_decisions_changed_scrub_byte_is_caught():
    rows = _decisions()
    u, keep, code, text = rows[7]
    rows[7] = (u, keep, code, text[:-1] + chr(ord(text[-1]) ^ 1))
    assert checks.check_decisions(rows, LABELS)


def test_decisions_dropped_and_duplicated_rows_are_caught():
    rows = _decisions()
    assert checks.check_decisions(rows[1:], LABELS)
    assert checks.check_decisions(rows + rows[:1], LABELS)


def test_failures_dropped_and_duplicated_rows_are_caught():
    rows = _failures()
    assert rows and checks.check_failures(rows, LABELS) == []
    assert checks.check_failures(rows[1:], LABELS)
    assert checks.check_failures(rows + rows[:1], LABELS)


def test_metrics_wrong_count_is_caught():
    rows = _metrics()
    assert checks.check_metrics(rows, LABELS, DATES) == []
    part, code, n_checked, n_failed = rows[0]
    rows[0] = (part, code, n_checked, n_failed + 1)
    assert checks.check_metrics(rows, LABELS, DATES)


def test_planted_url_missing_from_failure_log_is_caught():
    failing = {u for u, _ in _failures()}
    scrubbed = {u: lab["scrubbed_text"] for u, lab in LABELS.items()}
    urls = set(LABELS)
    assert checks.check_planted(failing, scrubbed, PLANTED, urls) == []
    missing = PLANTED.too_short[0]
    assert checks.check_planted(failing - {missing}, scrubbed, PLANTED, urls)
    assert checks.check_planted(failing - {missing}, scrubbed, PLANTED, urls - {missing}) == []
    planted = PlantedCounts(pii=[ROWS[10][0]])
    assert checks.check_planted(failing, scrubbed, planted, urls)


def test_commit_report_is_checked():
    dates = {"2025-03-01", "2025-03-02"}
    assert checks.check_commit({"partitions_processed": 2, "rows": 9}, dates, 9) == []
    assert checks.check_commit({"partitions_processed": 2, "rows": 8}, dates, 9)
    assert checks.check_commit({"partitions_processed": 3, "rows": 9}, dates, 9)


def test_time_travel_showing_a_later_batch_is_caught():
    batches = [{"a", "b"}, {"c"}, {"d", "e"}]
    assert checks.check_time_travel({"a", "b", "c"}, batches[:2]) == []
    assert checks.check_time_travel({"a", "b", "c", "d"}, batches[:2])
    assert checks.check_time_travel({"a", "b"}, batches[:2])


def test_registry_dropped_or_duplicated_row_is_caught():
    cols = ["k", "x"]
    oracle = [(1, 0.1234567), (2, None), (3, 2.5)]
    got = [(3, 2.5), (1, 0.12345671), (2, float("nan"))]
    assert checks.check_rows("q", cols, got, cols, oracle) == []
    assert checks.check_rows("q", ["x", "k"], [(r[1], r[0]) for r in got], cols, oracle) == []
    assert checks.check_rows("q", cols, got[:-1], cols, oracle)
    assert checks.check_rows("q", cols, got + got[:1], cols, oracle)
    assert checks.check_rows("q", cols, [(3, 2.5), (1, 0.13), (2, None)], cols, oracle)
    assert checks.check_rows("q", ["k", "y"], got, cols, oracle)


if __name__ == "__main__":
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for name, fn in tests:
        fn()
        print(f"ok {name}")
    print(f"{len(tests)} passed")
