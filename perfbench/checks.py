"""Output checks of the benchmark, in plain Python (no Spark).

Every function compares what the program returned with a computation made
apart from it: the serial labeler (``pipeline.reference.label_pages``), the
corpus generator's planted-error record, the batch make-up the benchmark
chose itself, or the DuckDB oracle SQL of a registry query. Each returns a
list of human-readable problems; an empty list means the output is correct.
"""

from __future__ import annotations

import math
from collections import Counter

# Planted classes that must fail at least one check. PII and toxic pages are
# scrubbed, not dropped, so for them the scrubbed text is checked instead.
# Planted exact duplicates are left to the labeler: when a corpus is split
# into day-batches, a duplicate's twin can sit in another batch, and a
# resumed run_pipeline call only compares pages of its own batch.
FAILING_PLANTS = (
    "too_short", "too_long", "bad_lang", "high_symbol", "repeated_ngram",
    "future_ts", "giant",
)
SCRUB_MARKS = {
    "pii": ("<EMAIL>", "<PHONE>", "<POSTCODE>", "<ID>"),
    "toxic": ("<TOX>",),
}
MAX_REPORTED = 5


def _cap(problems: list[str]) -> list[str]:
    if len(problems) > MAX_REPORTED:
        return problems[:MAX_REPORTED] + [f"... {len(problems) - MAX_REPORTED} more"]
    return problems


def expected_failures(labels: dict[str, dict]) -> Counter:
    """(url, check_code) pairs the labeler says fail."""
    return Counter(
        (url, code)
        for url, lab in labels.items()
        for code, bad in lab["checks"].items()
        if bad
    )


def check_decisions(rows: list[tuple], labels: dict[str, dict]) -> list[str]:
    """rows = (url, keep, first_fail_code, scrubbed_text) from the decisions
    sink. One row per labelled url, with the labeler's keep, first failing
    check and byte-identical scrubbed text."""
    problems = []
    seen = Counter(r[0] for r in rows)
    problems += [f"decisions: url {u} appears {n} times" for u, n in seen.items() if n > 1]
    problems += [f"decisions: missing url {u}" for u in labels if u not in seen]
    problems += [f"decisions: unexpected url {u}" for u in seen if u not in labels]
    for url, keep, code, text in rows:
        lab = labels.get(url)
        if lab is None:
            continue
        if keep != lab["keep"]:
            problems.append(f"decisions: {url} keep={keep}, expected {lab['keep']}")
        if code != lab["first_fail_code"]:
            problems.append(
                f"decisions: {url} first_fail_code={code!r}, expected {lab['first_fail_code']!r}"
            )
        if (text or "").encode("utf-8") != lab["scrubbed_text"].encode("utf-8"):
            problems.append(f"decisions: {url} scrubbed_text differs from the labeler")
    return _cap(problems)


def check_failures(rows: list[tuple], labels: dict[str, dict]) -> list[str]:
    """rows = (url, check_code) from the failures sink: exactly the
    labeler's failing checks, each once."""
    got = Counter(rows)
    want = expected_failures(labels)
    problems = [
        f"failures: ({u}, {c}) logged {got[(u, c)]} times, expected {want[(u, c)]}"
        for (u, c) in sorted(set(got) | set(want))
        if got[(u, c)] != want[(u, c)]
    ]
    return _cap(problems)


def check_metrics(
    rows: list[tuple], labels: dict[str, dict], dates: dict[str, str]
) -> list[str]:
    """rows = (partition_id, check_code, n_checked, n_failed) from the
    metrics sink; ``dates`` maps url -> p_date. One row per (date, check)
    with the labeler's counts."""
    checked = Counter(dates[u] for u in labels)
    failed = Counter(
        (dates[u], code)
        for u, lab in labels.items()
        for code, bad in lab["checks"].items()
        if bad
    )
    codes = {c for lab in labels.values() for c in lab["checks"]}
    want = {(d, c): (checked[d], failed[(d, c)]) for d in checked for c in codes}
    got: dict[tuple, tuple] = {}
    problems = []
    for part, code, n_checked, n_failed in rows:
        key = (str(part), code)
        if key in got:
            problems.append(f"metrics: ({key}) appears twice")
        got[key] = (n_checked, n_failed)
    for key in sorted(set(got) | set(want)):
        if got.get(key) != want.get(key):
            problems.append(
                f"metrics: {key} (n_checked, n_failed)={got.get(key)}, expected {want.get(key)}"
            )
    return _cap(problems)


def check_planted(
    failure_urls: set[str], scrubbed: dict[str, str], planted, within: set[str]
) -> list[str]:
    """Every planted defect among the urls ``within`` shows: failing plants
    are in the failure log, PII and toxic plants carry a scrub placeholder."""
    problems = []
    for kind in FAILING_PLANTS:
        for url in within.intersection(getattr(planted, kind)):
            if url not in failure_urls:
                problems.append(f"planted {kind} url {url} not in the failure log")
    for kind, marks in SCRUB_MARKS.items():
        for url in within.intersection(getattr(planted, kind)):
            if not any(m in scrubbed.get(url, "") for m in marks):
                problems.append(f"planted {kind} url {url} not scrubbed")
    return _cap(problems)


def check_commit(stats: dict, dates: set[str], n_rows: int) -> list[str]:
    """A resumed run_pipeline call reports exactly its batch."""
    got = (stats.get("partitions_processed"), stats.get("rows"))
    if got != (len(dates), n_rows):
        return [f"commit reported (partitions, rows)={got}, expected {(len(dates), n_rows)}"]
    return []


def check_time_travel(got: set[str], batches: list[set[str]]) -> list[str]:
    """``got`` = decisions urls read at the version the k-th commit
    published; ``batches`` = the urls of batches 1..k. The version must
    show exactly those batches: none missing, none from a later batch."""
    want = set().union(*batches)
    if got != want:
        return [
            f"time travel to commit {len(batches)}: {len(got - want)} urls "
            f"not yet committed, {len(want - got)} committed urls missing"
        ]
    return []


def _norm_cell(x):
    if isinstance(x, float):
        return None if math.isnan(x) else round(x, 6)
    return x


def _norm(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def check_rows(
    name: str, cols: list[str], rows: list[tuple],
    oracle_cols: list[str], oracle_rows: list[tuple],
) -> list[str]:
    """Order-insensitive row equality with the oracle, doubles rounded to 6
    places and NaN read as NULL (the rule of tests/test_oracle_parity.py)."""
    if sorted(cols) != sorted(oracle_cols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(oracle_cols)}"]
    got, want = _norm(cols, rows), _norm(oracle_cols, oracle_rows)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows vs oracle {len(want)}"]
    bad = [(a, b) for a, b in zip(got, want) if a != b]
    if bad:
        return [f"{name}: {len(bad)} rows differ from the oracle, first {bad[0]}"]
    return []
