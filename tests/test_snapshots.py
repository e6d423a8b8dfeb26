"""Snapshot-manifest tables (sources/snapshots.py): atomic versioned
commits, time travel, rollback, crash/concurrency isolation."""

from __future__ import annotations

import os

import pytest

from inspectehr_spark.sources import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 10 AS v")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def _commit(df, root, partition_col=None, keep_prior=True):
    """Write `df` as a new data dir of table "t" and commit it."""
    rel = snap.write_table_data(
        df, root, "t", (snap.latest_version(root) or 0) + 1, partition_col
    )
    return snap.commit_transaction(root, {"t": [rel]}, keep_prior=keep_prior)


def _read(spark, root, version=None):
    return snap.read_table(spark, root, "t", version=version)


def _dirs(root, version):
    return snap._read_manifest(root, version)["tables"]["t"]


def _manifest(rels, operation="txn"):
    return {"operation": operation, "committed_at": 0.0,
            "tables": {"t": rels}, "extra": {}}


def test_append_time_travel_replace_rollback(spark, tmp_path):
    root = str(tmp_path / "tbl")
    v1 = _commit(_df(spark, 0, 3), root)
    v2 = _commit(_df(spark, 3, 5), root)
    assert (v1, v2) == (1, 2)
    assert _ids(_read(spark, root)) == [0, 1, 2, 3, 4]
    assert _ids(_read(spark, root, version=1)) == [0, 1, 2]

    v3 = _commit(_df(spark, 100, 102), root, keep_prior=False)
    assert _ids(_read(spark, root)) == [100, 101]
    # history is never rewritten: v2 still time-travels
    assert _ids(_read(spark, root, version=2)) == [0, 1, 2, 3, 4]

    v4 = snap.rollback(root, to_version=2)
    assert (v3, v4) == (3, 4)
    assert _ids(_read(spark, root)) == [0, 1, 2, 3, 4]
    ops = [h["operation"] for h in snap.history(root)]
    assert ops == ["txn", "txn", "txn-replace", "rollback(v2)"]


def test_uncommitted_data_invisible(spark, tmp_path):
    """A crashed writer leaves a data directory but no manifest — readers
    never see it."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)
    snap.write_table_data(_df(spark, 900, 950), root, "t", 99)  # crash: no commit
    assert _ids(_read(spark, root)) == [0, 1, 2]
    assert snap.latest_version(root) == 1


def test_commit_conflict_retries_against_winner(spark, tmp_path):
    """If another writer lands the next version first, a commit retries
    and commits AFTER it, preserving the winner's rows."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)
    # a concurrent winner takes v2 with its own data
    rel = snap.write_table_data(_df(spark, 50, 52), root, "t", 2)
    assert snap._try_commit(root, _manifest(_dirs(root, 1) + [rel]), 2)
    v = _commit(_df(spark, 7, 9), root)
    assert v == 3
    assert _ids(_read(spark, root)) == [0, 1, 2, 7, 8, 50, 51]


def test_truncated_manifest_is_uncommitted(spark, tmp_path):
    """A crashed pre-publish writer (or foreign tool) leaving an empty or
    half-written v<N>.json must NOT brick the table: unparsable manifests
    are treated as uncommitted, and the next commit takes the version slot
    arbitration into account (link publish loses to the existing name, so
    the committer skips past it)."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)
    # simulate the old O_EXCL-then-crash window: v2 exists but is empty
    bad = os.path.join(root, "_manifests", "v2.json")
    with open(bad, "w"):
        pass
    # readers ignore it
    assert snap.latest_version(root) == 1
    assert _ids(_read(spark, root)) == [0, 1, 2]
    # a new commit still succeeds (skips the squatted v2 slot) and its
    # snapshot includes all committed rows
    v = _commit(_df(spark, 7, 9), root)
    assert v >= 2
    assert _ids(_read(spark, root)) == [0, 1, 2, 7, 8]


def test_manifest_publish_is_all_or_nothing(tmp_path):
    """_try_commit never exposes a partial manifest: after a successful
    commit the visible file parses; after a lost race the tmp file is
    cleaned up and the winner's content is untouched."""
    root = str(tmp_path / "tbl")
    assert snap._try_commit(root, _manifest(["x"], operation="a"), 1)
    assert not snap._try_commit(root, _manifest(["y"], operation="b"), 1)
    assert snap._read_manifest(root, 1)["operation"] == "a"
    leftovers = [f for f in os.listdir(os.path.join(root, "_manifests")) if f.startswith(".tmp")]
    assert leftovers == []


def test_vacuum_deletes_only_aged_orphans(spark, tmp_path):
    """vacuum removes data dirs referenced by NO manifest version and
    older than the grace period; committed dirs (any version, so time
    travel survives) and fresh orphans stay."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)                       # v1 (referenced)
    _commit(_df(spark, 5, 8), root, keep_prior=False)     # v2 (v1 dirs still in v1)
    orphan = snap.write_table_data(_df(spark, 900, 950), root, "t", 99)
    # fresh orphan is protected by the grace period
    assert snap.vacuum(root, grace_sec=3600) == []
    # age it and vacuum again
    os.utime(os.path.join(root, orphan), (0, 0))
    assert snap.vacuum(root, grace_sec=3600) == [os.path.normpath(orphan)]
    # every committed version still reads
    assert _ids(_read(spark, root, version=1)) == [0, 1, 2]
    assert _ids(_read(spark, root)) == [5, 6, 7]


def test_vacuum_multi_table_orphans(spark, tmp_path):
    """vacuum handles the transaction layout too: per-table data dirs
    committed via commit_transaction stay, uncommitted ones go."""
    root = str(tmp_path / "tbl")
    rel = snap.write_table_data(_df(spark, 0, 3), root, "decisions", 1)
    snap.commit_transaction(root, {"decisions": [rel]}, extra={"dates": ["d1"]})
    orphan = snap.write_table_data(_df(spark, 9, 12), root, "decisions", 2)
    os.utime(os.path.join(root, orphan), (0, 0))
    assert snap.vacuum(root, grace_sec=3600) == [os.path.normpath(orphan)]
    assert _ids(snap.read_table(spark, root, "decisions")) == [0, 1, 2]
    h = snap.history(root)
    assert h[-1]["operation"] == "txn" and h[-1]["tables"] == {"decisions": 1}


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        _read(spark, str(tmp_path / "nope"))


def test_partitioned_append(spark, tmp_path):
    root = str(tmp_path / "tbl")
    df = spark.range(0, 10).selectExpr("id", "CAST(id % 2 AS STRING) AS p")
    _commit(df, root, partition_col="p")
    got = _read(spark, root)
    assert got.count() == 10
    assert set(got.columns) == {"id", "p"}
    # partition layout on disk (hive-style directories)
    ddir = [d for d in os.listdir(os.path.join(root, "t", "data"))][0]
    assert any(
        x.startswith("p=") for x in os.listdir(os.path.join(root, "t", "data", ddir))
    )


def test_foreign_manifest_files_ignored(spark, tmp_path):
    """Non-manifest files in _manifests/ (vacuum logs, editor droppings)
    must not crash version listing (int() on a regex-validated name)."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)
    for name in ("vacuum-log.json", "v1.json.json", "v.json", "notes.txt"):
        with open(os.path.join(root, "_manifests", name), "w") as f:
            f.write("{}")
    assert snap.latest_version(root) == 1
    assert _ids(_read(spark, root)) == [0, 1, 2]
    assert _commit(_df(spark, 7, 9), root) == 2


def test_concurrent_appends_all_serialize(spark, tmp_path):
    """N threads committing concurrently: optimistic retry serializes every
    commit — no version collisions, no lost rows, final snapshot is the
    union of all appends."""
    import threading

    root = str(tmp_path / "tbl")
    errs: list[Exception] = []

    def appender(k: int) -> None:
        try:
            _commit(_df(spark, k * 10, k * 10 + 3), root)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(k,)) for k in range(5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    vs = [h["version"] for h in snap.history(root)]
    assert vs == [1, 2, 3, 4, 5]              # every commit got its own version
    expect = sorted(x for k in range(5) for x in (k * 10, k * 10 + 1, k * 10 + 2))
    assert _ids(_read(spark, root)) == expect


def test_compact_single_table(spark, tmp_path):
    """Compaction rewrites N accumulated dirs into one; content identical,
    history preserved (old versions still time-travel), extra carried."""
    root = str(tmp_path / "tbl")
    for k in range(3):
        _commit(_df(spark, k * 5, k * 5 + 3), root)
    before = _ids(_read(spark, root))
    v = snap.compact(spark, root, "t")
    assert v == 4
    assert _ids(_read(spark, root)) == before
    assert len(_dirs(root, v)) == 1
    # pre-compaction versions still read
    assert _ids(_read(spark, root, version=2)) == [0, 1, 2, 5, 6, 7]


def test_compact_streaming_table_preserves_guard(spark, tmp_path):
    """Compacting the dedup sink's 'stream' table collapses its dirs,
    keeps the other tables and the (ingest_id, batch_id) guard intact —
    a replay after compaction is still recognized."""
    from inspectehr_spark.streaming.quality_stream import _commit_stream_batch

    root = str(tmp_path / "tbl")
    b = spark.createDataFrame([(1, "x"), (2, "y")], "id long, text string")
    assert _commit_stream_batch(b, 0, root, ingest_id="ck")
    assert _commit_stream_batch(b.selectExpr("id + 10 AS id", "text || 'z' AS text"), 1, root, ingest_id="ck")
    n = snap.read_table(spark, root, "stream").count()
    v = snap.compact(spark, root, table="stream")
    m = snap._read_manifest(root, v)
    assert len(m["tables"]["stream"]) == 1
    assert snap.read_table(spark, root, "stream").count() == n
    assert snap.latest_extra(root).get("batch_ids") == {"ck": 1}  # guard survives
    assert _commit_stream_batch(b, 1, root, ingest_id="ck") is False  # replay


def test_publish_folds_in_concurrent_commit_past_squat(spark, tmp_path):
    """A parsable manifest above the observed latest is a CONCURRENT
    COMMIT, not a squatted slot: _publish refuses the attempt and the
    retry folds that commit's content in — never silently shadowed."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)                           # v1
    # squatted (unparsable) v2 AND a concurrent parsable v3
    with open(os.path.join(root, "_manifests", "v2.json"), "w"):
        pass
    rel = snap.write_table_data(_df(spark, 50, 52), root, "t", 3)
    assert snap._try_commit(root, _manifest(_dirs(root, 1) + [rel]), 3)
    # direct probe: an attempt against stale cur=1 must refuse
    assert snap._publish(root, 1, _manifest([], operation="x")) is None
    # and the public API retries against the winner: all rows survive
    v = _commit(_df(spark, 7, 9), root)
    assert v == 4
    assert _ids(_read(spark, root)) == [0, 1, 2, 7, 8, 50, 51]


def test_shadowed_commit_merged_not_unlinked(spark, tmp_path, monkeypatch):
    """ADVICE r4 #1: a parsable manifest landing in the squat-skipped range
    between the pre-link re-check and the link must NOT get our published
    manifest unlinked (readers/writers may already hold it) — the shadowed
    commit's additions fold in via a corrective merge commit on top."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)                           # v1
    mdir = os.path.join(root, "_manifests")
    open(os.path.join(mdir, "v2.json"), "w").close()          # unparsable squat
    rel2 = snap.write_table_data(_df(spark, 50, 52), root, "t", 2)
    m2 = _manifest(_dirs(root, 1) + [rel2])
    orig = snap._try_commit

    def planted(root_, manifest, version):
        # Interleave: just before OUR link of v3, the squatter resolves and
        # a concurrent committer lands a PARSABLE v2 — inside the TOCTOU
        # window the pre-link re-check cannot close.
        if version == 3:
            os.unlink(os.path.join(mdir, "v2.json"))
            assert orig(root_, m2, 2)
        return orig(root_, manifest, version)

    monkeypatch.setattr(snap, "_try_commit", planted)
    v = _commit(_df(spark, 7, 9), root)
    monkeypatch.setattr(snap, "_try_commit", orig)

    assert v == 4                                             # corrective merge
    # nothing lost: our rows AND the shadowed commit's rows are current
    assert _ids(_read(spark, root)) == [0, 1, 2, 7, 8, 50, 51]
    # append-only history: v3 was never unlinked and still time-travels
    assert _ids(_read(spark, root, version=3)) == [0, 1, 2, 7, 8]
    assert _ids(_read(spark, root, version=2)) == [0, 1, 2, 50, 51]
    assert snap.history(root)[-1]["operation"].startswith("merge(shadowed v2")


def test_every_commit_path_writes_one_manifest_shape(spark, tmp_path, monkeypatch):
    """Transaction, rollback, compaction and a forced corrective merge all
    publish manifests whose keys are exactly operation, committed_at,
    tables and extra: one table model, no per-path extras."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)                           # v1
    _commit(_df(spark, 3, 5), root, keep_prior=False)         # v2
    snap.rollback(root, 1)                                    # v3
    snap.compact(spark, root, "t")                            # v4
    mdir = os.path.join(root, "_manifests")
    open(os.path.join(mdir, "v5.json"), "w").close()          # unparsable squat
    m5 = _manifest(_dirs(root, 4) + [
        snap.write_table_data(_df(spark, 50, 52), root, "t", 5)
    ])
    orig = snap._try_commit

    def planted(root_, manifest, version):
        if version == 6:                     # shadow v5 under our v6
            os.unlink(os.path.join(mdir, "v5.json"))
            assert orig(root_, m5, 5)
        return orig(root_, manifest, version)

    monkeypatch.setattr(snap, "_try_commit", planted)
    assert _commit(_df(spark, 7, 9), root) == 7               # merge on v6
    monkeypatch.setattr(snap, "_try_commit", orig)

    assert [h["operation"] for h in snap.history(root)] == [
        "txn", "txn-replace", "rollback(v1)", "compact(t,v3)", "txn", "txn",
        "merge(shadowed v5..v5 into v6)",
    ]
    assert _ids(_read(spark, root)) == [0, 1, 2, 7, 8, 50, 51]
    for v in range(1, 8):
        assert set(snap._read_manifest(root, v)) == {
            "operation", "committed_at", "tables", "extra"
        }, v


def test_merge_extra_batch_ids_take_max():
    """Corrective merges can present either side with the higher batch id;
    taking the lower would wrongly discard later batches as replays."""
    got = snap._merge_extra(
        {"batch_ids": {"a": 7, "b": 1}, "dates": ["d1"], "k": "old"},
        {"batch_ids": {"a": 3, "c": 2}, "dates": ["d2"], "k": "new"},
    )
    assert got["batch_ids"] == {"a": 7, "b": 1, "c": 2}
    assert got["dates"] == ["d1", "d2"]
    assert got["k"] == "new"


def test_vacuum_races_concurrent_commits_without_loss(spark, tmp_path):
    """r4 next-round #6: vacuum sweeping (zero grace for aged orphans,
    normal grace for everything else) while committers are mid-flight must
    never delete a dir any manifest ends up referencing — every version
    stays readable afterwards."""
    import threading

    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 2), root)
    errors: list[Exception] = []
    stop = threading.Event()

    def writer(base):
        try:
            for i in range(6):
                _commit(_df(spark, base + i * 2, base + i * 2 + 2), root)
        except Exception as e:          # pragma: no cover
            errors.append(e)

    def sweeper():
        while not stop.is_set():
            try:
                got = snap.vacuum(root, grace_sec=5.0)
                assert got == [], got    # nothing is 5s old: nothing swept
            except Exception as e:       # pragma: no cover
                errors.append(e)
                return

    ws = [threading.Thread(target=writer, args=(100 * (k + 1),)) for k in range(2)]
    sv = threading.Thread(target=sweeper)
    sv.start()
    for w in ws:
        w.start()
    for w in ws:
        w.join()
    stop.set()
    sv.join()
    assert not errors, errors
    latest = snap.latest_version(root)
    for v in range(1, latest + 1):
        _read(spark, root, version=v).count()   # all readable


def test_vacuum_commit_after_claim_fails_loudly(spark, tmp_path, monkeypatch):
    """The crashed-writer-resumes race, claim-first interleaving: a dir
    ages past the grace as an orphan, vacuum claims it, and the writer's
    commit attempt lands AFTER the claim. The writer's pre-publish
    `_touch_new_dirs` must raise `CommitDataLost` BEFORE any manifest is
    published (no broken version, writer rewrites), and vacuum deletes
    the genuinely-unreferenced orphan."""
    import shutil

    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)
    # a crashed writer's aged, uncommitted dir
    rel = snap.write_table_data(_df(spark, 50, 53), root, "t", 99)
    path = os.path.join(root, rel)
    os.utime(path, (0, 0))

    real_rename = os.rename
    outcome = {}

    def rename_with_late_commit(src, dst):
        real_rename(src, dst)
        # the writer resumes and tries to commit rel EXACTLY after the claim
        if ".trash-" in str(dst) and "err" not in outcome:
            try:
                snap.commit_transaction(root, {"t": [rel]})
                outcome["err"] = None
            except snap.CommitDataLost as e:
                outcome["err"] = e

    monkeypatch.setattr(snap.os, "rename", rename_with_late_commit)
    deleted = snap.vacuum(root, grace_sec=0.0)
    monkeypatch.setattr(snap.os, "rename", real_rename)

    assert isinstance(outcome["err"], snap.CommitDataLost)
    assert deleted == [rel]                    # true orphan: swept
    assert not os.path.exists(path)
    assert snap.latest_version(root) == 1      # no broken manifest published
    assert _ids(_read(spark, root)) == [0, 1, 2]
    # and a crashed vacuum's aged trash leftover is itself reclaimed
    keep = os.path.join(root, _dirs(root, 1)[0])
    trash = os.path.join(root, "t", "data", ".trash-deadbeef")
    shutil.copytree(keep, trash)
    os.utime(trash, (0, 0))
    assert snap.vacuum(root, grace_sec=0.0) == []   # trash swept, not listed
    assert not os.path.exists(trash)


def test_vacuum_restores_dir_touched_before_claim(spark, tmp_path, monkeypatch):
    """Touch-first interleaving: the writer's pre-publish utime lands
    between vacuum's aged-scan and its claim-rename. The claim then
    carries a young mtime and vacuum's post-claim youth check must hand
    the dir back untouched; the writer's commit succeeds normally."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)
    rel = snap.write_table_data(_df(spark, 50, 53), root, "t", 99)
    path = os.path.join(root, rel)
    os.utime(path, (0, 0))                     # aged at scan time

    real_rename = os.rename
    fired = {"n": 0}

    def rename_after_writer_touch(src, dst):
        # the writer's _touch_new_dirs utime lands JUST before the claim
        if ".trash-" in str(dst) and fired["n"] == 0:
            fired["n"] = 1
            os.utime(src)
        real_rename(src, dst)

    monkeypatch.setattr(snap.os, "rename", rename_after_writer_touch)
    deleted = snap.vacuum(root, grace_sec=3600.0)
    monkeypatch.setattr(snap.os, "rename", real_rename)

    assert deleted == []                       # young claim: restored
    assert os.path.isdir(path)
    snap.commit_transaction(root, {"t": [rel]})   # publish succeeds
    assert _ids(_read(spark, root)) == [0, 1, 2, 50, 51, 52]


def test_shadowed_replace_raises_commit_conflict(spark, tmp_path, monkeypatch):
    """ADVICE r5 #1 (medium): a shadowed commit with DROP semantics
    (rollback/compact/txn-replace) cannot be additive-folded —
    the dirs it meant to remove would stay referenced through our commit,
    silently resurrecting replaced rows. The corrective merge must raise
    CommitConflict instead, leaving our manifest visible (never unlinked)
    for the operator to resolve."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root)                           # v1
    mdir = os.path.join(root, "_manifests")
    open(os.path.join(mdir, "v2.json"), "w").close()          # unparsable squat
    rel2 = snap.write_table_data(_df(spark, 50, 52), root, "t", 2)
    m2 = _manifest([rel2], operation="txn-replace")
    orig = snap._try_commit

    def planted(root_, manifest, version):
        if version == 3:
            os.unlink(os.path.join(mdir, "v2.json"))
            assert orig(root_, m2, 2)
        return orig(root_, manifest, version)

    monkeypatch.setattr(snap, "_try_commit", planted)
    with pytest.raises(snap.CommitConflict, match="non-additive"):
        _commit(_df(spark, 7, 9), root)
    monkeypatch.setattr(snap, "_try_commit", orig)

    # our v3 stays published (append-only history) and is the readable
    # latest; no merge commit resurrected the pre-replace rows silently.
    assert snap.latest_version(root) == 3
    assert _ids(_read(spark, root)) == [0, 1, 2, 7, 8]
    # the operator resolves the divergence explicitly: rollback to the
    # replace's state, then the next commit proceeds normally.
    snap.rollback(root, 2)
    v = _commit(_df(spark, 9, 10), root)
    assert _ids(_read(spark, root, version=v)) == [9, 50, 51]


def test_txn_keep_prior_false_records_txn_replace(spark, tmp_path):
    """keep_prior=False transactions record operation 'txn-replace' so a
    corrective merge can tell their drop semantics from an additive txn."""
    root = str(tmp_path / "tbl")
    rel = snap.write_table_data(_df(spark, 0, 2), root, "t", 1)
    snap.commit_transaction(root, {"t": [rel]})
    rel2 = snap.write_table_data(_df(spark, 5, 7), root, "t", 2)
    snap.commit_transaction(root, {"t": [rel2]}, keep_prior=False)
    ops = [h["operation"] for h in snap.history(root)]
    assert ops == ["txn", "txn-replace"]
    assert _ids(snap.read_table(spark, root, "t")) == [5, 6]


def _dated(spark, lo, hi, p_date):
    return spark.range(lo, hi).selectExpr("id", f"'{p_date}' AS p_date")


def _rows(df):
    return sorted((r["id"], r["p_date"]) for r in df.collect())


def test_sidecar_schema_fixes_partition_type(spark, tmp_path):
    """Each data directory records its schema in `_schema.json`, so the
    string partition column reads back as the string it was written as,
    whether or not a `__no_date__` sentinel partition is present. Inferred
    from its values, `p_date` would read as a date until the sentinel
    appears."""
    root = str(tmp_path / "tbl")
    rel = snap.write_table_data(_dated(spark, 0, 3, "2024-01-01"), root, "t", 1, "p_date")
    assert os.path.isfile(os.path.join(root, rel, "_schema.json"))
    snap.commit_transaction(root, {"t": [rel]})
    rel = snap.write_table_data(
        _dated(spark, 3, 5, "2024-01-02").union(_dated(spark, 5, 6, "__no_date__")),
        root, "t", 2, "p_date",
    )
    snap.commit_transaction(root, {"t": [rel]})
    for v in (1, 2):
        assert snap.read_table(spark, root, "t", version=v).schema.simpleString() == (
            "struct<id:bigint,p_date:string>"
        )
    assert _rows(snap.read_table(spark, root, "t")) == (
        [(i, "2024-01-01") for i in range(3)]
        + [(3, "2024-01-02"), (4, "2024-01-02"), (5, "__no_date__")]
    )


def test_dir_without_sidecar_reads_by_inference(spark, tmp_path):
    """A directory written before sidecars existed has none: it is still
    read, with the schema Spark infers."""
    root = str(tmp_path / "tbl")
    _commit(_df(spark, 0, 3), root, partition_col="v")
    _commit(_df(spark, 3, 5), root, partition_col="v")
    old = _dirs(root, 1)[0]
    os.unlink(os.path.join(root, old, "_schema.json"))
    got = _read(spark, root)
    assert _ids(got) == [0, 1, 2, 3, 4]
    assert sorted(r["v"] for r in got.collect()) == [0, 10, 20, 30, 40]


def test_compact_writes_sidecar(spark, tmp_path):
    root = str(tmp_path / "tbl")
    for k in range(3):
        _commit(_dated(spark, k * 5, k * 5 + 3, f"2024-01-0{k + 1}"), root, "p_date")
    before = _rows(_read(spark, root))
    v = snap.compact(spark, root, "t", partition_col="p_date")
    (rel,) = _dirs(root, v)
    assert os.path.isfile(os.path.join(root, rel, "_schema.json"))
    got = _read(spark, root)
    assert got.schema.simpleString() == "struct<id:bigint,p_date:string>"
    assert _rows(got) == before


def test_read_sink_builds_without_jobs(spark, tmp_path, count_jobs):
    """Building the read_sink DataFrames of a 4-commit store, latest and
    every earlier version, launches no Spark job: each directory's scan
    takes its schema from the sidecar instead of inferring it."""
    from inspectehr_spark.pipeline.run import read_sink

    root = str(tmp_path / "out")
    for k in range(4):
        rel = snap.write_table_data(
            _dated(spark, k * 5, k * 5 + 3, f"2024-01-0{k + 1}"),
            root, "decisions", k + 1, "p_date",
        )
        snap.commit_transaction(root, {"decisions": [rel]})
    assert count_jobs(lambda: [
        read_sink(spark, root, "decisions", version=v) for v in (None, 1, 2, 3)
    ]) == 0
