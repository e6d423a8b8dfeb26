"""Snapshot-manifest tables: Iceberg-style semantics over plain parquet.

The north-rule deployment target is an Iceberg catalog (readers.py gates on
the runtime jar); this module supplies the part of Iceberg the pipeline
actually relies on — ATOMIC snapshot commits, time travel, rollback and
commit history — with nothing but parquet files and a manifest directory,
so the same semantics hold in any environment:

    <root>/<table>/data/c<version>-<uuid>/part-*.parquet  (immutable once committed)
    <root>/<table>/data/c<version>-<uuid>/_schema.json    (the directory's read schema)
    <root>/_manifests/v<version>.json                     (tables + extra payload)

A snapshot = one manifest {"operation", "committed_at", "tables", "extra"}
whose `tables` maps each table name to every data directory visible at
that version. Commit protocol (single-writer-wins optimistic concurrency):

1. write the new data directory (invisible — readers only trust manifests),
2. read the current latest manifest, build the next file list,
3. write the manifest to a hidden temp file (write+flush+fsync), then
   publish it atomically via os.link(tmp, v<next>.json) — the filesystem
   arbitrates: the first committer of a version wins atomically, a
   concurrent loser gets EEXIST, re-reads the (new) latest and retries.
   Because publication is a link of an already-durable file, a visible
   manifest is ALWAYS complete — a reader can never observe a truncated
   one (the O_CREAT|O_EXCL-then-write variant had a window where
   v<N>.json existed empty).  Defensively, unparsable manifests are
   treated as uncommitted by _versions().

Readers list `_manifests/`, pick the max version (or an explicit one) and
read exactly the files it names — a half-written data directory is never
visible, and a reader holding version K is isolated from later commits.
Each data directory records its schema in `_schema.json` when it is
written (Spark skips `_`-prefixed files, so the sidecar is never read as
data), and a read passes it to the scan instead of running a
schema-inference job per directory — Iceberg likewise keeps the schema in
table metadata.
At cluster scale the manifest store must be an atomic-rename filesystem or
a catalog service (HDFS/local rename is atomic; S3 needs a DynamoDB-style
lock — same caveat Iceberg's HadoopCatalog documents).

Reference analog: the reference's drop-then-rewrite output tables
(R/perform_evaluation.R:172-174) are commit_transaction(keep_prior=False)
here — but versioned, so a bad evaluation run is one rollback() away
instead of destroyed."""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFESTS = "_manifests"
_DATA = "data"
_SCHEMA = "_schema.json"
_MAX_RETRIES = 10


class CommitConflict(RuntimeError):
    """Raised when `_MAX_RETRIES` successive commit attempts lost the race,
    or when a commit cannot be rebuilt on a concurrent one (a shadowed
    non-additive commit, a compaction whose table changed underneath)."""


class CommitDataLost(RuntimeError):
    """Raised BEFORE publishing when a commit's new data dirs were swept
    by a `vacuum` that judged them orphaned (they aged past grace_sec
    between the write and the commit — a crashed-and-resumed or very slow
    writer). No manifest is published, so readers never see a broken
    version; the committer still holds the source DataFrame and simply
    rewrites the data and commits again. This pre-publish check is one
    half of the writer↔vacuum arbitration — see `_touch_new_dirs` and
    vacuum()'s contract."""


def _touch_new_dirs(root: str, rels: list[str]) -> None:
    """Pre-publish half of the writer↔vacuum arbitration: utime every dir
    THIS commit introduces (prior dirs are continuously referenced, so
    vacuum never touches them), then raise `CommitDataLost` — before any
    manifest exists — if a dir is already gone.

    The filesystem arbitrates the race exactly: if the touch lands BEFORE
    a vacuum's claim-rename, the claim carries the fresh mtime and
    vacuum's post-claim youth check hands the dir back untouched; if the
    claim lands first, the touch raises ENOENT here and the writer
    rewrites with no broken manifest ever published. Either way: loud
    repair or automatic restore, never silent loss and never a duplicate
    rewrite of restored data."""
    for r in rels:
        try:
            os.utime(os.path.join(root, r))
        except OSError:
            raise CommitDataLost(
                f"data dir {r} at {root} vanished before commit: a vacuum "
                "swept it as an aged orphan (write→commit latency exceeded "
                "the vacuum grace). No manifest was published — rewrite "
                "the data and commit again."
            ) from None


def _manifest_dir(root: str) -> str:
    return os.path.join(root, _MANIFESTS)


def _parsable(path: str) -> bool:
    try:
        with open(path) as fh:
            json.load(fh)
        return True
    except (OSError, ValueError):
        return False


_MANIFEST_NAME = re.compile(r"^v(\d+)\.json$")


def _raw_versions(root: str) -> list[int]:
    """Every v<N>.json name present, parsable or not — used for commit
    version allocation (a squatted/truncated slot is skipped rather than
    retried forever) and the latest-version walk. Foreign files in the
    manifest dir (vacuum logs, editor droppings) are ignored by the
    strict name regex instead of crashing int()."""
    d = _manifest_dir(root)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(m.group(1))
        for f in os.listdir(d)
        for m in (_MANIFEST_NAME.match(f),)
        if m
    )


def _versions(root: str) -> list[int]:
    # A manifest that fails to parse (e.g. left by a crashed pre-link-publish
    # writer) is uncommitted: skipping it keeps the table readable instead of
    # bricking every latest_version()-based read on a JSONDecodeError.
    # Parses every manifest — use only where the full list is needed
    # (history, vacuum); hot paths use latest_version()'s top-down walk.
    d = _manifest_dir(root)
    return [
        v for v in _raw_versions(root)
        if _parsable(os.path.join(d, f"v{v}.json"))
    ]


def _read_manifest(root: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(root), f"v{version}.json")) as f:
        return json.load(f)


def latest_version(root: str) -> int | None:
    """Newest PARSABLE version — walks raw version names from the top and
    stops at the first parsable manifest, so the common case is O(1)
    parses regardless of history length (a streaming sink commits once
    per micro-batch; parsing all V manifests per commit would make a
    long-lived table O(V²) cumulative)."""
    d = _manifest_dir(root)
    for v in reversed(_raw_versions(root)):
        if _parsable(os.path.join(d, f"v{v}.json")):
            return v
    return None


def history(root: str) -> list[dict]:
    """Commit log, oldest first: version, operation, timestamp, n_dirs
    (counted across all tables), a `tables` dir-count map when the
    version has tables, and the commit's `extra` payload when it has
    one."""
    out = []
    for v in _versions(root):
        m = _read_manifest(root, v)
        tbls = m.get("tables", {})
        entry = {
            "version": v,
            "operation": m["operation"],
            "committed_at": m["committed_at"],
            "n_dirs": sum(len(d) for d in tbls.values()),
        }
        if tbls:
            entry["tables"] = {k: len(d) for k, d in tbls.items()}
        if m.get("extra"):
            entry["extra"] = m["extra"]
        out.append(entry)
    return out


def _referenced_dirs(root: str) -> set[str]:
    """Every data dir any committed manifest references (all versions —
    time travel stays intact)."""
    refs: set[str] = set()
    for v in _versions(root):
        for dirs in _read_manifest(root, v).get("tables", {}).values():
            refs.update(os.path.normpath(d) for d in dirs)
    return refs


def vacuum(root: str, grace_sec: float = 24 * 3600.0) -> list[str]:
    """Delete ORPHANED data directories: on-disk dirs referenced by NO
    manifest (any version — time travel stays intact) and older than
    `grace_sec` (mtime), so a writer mid-commit is never swept. The
    Iceberg remove-orphan-files analog for crashed runs, which under the
    atomic-commit protocol leave inert invisible data dirs behind.

    TOCTOU guard (r5): a dir can become referenced AFTER the scan that
    judged it orphaned — a crashed writer's dir age past the grace, then
    the writer resumes and commits it while vacuum is mid-sweep. So no
    candidate is rmtree'd directly: it is first RENAMED to a hidden
    `.trash-*` name (atomic, mtime refreshed so a concurrent vacuum's
    crashed-leftover sweep can't take the claim), the references are
    re-scanned, and a dir that became referenced is renamed straight back
    (a concurrent reader retries the µs flicker). Aged `.trash-*`
    leftovers from a vacuum that crashed between rename and delete are
    swept too (they are never referenced — manifests never name trash).
    The mtime grace remains the primary guard for in-flight
    written-but-uncommitted dirs, which no manifest can vouch for yet.

    Contract: referenced data is never lost silently, and a writer never
    publishes a manifest naming a swept dir. A commit whose
    write→publish latency stays under `grace_sec` is never even a sweep
    candidate (the Iceberg remove-orphan-files `older_than` contract).
    A slower writer is arbitrated by the filesystem: its pre-publish
    `_touch_new_dirs` utime either lands before our claim-rename (the
    claim then carries a young mtime and the post-claim youth check
    restores the dir) or after it (the touch raises and the writer gets
    `CommitDataLost` BEFORE any manifest exists, rewrites, retries) —
    loud repair or automatic restore, never silent loss.
    Returns the deleted manifest-relative paths."""
    import shutil

    referenced = _referenced_dirs(root)
    now = time.time()
    deleted: list[str] = []
    # data dirs live at <root>/<table>/data/c*
    for name in os.listdir(root):
        abs_data = os.path.join(root, name, _DATA)
        if not os.path.isdir(abs_data):
            continue
        rel_data = os.path.join(name, _DATA)
        for d in os.listdir(abs_data):
            rel = os.path.normpath(os.path.join(rel_data, d))
            path = os.path.join(abs_data, d)
            if not os.path.isdir(path):
                continue
            try:
                aged = now - os.path.getmtime(path) >= grace_sec
            except OSError:
                continue                   # raced another cleaner: skip
            if not aged:
                continue
            if d.startswith(".trash-"):
                shutil.rmtree(path, ignore_errors=True)
                continue                   # crashed-vacuum leftover
            if rel in referenced:
                continue
            trash = os.path.join(abs_data, f".trash-{uuid.uuid4().hex}")
            try:
                os.rename(path, trash)     # atomic claim
            except OSError:
                continue                   # raced a concurrent vacuum
            # Writer arbitration: rename preserves the dir's mtime, so a
            # committer's pre-publish `_touch_new_dirs` utime that landed
            # BEFORE our claim shows up here as a young claim — that dir
            # is being committed right now; hand it back untouched. (A
            # touch attempted AFTER our claim raises ENOENT on the
            # writer's side instead — no publish happens.)
            try:
                young = time.time() - os.path.getmtime(trash) < grace_sec
            except OSError:
                young = False
            if young:
                # Restore is best-effort: a concurrent vacuum's crashed-
                # leftover sweep can rmtree our aged .trash-* claim in
                # the window before the utime refresh below; an OSError
                # here must not abort the rest of the sweep.
                try:
                    os.rename(trash, path)
                except OSError:
                    pass
                continue
            # Refresh the claim's (aged) mtime so a CONCURRENT vacuum's
            # crashed-leftover sweep above can't rmtree it out from under
            # the restore window — only a genuinely crashed vacuum's
            # leftover ever ages into that sweep.
            try:
                os.utime(trash)
            except OSError:
                pass                       # claim gone: restore is a no-op
            if rel in _referenced_dirs(root):
                try:
                    os.rename(trash, path)  # late commit won: restore intact
                except OSError:
                    pass                   # claim raced away: keep sweeping
                continue
            shutil.rmtree(trash, ignore_errors=True)
            deleted.append(rel)
    return sorted(deleted)


def _try_commit(root: str, manifest: dict, version: int) -> bool:
    d = _manifest_dir(root)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, f"v{version}.json")
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        # Atomic publish of an already-durable file: link() fails with
        # EEXIST if another writer won this version — same arbitration as
        # O_CREAT|O_EXCL, but the visible name is never empty/truncated.
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)



def _publish(root: str, cur: int | None, manifest: dict) -> int | None:
    """One commit attempt against observed latest version `cur`; returns
    the committed version or None (caller re-reads latest and retries).

    Slot allocation skips only UNPARSABLE squatters above cur (crashed
    pre-link writers); a PARSABLE newer manifest is a concurrent commit
    whose content must be folded in — returning None forces that. The
    squat-skip opens a TOCTOU window (a concurrent commit can land in a
    skipped slot between the listing and our link), so the skipped range
    is re-checked IMMEDIATELY before linking, and post-verified after.
    If the post-verify still finds a concurrent commit in a skipped slot,
    our manifest STAYS published — a visible manifest is never unlinked:
    between link and unlink a reader could pick it as latest and crash on
    the vanished file, and a writer could build v<nxt>+1 on it, after
    which the unlinker's retry would append its dirs a second time
    (duplicates) while the skipped-slot commit stayed shadowed. Instead
    the shadowed commits' additions are folded in by a corrective merge
    commit on top (append-only history, like Iceberg's). In the common
    no-squat case nxt == cur+1, the range is empty and link-exclusivity
    alone arbitrates."""
    base = cur or 0
    d = _manifest_dir(root)
    nxt = base + 1
    for v in _raw_versions(root):
        if v > base:
            if _parsable(os.path.join(d, f"v{v}.json")):
                return None            # concurrent commit landed
            nxt = max(nxt, v + 1)
    if nxt > base + 1:
        # Squat-skip path: narrow the TOCTOU window with a last-instant
        # re-check of the skipped range before publishing.
        for v in range(base + 1, nxt):
            if _parsable(os.path.join(d, f"v{v}.json")):
                return None
    if not _try_commit(root, manifest, nxt):
        return None
    shadowed = [
        v for v in range(base + 1, nxt)
        if _parsable(os.path.join(d, f"v{v}.json"))
    ]
    if not shadowed:
        return nxt
    return _corrective_merge(root, base, nxt, shadowed)


def _merge_extra(prior: dict, new: dict) -> dict:
    """Overlay `new` onto `prior` with the payload-specific semantics the
    commit protocol guarantees: scalar keys — newest wins; "dates" — the
    resume record — set-union; "batch_ids" — the streaming replay guard,
    monotone per ingest — per-key MAX (for a true prior→new overlay max
    equals overwrite; in a corrective merge either side may hold the
    higher id, and taking the lower would wrongly discard later
    batches as replays)."""
    merged = {**prior, **new}
    if prior.get("dates") or new.get("dates"):
        merged["dates"] = sorted(
            set(prior.get("dates", [])) | set(new.get("dates", []))
        )
    if prior.get("batch_ids") or new.get("batch_ids"):
        bids = dict(prior.get("batch_ids", {}))
        for k, v in new.get("batch_ids", {}).items():
            try:
                bids[k] = v if k not in bids else max(bids[k], v)
            except TypeError:
                bids[k] = v
        merged["batch_ids"] = bids
    return merged


def _corrective_merge(root: str, base: int, nxt: int, shadowed: list[int]) -> int:
    """A parsable manifest landed in the squat-skipped range AFTER the
    pre-link re-check: v<nxt> (built on `base`, ignorant of the shadowed
    commits) is already visible and must never be unlinked. Fold the
    shadowed commits' ADDITIONS relative to `base` — per-table dirs and
    the extra payload — into a merge commit on top of the current latest.
    Data-dir names are uuid-unique, so presence tests are exact and the
    fold is idempotent. Returns the merge version.

    The fold is only sound for shadowed commits that are ADDITIVE
    relative to their base (keep-prior txn / an earlier merge): their
    entire intent is captured by `dirs - base_dirs`. A shadowed
    rollback(), compact() or txn-replace carries DROP semantics — dirs it
    meant to remove stay referenced through v<nxt>, silently resurrecting
    replaced/rolled-back rows. That cannot be replayed additively, so it
    raises CommitConflict: loud failure (v<nxt> stays visible — a
    published manifest is never unlinked — and the operator resolves the
    divergence with rollback() or a keep_prior=False transaction) rather
    than silent data resurrection. In Iceberg terms this is a validation
    failure on concurrent conflicting commits."""
    for v in shadowed:
        op = str(_read_manifest(root, v).get("operation", ""))
        if not (op == "txn" or op.startswith("merge(")):
            raise CommitConflict(
                f"shadowed non-additive commit v{v} ({op!r}) at {root}: its "
                f"drop semantics cannot be additive-folded into v{nxt}; "
                "resolve with rollback() or a keep_prior=False transaction"
            )
    base_m = _read_manifest(root, base) if base else {}
    base_tbls = {k: set(v) for k, v in base_m.get("tables", {}).items()}
    add_tbls: dict[str, list[str]] = {}
    sh_extra: dict = {}
    for v in shadowed:
        m = _read_manifest(root, v)
        for k, ds in m.get("tables", {}).items():
            have = base_tbls.get(k, set())
            acc = add_tbls.setdefault(k, [])
            for dd in ds:
                if dd not in have and dd not in acc:
                    acc.append(dd)
        if m.get("extra"):
            sh_extra = _merge_extra(sh_extra, m["extra"])

    def fold(latest: dict) -> tuple[dict, dict]:
        tbls = {k: list(v) for k, v in latest.get("tables", {}).items()}
        for k, ds in add_tbls.items():
            have = set(tbls.get(k, []))
            tbls[k] = tbls.get(k, []) + [dd for dd in ds if dd not in have]
        # Latest's scalar extra wins (the shadowed values derive from
        # `base`); dates/batch_ids merge with union/max semantics.
        return tbls, _merge_extra(sh_extra, latest.get("extra", {}))

    return _commit(
        root, f"merge(shadowed v{shadowed[0]}..v{shadowed[-1]} into v{nxt})",
        [], fold,
    )


def _commit(root: str, operation: str, new_dirs: list[str],
            build: Callable[[dict], tuple[dict, dict]]) -> int:
    """The one optimistic commit loop. Each attempt reads the latest
    manifest ({} on an empty root), asks `build` for the new version's
    `(tables, extra)` on top of it, touches the commit's `new_dirs`
    (`_touch_new_dirs`) and publishes; a lost race re-reads and retries.
    `build` raises CommitConflict when the commit cannot be rebuilt on a
    concurrent one. Returns the committed version."""
    for _ in range(_MAX_RETRIES):
        cur = latest_version(root)
        tables, extra = build({} if cur is None else _read_manifest(root, cur))
        manifest = {
            "operation": operation,
            "committed_at": time.time(),
            "tables": tables,
            "extra": extra,
        }
        _touch_new_dirs(root, new_dirs)
        got = _publish(root, cur, manifest)
        if got is not None:
            return got
    raise CommitConflict(f"lost {_MAX_RETRIES} {operation} commit races at {root}")


# ---------------------------------------------------------------------------
# Tables and transactions: one manifest covers several named tables plus an
# arbitrary `extra` payload (the pipeline stores its processed-date set
# there), so decisions/failures/metrics and the resume record commit in ONE
# atomic publish — a crash at any earlier point leaves nothing visible.
# Manifest schema: {"operation", "committed_at", "tables": {name: [dirs]},
# "extra": {...}}.
# ---------------------------------------------------------------------------


def write_table_data(
    df: DataFrame,
    root: str,
    name: str,
    version_hint: int,
    partition_col: str | None = None,
) -> str:
    """Write `df` as an (invisible until committed) data directory of table
    `name` under `root`; returns the manifest-relative path. The
    directory's `_schema.json` records the schema a read of it returns:
    the data columns, then the partition column (partition discovery puts
    it last), each with the type the writer wrote."""
    rel = os.path.join(name, _DATA, f"c{version_hint}-{uuid.uuid4().hex[:12]}")
    path = os.path.join(root, rel)
    w = df.write.mode("error")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.parquet(path)
    fields = sorted(df.schema.fields, key=lambda f: f.name == partition_col)
    with open(os.path.join(path, _SCHEMA), "w") as fh:
        fh.write(StructType(fields).json())
    return rel


def commit_transaction(
    root: str,
    tables_rel: dict[str, list[str]],
    extra: dict | None = None,
    keep_prior: bool = True,
) -> int:
    """Atomically commit new data directories for several tables at once.

    With `keep_prior`, each table's new dirs APPEND to its prior list and
    `extra` overlays the prior payload (`_merge_extra`); without, the new
    lists and payload replace everything. Optimistic retry against
    concurrent committers (`_commit`)."""

    def build(prior: dict) -> tuple[dict, dict]:
        tbls = {k: list(v) for k, v in tables_rel.items()}
        ex = dict(extra or {})
        if keep_prior and prior:
            for k, dirs in prior.get("tables", {}).items():
                tbls[k] = dirs + tbls.get(k, [])
            # extra: start from the WHOLE prior payload and overlay the new
            # keys — dropping unmentioned keys (e.g. the streaming sinks'
            # replay records) would silently disable downstream guards that
            # read them. "dates" gets set-union semantics (the resume
            # record) and "batch_ids" per-key max-merge (one sink's commit
            # must not erase another ingest's replay record).
            ex = _merge_extra(prior.get("extra", {}), ex)
        return tbls, ex

    # keep_prior is recorded in the operation name: a corrective merge may
    # only additive-fold commits that APPEND relative to their base
    # ("txn"); a replace-mode transaction ("txn-replace") carries drop
    # semantics it cannot replay.
    return _commit(
        root, "txn" if keep_prior else "txn-replace",
        [r for rels in tables_rel.values() for r in rels], build,
    )


def rollback(root: str, to_version: int) -> int:
    """Make an old snapshot current again by committing a NEW version with
    its tables and extra payload — history is never rewritten (Iceberg
    rollback)."""
    m = _read_manifest(root, to_version)
    return _commit(
        root, f"rollback(v{to_version})", [],
        lambda _latest: (m.get("tables", {}), m.get("extra", {})),
    )


def read_table(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> DataFrame:
    """Read one table of a snapshot (latest version or time travel to
    `version`). Reads exactly the data directories that manifest names;
    uncommitted directories on disk are invisible."""
    v = latest_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed snapshots at {root}")
    dirs = _read_manifest(root, v).get("tables", {}).get(name, [])
    if not dirs:
        raise FileNotFoundError(f"table {name!r} empty at {root} v{v}")
    return _read_dirs(spark, root, dirs)


def latest_extra(root: str) -> dict:
    """The `extra` payload of the latest committed manifest ({} if none)."""
    v = latest_version(root)
    if v is None:
        return {}
    return _read_manifest(root, v).get("extra", {})


def _read_dir(spark: SparkSession, path: str) -> DataFrame:
    try:
        with open(os.path.join(path, _SCHEMA)) as fh:
            schema = StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        # Written before directories carried a schema: infer it (one job).
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _read_dirs(spark: SparkSession, root: str, dirs: list[str]) -> DataFrame:
    """Union of per-directory scans. Each committed data directory is read
    as its own root (hive partition dirs discovered beneath it) and the
    scans union — a single multi-path read trips Spark's
    CONFLICTING_DIRECTORY_STRUCTURES check because sibling c<N>-<uuid>
    dirs share no common partition base. Exactly Iceberg's shape: the
    manifest enumerates per-snapshot file groups, the scan is their
    union.

    Each scan takes its schema from the directory's `_schema.json`, so
    building the DataFrame runs no Spark job, and a partition column
    reads back with the type it was written with (a `p_date` string stays
    a string, whatever its values look like). A directory without the
    sidecar — one written before sidecars existed — is read by
    inference."""
    from functools import reduce

    frames = [_read_dir(spark, os.path.join(root, d)) for d in dirs]
    return reduce(lambda a, b: a.unionByName(b), frames)




def compact(
    spark: SparkSession,
    root: str,
    table: str,
    partition_col: str | None = None,
) -> int:
    """Rewrite a table's accumulated data directories into ONE — the
    Iceberg rewrite-data-files analog. A streaming sink commits one data
    dir per micro-batch, so after B batches every read unions B scans;
    compaction reads the table at the LATEST snapshot, writes it as a
    single directory, and commits a new version whose dir list for
    `table` is just that directory. History is untouched (old versions
    still time-travel to the un-compacted dirs; `vacuum` reclaims them
    only when no manifest references them, which compaction deliberately
    preserves), and the OTHER tables and the `extra` payload (resume
    dates, streaming batch ids) carry through unchanged.

    CONFLICT SAFETY: the compacted directory is a rewrite of version v's
    content — if a later commit changed `table`, publishing it would
    silently drop that commit's data, so each attempt raises
    CommitConflict when the table's dir list differs from v's (concurrent
    commits that touched only OTHER tables are folded through). Run
    compaction in the ingest pause for strict isolation, as Iceberg
    recommends for its equivalent. Returns the new version."""
    v = latest_version(root)
    if v is None:
        raise FileNotFoundError(f"no committed snapshots at {root}")
    compacted = _read_manifest(root, v).get("tables", {}).get(table)
    df = read_table(spark, root, table, version=v)
    rel = write_table_data(df, root, table, v + 1, partition_col)

    def build(latest: dict) -> tuple[dict, dict]:
        tbls = {k: list(d) for k, d in latest.get("tables", {}).items()}
        if tbls.get(table) != compacted:
            raise CommitConflict(
                f"{table!r} changed during compaction at {root}"
            )
        tbls[table] = [rel]
        return tbls, latest.get("extra", {})

    return _commit(root, f"compact({table},v{v})", [rel], build)
