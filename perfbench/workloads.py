"""The benchmark's workloads and the loop that times them.

A workload stages its inputs, makes one untimed warm-up pass on inputs from
another seed, then runs whole rounds of the same operations until the run
length is used up. Outputs are read back and checked only after the clock
stops; an operation whose check fails, or that raises, counts as failed.

With ``trace`` on, the session writes an event log, and after the untimed
rounds one round runs with every operation under its own job group and with
the per-layer probes of ``tracing.py``, followed by one more untimed round to
compare it with.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import functions as F

import checks
import tablegen
import tracing
from inspectehr_spark import tables
from inspectehr_spark.pipeline.corpus import generate_pages
from inspectehr_spark.pipeline.reference import label_pages
from inspectehr_spark.pipeline.run import (
    decide, enrich, failure_flags, flag_exact_duplicates, read_sink, run_pipeline,
)
from inspectehr_spark.pipeline.scrub import scrub_text
from inspectehr_spark.queries import QUERIES
from inspectehr_spark.session import get_spark
from inspectehr_spark.sources.snapshots import history
from inspectehr_spark.sources.store import FileSnapshotStore

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
WARM_SEED_OFFSET = 1_000_003

INGEST_BATCHES = 4
INGEST_DOCS = 800
INGEST_WARM_BATCHES = 2
INGEST_WARM_DOCS = 80
BATCH_FILES = 2
READS = 3
REGISTRY_SF = 0.01
REGISTRY_WARM_SF = 0.001

# (query, operator family). See README.md for why each query is here.
REGISTRY = (
    ("ks_drift", "distribution"),
    ("tod_ks_drift", "distribution"),
    ("near_dup_components", "graph"),
    ("ngram_jaccard_adjacent", "dedup"),
    ("simhash_hamming_pairs", "dedup"),
    ("minhash_lsh_pairs", "dedup"),
    ("dsir_logw", "dsir"),
    ("ivf_topk", "ann"),
    ("decisions_history", "other"),
    ("pipeline_decisions", "other"),
    ("monthly_blacklist", "episodes"),
    ("dedup_first_per_key", "windows"),
    ("metadata_missing", "other"),
    ("dataset_split", "other"),
    ("word_dup_stats", "other"),
)
FAMILY_METRIC = {
    "dedup": "operators.dedup_s",
    "distribution": "operators.distribution_s",
    "dsir": "operators.dsir_s",
    "graph": "operators.graph_s",
    "episodes": "operators.episodes_s",
    "windows": "operators.windows_s",
    "ann": "ann_s",
    "other": "queries.other_s",
}
RUN_TIMINGS = ("probe", "decisions", "failures", "metrics", "count", "manifest")

PER_LAYER = (
    ("session.get_spark_s", "s"), ("setup.inputs_s", "s"), ("setup.warmup_s", "s"),
    ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
    ("queries.execute_s", "s"), ("queries.execute_jobs", "count"),
    *((m, "s") for m in FAMILY_METRIC.values()),
    ("queries.persisted_rdds_left", "count"),
    *((f"pipeline.run.{k}_s", "s") for k in RUN_TIMINGS),
    ("pipeline.run.jobs", "count"),
    ("pipeline.models.enrich_s", "s"), ("pipeline.run.dup_flags_s", "s"),
    ("pipeline.run.battery_s", "s"), ("pipeline.scrub.scrub_s", "s"),
    ("sources.read_latest_s", "s"), ("sources.read_version_s", "s"),
    ("sources.dirs_per_read", "count"), ("sources.files_written", "count"),
    *((f"catalyst.{p}_s", "s") for p in tracing.PHASES),
    *((k, "count" if k in ("exec.tasks", "exec.stages") else
       "bytes" if k.endswith("_bytes") else "s") for k in tracing.EXEC_KEYS),
    ("trace.overhead_s", "s"), ("trace.accounted_share", "ratio"),
)


@dataclass
class Op:
    """One timed operation. ``layers`` is filled only in the traced round."""

    name: str
    wall: float = 0.0
    items: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    groups: tuple[str, ...] = ()
    result: object = None


@dataclass
class Round:
    ops: list[Op]
    wall: float = 0.0
    read_s: float = 0.0
    sink_bytes: int = 0
    out: str = ""
    versions: list[int] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=lambda: defaultdict(float))


class Probe:
    """Per-operation job-group labelling for the traced round; a no-op
    outside it."""

    def __init__(self, spark, on: bool):
        self.spark, self.on = spark, on

    def group(self, name: str) -> str | None:
        if not self.on:
            return None
        self.spark.sparkContext.setJobGroup(name, name)
        return name

    def jobs(self, group: str | None) -> int:
        return tracing.jobs_in_group(self.spark, group) if group else 0

    def clear(self) -> None:
        if self.on:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def _attempt(op: Op, fn) -> None:
    """Run ``fn`` as the body of ``op``; an exception fails the operation."""
    try:
        fn()
    except Exception:
        op.problems.append(f"{op.name} raised:\n{traceback.format_exc()}")


# --------------------------------------------------------------------------
# ingest workload
# --------------------------------------------------------------------------

def _page_date(ts) -> str:
    return ts.date().isoformat()


def write_pages(path: str, rows: list[tuple], n_files: int) -> None:
    """Write pages rows as ``n_files`` parquet shards (the corpus schema)."""
    os.makedirs(path, exist_ok=True)
    for k in range(min(n_files, len(rows))):
        cols = list(zip(*rows[k::n_files]))
        pq.write_table(
            pa.table({
                "url": pa.array(cols[0], pa.string()),
                "warc_ts": pa.array(cols[1], pa.timestamp("us")),
                "html": pa.array(cols[2], pa.binary()),
                "text": pa.array(cols[3], pa.string()),
                "lang": pa.array(cols[4], pa.string()),
            }),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


def split_by_date(rows: list[tuple], k: int) -> list[list[tuple]]:
    """Split a corpus into ``k`` batches with disjoint dates: the sorted
    dates are dealt round-robin, so every batch mixes early and late days."""
    dates = sorted({_page_date(r[1]) for r in rows})
    batch_of = {d: i % k for i, d in enumerate(dates)}
    out: list[list[tuple]] = [[] for _ in range(k)]
    for r in rows:
        out[batch_of[_page_date(r[1])]].append(r)
    return out


def read_back(spark, out: str, versions: list[int]) -> tuple[dict, float, float]:
    """Read the committed sinks at the latest snapshot through ``read_sink``
    and bring them to the driver, then the decisions urls at each earlier
    version. Returns (rows, latest seconds, earlier-versions seconds)."""
    t0 = time.perf_counter()
    got = {k: [tuple(r) for r in df.collect()] for k, df in sink_frames(spark, out).items()}
    t1 = time.perf_counter()
    got["versions"] = [
        {r[0] for r in read_sink(spark, out, "decisions", version=v).select("url").collect()}
        for v in versions[:-1]
    ] + [{r[0] for r in got["decisions"]}]
    return got, t1 - t0, time.perf_counter() - t1


def sink_frames(spark, out: str) -> dict:
    return {
        "decisions": read_sink(spark, out, "decisions").select(
            "url", "keep", "first_fail_code", "scrubbed_text"
        ),
        "failures": read_sink(spark, out, "failures").select("url", "check_code"),
        "metrics": read_sink(spark, out, "metrics").select(
            "partition_id", "check_code", "n_checked", "n_failed"
        ),
    }


def pipeline_prefixes(spark, pages_path: str, layers: dict) -> None:
    """Force growing prefixes of the pipeline with a noop write, so each
    stage's cost shows as the difference to the prefix before it."""
    pages = (
        spark.read.parquet(pages_path)
        .withColumn("p_date", F.coalesce(
            F.to_date("warc_ts").cast("string"), F.lit("__no_date__")
        ))
        .drop("text")
    )

    def force(df) -> float:
        for p, v in tracing.catalyst_phases(df).items():
            layers[f"catalyst.{p}_s"] += v
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    t_enrich = force(enrich(pages))
    t_dup = force(flag_exact_duplicates(enrich(pages)))
    t_battery = force(decide(failure_flags(flag_exact_duplicates(enrich(pages)))))
    layers["pipeline.models.enrich_s"] += t_enrich
    layers["pipeline.run.dup_flags_s"] += t_dup - t_enrich
    layers["pipeline.run.battery_s"] += t_battery - t_dup
    layers["pipeline.scrub.scrub_s"] += force(
        spark.read.parquet(pages_path).select(scrub_text("text").alias("s"))
    )


class IngestIncremental:
    """The pipeline fed day-batches: each batch lands in the pages directory
    and is committed by one resumed ``run_pipeline`` call into the same
    snapshot store. A round starts from empty directories."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.rounds = 0

    def _stage(self, name: str, n_docs: int, k: int, seed: int):
        rows, planted = generate_pages(n_docs, seed)
        batches = split_by_date(rows, k)
        dirs = []
        for i, batch in enumerate(batches):
            dirs.append(os.path.join(self.work, name, f"batch-{i}"))
            write_pages(dirs[-1], batch, BATCH_FILES)
        return dirs, batches, planted

    def stage(self) -> None:
        self.batch_dirs, self.batches, self.planted = self._stage(
            "batches", INGEST_DOCS, INGEST_BATCHES, self.seed
        )
        self.warm_dirs, _, _ = self._stage(
            "warm-batches", INGEST_WARM_DOCS, INGEST_WARM_BATCHES,
            self.seed + WARM_SEED_OFFSET,
        )

    def _ingest(self, spark, batch_dirs, root, probe, tag) -> Round:
        pages = os.path.join(root, "pages")
        os.makedirs(pages)
        rnd = Round([], out=os.path.join(root, "out"))
        t0 = time.perf_counter()
        for i, d in enumerate(batch_dirs):
            for f in sorted(os.listdir(d)):
                shutil.copy(os.path.join(d, f), os.path.join(pages, f"b{i}-{f}"))
            op = Op(f"{tag}-commit-{i + 1}")
            rnd.ops.append(op)
            _attempt(op, lambda: self._commit(spark, pages, rnd.out, op, probe))
            rnd.versions.append(FileSnapshotStore(rnd.out).latest_version())
        rnd.wall = time.perf_counter() - t0
        return rnd

    @staticmethod
    def _commit(spark, pages: str, out: str, op: Op, probe: Probe) -> None:
        group = probe.group(op.name)
        t = time.perf_counter()
        stats = run_pipeline(spark, pages, out)
        op.wall = time.perf_counter() - t
        op.items, op.result = stats["rows"], stats
        if group:
            op.groups = (group,)
            op.layers["pipeline.run.jobs"] = probe.jobs(group)
            for k in RUN_TIMINGS:
                op.layers[f"pipeline.run.{k}_s"] = stats["timings"].get(f"t_{k}", 0.0)
            op.layers["accounted_s"] = sum(stats["timings"].values())

    def warm_up(self, spark) -> None:
        self._ingest(spark, self.warm_dirs, os.path.join(self.work, "warm"),
                     Probe(spark, False), "warm")

    def round(self, spark, probe: Probe) -> Round:
        self.rounds += 1
        return self._ingest(
            spark, self.batch_dirs,
            os.path.join(self.work, f"round-{self.rounds}"), probe, f"r{self.rounds}",
        )

    def verify(self, spark, rounds: list[Round], probe: Probe) -> None:
        labels = [label_pages(b) for b in self.batches]
        dates = [{r[0]: _page_date(r[1]) for r in b} for b in self.batches]
        urls = [set(d) for d in dates]
        batch_of_url = {u: i for i, us in enumerate(urls) for u in us}
        batch_of_date = {d: i for i, ds in enumerate(dates) for d in ds.values()}
        for rnd in rounds:
            reads = []
            if not any(op.problems for op in rnd.ops):
                _attempt(rnd.ops[-1], lambda: reads.extend(
                    read_back(spark, rnd.out, rnd.versions) for _ in range(READS)
                ))
            if not reads:
                # Each commit builds on the ones before it: when one fails,
                # the round's snapshot cannot vouch for the others.
                for op in rnd.ops:
                    op.problems = op.problems or ["not checked: its round failed"]
                continue
            got = reads[-1][0]
            rnd.read_s = statistics.median(a + b for _, a, b in reads)
            rnd.layers["sources.read_latest_s"] = statistics.median(a for _, a, _ in reads)
            rnd.layers["sources.read_version_s"] = statistics.median(b for _, _, b in reads)
            frames = sink_frames(spark, rnd.out)
            rnd.sink_bytes = sum(
                os.path.getsize(p.removeprefix("file:"))
                for df in frames.values() for p in df.inputFiles()
            )
            if probe.on:
                for df in frames.values():
                    for p, v in tracing.catalyst_phases(df).items():
                        rnd.layers[f"catalyst.{p}_s"] += v
                rnd.layers["sources.dirs_per_read"] = history(rnd.out)[-1]["tables"]["decisions"]
                rnd.layers["sources.files_written"] = sum(
                    f.endswith(".parquet") for _, _, fs in os.walk(rnd.out) for f in fs
                )
            last = len(rnd.ops) - 1
            split = {k: defaultdict(list) for k in ("decisions", "failures", "metrics")}
            for k in ("decisions", "failures"):
                for row in got[k]:
                    split[k][batch_of_url.get(row[0], last)].append(row)
            for row in got["metrics"]:
                split["metrics"][batch_of_date.get(str(row[0]), last)].append(row)
            for i, op in enumerate(rnd.ops):
                op.problems += checks.check_commit(
                    op.result, set(dates[i].values()), len(self.batches[i])
                )
                op.problems += checks.check_decisions(split["decisions"][i], labels[i])
                op.problems += checks.check_failures(split["failures"][i], labels[i])
                op.problems += checks.check_metrics(split["metrics"][i], labels[i], dates[i])
                op.problems += checks.check_planted(
                    {row[0] for row in split["failures"][i]},
                    {row[0]: row[3] for row in split["decisions"][i]},
                    self.planted, urls[i],
                )
                op.problems += checks.check_time_travel(got["versions"][i], urls[: i + 1])

    def traced_extras(self, spark, rnd: Round) -> None:
        pipeline_prefixes(spark, os.path.join(os.path.dirname(rnd.out), "pages"), rnd.layers)


# --------------------------------------------------------------------------
# registry workload
# --------------------------------------------------------------------------

class Registry:
    """A fixed list of registry queries: each operation builds the query
    with ``fn(spark, sf_dir)`` and executes it to the driver."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sf_dir = os.path.join(work, "tables")
        self.warm_dir = os.path.join(work, "warm-tables")
        self.rounds = 0

    def stage(self) -> None:
        tablegen.write_tables(self.sf_dir, REGISTRY_SF, self.seed)
        tablegen.write_tables(self.warm_dir, REGISTRY_WARM_SF, self.seed + WARM_SEED_OFFSET)

    def warm_up(self, spark) -> None:
        for name, _ in REGISTRY:
            QUERIES[name][0](spark, self.warm_dir).collect()

    def _query(self, spark, name: str, family: str, op: Op, probe: Probe) -> None:
        fn = QUERIES[name][0]
        g_build = probe.group(f"{op.name}:construct")
        t0 = time.perf_counter()
        df = fn(spark, self.sf_dir)
        t1 = time.perf_counter()
        g_exec = probe.group(f"{op.name}:execute")
        rows = [tuple(r) for r in df.collect()]
        t2 = time.perf_counter()
        op.wall, op.items, op.result = t2 - t0, 1, (df.columns, rows)
        if probe.on:
            op.groups = (g_build, g_exec)
            op.layers["queries.construct_s"] = t1 - t0
            op.layers["queries.execute_s"] = t2 - t1
            op.layers["queries.construct_jobs"] = probe.jobs(g_build)
            op.layers["queries.execute_jobs"] = probe.jobs(g_exec)
            op.layers[FAMILY_METRIC[family]] = t2 - t0
            op.layers["accounted_s"] = t2 - t0
            for p, v in tracing.catalyst_phases(df).items():
                op.layers[f"catalyst.{p}_s"] = v

    def round(self, spark, probe: Probe) -> Round:
        self.rounds += 1
        rnd = Round([])
        rdds_before = spark.sparkContext._jsc.getPersistentRDDs().size()
        t0 = time.perf_counter()
        for name, family in REGISTRY:
            op = Op(f"r{self.rounds}:{name}")
            rnd.ops.append(op)
            _attempt(op, lambda: self._query(spark, name, family, op, probe))
        rnd.wall = time.perf_counter() - t0
        rnd.layers["queries.persisted_rdds_left"] = (
            spark.sparkContext._jsc.getPersistentRDDs().size() - rdds_before
        )
        return rnd

    def verify(self, spark, rounds: list[Round], probe: Probe) -> None:
        con = duckdb.connect()
        try:
            for t in tablegen.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, t + '.parquet')}'"
                )
            oracle = {}
            for name, _ in REGISTRY:
                res = con.execute(QUERIES[name][1])
                oracle[name] = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        for rnd in rounds:
            for op, (name, _) in zip(rnd.ops, REGISTRY):
                if not op.problems:
                    op.problems += checks.check_rows(name, *op.result, *oracle[name])
        # The registry has no sink: its read is the scan of the staged input
        # tables through tables.table, the reader every query starts from.
        scans = []
        for _ in range(READS):
            t0 = time.perf_counter()
            for t in tablegen.TABLES:
                tables.table(spark, self.sf_dir, t).count()
            scans.append(time.perf_counter() - t0)
        for rnd in rounds:
            rnd.read_s = statistics.median(scans)
            rnd.sink_bytes = tablegen.data_bytes(self.sf_dir)

    def traced_extras(self, spark, rnd: Round) -> None:
        pass


WORKLOADS = {
    "ingest-incremental": IngestIncremental,
    "registry": Registry,
}


# --------------------------------------------------------------------------
# the timed run
# --------------------------------------------------------------------------

def start_session(work: str, traced: bool):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        conf.update(tracing.event_log_conf(os.path.join(work, "eventlog")))
    return get_spark(
        app_name="perfbench", master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit: it exits when its
    stdin closes, and stopping the context shuts down its Python workers."""
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def run(name: str, seed: int, seconds: float, traced: bool, work: str,
        t_start: float) -> dict:
    """One benchmark run; returns the result object the command prints."""
    load_start, steal_start = tracing.load_average(), tracing.steal_seconds()
    layers: dict[str, float] = defaultdict(float)
    t = time.perf_counter()
    spark = start_session(work, traced)
    layers["session.get_spark_s"] = time.perf_counter() - t
    try:
        pid = tracing.jvm_pid(spark)
        wl = WORKLOADS[name](seed, work)
        t = time.perf_counter()
        wl.stage()
        layers["setup.inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up(spark)
        layers["setup.warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t_start

        plain = Probe(spark, False)
        rounds: list[Round] = []
        t0 = time.perf_counter()
        while not rounds or time.perf_counter() - t0 < seconds:
            # Every round starts from an empty cache: a query that leaves a
            # persisted plan behind would otherwise let a later round reuse
            # an earlier round's work, and releasing the leak would read as
            # a loss.
            spark.catalog.clearCache()
            rounds.append(wl.round(spark, plain))
        timed_wall = time.perf_counter() - t0
        probe, checked = plain, list(rounds)
        if traced:
            # The traced round is compared with the untraced rounds just
            # before and after it.
            probe = Probe(spark, True)
            spark.catalog.clearCache()
            traced_round = wl.round(spark, probe)
            probe.clear()
            spark.catalog.clearCache()
            after = wl.round(spark, plain)
            checked += [traced_round, after]
        wl.verify(spark, checked, probe)
        if traced:
            wl.traced_extras(spark, traced_round)
        peak_rss = tracing.jvm_peak_rss_mb(pid)
        host = tracing.host_info(spark, load_start, steal_start)
    finally:
        stop_session(spark)

    ops = [op for rnd in checked for op in rnd.ops]
    failed = [op for op in ops if op.problems]
    for op in failed:
        print(f"FAILED {op.name}: " + "\n  ".join(op.problems), file=sys.stderr)
    result = {
        "correct": True,
        "attempted": len(ops),
        "failed": len(failed),
        "host": host,
    }
    if not traced:
        timed_ops = [op for rnd in rounds for op in rnd.ops]
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "wall_s": (_median([r.wall for r in rounds]), "s"),
            "items_per_s": (sum(op.items for op in timed_ops) / timed_wall, "1/s"),
            "op_p50_s": (_median([op.wall for op in timed_ops]), "s"),
            "read_s": (_median([r.read_s for r in rounds]), "s"),
            "sink_bytes": (_median([r.sink_bytes for r in rounds]), "bytes"),
            "peak_rss_mb": (peak_rss, "MiB"),
        }
        return result

    out = dict.fromkeys((k for k, _ in PER_LAYER), 0.0)
    out.update(layers)
    out.update(traced_round.layers)
    op_wall = accounted = 0.0
    groups = []
    for op in traced_round.ops:
        op_wall += op.wall
        accounted += op.layers.pop("accounted_s", 0.0)
        groups += op.groups
        for k, v in op.layers.items():
            out[k] += v
    if isinstance(wl, IngestIncremental):
        out["pipeline.run.jobs"] /= len(traced_round.ops)
    out.update(tracing.EventLogTotals(os.path.join(work, "eventlog")).total(groups))
    out["trace.overhead_s"] = traced_round.wall - (rounds[-1].wall + after.wall) / 2
    out["trace.accounted_share"] = accounted / op_wall if op_wall else 0.0
    result["metrics"] = {k: (out[k], unit) for k, unit in PER_LAYER}
    return result
