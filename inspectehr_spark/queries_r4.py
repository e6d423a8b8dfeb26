"""Round-4 registry batch: near-dup survivorship end-to-end, nearest-mode
as-of join, snapshot time travel, and segment length stats.

Each entry pairs a Spark query with a DuckDB oracle over the same parquet
tables (driver hash-match contract: identical column names/types both
sides, ROUND at source, BIGINT casts on int-ish outputs)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from inspectehr_spark.tables import table as _t


def q_near_dup_survivors(spark, sf_dir):
    """End-to-end near-dup survivorship — the keep/drop table a training
    pipeline consumes: ANN pairs (ann.embedding_near_dup_pairs, bucketed
    capped self-join) → duplicate clusters (graph.connected_components,
    pointer-doubled min-label propagation) → survivor = smallest vec_id
    per cluster → verdict joined back over the FULL embedding table
    (vectors in no cluster survive trivially). The loser set is the
    broadcast side of the verdict join."""
    from inspectehr_spark.ann import embedding_near_dup_pairs
    from inspectehr_spark.operators.graph import connected_components

    emb = _t(spark, sf_dir, "embeddings")
    # arrow pair engine: identical pair sets to the sql oracle baseline
    # (asserted at every SF — see q_near_dup_components), 13× faster at sf1
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.35, bucket_col="label", bucket_cap=2000,
        engine="arrow",
    )
    comp = connected_components(pairs, src="vec_id_a", dst="vec_id_b")
    # non-survivors only: node strictly greater than its component min
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("_loser"), F.col("component").alias("_comp")
    )
    return emb.join(
        F.broadcast(losers), emb["vec_id"] == F.col("_loser"), "left"
    ).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.coalesce(F.col("_comp"), F.col("vec_id")).cast("long").alias("component"),
        F.col("_loser").isNull().alias("keep"),
    )


SQL_NEAR_DUP_SURVIVORS = """
WITH RECURSIVE capped AS (
  SELECT vec_id, label, embedding FROM (
    SELECT vec_id, label, embedding,
           ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
    FROM embeddings
  ) WHERE rn <= 2000
),
e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
  FROM capped
),
pairs AS (
  SELECT vec_id_a, vec_id_b FROM (
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  ) WHERE cos_sim >= 0.35
),
edges AS (
  SELECT vec_id_a AS a, vec_id_b AS b FROM pairs
  UNION
  SELECT vec_id_b, vec_id_a FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.n, e2.b FROM reach r JOIN edges e2 ON r.m = e2.a
),
comp AS (SELECT n AS node, min(m) AS component FROM reach GROUP BY n),
losers AS (SELECT node, component FROM comp WHERE node <> component)
SELECT CAST(emb.vec_id AS BIGINT) AS vec_id,
       CAST(COALESCE(l.component, emb.vec_id) AS BIGINT) AS component,
       l.node IS NULL AS keep
FROM embeddings emb LEFT JOIN losers l ON l.node = emb.vec_id
"""


def q_asof_nearest_view(spark, sf_dir):
    """NEAREST-mode as-of join with a 2-hour tolerance (operators/asof.py
    direction="nearest"): both carry directions evaluated over the SAME
    single exchange, tolerance applied per side BEFORE choosing the
    closer one, ties to backward. Oracle: two correlated extrema joins in
    DuckDB picking the closer side by microsecond gap."""
    from inspectehr_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    out = asof_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="ts",
        payload=["view_event_id"], direction="nearest", tolerance_sec=7200.0,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_view_event_id").alias("view_event_id"),
        F.col("asof_ts").alias("view_ts"),
    )


SQL_ASOF_NEAREST_VIEW = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, ts, max(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
b AS (
  SELECT p.event_id, max(v.ts) AS mts
  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
   AND epoch_us(p.ts) - epoch_us(v.ts) <= 7200000000
  GROUP BY p.event_id
),
f AS (
  SELECT p.event_id, min(v.ts) AS mts
  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts >= p.ts
   AND epoch_us(v.ts) - epoch_us(p.ts) <= 7200000000
  GROUP BY p.event_id
),
pick AS (
  SELECT p.event_id, p.user_id, p.ts,
         CASE WHEN b.mts IS NOT NULL
                   AND (f.mts IS NULL
                        OR epoch_us(p.ts) - epoch_us(b.mts)
                           <= epoch_us(f.mts) - epoch_us(p.ts))
              THEN b.mts ELSE f.mts END AS view_ts
  FROM p
  LEFT JOIN b ON b.event_id = p.event_id
  LEFT JOIN f ON f.event_id = p.event_id
)
SELECT pick.event_id, pick.user_id, pick.ts, v.view_event_id, pick.view_ts
FROM pick LEFT JOIN v
  ON v.user_id = pick.user_id AND v.ts = pick.view_ts
"""


def q_decisions_history(spark, sf_dir):
    """Snapshot TIME TRAVEL through the pipeline's commit machinery
    (sources/snapshots.py — the same atomic-manifest path run_pipeline's
    sinks ride): three transactions committed to table "docs" (append
    0-99, append 100-199, replace with 900+ via keep_prior=False), then
    the query reads version 2 — whose content (doc_id < 200) must be
    unaffected by the later replace. The oracle states that content
    declaratively. Scratch snapshots go to a fresh
    per-pid temp dir and the grouped result (bounded: sources × langs)
    is MATERIALIZED before a finally-block rmtree of the query's own
    dir — returning a lazy plan over the scratch files would force the
    leak. Crash leftovers are reaped only when the pid embedded in the
    dir name is dead: an age-based reaper could rmtree a CONCURRENT
    process's scratch mid-query."""
    import glob
    import shutil
    import tempfile

    from inspectehr_spark.sources import snapshots as snap

    for stale in glob.glob(os.path.join(tempfile.gettempdir(), "snap_tt_*")):
        try:
            pid = int(os.path.basename(stale).split("_")[2])
            os.kill(pid, 0)            # raises if the owner is gone
        except (IndexError, ValueError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
        except (OSError, PermissionError):
            pass                       # alive (or not ours to probe): keep
    root = tempfile.mkdtemp(prefix=f"snap_tt_{os.getpid()}_")
    try:
        docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
        for v, (part, keep_prior) in enumerate([
            (docs.filter(F.col("doc_id") < 100), True),
            (docs.filter(F.col("doc_id").between(100, 199)), True),
            (docs.filter(F.col("doc_id").between(900, 999)), False),   # replace
        ], 1):
            rel = snap.write_table_data(part, root, "docs", v)
            snap.commit_transaction(root, {"docs": [rel]}, keep_prior=keep_prior)
        tt = snap.read_table(spark, root, "docs", version=2)
        out = tt.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        # Pin the (dimension-sized) result before deleting its source files.
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_DECISIONS_HISTORY = """
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents WHERE doc_id < 200
GROUP BY source, lang
"""


def q_segment_line_lengths(spark, sf_dir):
    """Per-document segment length profile (the Gopher length-family lens
    at segment granularity): count, mean chars and max chars of the
    non-empty segments — pure zero-shuffle HOF projection; every lambda
    touches only its bound variable (the repo's HOF staging rule)."""
    docs = _t(spark, sf_dir, "documents")
    segs = F.filter(F.split(F.col("text"), " "), lambda s: s != "")
    staged = docs.select("doc_id", segs.alias("_segs"))
    lens = F.transform(F.col("_segs"), lambda s: F.length(s))
    n = F.size(F.col("_segs"))
    total = F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x)
    return staged.select(
        "doc_id",
        n.cast("long").alias("n_segs"),
        F.when(n > 0, F.round(total / n, 6)).alias("mean_seg_chars"),
        F.array_max(lens).cast("long").alias("max_seg_chars"),
    )


SQL_SEGMENT_LINE_LENGTHS = """
WITH s AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS segs
  FROM documents
),
l AS (
  SELECT doc_id, list_transform(segs, x -> length(x)) AS lens,
         len(segs) AS n
  FROM s
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_segs,
       CASE WHEN n > 0
            THEN ROUND(list_sum(lens) / CAST(n AS DOUBLE), 6) END
         AS mean_seg_chars,
       CAST(list_max(lens) AS BIGINT) AS max_seg_chars
FROM l
"""


def q_ngram_jaccard_adjacent(spark, sf_dir):
    """Exact word-3-gram Jaccard (operators/dedup.ngram_jaccard_pairs —
    hashed distinct shingle sets, array_intersect/union on LONG arrays)
    for a deterministic candidate blocking: each doc paired with the next
    doc_id of the same source. Values equal the raw-string-gram oracle
    barring a within-doc 64-bit shingle-hash collision (~1e-12 here)."""
    from pyspark.sql import Window

    from inspectehr_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        docs.select("source", "doc_id", F.lead("doc_id").over(w).alias("_nxt"))
        .filter(F.col("_nxt").isNotNull())
        .select(
            F.col("doc_id").alias("doc_id_a"), F.col("_nxt").alias("doc_id_b")
        )
    )
    out = dedup.ngram_jaccard_pairs(docs, pairs, text_col="text", ngram=3)
    return out.select(
        F.col("doc_id_a").cast("long").alias("doc_id_a"),
        F.col("doc_id_b").cast("long").alias("doc_id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


SQL_NGRAM_JACCARD_ADJACENT = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS l FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_filter(
             list_transform(l, (x, i) -> CASE WHEN i <= len(l) - 2
               THEN x || ' ' || l[i + 1] || ' ' || l[i + 2] END),
             y -> y IS NOT NULL)) AS g
    FROM toks
  )
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
p AS (
  SELECT doc_id_a, doc_id_b FROM (
    SELECT doc_id AS doc_id_a,
           lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS doc_id_b
    FROM documents
  ) WHERE doc_id_b IS NOT NULL
),
inter AS (
  SELECT p.doc_id_a, p.doc_id_b, count(*) AS ni
  FROM p
  JOIN grams ga ON ga.doc_id = p.doc_id_a
  JOIN grams gb ON gb.doc_id = p.doc_id_b AND gb.g = ga.g
  GROUP BY p.doc_id_a, p.doc_id_b
)
SELECT CAST(p.doc_id_a AS BIGINT) AS doc_id_a,
       CAST(p.doc_id_b AS BIGINT) AS doc_id_b,
       CASE WHEN COALESCE(sa.n, 0) + COALESCE(sb.n, 0) - COALESCE(ni, 0) > 0
            THEN ROUND(COALESCE(ni, 0)
                   / CAST(COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                          - COALESCE(ni, 0) AS DOUBLE), 6)
            ELSE 0.0 END AS jaccard
FROM p
LEFT JOIN sizes sa ON sa.doc_id = p.doc_id_a
LEFT JOIN sizes sb ON sb.doc_id = p.doc_id_b
LEFT JOIN inter ON inter.doc_id_a = p.doc_id_a AND inter.doc_id_b = p.doc_id_b
"""


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/sampling.
    assign_split): ZERO-shuffle projection, split = md5-bucket interval —
    stable under re-partitioning and incremental re-runs, replayable in
    any engine with md5 (the same oracle contract as the MinHash
    signature)."""
    from inspectehr_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    return assign_split(docs, id_col="doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"), "split"
    )


SQL_DATASET_SPLIT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train'
            WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_stratified_sample_docs(spark, sf_dir):
    """Exact-k stratified sample (operators/sampling.stratified_sample):
    5 docs per source under the deterministic md5 total order — one
    group-keyed shuffle, reproducible across engines."""
    from inspectehr_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "source", k=5).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


SQL_STRATIFIED_SAMPLE_DOCS = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(rn AS BIGINT) AS sample_rank
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 5
"""


def q_packed_bins(spark, sf_dir):
    """Greedy contiguous sequence packing (operators/sampling.
    pack_sequences): per-source token budget bins of ~2000 tokens, bin =
    floor(tokens-before / target) over the doc_id order — ONE shuffle,
    bins are contiguous order ranges so a bin's docs co-locate for the
    downstream concat."""
    from inspectehr_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "_ntok", F.size(F.split(F.col("text"), r"\s+")).cast("long")
    )
    return pack_sequences(
        docs, token_col="_ntok", group_col="source", order_col="doc_id",
        target_tokens=2000,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("_ntok").alias("n_tokens"),
        "bin_id",
    )


SQL_PACKED_BINS = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tokens,
       CAST(floor((sum(n_tokens) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) - n_tokens) / 2000.0) AS BIGINT) AS bin_id
FROM t
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/dedup.contamination_flags):
    flag corpus docs sharing any distinct word 8-gram with the benchmark
    set (here the deterministic doc_id % 50 == 0 subset — which itself
    comes back fully contaminated, a built-in positive control). Corpus
    side: scan → explode → BROADCAST join of the tiny benchmark gram set
    → one doc-keyed aggregation of hit rows only."""
    from inspectehr_spark.operators.dedup import contamination_flags

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_flags(docs, bench, ngram=8).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_hits",
        "contaminated",
    )


SQL_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS l FROM documents
),
g AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_filter(
             list_transform(l, (x, i) -> CASE WHEN i <= len(l) - 7
               THEN x || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
                      || ' ' || l[i+4] || ' ' || l[i+5] || ' ' || l[i+6]
                      || ' ' || l[i+7] END),
             y -> y IS NOT NULL)) AS g
    FROM toks
  )
),
bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
hits AS (
  SELECT g.doc_id, count(*) AS n_hits
  FROM g JOIN bg ON bg.g = g.g GROUP BY g.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


def q_multimodal_image_features(spark, sf_dir):
    """Multimodal decode path with a FULL VALUE ORACLE: deterministic
    IMG1 binaries are synthesized per doc_id (every ~29th corrupted),
    decoded via the Arrow-batched mapInPandas feature extractor
    (pipeline/multimodal.decode_image_features — the real-codec slot
    swaps in PIL unchanged), and the oracle reproduces width/height/
    n_bytes analytically plus the payload mean in closed form (the
    (seed+i)%256 ramp wraps at most once for L<256)."""
    import pandas as pd

    from inspectehr_spark.pipeline.multimodal import (
        decode_image_features, encode_image,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 29 == 0:
                    img = b"IMG1" + b"\x00\x00\x00\x01"   # truncated: invalid
                else:
                    img = encode_image(4 + d % 13, 4 + d % 7, seed=d % 256)
                out.append((d, img))
            yield pd.DataFrame(out, columns=["doc_id", "image"])

    imgs = docs.mapInPandas(gen, "doc_id long, image binary")
    feats = decode_image_features(imgs)
    return feats.select(
        "doc_id", "format", "width", "height", "n_bytes",
        F.round("mean_byte", 6).alias("mean_byte"),
    )


SQL_MULTIMODAL_IMAGE_FEATURES = """
WITH p AS (
  SELECT doc_id,
         doc_id % 29 = 0 AS bad,
         CAST(4 + doc_id % 13 AS INTEGER) AS w,
         CAST(4 + doc_id % 7 AS INTEGER) AS h,
         doc_id % 256 AS s
  FROM documents
),
q AS (SELECT *, w * h AS L FROM p)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN bad THEN 'invalid' ELSE 'IMG1' END AS format,
       CASE WHEN bad THEN NULL ELSE w END AS width,
       CASE WHEN bad THEN NULL ELSE h END AS height,
       CAST(CASE WHEN bad THEN 8 ELSE 12 + L END AS BIGINT) AS n_bytes,
       CASE WHEN bad THEN NULL
            ELSE ROUND(
              (L * s + (L * (L - 1)) // 2
                 - 256 * greatest(0, s + L - 256))
              / CAST(L AS DOUBLE), 6)
       END AS mean_byte
FROM q
"""


R4_QUERIES = {
    "near_dup_survivors": (q_near_dup_survivors, SQL_NEAR_DUP_SURVIVORS),
    "asof_nearest_view": (q_asof_nearest_view, SQL_ASOF_NEAREST_VIEW),
    "decisions_history": (q_decisions_history, SQL_DECISIONS_HISTORY),
    "segment_line_lengths": (q_segment_line_lengths, SQL_SEGMENT_LINE_LENGTHS),
    "ngram_jaccard_adjacent": (q_ngram_jaccard_adjacent, SQL_NGRAM_JACCARD_ADJACENT),
    "dataset_split": (q_dataset_split, SQL_DATASET_SPLIT),
    "stratified_sample_docs": (q_stratified_sample_docs, SQL_STRATIFIED_SAMPLE_DOCS),
    "packed_bins": (q_packed_bins, SQL_PACKED_BINS),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "multimodal_image_features": (q_multimodal_image_features, SQL_MULTIMODAL_IMAGE_FEATURES),
}
