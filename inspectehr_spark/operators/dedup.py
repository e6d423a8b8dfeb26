"""Corpus-level deduplication: MinHash+LSH, SimHash, n-gram Jaccard. The
exact-duplicate verdict is `pipeline/run.flag_exact_duplicates`.

The reference only has coincident-key duplicate flagging
(R/evaluate_duplication.R); web-scale training-data pipelines need near-dup
too. Everything here is expression-level (hash/xxhash64/transform over
arrays) — no Python in the hot path. MinHash has one implementation for
both hash families (`hash_fn`): `minhash_signature`, `_minhash_bands` and
`_agreement` serve the registry's md5 replay, the xxhash64 scale path and
the streaming battery alike. Every banded near-dup path (MinHash, SimHash,
the streaming battery) takes its candidates from `band_pairs`: an
equi-join on (band_id, band_key), which Spark shuffles by the band key —
candidate pairs only, never the O(n²) cross product — over buckets capped
by `cap_buckets`.

IMPORTANT evaluation-cost rule observed throughout: any expression used
inside a higher-order-function lambda is first MATERIALIZED as a column
(staged select/withColumn). Catalyst inlines non-attribute expressions into
lambda bodies, re-evaluating them per array element — quadratic on big
documents. Staging makes them once-per-row bound references.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "shingles",
    n: int = 3,
) -> DataFrame:
    """Add an array<long> column of word n-gram shingle hashes.

    Two staged projections: tokens materialize first, then the sliding
    window references them as a bound attribute (see module docstring)."""
    from inspectehr_spark.functions.textfns import word_ngrams

    staged = df.withColumn("_toks", F.split(F.col(text_col), r"\s+"))
    grams = word_ngrams(F.col("_toks"), n)
    staged = staged.withColumn("_grams", grams)
    sh = F.transform(F.col("_grams"), lambda g: F.xxhash64(g))
    return staged.withColumn(out_col, sh).drop("_toks", "_grams")


def cap_buckets(
    df: DataFrame, keys: list[str], id_col: str, cap: int
) -> DataFrame:
    """Keep the `cap` lowest-`id_col` rows of every `keys` bucket — the
    hot-bucket cap of every banded near-dup join, and the rule each of
    their oracles replays (ROW_NUMBER() OVER (PARTITION BY keys ORDER BY
    id) <= cap). A boilerplate mega-bucket (templated or empty text)
    would otherwise turn the band self-join O(n²); rows past the cap miss
    only the candidates that bucket would have given them. Nothing counts
    the dropped rows. Spark plans the filter as a map-side
    WindowGroupLimit before the bucket exchange, so a hot bucket ships at
    most `cap` rows per map partition."""
    w = Window.partitionBy(*keys).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def band_pairs(
    df: DataFrame,
    id_col: str,
    bands: Column,
    bucket_cap: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Banded LSH candidate pairs: explode `bands` (a Column of
    array<struct<band_id, band_key>> built over `df`), cap each
    (band_id, band_key) bucket (`cap_buckets`), self-join on the bucket
    with a.id < b.id — a keyed equi-join, never the O(n²) cross product.

    Returns (<id>_a, <id>_b, *<carry>_a, *<carry>_b), one row per id
    pair. `carry` columns ride through the join (a sketch the caller
    verifies on); callers that carry nothing join their payload back by
    id."""
    cols = [id_col, *carry]
    banded = cap_buckets(
        df.select(*cols, F.explode(bands).alias("_band")).select(
            *cols, "_band.band_id", "_band.band_key"
        ),
        ["band_id", "band_key"],
        id_col,
        bucket_cap,
    )
    a, b = banded.alias("a"), banded.alias("b")
    ida, idb = f"{id_col}_a", f"{id_col}_b"
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(ida),
            F.col(f"b.{id_col}").alias(idb),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .dropDuplicates([ida, idb])
    )


def _band_rows(num_hashes: int, bands: int) -> int:
    """Signature elements per LSH band. A geometry whose bands do not
    split the signature evenly is refused: 64 hashes in 10 bands would
    band on only 60 of them."""
    if not 0 < bands <= num_hashes or num_hashes % bands:
        raise ValueError(
            "bands must divide num_hashes and be at least 1 "
            f"(got {bands} bands for {num_hashes} hashes)"
        )
    return num_hashes // bands


def minhash_signature(
    df: DataFrame,
    num_hashes: int,
    hash_fn: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """(id_col, sig): the MinHash signature of every document with at
    least `ngram` tokens. Tokens are the non-empty pieces of `text_col`
    split on ' ', shingles their word `ngram`-grams, and sig[i] is the min
    over shingles of h_i(gram):

    - ``md5``: md5(gram || '|' || i), lexicographic min, array<string>.
      ENGINE-REPLAYABLE, so the registry queries get DuckDB value oracles.
    - ``xxhash64``: xxhash64(xxhash64(gram), i), array<bigint>. Per
      (gram, i) an xxhash64 of a long instead of an md5 of a string: the
      scale path.

    Shorter documents have no shingles and are absent (same in the DuckDB
    replay). `id_col` must be unique per document. No exchange: a caller
    scanning a one-file table puts `tables.parallel_scan` in front.

    md5 shape (r7): ONE aggregate pass of num_hashes running minima folded
    via zip_with/least ('g' sorts after every hex digit so it is the
    identity; the nested lambda avoids the `lambda g, i=i:` two-parameter
    HOF capture trap). Measured at sf0.1/local[32] and rejected: a
    32-column codegen min() aggregation (explode + flat md5 projections)
    paid ~4 s of agg codegen+exec and a doc-keyed exchange (7.7 s cold vs
    3.5 s); a fully-exploded (gram, salt) min paid a 48M-row explode
    (34 s). xxhash64 shape: the gram hashes are a staged column, then one
    array_min per i."""
    from inspectehr_spark.functions.textfns import word_ngrams

    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    # Filter on the token count, not on the grams: Catalyst pushes the
    # filter below the caller's parallel_scan onto the one-core scan, and
    # there the count costs a split where the grams cost the whole gram
    # expression (sf0.1 xxhash64 pairs on local[4]: 0.89 s against 1.09 s,
    # min of 5).
    staged = df.withColumn(
        "_toks", F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    ).filter(F.size("_toks") >= ngram)
    staged = staged.withColumn("_grams", word_ngrams(F.col("_toks"), ngram))

    if hash_fn == "md5":
        def _md5s(g):
            return F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: F.md5(F.concat(g, F.lit("|"), i.cast("string"))),
            )

        sig = F.aggregate(
            F.col("_grams"),
            F.array_repeat(F.lit("g"), num_hashes),
            lambda acc, g: F.zip_with(acc, _md5s(g), lambda a, m: F.least(a, m)),
        )
    else:
        staged = staged.withColumn(
            "_sh", F.transform(F.col("_grams"), lambda g: F.xxhash64(g))
        )
        sig = F.array(
            *[
                F.array_min(F.transform("_sh", lambda s: F.xxhash64(s, F.lit(i))))
                for i in range(num_hashes)
            ]
        )
    return staged.select(id_col, sig.alias("sig"))


def _minhash_bands(
    sig: Column, num_hashes: int, bands: int, hash_fn: str
) -> Column:
    """array<struct<band_id int, band_key>> over a `minhash_signature`:
    band b keys its slice of `_band_rows` elements, md5(concat_ws('',
    slice)) for md5 (the DuckDB replay's md5(h_i || ...)) and
    xxhash64(slice) for xxhash64."""
    rows = _band_rows(num_hashes, bands)

    def key(part: Column) -> Column:
        return F.md5(F.concat_ws("", part)) if hash_fn == "md5" else F.xxhash64(part)

    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                key(F.slice(sig, b * rows + 1, rows)).alias("band_key"),
            )
            for b in range(bands)
        ]
    )


def _agreement(a: str, b: str, num_hashes: int) -> Column:
    """Estimated Jaccard of two signatures: the fraction of their
    `num_hashes` positions that agree."""
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(num_hashes)


def _verified_pairs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    hash_fn: str,
    jaccard_threshold: float,
    bucket_cap: int,
) -> DataFrame:
    """(<id>_a, <id>_b, est_jaccard), a < b: the `band_pairs` of an
    (id_col, sig) `minhash_signature` table, the signature carried
    through the band join, kept where `_agreement` >= threshold."""
    bands_col = _minhash_bands(F.col("sig"), num_hashes, bands, hash_fn)
    pairs = band_pairs(sigs, id_col, bands_col, bucket_cap, carry=("sig",))
    return pairs.select(
        f"{id_col}_a",
        f"{id_col}_b",
        _agreement("sig_a", "sig_b", num_hashes).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= jaccard_threshold)


def minhash_lsh_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    jaccard_threshold: float = 0.8,
    bucket_cap: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, the one MinHash pair
    operator: `minhash_signature` → `bands` band keys → candidate pairs
    share (band_id, band_key) → verify estimated Jaccard (signature
    agreement fraction) ≥ threshold. Returns (doc_id_a, doc_id_b,
    est_jaccard), a < b. `hash_fn="md5"` is the registry's oracle-replay
    family, "xxhash64" the scale path (see `minhash_signature`).

    Scale: the only shuffles are the band-key self-join and the final
    dedup; both keyed equi-ops (`band_pairs`). Hot buckets keep their
    `bucket_cap` lowest ids (`cap_buckets`). The signature rides through
    the band join and is not persisted: at sf0.01 the md5 carry ties the
    persisted, joined-back-by-id shape, and for xxhash64 the cache build
    cost more than the recompute it saved (r7: ~2x slower at sf0.1). The
    scan is parallelized first: at staged sf1 the single-core sketch was
    12.7 s of the query's 12.7 s."""
    from inspectehr_spark.tables import parallel_scan

    sigs = minhash_signature(
        parallel_scan(df.select(F.col(id_col).alias("doc_id"), text_col)),
        num_hashes, hash_fn, text_col=text_col, ngram=ngram,
    )
    return _verified_pairs(
        sigs, "doc_id", num_hashes, bands, hash_fn, jaccard_threshold, bucket_cap
    )


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """Add a 64-bit SimHash over word tokens, pure SQL, in ONE aggregate
    pass: the accumulator is an array<int>(64) of per-bit ±1 vote tallies
    updated via zip_with (one traversal of the token hashes — VERDICT r1
    #5), then the bit votes fold into the fingerprint long. Vote ties →
    bit 0; null token lists → 0.

    The token hash is ENGINE-REPLAYABLE: the first 16 hex chars of
    md5(token), built as (hi << 32) | lo from two 8-hex-digit halves, so
    DuckDB replays it verbatim via ``('0x'||substring(md5(t),1|9,8))::BIGINT``
    (cross-checked against Spark's conv(substring(md5),16,10) on fixtures)
    and the simhash registry queries get full value oracles."""
    staged = df.withColumn("_toks", F.split(F.col(text_col), r"\s+"))
    staged = staged.withColumn(
        "_md5", F.transform(F.col("_toks"), lambda t: F.md5(t))
    )

    def half(m, pos: int):
        return F.conv(F.substring(m, pos, 8), 16, 10).cast("long")

    staged = staged.withColumn(
        "_th",
        F.transform(
            F.col("_md5"),
            lambda m: F.shiftleft(half(m, 1), 32).bitwiseOR(half(m, 9)),
        ),
    )
    bit_positions = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        F.col("_th"),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                bit_positions,
                lambda b: F.when(F.getbit(h, b) == 1, 1).otherwise(-1),
            ),
            lambda a, d: a + d,
        ),
    )
    staged = staged.withColumn("_votes", votes)

    def signed_pow2(b: int) -> int:
        v = 1 << b
        return v - (1 << 64) if v >= (1 << 63) else v

    pow2 = F.array(*[F.lit(signed_pow2(b)).cast("long") for b in range(64)])
    fp = F.aggregate(
        F.zip_with(
            F.col("_votes"),
            pow2,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return staged.withColumn(
        out_col, F.coalesce(fp, F.lit(0).cast("long"))
    ).drop("_toks", "_md5", "_th", "_votes")


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    bucket_cap: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by SimHash banding: the 64-bit fingerprint
    (`with_simhash`) splits into `chunks` equal bands; by pigeonhole any
    pair within `max_hamming` < `chunks` bit flips agrees on at least one
    band, so candidates = pairs sharing (band_id, band value) — the
    `band_pairs` self-join, never the O(n²) cross product. Verification
    is exact: bit_count(a XOR b) <= max_hamming, JVM-side.

    Returns (doc_id_a, doc_id_b, hamming), a < b. Hot bands (boilerplate
    fingerprints) keep their `bucket_cap` lowest ids (`cap_buckets`)."""
    if not 1 < chunks <= 64 or 64 % chunks:
        raise ValueError("chunks must divide 64 and be at least 2")
    if max_hamming >= chunks:
        raise ValueError(
            "pigeonhole guarantee needs max_hamming < chunks "
            f"(got {max_hamming} >= {chunks})"
        )
    bandw = 64 // chunks
    mask = (1 << bandw) - 1
    from inspectehr_spark.tables import parallel_scan

    # r7: parallelize the one-file scan before the per-row vote math, and
    # persist the (one-long-per-doc) fingerprint table because the banded
    # self-join consumes it on both sides — the broadcast side defeats
    # exchange reuse, so without the persist the sketch computed twice
    sh = with_simhash(
        parallel_scan(df.select(id_col, text_col)), text_col=text_col
    ).select(F.col(id_col).alias("doc_id"), F.col("simhash").alias("fp")).persist()

    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftrightunsigned("fp", b * bandw)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for b in range(chunks)
        ]
    )
    pairs = band_pairs(sh, "doc_id", band_arr, bucket_cap, carry=("fp",))
    return pairs.select(
        "doc_id_a",
        "doc_id_b",
        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate (doc_id_a, doc_id_b) pairs:
    |A∩B| / |A∪B| over distinct shingle sets via array_intersect/union.
    r7: shingle construction runs over a parallelized scan (a one-file
    input otherwise hashes every gram on a single core; tables.parallel_scan)
    and the shingle table is persisted — both joins consume it, and the
    broadcast side would otherwise recompute the gram pass."""
    from inspectehr_spark.tables import parallel_scan

    sh = with_shingles(
        parallel_scan(df.select(F.col(id_col).alias("doc_id"), text_col)),
        text_col=text_col,
        n=ngram,
    ).select("doc_id", F.array_distinct("shingles").alias("sh")).persist()
    return (
        candidate_pairs
        .join(sh.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a")), "doc_id_a")
        .join(sh.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b")), "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            # empty ∪ empty (docs under n tokens) defines Jaccard as 0.0 —
            # guarded so 0/0 can't surface as NULL (or error under ANSI)
            F.when(
                F.size(F.array_union("sh_a", "sh_b")) > 0,
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            )
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark DECONTAMINATION (the eval-set n-gram overlap check every
    training pipeline runs before a data release): flag corpus documents
    sharing at least `min_hits` distinct word `ngram`-grams with any
    benchmark document.

    Scale shape: the benchmark gram set is tiny next to the corpus (eval
    suites are MBs against TBs), so it BROADCASTS — the corpus side is a
    scan → explode → broadcast-semi-join → re-aggregate on the doc id,
    and only HIT rows (rare) enter the one aggregation shuffle. No
    corpus self-join, no exchange keyed on text. Grams are xxhash64 of
    the raw n-gram (the with_shingles path): a 64-bit collision flags a
    clean doc with p ≈ n_corpus_grams × n_bench_grams / 2^64 — at 10^12
    × 10^7 grams that is ~5×10^-1 FALSE POSITIVES per corpus, i.e. ~one
    doc over-flagged in the worst case, the safe direction for
    decontamination.

    Returns (id_col, n_hits, contaminated) for EVERY corpus doc."""
    from inspectehr_spark.tables import parallel_scan

    # r7: parallelize both one-file scans before the 8-gram construction
    # (the corpus side is the dominant cost; guide §2.5 input skew)
    bench_grams = (
        with_shingles(
            parallel_scan(benchmark.select(text_col)), text_col=text_col, n=ngram
        )
        .select(F.explode("shingles").alias("g"))
        .distinct()
    )
    corpus_grams = (
        with_shingles(
            parallel_scan(corpus.select(F.col(id_col), text_col)),
            text_col=text_col,
            n=ngram,
        )
        .select(id_col, F.explode(F.array_distinct("shingles")).alias("g"))
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def shingle_dup_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document duplicate-coverage metric (the RefinedWeb §5 "exact
    substring" coverage shape at shingle granularity): the fraction of
    each document's DISTINCT word n-gram shingles that also occur in at
    least one OTHER document. Returns (id_col, shingles_distinct,
    shingles_shared, dup_coverage) with one row per input document —
    documents too short to form a single n-gram report (0, 0, 0.0).

    Scale shape (10^12 docs): tokens and grams are staged projections
    (module HOF rule), the per-doc distinct runs on an array<long> of
    xxhash64 gram hashes (primitive-type array_distinct fast path — the
    string variant is the documented O(n^2) trap), and every exchange is
    keyed by the 8-byte gram hash: explode -> groupBy(gh) doc-frequency
    (two-phase partial agg) -> join back on gh (reuses the agg's
    partitioning) -> groupBy(id). No document text ever enters a shuffle
    key.

    64-bit key note: this is a METRIC, not survivorship — a hash merge
    biases coverage by at most birthday(#distinct grams)/2^64 and needs no
    128-bit pair; the survivorship paths (run.flag_exact_duplicates,
    dedup_segments) keep the salt-first pair rule.

    Reference analog: none (R/evaluate_duplication.R flags coincident
    keys only); beyond-reference web-pipeline set, SURVEY §8."""
    from inspectehr_spark.functions.textfns import word_ngrams
    from inspectehr_spark.tables import parallel_scan

    # r7: parallelize the one-file scan — the 8-gram construction and
    # xxhash64 pass otherwise run on the single scan core (guide §2.5)
    staged = parallel_scan(df.select(id_col, text_col)).select(
        F.col(id_col), F.split(F.col(text_col), r"\s+").alias("_toks")
    )
    staged = staged.withColumn("_grams", word_ngrams(F.col("_toks"), n))
    staged = staged.withColumn(
        "_gh", F.array_distinct(F.transform("_grams", lambda g: F.xxhash64(g)))
    )
    g = staged.select(F.col(id_col), F.explode("_gh").alias("gh"))
    freq = g.groupBy("gh").agg(F.count(F.lit(1)).alias("gdf"))
    cov = (
        g.join(freq, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("shingles_distinct"),
            F.sum((F.col("gdf") >= 2).cast("long")).alias("shingles_shared"),
        )
    )
    return (
        df.select(id_col)
        .join(cov, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("shingles_distinct", F.lit(0)).alias("shingles_distinct"),
            F.coalesce("shingles_shared", F.lit(0)).alias("shingles_shared"),
            F.when(
                F.coalesce("shingles_distinct", F.lit(0)) > 0,
                F.round(
                    F.col("shingles_shared") / F.col("shingles_distinct"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_coverage"),
        )
    )


def substring_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 64,
    hop: int = 32,
    hash_fn: str = "md5",
) -> DataFrame:
    """ExactSubstr-style duplicate detection (Lee et al. 2021,
    arXiv:2107.06499 §4.1): flag documents that share a long verbatim
    character span with ANOTHER document. The paper's suffix array finds
    every >= 50-token overlap; the distributed approximation hashes
    fixed-width character windows at a fixed hop — two documents sharing
    a span of >= window+hop chars are guaranteed to share at least one
    ALIGNED window start in one of them... not in general for arbitrary
    offsets, so this detector is exact for copy-paste/mirror duplication
    (spans copied with the surrounding text, the dominant web case — the
    fixture's word-shuffled near-dups share 170 aligned windows at
    sf0.01) and probabilistic for re-flowed text; tighten `hop` toward 1
    to approach offset-exactness at linearly more hashes per doc.

    Per doc: n_windows (distinct window hashes), n_shared (of those, how
    many appear in >= 2 distinct docs), has_shared_span. Docs shorter
    than `window` have zero windows and FALSE — out of the detector's
    scope by construction (min-length rules catch them first).

    Plan shape: sequence/explode to (doc_id, h) → dropDuplicates (a doc
    repeating ITS OWN span is within-doc repetition, webrules' job, not
    cross-doc dup) → hash-keyed count agg → join back on the SAME hash
    key (exchange reused) → doc-keyed agg. The shuffle key is the window
    hash, never the text. `hash_fn="md5"` is the oracle-replay contract;
    "xxhash64" halves shuffle width (BIGINT key) for deployments — the
    same `hash_fn` choice as minhash_lsh_duplicates.

    Reference analog: R/evaluate_duplication.R flags only coincident-key
    duplicates; cross-document verbatim spans are the web-corpus
    generalization (SURVEY §8)."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    L = F.length(F.col(text_col))
    pos = F.when(
        L >= window, F.sequence(F.lit(1), L - (window - 1), F.lit(hop))
    ).otherwise(F.array().cast("array<int>"))
    # Column-API substring keeps an exotic text column name (dots, spaces)
    # parseable — F.expr string interpolation was not backtick-safe.
    # NOTE r7: a parallel_scan guard here measured a consistent ~0.5 s
    # LOSS at sf0.1 (one md5 per `hop` chars is light per-row work; the
    # extra exchange costs more than the width buys) — unlike the
    # gram-explosion operators, this one stays on the raw scan.
    win = F.col(text_col).substr(F.col("_p"), F.lit(window))
    h = F.md5(win) if hash_fn == "md5" else F.xxhash64(win)
    wins = (
        df.select(id_col, text_col)
        .withColumn("_pos", pos)
        .select(id_col, text_col, F.explode("_pos").alias("_p"))
        .select(id_col, h.alias("_h"))
        .dropDuplicates([id_col, "_h"])
    )
    per_hash = wins.groupBy("_h").agg(F.count(F.lit(1)).alias("_docs"))
    per_doc = (
        wins.join(per_hash, on="_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("_docs") >= 2).cast("long")).alias("n_shared"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .na.fill({"n_windows": 0, "n_shared": 0})
        .withColumn("has_shared_span", F.col("n_shared") > 0)
    )
