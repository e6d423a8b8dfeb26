"""Web-corpus segment rules: the Gopher/C4 line- and paragraph-level
family the doc-level battery (pipeline/run.py heuristics, Rae et al. 2021
table A1; Raffel et al. 2020 §2.2) doesn't cover — duplicate-segment mass,
line scrubbing, and segment-level dedup with document rebuild.

All three are generic over a separator so the same operator serves
newline-delimited web pages (sep="\\n"), paragraph blocks (sep="\\n\\n"),
and the word-level registry harness over the single-line `documents`
fixture (sep=" ").

Scale notes (10^12 docs):
- `segment_dup_stats` is ZERO-shuffle: sort each row's segment array and
  compare adjacent elements — no explode, no exchange of the token stream;
  per-row O(n log n) with lambdas that touch only bound variables (the
  repo's HOF rule — an outer expression referenced inside a lambda body is
  re-evaluated per element).
- `line_scrub` is a pure projection (filter + array_join), zero-shuffle.
- `dedup_segments` explodes, which is the right shape when survivorship is
  cross-document (corpus scope): the exchange is keyed by the segment
  hash, never the text of the whole document, and the rebuild groups by
  doc — two shuffles total, both on bounded keys.

Reference analog: none in inspectEHR (clinical events have no intra-field
segment structure); this is the beyond-reference web-pipeline set
(SURVEY §8)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def _segments(text_col: str, sep: str) -> Column:
    return F.split(F.col(text_col), re.escape(sep))


def segment_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    prefix: str = "seg",
) -> DataFrame:
    """Per-document duplicate-segment statistics (Gopher repetition rules
    at segment granularity): appends

    - `<prefix>_total`      — number of segments,
    - `<prefix>_distinct`   — distinct segments,
    - `<prefix>_dup_frac`   — 1 - distinct/total (fraction of duplicate
      segment *slots*, Gopher "fraction of duplicate lines"),
    - `<prefix>_dup_char_frac` — fraction of segment CHARACTERS that sit
      in a segment occurring more than once (Gopher "fraction of
      characters in duplicate lines"; separators excluded from the mass).

    Zero-shuffle: sort the segment array once, then a segment is part of a
    duplicate group iff it equals its sorted predecessor or successor —
    three zip_with passes over adjacent pairs, every lambda touching only
    its bound variables."""
    s = F.sort_array(_segments(text_col, sep))
    n = F.size(s)
    null_s = F.array(F.lit(None).cast("string"))
    # prev[i] = s[i-1] (null at i=0); nxt[i] = s[i+1] (null at i=n-1)
    prev = F.slice(F.concat(null_s, s), 1, n)
    nxt = F.concat(F.slice(s, 2, n), null_s)
    eq_prev = F.zip_with(s, prev, lambda a, b: a.eqNullSafe(b))
    eq_next = F.zip_with(s, nxt, lambda a, b: a.eqNullSafe(b))
    in_dup = F.zip_with(eq_prev, eq_next, lambda a, b: a | b)
    # distinct count from the SAME sorted-adjacent pass: a slot is a repeat
    # iff it equals its predecessor, so distinct = n - count(eq_prev).  This
    # replaces array_distinct on a STRING array, whose hash-set fast path is
    # primitives-only — on a 25k-segment page that was ~6e8 string compares
    # per task (the O(n^2) trap removed from the trigram feature in run.py).
    repeat_slots = F.aggregate(
        eq_prev,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.when(x, 1).otherwise(0),
    )
    distinct = (n.cast("long") - repeat_slots).alias("distinct")
    dup_chars = F.aggregate(
        F.zip_with(in_dup, s, lambda f, w: F.when(f, F.length(w)).otherwise(0)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    total_chars = F.aggregate(
        s, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    return (
        df.withColumn(f"{prefix}_total", n.cast("long"))
        .withColumn(f"{prefix}_distinct", distinct)
        .withColumn(
            f"{prefix}_dup_frac",
            F.round(1.0 - distinct / n, 6),
        )
        .withColumn(
            f"{prefix}_dup_char_frac",
            F.when(total_chars > 0, F.round(dup_chars / total_chars, 6)).otherwise(
                F.lit(0.0)
            ),
        )
    )


def line_scrub(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_words: int = 3,
    require_terminal: bool = False,
    out_col: str = "scrubbed",
) -> DataFrame:
    """C4-style line filter (Raffel et al. 2020 §2.2): keep only segments
    with at least `min_words` whitespace words and — when
    `require_terminal` — ending in terminal punctuation; rebuild the
    document from the kept segments. Appends `<out_col>` (rebuilt text,
    NULL when no segment is kept), `lines_total`, `lines_kept`. Pure
    projection: the filter lambda uses only its bound variable, so cost
    is linear in characters and the plan stays inside whole-stage
    codegen's project."""
    segs = _segments(text_col, sep)

    def keep(seg: Column) -> Column:
        ok = F.size(F.split(seg, " ")) >= min_words
        if require_terminal:
            ok = ok & seg.rlike(r"""[.!?"']$""")
        return ok

    kept = F.filter(segs, keep)
    return (
        df.withColumn("lines_total", F.size(segs).cast("long"))
        .withColumn("lines_kept", F.size(kept).cast("long"))
        .withColumn(out_col, F.when(F.size(kept) > 0, F.array_join(kept, sep)))
    )


def dedup_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    scope: str = "doc",
    out_col: str = "text_deduped",
) -> DataFrame:
    """Segment-level dedup with document rebuild (the RefinedWeb/CCNet
    paragraph-dedup shape): keep the FIRST occurrence of every segment —
    within each document (`scope="doc"`) or across the corpus
    (`scope="corpus"`, survivor = lowest (id, position)) — and rebuild
    each document from its surviving segments in original order.

    Returns (id_col, lines_total, lines_kept, out_col). Corpus scope keys
    the survivorship exchange by the segment value (hash-partitioned, the
    document text never enters a shuffle key whole); rebuild is one
    groupBy(id) — two shuffles total. Documents whose segments all lose
    still appear (empty rebuild): the left side is every exploded row."""
    if scope not in ("doc", "corpus"):
        raise ValueError(f"scope must be 'doc' or 'corpus', got {scope!r}")
    # Corpus scope keys the exchange by a salt-first 128-bit hash pair of
    # the segment, never the segment text itself (same rule as the exact-
    # dup window, pipeline/run.py flag_exact_duplicates).
    part = (
        [F.col(id_col), F.col("seg")]
        if scope == "doc"
        else [F.xxhash64("seg"), F.xxhash64(F.lit(1), "seg")]
    )
    w = Window.partitionBy(*part).orderBy(id_col, "pos")
    exploded = df.select(
        id_col, F.posexplode(_segments(text_col, sep)).alias("pos", "seg")
    ).withColumn("rn", F.row_number().over(w))
    return (
        exploded.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("lines_total"),
            F.sum((F.col("rn") == 1).cast("long")).alias("lines_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") == 1, F.struct("pos", "seg"))
                        )
                    ),
                    lambda x: x["seg"],
                ),
                sep,
            ).alias(out_col),
        )
    )


def scrub_frequent_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 2,
    out_col: str = "scrubbed",
    use_broadcast: bool = True,
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet/RefinedWeb
    line-dedup shape: drop navigation chrome, cookie banners, footers):
    any segment occurring in >= `min_docs` DISTINCT documents is removed
    from EVERY document, and each document is rebuilt from its surviving
    segments in original order. Returns (id_col, lines_total, lines_kept,
    out_col); documents whose segments all scrub still appear (empty
    rebuild).

    Differs from `dedup_segments(scope="corpus")` — that keeps the FIRST
    occurrence of a repeated segment; this removes ALL occurrences once
    the segment is frequent enough, which is the boilerplate semantic (the
    first cookie banner is as worthless as the millionth).

    Scale shape (10^12 docs): one explode, then
    1. frequent-set aggregation keyed by a salt-first 128-bit hash PAIR of
       the segment (never the text itself — same exchange rule as
       `exact_duplicates`); countDistinct(doc) is a two-phase partial agg;
    2. the frequent set is joined back. Its size is bounded by
       total_segments / min_docs and in real corpora boilerplate vocab is
       tiny, so with `use_broadcast=True` (default) the aggregated side
       broadcasts and the join adds ZERO exchange of the corpus side; the
       only wide exchanges are the frequency agg and the per-doc rebuild.
       Callers who cannot bound the frequent set (min_docs=2 over an
       adversarial corpus) pass use_broadcast=False for a shuffle join.
    3. one groupBy(id) rebuild.

    Reference analog: none (inspectEHR has no intra-field segment
    structure); beyond-reference web-pipeline set, SURVEY §8."""
    segs = df.select(
        F.col(id_col), F.posexplode(_segments(text_col, sep)).alias("pos", "seg")
    ).withColumn("h1", F.xxhash64("seg")).withColumn(
        "h2", F.xxhash64(F.lit(1), "seg")
    )
    freq = (
        segs.groupBy("h1", "h2")
        .agg(F.countDistinct(id_col).alias("seg_df"))
        .filter(F.col("seg_df") >= min_docs)
        .select("h1", "h2", F.lit(True).alias("_boiler"))
    )
    if use_broadcast:
        freq = F.broadcast(freq)
    marked = segs.join(freq, ["h1", "h2"], "left")
    keep = F.col("_boiler").isNull()
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("lines_total"),
        F.sum(keep.cast("long")).alias("lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "seg")))
                ),
                lambda x: x["seg"],
            ),
            sep,
        ).alias(out_col),
    )
