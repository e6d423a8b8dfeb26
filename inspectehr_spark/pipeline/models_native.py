"""JVM-native compilation of the pipeline's model stage.

The spec's models (pipeline/spec.py) are deliberately integer-exact:
langid is a char-bigram classifier with INTEGER weights, perplexity is a
mean INTEGER token cost keyed by CRC32. That makes them not just
Arrow-batchable but fully COMPILABLE to Catalyst expressions — weight
tables become map literals, CRC32 is Spark's built-in `crc32`, and every
score is an integer fold over an array column. This module is that
compilation: `enrich_native()` produces the exact same
(text_x, lang_pred, perplexity) columns as the mapInArrow stage
(pipeline/models.map_extract_score), bit-for-bit (equality asserted in
tests/test_models_native.py), with ZERO Python in the plan.

Why it exists, and what the round-6 measurement actually showed
(BENCH_cluster.md): the hypothesis was that removing the pyspark worker
socket would buy N→4N scaling headroom. Measured at the corrected
64-partition decomposition, the OPPOSITE held: the mapInArrow pipeline
paired at ~1.0 efficiency in its clean window (vectorized numpy over
columnar buffers) while this variant plateaued at ~0.70 — the
interpreted higher-order functions allocate a per-document bigram
string array, so at high core counts the stage becomes allocation/GC-
bound. The Arrow stage is therefore run_pipeline's model stage; this
module is the enabler of the FULL-battery value oracle: with
langid/perplexity as deterministic SQL, DuckDB replays every one of the
11 checks (queries_noracle.pipeline_decisions_native).

Expression-shape rules observed (the repo-wide HOF discipline,
operators/dedup.py): arrays a lambda reads are MATERIALIZED columns
first; char bigrams build from zip_with over a shifted slice (linear)
rather than transform(sequence)+substring (substring by index is O(i) on
UTF8String → quadratic per doc).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inspectehr_spark.functions.sqltext import sql_str
from inspectehr_spark.pipeline import spec
from inspectehr_spark.pipeline.run import heuristic_features


def _weight_map(weights: dict[str, int]) -> Column:
    # assembled as ONE SQL string: a map literal built from F.lit pairs
    # costs 2-3 py4j round trips PER ENTRY at query-construction time —
    # measured ~3 s of pure driver-side construction for the two maps here
    entries = ", ".join(
        f"{sql_str(b)}, {int(w)}L" for b, w in sorted(weights.items())
    )
    return F.expr(f"map({entries})")


def _lane_map(profiles: dict[str, dict[str, int]], vocab) -> Column:
    """ONE literal map bigram → array<long>[n_langs + 1]: per-language
    weights in LANGS order plus a final vocab-hit lane (always 1 — every
    key IS a vocab bigram). Catalyst's GetMapValue on a literal map is a
    LINEAR scan of the entries, so per-bigram cost is one ~|vocab|-entry
    scan instead of seven (full battery at sf1: 77.6 → 42.6 s);
    the per-language sums come out of a single zip_with-accumulating
    aggregate instead of six. Assembled as one SQL string (see
    _weight_map) — the per-entry Column form dominated query construction."""
    parts = []
    for b in sorted(vocab):
        lanes = [int(profiles[lang].get(b, 0)) for lang in spec.LANGS] + [1]
        arr = ", ".join(f"{w}L" for w in lanes)
        parts.append(f"{sql_str(b)}, array({arr})")
    return F.expr("map(" + ", ".join(parts) + ")")


def native_extract_text(html_col: str = "html") -> Column:
    """bytes → utf-8 → first <p>…</p> span → unescape chain, as native
    expressions (spec.extract_text_py semantics; Spark regexp_extract
    returns '' on no-match, matching the serial fillna(''))."""
    s = F.col(html_col).cast("string")
    out = F.regexp_extract(s, r"(?s)<p>(.*?)</p>", 1)
    for a, b in spec.UNESCAPES:
        out = F.replace(out, F.lit(a), F.lit(b))
    return out


def with_native_models(
    df: DataFrame, text_col: str = "text_x"
) -> DataFrame:
    """Append lang_pred + perplexity as pure Catalyst expressions —
    bit-identical to models._langid_series / _perplexity_series."""
    vocab, profiles = spec.build_profiles()

    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    staged = df.withColumn("_ch", F.split(padded, ""))
    chars = F.col("_ch")
    shifted = F.slice(chars, 2, F.greatest(F.size(chars) - 1, F.lit(0)))
    bigrams = F.when(
        F.size(chars) >= 2,
        F.slice(
            F.zip_with(chars, shifted, lambda a, b: F.concat(a, b)),
            1,
            F.greatest(F.size(chars) - 1, F.lit(0)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = staged.withColumn("_bg", bigrams).drop("_ch")

    zero = F.lit(0).cast("long")
    n_lanes = len(spec.LANGS) + 1
    lanes0 = F.array(*[zero for _ in range(n_lanes)])
    lane_map = _lane_map(profiles, vocab)
    acc = F.aggregate(
        F.col("_bg"),
        lanes0,
        lambda a, b: F.zip_with(
            a, F.coalesce(lane_map[b], lanes0), lambda x, y: x + y
        ),
    )
    staged = staged.withColumn("_acc", acc)
    staged = staged.withColumn("_hits", F.element_at("_acc", n_lanes))
    for i, lang in enumerate(spec.LANGS):
        staged = staged.withColumn(
            f"_s_{lang}", F.element_at("_acc", i + 1)
        )
    staged = staged.drop("_acc")
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in spec.LANGS])
    # ties → lexicographically smaller code; LANGS is sorted, so the
    # first CASE arm that matches IS the Python argmax tie-break
    pred = F.lit("und")
    for lang in reversed(spec.LANGS):
        pred = F.when(F.col(f"_s_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(F.col("_hits") > 0, pred).otherwise(F.lit("und"))

    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: t != F.lit("")
    )
    staged = staged.withColumn("_ptoks", toks)
    known = _weight_map({w: 1 for w in sorted(spec._KNOWN_VOCAB)})
    crc = lambda t: F.crc32(F.encode(t, "utf-8"))  # noqa: E731
    costs = F.transform(
        F.col("_ptoks"),
        lambda t: F.when(
            known[F.lower(t)].isNotNull(),
            F.lit(100).cast("long") + crc(F.lower(t)) % 200,
        ).otherwise(F.lit(400).cast("long") + crc(F.lower(t)) % 900),
    )
    staged = staged.withColumn("_costs", costs)
    n_tok = F.size("_ptoks")
    ppl = F.when(
        n_tok > 0,
        F.aggregate(F.col("_costs"), zero, lambda a, c: a + c).cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))

    return (
        staged.withColumn("lang_pred", pred)
        .withColumn("perplexity", ppl)
        .drop("_bg", "_hits", "_ptoks", "_costs", *[f"_s_{l}" for l in spec.LANGS])
    )


def enrich_native(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Drop-in for run.enrich with the model stage compiled to Catalyst:
    consumes `html_col`, appends text_x / lang_pred / perplexity and the
    same native heuristic features, zero Python anywhere in the plan."""
    staged = pages.withColumn("text_x", native_extract_text(html_col)).drop(
        html_col
    )
    staged = with_native_models(staged)
    return heuristic_features(staged)
