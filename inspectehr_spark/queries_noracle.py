"""Formerly the rows-only registry — EMPTY of rows-only entries as of r6.

`pipeline_decisions` (the last rows-only entry, r1-r5) now carries a FULL
DuckDB value oracle. The unlock: this registry variant of the pipeline
runs the heuristic check subset (langid_agree / perplexity excluded —
they are calibrated for the pipeline's own corpus generator, see
q_pipeline_decisions), and decide() projects only (url, keep,
first_fail_code, scrubbed_text) — so although the Spark path still
executes the fused mapInArrow model stage, no MODEL OUTPUT reaches the
compared columns. Everything that does — extraction (regexp + unescape
chain), the Gopher/C4 heuristic battery, the exact-dup window, the
lexicographic-min first_fail_code, and the ordered PII/toxicity scrub —
is deterministic native expression work both engines can replay. The SQL
is GENERATED at import from pipeline/spec.py (thresholds, scrub chain,
stopwords), so spec changes cannot silently diverge the oracle.

Replay notes: the exact-dup verdict partitions by text_x itself where
Spark partitions by the salt-first double-xxhash64 of text_x — identical
semantics modulo ~2^-128 collisions; dup_ngram_frac distincts trigram
STRINGS where Spark distincts xxhash64 values — identical modulo ~2^-64
within-doc collisions (both replay choices documented at the Spark call
sites). The full model path (langid + perplexity COLUMNS) remains
value-checked in pytest against the serial labeler (F1 = 1.0) and the
mapInArrow/pandas-UDF equivalence test."""

from __future__ import annotations

from pyspark.sql import functions as F

from inspectehr_spark.functions.sqltext import sql_str_list
from inspectehr_spark.tables import table as _t


def q_pipeline_decisions(spark, sf_dir):
    """The full quality-filter pipeline (extract → UDF models → battery →
    scrub → decisions) over pages synthesized deterministically from the
    documents table (url/warc_ts/html derived from doc_id)."""
    from inspectehr_spark.pipeline.run import (
        decide, enrich, failure_flags, flag_exact_duplicates,
    )
    from inspectehr_spark.tables import parallel_scan

    # r7: parallelize the one-file scan before page synthesis — the html
    # build, mapInArrow model stage and heuristic battery otherwise run in
    # a single task / single Python worker (guide §2.5)
    docs = parallel_scan(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text", "lang")
    )
    body = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"
        ),
        ">",
        "&gt;",
    )
    pages = docs.select(
        F.concat(F.lit("https://"), "source", F.lit("/"), F.col("doc_id").cast("string")).alias("url"),
        (F.lit("2025-03-01 00:00:00").cast("timestamp") + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><head><title>d</title></head><body><p>"), body, F.lit("</p></body></html>")),
            "utf-8",
        ).alias("html"),
        "text",
        "lang",
    ).withColumn("p_date", F.to_date("warc_ts").cast("string"))
    # model-vocabulary checks (langid_agree, perplexity) are calibrated for
    # the pipeline's own corpus generator; on this external table run the
    # heuristic subset (the reference likewise selects checks per class)
    from inspectehr_spark.pipeline import spec

    checks = tuple(
        c for c in spec.CHECKS if c not in ("langid_agree", "perplexity")
    )
    # Drop the raw crawl text BEFORE the mapInArrow boundary (run_pipeline
    # does the same): it is a dead-weight passthrough there — serialized to
    # Python and echoed back per row for data nothing downstream reads
    # (decide/flags consume the re-extracted text_x).
    return decide(
        failure_flags(flag_exact_duplicates(enrich(pages.drop("text")))),
        checks=checks,
    ).drop("p_date")


# q_embedding_near_dup_arrow retired (r5): the arrow engine IS the
# registry's `embedding_near_dup` now (queries_episodes.py) — value-checked
# against the DuckDB oracle — so a separate rows-only arrow entry would be
# a duplicate. The sql HOF engine survives as the parity baseline in
# tests/test_operators.py::test_near_dup_engines_agree only.


def q_pipeline_decisions_native(spark, sf_dir):
    """The FULL 11-check battery — langid_agree and perplexity included —
    over the Catalyst-compiled model stage (pipeline/models_native.py),
    with the MODEL OUTPUTS (lang_pred, perplexity) in the compared
    columns. The native stage is bit-identical to the mapInArrow stage
    (tests/test_models_native.py), so this query value-oracles the model
    arithmetic itself: DuckDB replays the char-bigram argmax via an
    unnest + weights-table join and the CRC32 token costs via a pure-SQL
    byte-fold over the embedded crc table. Perplexity compares EXACTLY
    (int64 cost sum, one double division — same IEEE result both
    engines)."""
    from inspectehr_spark.pipeline.models_native import enrich_native
    from inspectehr_spark.pipeline.run import (
        decide, failure_flags, flag_exact_duplicates,
    )
    from inspectehr_spark.tables import parallel_scan

    # r7: parallelize the one-file scan before page synthesis — the
    # Catalyst model arithmetic otherwise runs on the single scan core
    docs = parallel_scan(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text", "lang")
    )
    body = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"
        ),
        ">",
        "&gt;",
    )
    pages = docs.select(
        F.concat(F.lit("https://"), "source", F.lit("/"), F.col("doc_id").cast("string")).alias("url"),
        (F.lit("2025-03-01 00:00:00").cast("timestamp") + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><head><title>d</title></head><body><p>"), body, F.lit("</p></body></html>")),
            "utf-8",
        ).alias("html"),
        "lang",
    ).withColumn("p_date", F.to_date("warc_ts").cast("string"))
    flagged = failure_flags(flag_exact_duplicates(enrich_native(pages)))
    return decide(flagged, extra_cols=("lang_pred", "perplexity")).drop(
        "p_date"
    )


def _pipeline_decisions_sql() -> str:
    """DuckDB replay of the heuristic-subset pipeline, generated from
    pipeline/spec.py so the oracle cannot drift from the spec."""
    from inspectehr_spark.functions.textfns import ALL_STOPWORDS
    from inspectehr_spark.pipeline import spec

    sw = sql_str_list(ALL_STOPWORDS)
    checks = [c for c in spec.CHECKS if c not in ("langid_agree", "perplexity")]
    langs = sql_str_list(spec.ALLOWED_LANGS)
    flag_expr = {
        "doc_length":
            f"NOT (n_chars::DOUBLE BETWEEN {spec.LEN_LO} AND {spec.LEN_HI})",
        "word_count":
            f"NOT (n_tokens::DOUBLE BETWEEN {spec.TOK_LO} AND {spec.TOK_HI})",
        "mean_word_length":
            f"(mean_wl IS NOT NULL AND NOT (mean_wl BETWEEN {spec.MWL_LO} "
            f"AND {spec.MWL_HI}))",
        "symbol_ratio":
            f"(sym_ratio IS NOT NULL AND sym_ratio > {spec.SYM_HI})",
        "stopword_ratio":
            f"(sw_ratio IS NOT NULL AND sw_ratio < {spec.SW_LO})",
        "dup_ngram_frac": f"(dupng > {spec.DUPNG_HI})",
        "lang_allowed": f"(lang NOT IN ({langs}))",
        "warc_ts_bounds":
            "NOT (warc_ts BETWEEN TIMESTAMP "
            f"'{spec.TS_LO_ISO.replace('T', ' ')}' AND TIMESTAMP "
            f"'{spec.TS_HI_ISO.replace('T', ' ')}')",
        "exact_duplicate": "is_dup",
    }
    fails = ", ".join(
        f"CASE WHEN {flag_expr[c]} THEN '{c}' END" for c in checks
    )
    scrub = _scrub_sql()
    return f"""
WITH {_base_ctes(sw)},
decided AS (
  SELECT *, list_aggregate(
              list_filter([{fails}], x -> x IS NOT NULL), 'min') AS fc
  FROM feat2
)
SELECT url, fc IS NULL AS keep, fc AS first_fail_code,
       {scrub} AS scrubbed_text
FROM decided
"""


def _scrub_sql() -> str:
    from inspectehr_spark.pipeline import spec

    scrub = "text_x"
    for pat, repl in spec.SCRUB_CHAIN:
        p = pat.replace("'", "''")
        scrub = f"regexp_replace({scrub}, '{p}', '{repl}', 'g')"
    return scrub


def _base_ctes(sw: str) -> str:
    """Shared replay CTEs (page synthesis → extraction → heuristic
    features → exact-dup verdict), parameterized only by the stopword
    literal list. Generated from spec constants at import."""
    from inspectehr_spark.pipeline import spec  # noqa: F401  (f-string uses)

    return f"""pages AS (
  SELECT 'https://' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
         TIMESTAMP '2025-03-01 00:00:00'
           + CAST(doc_id AS INT) * INTERVAL 1 MINUTE AS warc_ts,
         '<html><head><title>d</title></head><body><p>'
           || replace(replace(replace(text, '&', '&amp;'),
                              '<', '&lt;'), '>', '&gt;')
           || '</p></body></html>' AS h,
         lang
  FROM documents
),
ext AS (
  SELECT url, warc_ts, lang,
         replace(replace(replace(
             coalesce(regexp_extract(h, '(?s)<p>(.*?)</p>', 1), ''),
             '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS text_x
  FROM pages
),
tok AS (
  SELECT *, length(text_x) AS n_chars,
         list_filter(string_split(text_x, ' '), t -> t <> '') AS toks,
         len(string_split(text_x, ' ')) - 1 AS n_spaces
  FROM ext
),
feat AS (
  SELECT *, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN (n_chars - n_spaces)::DOUBLE / len(toks) END AS mean_wl,
         CASE WHEN n_chars > 0
              THEN (n_chars - length(regexp_replace(text_x,
                        '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / n_chars
              END AS sym_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks,
                        t -> list_contains([{sw}], lower(t))))::DOUBLE
                   / len(toks) END AS sw_ratio,
         CASE WHEN len(toks) >= 3
              THEN list_transform(generate_series(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ELSE CAST([] AS VARCHAR[]) END AS tris
  FROM tok
),
feat2 AS (
  SELECT *, CASE WHEN len(tris) > 0
                 THEN 1.0 - len(list_distinct(tris)) / len(tris)
                 ELSE 0.0 END AS dupng,
         (ROW_NUMBER() OVER (PARTITION BY text_x ORDER BY url) > 1) AS is_dup
  FROM feat
)"""


def _crc32_table() -> list[int]:
    """The standard CRC-32 (IEEE 802.3, poly 0xEDB88320) byte table —
    computed here, embedded in the oracle as a literal so DuckDB (which
    has no crc32 builtin) replays zlib.crc32 exactly via a byte-fold."""
    tab = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
        tab.append(c)
    return tab


def _pipeline_decisions_native_sql() -> str:
    """DuckDB replay of the FULL 11-check battery including the model
    columns. langid: bigrams unnest → integer-weights VALUES join →
    per-(url, lang) sum → argmax with lexicographic tie-break (a lang
    absent from the join scored 0, and any vocab hit scores ≥1, so the
    argmax over PRESENT langs equals the argmax over all six; no hits at
    all → 'und'). perplexity: distinct lowered tokens → pure-SQL CRC32
    byte-fold (ASCII corpus: ascii(char) IS the UTF-8 byte — asserted in
    the test) → cost join with multiplicity → int sum / count. Both
    mirror pipeline/models_native.py, which is bit-identical to the
    mapInArrow stage."""
    from inspectehr_spark.functions.textfns import ALL_STOPWORDS
    from inspectehr_spark.pipeline import spec

    sw = sql_str_list(ALL_STOPWORDS)
    langs = sql_str_list(spec.ALLOWED_LANGS)
    _, profiles = spec.build_profiles()
    # The langid replay below scores only langs PRESENT in the weights join
    # (absent langs are omitted), while Spark scores them as 0 — the two
    # argmaxes agree only because every profile weight is >= 1. Turn that
    # documented invariant into an import-time guard.
    assert all(
        w >= 1 for p in profiles.values() for w in p.values()
    ), "native-oracle langid replay requires all profile weights >= 1"
    wrows = ", ".join(
        f"('{lang}', '{b.replace(chr(39), chr(39)*2)}', {w})"
        for lang in spec.LANGS
        for b, w in sorted(profiles[lang].items())
    )
    known = ", ".join(f"'{w}'" for w in sorted(spec._KNOWN_VOCAB))
    crctab = "[" + ",".join(map(str, _crc32_table())) + "]"
    flag_expr = {
        "doc_length":
            f"NOT (n_chars::DOUBLE BETWEEN {spec.LEN_LO} AND {spec.LEN_HI})",
        "word_count":
            f"NOT (n_tokens::DOUBLE BETWEEN {spec.TOK_LO} AND {spec.TOK_HI})",
        "mean_word_length":
            f"(mean_wl IS NOT NULL AND NOT (mean_wl BETWEEN {spec.MWL_LO} "
            f"AND {spec.MWL_HI}))",
        "symbol_ratio":
            f"(sym_ratio IS NOT NULL AND sym_ratio > {spec.SYM_HI})",
        "stopword_ratio":
            f"(sw_ratio IS NOT NULL AND sw_ratio < {spec.SW_LO})",
        "dup_ngram_frac": f"(dupng > {spec.DUPNG_HI})",
        "lang_allowed": f"(lang NOT IN ({langs}))",
        "langid_agree": "(lang_pred <> lang)",
        "perplexity": f"(perplexity > {spec.PPL_HI})",
        "warc_ts_bounds":
            "NOT (warc_ts BETWEEN TIMESTAMP "
            f"'{spec.TS_LO_ISO.replace('T', ' ')}' AND TIMESTAMP "
            f"'{spec.TS_HI_ISO.replace('T', ' ')}')",
        "exact_duplicate": "is_dup",
    }
    fails = ", ".join(
        f"CASE WHEN {flag_expr[c]} THEN '{c}' END" for c in spec.CHECKS
    )
    return f"""
WITH {_base_ctes(sw)},
padded AS (
  SELECT url, ' ' || text_x || ' ' AS p FROM ext
),
bg AS (
  SELECT url, unnest(list_transform(generate_series(1, length(p) - 1),
                                    i -> substring(p, i, 2))) AS b
  FROM padded
),
w(lang, b, wt) AS (VALUES {wrows}),
sc AS (
  SELECT bg.url, w.lang, SUM(w.wt) AS score
  FROM bg JOIN w USING (b) GROUP BY bg.url, w.lang
),
ranked AS (
  SELECT url, lang,
         ROW_NUMBER() OVER (PARTITION BY url
                            ORDER BY score DESC, lang ASC) AS rn
  FROM sc
),
pred AS (SELECT url, lang AS lp FROM ranked WHERE rn = 1),
ptok AS (SELECT url, lower(unnest(toks)) AS lt FROM tok),
dt AS (SELECT DISTINCT lt FROM ptok),
crc AS (
  SELECT lt, CAST(xor(list_reduce(
               list_prepend(4294967295,
                 list_transform(generate_series(1, length(lt)),
                                i -> ascii(substring(lt, i, 1)))),
               (acc, ch) -> xor(acc >> 8, ({crctab})[xor(acc & 255, ch) + 1])),
             4294967295) AS BIGINT) AS c
  FROM dt
),
cost AS (
  SELECT lt, CASE WHEN lt IN ({known}) THEN 100 + c % 200
                  ELSE 400 + c % 900 END AS tc
  FROM crc
),
ppl AS (
  SELECT url, SUM(tc)::DOUBLE / COUNT(*) AS pp
  FROM ptok JOIN cost USING (lt) GROUP BY url
),
feat3 AS (
  SELECT feat2.*, COALESCE(pred.lp, 'und') AS lang_pred,
         COALESCE(ppl.pp, 0.0) AS perplexity
  FROM feat2 LEFT JOIN pred USING (url) LEFT JOIN ppl USING (url)
),
decided AS (
  SELECT *, list_aggregate(
              list_filter([{fails}], x -> x IS NOT NULL), 'min') AS fc
  FROM feat3
)
SELECT url, lang_pred, perplexity, fc IS NULL AS keep,
       fc AS first_fail_code, {_scrub_sql()} AS scrubbed_text
FROM decided
"""


SQL_PIPELINE_DECISIONS = _pipeline_decisions_sql()
SQL_PIPELINE_DECISIONS_NATIVE = _pipeline_decisions_native_sql()

NO_ORACLE_QUERIES = {
    "pipeline_decisions": (q_pipeline_decisions, SQL_PIPELINE_DECISIONS),
    "pipeline_decisions_native": (
        q_pipeline_decisions_native, SQL_PIPELINE_DECISIONS_NATIVE,
    ),
}
