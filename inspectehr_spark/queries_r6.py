"""Round-6 extension registry: public-suffix-list (PSL) registered-domain
extraction with a full DuckDB value oracle.

`url_registered_domain` grew proper eTLD+1 semantics this round (ADVICE
r5 / VERDICT next-round #3): the registered domain is the LONGEST listed
public suffix plus one preceding label — `a.b.co.uk` → `b.co.uk`, never
the suffix-naive `co.uk` — with publicsuffix2's contract for the edge
cases (host IS a suffix → NULL; unlisted TLD → default rule `*`, last two
labels). The documents fixture has no URL column, so hosts are
synthesised DETERMINISTICALLY from (doc_id, source) with the same
expression on both engines, covering every rule branch:

- doc_id % 11 == 0            → host IS the listed suffix 'github.io'
                                 (NULL registered domain);
- doc_id % 5 picks the suffix → 'co.uk' / 'com' / 'github.io' / 'zz'
                                 (unlisted → default rule) / 'ac.uk';
- doc_id % 3 == 0             → extra 'www.' label (must strip to
                                 eTLD+1, not survive into the key).

Both engines evaluate the identical longest-suffix algorithm over the
same literal PSL fixture (`functions.urlfns.psl_fixture`): dot-suffix
array → first listed position → slice. Reference analog: none
(inspectEHR sites are flat codes, R/report.R:40); this is the
beyond-reference web-pipeline set (SURVEY §8).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from inspectehr_spark.functions import urlfns as U
from inspectehr_spark.tables import table as _t


def _with_psl_urls(spark, sf_dir):
    """Deterministic URL synthesis with multi-label public suffixes."""
    d = _t(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("co.uk"))
        .when(F.col("doc_id") % 5 == 1, F.lit("com"))
        .when(F.col("doc_id") % 5 == 2, F.lit("github.io"))
        .when(F.col("doc_id") % 5 == 3, F.lit("zz"))
        .otherwise(F.lit("ac.uk"))
    )
    host = F.when(F.col("doc_id") % 11 == 0, F.lit("github.io")).otherwise(
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.col("source"),
            F.lit("."),
            suffix,
        )
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/page-"), F.col("doc_id").cast("string")
    )
    return d.select("doc_id", url.alias("url"))


_PSL_URL_CTE = """
u AS (
  SELECT doc_id,
         'https://'
         || (CASE WHEN doc_id % 11 = 0 THEN 'github.io'
                  ELSE (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
                       || source || '.'
                       || (CASE WHEN doc_id % 5 = 0 THEN 'co.uk'
                                WHEN doc_id % 5 = 1 THEN 'com'
                                WHEN doc_id % 5 = 2 THEN 'github.io'
                                WHEN doc_id % 5 = 3 THEN 'zz'
                                ELSE 'ac.uk' END) END)
         || '/page-' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
)
"""


def _psl_sql_literal() -> str:
    return "[" + ", ".join(f"'{s}'" for s in U.psl_fixture()) + "]"


def q_psl_registered_domain(spark, sf_dir):
    """eTLD+1 per host against the PSL fixture, aggregated per
    (host, registered_domain) — full value verification of every rule
    branch with dimension-sized output. Pure projection + ONE partial
    agg on a short key; the PSL is a plan literal (zero shuffle before
    the groupBy)."""
    d = _with_psl_urls(spark, sf_dir)
    return (
        d.select(
            U.url_host("url").alias("host"),
            U.url_registered_domain("url", psl=U.psl_fixture()).alias(
                "registered_domain"
            ),
        )
        .groupBy("host", "registered_domain")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


SQL_PSL_REGISTERED_DOMAIN = f"""
WITH {_PSL_URL_CTE.strip()},
h AS (
  SELECT lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
           AS host
  FROM u
),
x AS (
  SELECT host,
         string_split(host, '.') AS labels,
         len(string_split(host, '.')) AS n,
         list_position(
           list_transform(
             range(1, len(string_split(host, '.')) + 1),
             i -> list_contains({_psl_sql_literal()},
                                array_to_string(string_split(host, '.')[i:], '.'))),
           true) AS first
  FROM h
),
r AS (
  SELECT host,
         CASE WHEN first = 1 THEN NULL
              WHEN first > 1 THEN array_to_string(labels[first - 1:], '.')
              WHEN n >= 2 THEN array_to_string(labels[n - 1:], '.')
              ELSE host END AS registered_domain
  FROM x
)
SELECT host, registered_domain, CAST(count(*) AS BIGINT) AS n_docs
FROM r
GROUP BY host, registered_domain
"""


def q_minhash_lsh_pairs_fast(spark, sf_dir):
    """The xxhash64 MinHash scale path, re-registered so BENCH tracks the
    plan a 100x deployment actually runs (VERDICT r5 next-round #5). The
    registry's `minhash_lsh_pairs` is the same operator,
    operators/dedup.minhash_lsh_duplicates, with the md5 hash family its
    oracle replays (~2x the hash work: an md5 of a string per gram and
    hash vs an xxhash64 of a long). Same 32-hash/16-band sketch geometry, same
    threshold and hot-bucket cap. Rows-only driver check (xxhash64 has no
    DuckDB replay); pair-set parity vs the md5 variant is asserted in
    tests/test_operators.py::test_minhash_fast_path_matches_md5_variant."""
    from inspectehr_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_duplicates(
        docs, num_hashes=32, bands=16, jaccard_threshold=0.5
    )


R6_QUERIES = {
    "psl_registered_domain": (q_psl_registered_domain, SQL_PSL_REGISTERED_DOMAIN),
    "minhash_lsh_pairs_fast": (q_minhash_lsh_pairs_fast, None),
}


def q_semdedup_verdicts(spark, sf_dir):
    """SemDeDup semantic-dedup verdicts (Abbas et al. 2023) over the
    embeddings table, clusters = the label column (the 'clusters provided'
    mode; ann.assign_nearest_centroid is the derived-cluster mode): rank
    each cluster by cosine-to-centroid ascending (keep outliers — the
    paper's choice) and drop every member whose cosine to an
    EARLIER-ranked member is >= 0.35. Full value oracle: DuckDB replays
    the identical centroid (6dp-rounded dimension means), rank window and
    pairwise-threshold rule; the Spark pair kernel is the arrow GEMM cell
    engine, so this also value-checks the scale path end to end."""
    from inspectehr_spark.ann import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.35, bucket_cap=2000, keep="low")


SQL_SEMDEDUP_VERDICTS = """
WITH e AS (
  SELECT vec_id, label AS cid, embedding::DOUBLE[] AS v FROM embeddings
),
dims AS (
  SELECT cid, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x
  FROM e
),
cent0 AS (SELECT cid, pos, ROUND(AVG(x), 6) AS m FROM dims GROUP BY 1, 2),
cent AS (SELECT cid, list(m ORDER BY pos) AS c FROM cent0 GROUP BY cid),
capped AS (
  SELECT vec_id, cid, v FROM (
    SELECT vec_id, cid, v,
           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
    FROM e
  ) WHERE rn <= 2000
),
scored AS (
  SELECT s.vec_id, s.cid, s.v,
         ROUND(list_dot_product(s.v, c.c)
               / (sqrt(list_dot_product(s.v, s.v))
                  * sqrt(list_dot_product(c.c, c.c))), 6) AS cent_cos
  FROM capped s JOIN cent c ON s.cid = c.cid
),
ranked AS (
  SELECT vec_id, cid, v, cent_cos,
         ROW_NUMBER() OVER (PARTITION BY cid
                            ORDER BY cent_cos ASC, vec_id) AS sem_rank
  FROM scored
),
pairs AS (
  SELECT a.sem_rank AS ra, b.sem_rank AS rb,
         a.vec_id AS va, b.vec_id AS vb
  FROM ranked a JOIN ranked b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
),
losers AS (
  SELECT DISTINCT CASE WHEN ra > rb THEN va ELSE vb END AS loser FROM pairs
)
SELECT r.vec_id, r.cid, r.cent_cos,
       (l.loser IS NOT NULL) AS is_semantic_dup
FROM ranked r LEFT JOIN losers l ON r.vec_id = l.loser
"""


def q_temperature_sample(spark, sf_dir):
    """Temperature-rebalanced language sampling (Conneau & Lample 2019;
    mC4): per-lang keep rates proportional to n^0.7 apportioning an
    expected 600 kept docs (alpha<1 up-weights tail languages; at sf0.01
    the hottest tail rate clears 1.0, exercising the clamp branch), each
    doc kept deterministically by the md5-uniform threshold. Corpus is
    never shuffled: one small count agg + a broadcast rate join."""
    from inspectehr_spark.operators.sampling import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    out = temperature_sample(
        docs, "lang", target_total=600, alpha=0.7, id_col="doc_id", salt="temp"
    )
    return out.select("doc_id", "lang", "group_n", "keep_rate", "keep")


SQL_TEMPERATURE_SAMPLE = """
WITH n AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS group_n FROM documents GROUP BY lang
),
z AS (SELECT sum(pow(CAST(group_n AS DOUBLE), 0.7)) AS z FROM n),
rates AS (
  SELECT lang, group_n,
         round(least(1.0,
               600.0 * (pow(CAST(group_n AS DOUBLE), 0.7) / z.z)
                     / CAST(group_n AS DOUBLE)), 6) AS keep_rate
  FROM n, z
),
thr AS (
  SELECT lang, group_n, keep_rate,
         lpad(lower(hex(CAST(floor(keep_rate * 4294967296.0) AS BIGINT))),
              8, '0') AS t
  FROM rates
)
SELECT d.doc_id, d.lang, r.group_n, r.keep_rate,
       (r.keep_rate >= 1.0
        OR substr(md5('temp|' || CAST(d.doc_id AS VARCHAR)), 1, 8) < r.t)
         AS keep
FROM documents d JOIN thr r USING (lang)
"""


R6_QUERIES.update(
    {
        "semdedup_verdicts": (q_semdedup_verdicts, SQL_SEMDEDUP_VERDICTS),
        "temperature_sample": (q_temperature_sample, SQL_TEMPERATURE_SAMPLE),
    }
)
