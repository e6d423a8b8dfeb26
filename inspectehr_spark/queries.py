"""Driver-contract query registry.

Each entry pairs a Spark DataFrame implementation (the operator under test,
from the SURVEY §2 inventory) with a DuckDB-runnable ANSI-SQL oracle over
the same parquet tables. Column names/types are aligned on both sides —
every computed column is aliased identically, doubles are rounded at the
source of truth, integer-ish outputs are cast to BIGINT in both engines.

Registry shape: QUERIES[name] = (spark_fn, sql_or_None); spark_fn takes
(spark, sf_dir) and returns a DataFrame lazily.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inspectehr_spark.functions.sqltext import sql_str_list
from inspectehr_spark.functions.textfns import ALL_STOPWORDS, STOPWORDS
from inspectehr_spark.operators.checks import run_battery, violation_for
from inspectehr_spark.rules import Rule
from inspectehr_spark.tables import table as _t
from inspectehr_spark.operators import windows as W
from inspectehr_spark.operators import missingness as M

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

# Gopher-ish doc rules used by several queries: DOC_RULES for the Spark
# side, the same constants in the oracle SQL texts below.
LEN_LO, LEN_HI = 100, 500
ALLOWED = ("de", "en", "es", "fr")
DOC_RULES = (
    Rule("doc_length", "VE_VC_03", "document length (chars) outside allowed interval",
         column="n_chars", lo=LEN_LO, hi=LEN_HI),
    Rule("lang_allowed", "VE_VC_04", "language not in allowed set",
         column="lang", possible_values=ALLOWED),
)
DOC_LENGTH, LANG_ALLOWED = DOC_RULES
SESSION_GAP_MIN = 30.0
TS_LO, TS_HI = "2024-01-05 00:00:00", "2024-01-25 00:00:00"

_ALLOWED_SQL = ", ".join(f"'{x}'" for x in ALLOWED)

_FAILURES_CTE = f"""
WITH failures AS (
  SELECT doc_id, source, 'doc_length' AS check_code,
         CAST(n_chars AS VARCHAR) AS value, 'VE_VC_03' AS eval_code
  FROM documents WHERE n_chars < {LEN_LO} OR n_chars > {LEN_HI}
  UNION ALL
  SELECT doc_id, source, 'lang_allowed' AS check_code,
         lang AS value, 'VE_VC_04' AS eval_code
  FROM documents WHERE lang NOT IN ({_ALLOWED_SQL})
)
"""


def _doc_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared two-rule failure log (DOC_RULES), single scan."""
    return run_battery(
        _t(spark, sf_dir, "documents"), DOC_RULES, strict=True
    ).select("doc_id", "source", "check_code", "value", "eval_code")


# --------------------------------------------------------------------------
# documents — the rule battery / quality-filter operators
# --------------------------------------------------------------------------

def q_doc_length_fail(spark, sf_dir):
    """Numeric range rule (reference evaluate_range numeric,
    R/evaluate_ranges.R:47-93). Pure filter — pushed to the parquet scan."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(violation_for(DOC_LENGTH)).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("string").alias("value"),
        F.lit(DOC_LENGTH.eval_code).alias("eval_code"),
    )


SQL_DOC_LENGTH_FAIL = f"""
SELECT doc_id, source, CAST(n_chars AS VARCHAR) AS value, 'VE_VC_03' AS eval_code
FROM documents WHERE n_chars < {LEN_LO} OR n_chars > {LEN_HI}
"""


def q_lang_set_fail(spark, sf_dir):
    """Set-membership rule (reference string-set evaluate_range,
    R/evaluate_ranges.R:105-187)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(violation_for(LANG_ALLOWED)).select(
        "doc_id", "source", F.col("lang").alias("value"),
        F.lit(LANG_ALLOWED.eval_code).alias("eval_code"),
    )


SQL_LANG_SET_FAIL = f"""
SELECT doc_id, source, lang AS value, 'VE_VC_04' AS eval_code
FROM documents WHERE lang NOT IN ({_ALLOWED_SQL})
"""


def q_failure_log(spark, sf_dir):
    """Single-pass multi-rule battery exploded to the long failure log —
    the one-scan replacement for the reference's per-code loop."""
    return _doc_failures(spark, sf_dir)


SQL_FAILURE_LOG = _FAILURES_CTE + "SELECT * FROM failures"


def q_keep_drop(spark, sf_dir):
    """Keep/drop decisions: keep == absent from the failure log (anti-join
    semantics, reference R/quality_score.R:30-36)."""
    docs = _t(spark, sf_dir, "documents")
    fails = _doc_failures(spark, sf_dir)
    first_fail = fails.groupBy("doc_id").agg(
        F.min("check_code").alias("first_fail_code")
    )
    return docs.select("doc_id").join(first_fail, "doc_id", "left").select(
        "doc_id",
        F.col("first_fail_code").isNull().alias("keep"),
        "first_fail_code",
    )


SQL_KEEP_DROP = _FAILURES_CTE + """
, ff AS (SELECT doc_id, MIN(check_code) AS first_fail_code FROM failures GROUP BY doc_id)
SELECT d.doc_id, ff.first_fail_code IS NULL AS keep, ff.first_fail_code
FROM documents d LEFT JOIN ff USING (doc_id)
"""


def q_score_by_source(spark, sf_dir):
    """Per-group pass-rate (reference score_events, R/quality_score.R:47-128)."""
    docs = _t(spark, sf_dir, "documents")
    fails = _doc_failures(spark, sf_dir)
    failed = fails.select("doc_id").distinct().withColumn("_f", F.lit(1))
    return (
        docs.join(failed, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_submitted"),
            F.count("_f").alias("n_failed"),
            F.round(F.lit(1.0) - F.count("_f") / F.count(F.lit(1)), 6).alias("score"),
        )
    )


SQL_SCORE_BY_SOURCE = _FAILURES_CTE + """
, failed AS (SELECT DISTINCT doc_id FROM failures)
SELECT d.source,
       COUNT(*) AS n_submitted,
       COUNT(f.doc_id) AS n_failed,
       ROUND(1.0 - COUNT(f.doc_id) / COUNT(*), 6) AS score
FROM documents d LEFT JOIN failed f ON d.doc_id = f.doc_id
GROUP BY d.source
"""


def q_dedup_first_per_key(spark, sf_dir):
    """Keep-first duplicate flagging via row_number (reference
    R/evaluate_duplication.R:35-64 — distinct+right-join replaced by one
    window). Key = (source, lang); order by doc_id (stable)."""
    docs = _t(spark, sf_dir, "documents")
    dups = W.flag_duplicates(docs, ["source", "lang"], "doc_id")
    return dups.select("doc_id", "source", "lang")


SQL_DEDUP_FIRST_PER_KEY = """
SELECT doc_id, source, lang FROM (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn > 1
"""


def q_text_features(spark, sf_dir):
    """Gopher/C4-style heuristic features as native column expressions —
    token count, mean word length, symbol ratio, stopword ratio.
    r7: scan parallelized (tables.parallel_scan) — the per-row stopword
    HOF and regexp passes otherwise run on the single scan core."""
    from inspectehr_spark.tables import parallel_scan

    docs = parallel_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("long")
    no_space = F.length(F.regexp_replace(F.col("text"), " ", ""))
    mean_wl = F.round(no_space.cast("double") / n_tokens, 6)
    clean = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z0-9 ]", ""))
    sym_ratio = F.round(
        (F.length("text") - clean).cast("double") / F.length("text"), 6
    )
    sw = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*ALL_STOPWORDS))
    )
    sw_ratio = F.round(sw.cast("double") / n_tokens, 6)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        sw_ratio.alias("stopword_ratio"),
    )


SQL_TEXT_FEATURES = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       ROUND(CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 6) AS mean_word_len,
       ROUND(CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / len(text), 6) AS symbol_ratio,
       ROUND(CAST(len(list_filter(string_split(text, ' '),
             t -> list_contains([{sql_str_list(ALL_STOPWORDS)}], lower(t)))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS stopword_ratio
FROM documents
"""


def q_langid_heuristic(spark, sf_dir):
    """Stopword-vote language ID (native-SQL fastText stand-in). Ties break
    to the lexicographically larger language code; no hits → 'und'.
    r7: scan parallelized (tables.parallel_scan) — four stopword-list HOF
    passes per row otherwise run on the single scan core."""
    from inspectehr_spark.tables import parallel_scan

    docs = parallel_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.transform(F.split(F.col("text"), " "), lambda t: F.lower(t))

    def hits(ws):
        return F.size(F.filter(toks, lambda t: t.isin(*ws)))

    scored = F.array(
        *[
            F.struct(hits(ws).alias("hits"), F.lit(lang).alias("lang"))
            for lang, ws in sorted(STOPWORDS.items())
        ]
    )
    best = F.array_max(F.filter(scored, lambda s: s["hits"] > 0))
    pred = F.when(best.isNull(), F.lit("und")).otherwise(best["lang"])
    return docs.select("doc_id", pred.alias("lang_pred"))


def _sql_lang_hits(lang: str) -> str:
    return (
        f"len(list_filter(string_split(text, ' '), "
        f"t -> list_contains([{sql_str_list(STOPWORDS[lang])}], lower(t))))"
    )


SQL_LANGID_HEURISTIC = f"""
WITH h AS (
  SELECT doc_id,
         {_sql_lang_hits('de')} AS h_de,
         {_sql_lang_hits('en')} AS h_en,
         {_sql_lang_hits('es')} AS h_es,
         {_sql_lang_hits('fr')} AS h_fr
  FROM documents
)
SELECT doc_id,
  CASE WHEN h_de = 0 AND h_en = 0 AND h_es = 0 AND h_fr = 0 THEN 'und'
       WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
       WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
       WHEN h_en >= h_de THEN 'en'
       ELSE 'de' END AS lang_pred
FROM h
"""


def q_global_missingness(spark, sf_dir):
    """Grid completeness: (source, lang) combos in the cross-grid with zero
    contribution (reference evaluate_global_missingness,
    R/evaluate_missingness.R:15-57)."""
    docs = _t(spark, sf_dir, "documents")
    return M.global_missingness(docs, "source", "lang").orderBy("source", "lang")


SQL_GLOBAL_MISSINGNESS = """
SELECT s.source, l.lang
FROM (SELECT DISTINCT source FROM documents) s
CROSS JOIN (SELECT DISTINCT lang FROM documents) l
ANTI JOIN (SELECT DISTINCT source, lang FROM documents) o
  ON s.source = o.source AND l.lang = o.lang
ORDER BY s.source, l.lang
"""


# --------------------------------------------------------------------------
# events — temporal / window battery
# --------------------------------------------------------------------------

def q_temporal_bounds_fail(spark, sf_dir):
    """Timestamp-range rule (reference evaluate_range.datetime,
    R/evaluate_ranges.R:347-367) with fixed literal bounds."""
    rule = Rule("temporal_bounds", "VE_VC_05", "event time outside window",
                column="ts", ts_lo=TS_LO, ts_hi=TS_HI)
    ev = _t(spark, sf_dir, "events")
    return ev.filter(violation_for(rule)).select(
        "event_id", "ts", F.lit(rule.eval_code).alias("eval_code")
    )


SQL_TEMPORAL_BOUNDS_FAIL = f"""
SELECT event_id, ts, 'VE_VC_05' AS eval_code
FROM events WHERE ts NOT BETWEEN TIMESTAMP '{TS_LO}' AND TIMESTAMP '{TS_HI}'
"""


def q_periodicity_max_gap(spark, sf_dir):
    """Per-user max inter-event gap in hours (reference periodicity lead()
    gaps, R/evaluate_periodicity.R:48-94). Microsecond-exact arithmetic."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = (F.unix_micros(F.lead("ts").over(w).cast("timestamp")) - F.unix_micros(F.col("ts").cast("timestamp"))) / 3.6e9
    return (
        ev.withColumn("_gap", gap)
        .groupBy("user_id")
        .agg(F.round(F.max("_gap"), 6).alias("max_gap_hours"))
    )


SQL_PERIODICITY_MAX_GAP = """
SELECT user_id, ROUND(MAX(gap), 6) AS max_gap_hours FROM (
  SELECT user_id,
         (epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts)) - epoch_us(ts)) / 3.6e9 AS gap
  FROM events
) GROUP BY user_id
"""


def q_session_counts(spark, sf_dir):
    """Sessionization (reference characterise_spells,
    R/characterise_episodes.R:269-285): new session when gap > 30 min;
    report sessions per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(prev.cast("timestamp"))) > SESSION_GAP_MIN * 60e6),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("_ns", new_sess)
        .groupBy("user_id")
        .agg(F.sum("_ns").cast("long").alias("n_sessions"))
    )


SQL_SESSION_COUNTS = f"""
SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions FROM (
  SELECT user_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) > {SESSION_GAP_MIN} * 60e6
              THEN 1 ELSE 0 END AS ns
  FROM events
) GROUP BY user_id
"""


def q_dup_events(spark, sf_dir):
    """Coincident-key duplicate events: same (user_id, event_type, date);
    keep-first by event_id (reference R/evaluate_duplication.R:82-108)."""
    ev = _t(spark, sf_dir, "events").withColumn("ds", F.to_date("ts"))
    dups = W.flag_duplicates(ev, ["user_id", "event_type", "ds"], "event_id")
    return dups.select("event_id", "user_id", "event_type")


SQL_DUP_EVENTS = """
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE) ORDER BY event_id) AS rn
  FROM events
) WHERE rn > 1
"""


def q_daily_type_counts(spark, sf_dir):
    """Calendar-grid zero-fill: every (event_type, day) in the global span
    with its event count, 0 where absent (reference local-missingness
    calendar full join, R/evaluate_missingness.R:128-214)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("_lo"), F.to_date(F.max("ts")).alias("_hi")
    )
    days = bounds.select(F.explode(F.sequence("_lo", "_hi")).alias("ds"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(days)
    counts = ev.groupBy("event_type", F.to_date("ts").alias("ds")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return grid.join(counts, ["event_type", "ds"], "left").select(
        "event_type", "ds", F.coalesce("_n", F.lit(0)).cast("long").alias("n_events")
    )


SQL_DAILY_TYPE_COUNTS = """
WITH days AS (
  SELECT CAST(UNNEST(generate_series(CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE), INTERVAL 1 DAY)) AS DATE) AS ds
  FROM events
),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT event_type, CAST(ts AS DATE) AS ds, COUNT(*) AS n FROM events GROUP BY 1, 2
)
SELECT t.event_type, d.ds, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
FROM types t CROSS JOIN days d
LEFT JOIN counts c ON c.event_type = t.event_type AND c.ds = d.ds
"""


def q_daily_active_users(spark, sf_dir):
    """Distinct-count aggregate per day (reference daily_admissions,
    R/characterise_episodes.R:356-364)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("ds")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_DAILY_ACTIVE_USERS = """
SELECT CAST(ts AS DATE) AS ds, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY 1
"""


def q_typical_daily_profile(spark, sf_dir):
    """Two-level aggregation (reference typical admissions,
    R/verify_episodes.R:33-46): daily counts → per-type mean/stddev."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("ds")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return daily.groupBy("event_type").agg(
        F.round(F.avg("n"), 6).alias("mean_daily"),
        F.round(F.stddev_samp("n"), 6).alias("sd_daily"),
    )


SQL_TYPICAL_DAILY_PROFILE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS ds, COUNT(*) AS n FROM events GROUP BY 1, 2
)
SELECT event_type, ROUND(AVG(n), 6) AS mean_daily, ROUND(STDDEV_SAMP(n), 6) AS sd_daily
FROM daily GROUP BY event_type
"""


def q_purchase_without_signup(spark, sf_dir):
    """Existence comparison (reference evaluate_comparison exists operator,
    R/evaluate_comparison.R:49-192): users with 'purchase' but no 'signup'."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("_p"),
            F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("_s"),
        )
        .filter((F.col("_p") == 1) & (F.col("_s") == 0))
        .select("user_id")
    )


SQL_PURCHASE_WITHOUT_SIGNUP = """
SELECT user_id FROM events
GROUP BY user_id
HAVING MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
   AND MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) = 0
"""


def q_chronology_inversions(spark, sf_dir):
    """Ordered-sequence monotonicity (reference evaluate_chronology,
    R/evaluate_chronology.R:72-91): per user, count of value inversions in
    ts order (ties broken by event_id for determinism)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("value").over(w)
    inv = F.when(nxt.isNotNull() & (F.col("value") > nxt), 1).otherwise(0)
    return (
        ev.withColumn("_inv", inv)
        .groupBy("user_id")
        .agg(F.sum("_inv").cast("long").alias("n_inversions"))
    )


SQL_CHRONOLOGY_INVERSIONS = """
SELECT user_id, CAST(SUM(inv) AS BIGINT) AS n_inversions FROM (
  SELECT user_id,
         CASE WHEN LEAD(value) OVER w IS NOT NULL
               AND value > LEAD(value) OVER w THEN 1 ELSE 0 END AS inv
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) GROUP BY user_id
"""


# --------------------------------------------------------------------------
# TPC-H star schema — join / aggregation battery
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary: grouped multi-aggregate with partial
    (map-side) aggregation; single scan of lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_nation_revenue(spark, sf_dir):
    """The make_core 3-way join (reference R/utils.R:179-193) recast:
    orders ⋈ customer ⋈ nation with the dims broadcast, grouped revenue."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


SQL_NATION_REVENUE = """
SELECT n_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_customers_no_orders(spark, sf_dir):
    """Anti-join (THE keep/drop primitive, reference R/quality_score.R:30-31)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


SQL_CUSTOMERS_NO_ORDERS = """
SELECT c_custkey, c_name FROM customer
ANTI JOIN orders ON c_custkey = o_custkey
"""


def q_building_segment_orders(spark, sf_dir):
    """Semi-join (reference IN-list semi, R/evaluate_comparison.R:101-124):
    orders whose customer is in the BUILDING segment, counted by priority."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))),
            "o_custkey",
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SQL_BUILDING_SEGMENT_ORDERS = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders SEMI JOIN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c
  ON o_custkey = c.c_custkey
GROUP BY o_orderpriority
"""


def q_top_suppliers_per_nation(spark, sf_dir):
    """Windowed top-k per group: supplier revenue ranked within nation,
    top 3 (deterministic tie-break on s_suppkey)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    joined = (
        rev.join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("s_suppkey"))
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("n_name", "s_suppkey", "revenue", "rk")
    )


SQL_TOP_SUPPLIERS_PER_NATION = """
WITH rev AS (
  SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT n_name, s_suppkey, revenue, rk FROM (
  SELECT n_name, s_suppkey, revenue,
         CAST(ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY revenue DESC, s_suppkey) AS BIGINT) AS rk
  FROM rev JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
) WHERE rk <= 3
"""


def q_nation_order_span(spark, sf_dir):
    """Span aggregate (reference total_unit_admissions,
    R/characterise_episodes.R:407-426): per nation min/max order date and
    distinct customers."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


SQL_NATION_ORDER_SPAN = """
SELECT n_name, MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# embeddings — similarity search
# --------------------------------------------------------------------------

def q_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 query vector — the ANN
    baseline (the scale path is LSH-bucketed, see ann.py). Dot products via
    zip_with/aggregate in double precision, JVM-side."""
    emb = _t(spark, sf_dir, "embeddings")
    dembed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", dembed.alias("emb"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    sim = dot(F.col("emb"), F.col("qe")) / (
        F.sqrt(dot(F.col("emb"), F.col("emb"))) * F.sqrt(dot(F.col("qe"), F.col("qe")))
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select("vec_id", F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


SQL_KNN_COSINE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(list_dot_product(e.emb, q.qe)
             / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS cos_sim
FROM e, q
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


def q_label_centroid_distance(spark, sf_dir):
    """Per-label mean L2 norm of embeddings (vectorized array math)."""
    emb = _t(spark, sf_dir, "embeddings")
    dembed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(dembed, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return (
        emb.select("label", norm.alias("_n"))
        .groupBy("label")
        .agg(F.round(F.avg("_n"), 6).alias("mean_norm"), F.count(F.lit(1)).alias("n_vecs"))
    )


SQL_LABEL_CENTROID_DISTANCE = """
SELECT label,
       ROUND(AVG(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS mean_norm,
       COUNT(*) AS n_vecs
FROM embeddings
GROUP BY label
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # documents / quality-filter battery
    "doc_length_fail": (q_doc_length_fail, SQL_DOC_LENGTH_FAIL),
    "lang_set_fail": (q_lang_set_fail, SQL_LANG_SET_FAIL),
    "failure_log": (q_failure_log, SQL_FAILURE_LOG),
    "keep_drop": (q_keep_drop, SQL_KEEP_DROP),
    "score_by_source": (q_score_by_source, SQL_SCORE_BY_SOURCE),
    "dedup_first_per_key": (q_dedup_first_per_key, SQL_DEDUP_FIRST_PER_KEY),
    "text_features": (q_text_features, SQL_TEXT_FEATURES),
    "langid_heuristic": (q_langid_heuristic, SQL_LANGID_HEURISTIC),
    "global_missingness": (q_global_missingness, SQL_GLOBAL_MISSINGNESS),
    # events / temporal battery
    "temporal_bounds_fail": (q_temporal_bounds_fail, SQL_TEMPORAL_BOUNDS_FAIL),
    "periodicity_max_gap": (q_periodicity_max_gap, SQL_PERIODICITY_MAX_GAP),
    "session_counts": (q_session_counts, SQL_SESSION_COUNTS),
    "dup_events": (q_dup_events, SQL_DUP_EVENTS),
    "daily_type_counts": (q_daily_type_counts, SQL_DAILY_TYPE_COUNTS),
    "daily_active_users": (q_daily_active_users, SQL_DAILY_ACTIVE_USERS),
    "typical_daily_profile": (q_typical_daily_profile, SQL_TYPICAL_DAILY_PROFILE),
    "purchase_without_signup": (q_purchase_without_signup, SQL_PURCHASE_WITHOUT_SIGNUP),
    "chronology_inversions": (q_chronology_inversions, SQL_CHRONOLOGY_INVERSIONS),
    # TPC-H relational battery
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "nation_revenue": (q_nation_revenue, SQL_NATION_REVENUE),
    "customers_no_orders": (q_customers_no_orders, SQL_CUSTOMERS_NO_ORDERS),
    "building_segment_orders": (q_building_segment_orders, SQL_BUILDING_SEGMENT_ORDERS),
    "top_suppliers_per_nation": (q_top_suppliers_per_nation, SQL_TOP_SUPPLIERS_PER_NATION),
    "nation_order_span": (q_nation_order_span, SQL_NATION_ORDER_SPAN),
    # embeddings / similarity
    "knn_cosine": (q_knn_cosine, SQL_KNN_COSINE),
    "label_centroid_distance": (q_label_centroid_distance, SQL_LABEL_CENTROID_DISTANCE),
}

# second batch (checksums, KS, pivots, bounds joins, score zero-fill, …) —
# imported at the bottom to avoid a circular import with queries_ext.
from inspectehr_spark.queries_ext import EXT_QUERIES  # noqa: E402
from inspectehr_spark.queries_episodes import EPISODE_QUERIES  # noqa: E402
from inspectehr_spark.queries_noracle import NO_ORACLE_QUERIES  # noqa: E402
from inspectehr_spark.queries_r3 import R3_QUERIES  # noqa: E402
from inspectehr_spark.queries_r4 import R4_QUERIES  # noqa: E402
from inspectehr_spark.queries_r5 import R5_QUERIES  # noqa: E402
from inspectehr_spark.queries_r5b import R5B_QUERIES  # noqa: E402
from inspectehr_spark.queries_r5c import R5C_QUERIES  # noqa: E402
from inspectehr_spark.queries_r6 import R6_QUERIES  # noqa: E402
from inspectehr_spark.queries_r6b import R6B_QUERIES  # noqa: E402
from inspectehr_spark.queries_r6c import R6C_QUERIES  # noqa: E402

QUERIES.update(EXT_QUERIES)
QUERIES.update(EPISODE_QUERIES)
QUERIES.update(R3_QUERIES)
QUERIES.update(NO_ORACLE_QUERIES)
QUERIES.update(R4_QUERIES)
QUERIES.update(R5_QUERIES)
QUERIES.update(R5B_QUERIES)
QUERIES.update(R5C_QUERIES)
QUERIES.update(R6_QUERIES)
QUERIES.update(R6B_QUERIES)
QUERIES.update(R6C_QUERIES)
