"""Plan-quality gates: predicate pushdown, column pruning, broadcast
joins, shuffle budgets — asserted on the live registry queries so a
regression in plan shape fails CI, not just a benchmark."""

from __future__ import annotations

from inspectehr_spark.plans import inspect
from inspectehr_spark.queries import QUERIES


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    fn, _ = QUERIES["doc_length_fail"]
    df = fn(spark, sf_dir)
    pushed = inspect.pushed_filters(df)
    # the OR-of-range predicate itself is pushed to the parquet reader, not
    # just IsNotNull(n_chars): a DOUBLE bound against the BIGINT column
    # would cast the column and stop the range at the scan
    assert any("LessThan(n_chars" in p for p in pushed), pushed
    assert any("GreaterThan(n_chars" in p for p in pushed), pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    fn, _ = QUERIES["doc_length_fail"]
    df = fn(spark, sf_dir)
    schemas = inspect.read_schemas(df)
    assert schemas, "no scan found"
    # text (the widest column) must NOT be read for this 3-column query
    assert all("text" not in s for s in schemas), schemas


def test_dim_joins_broadcast(spark, sf_dir):
    fn, _ = QUERIES["nation_revenue"]
    df = fn(spark, sf_dir)
    assert inspect.has_broadcast_join(df)
    assert not inspect.has_cartesian(df)
    # orders → partial agg → final agg: at most the agg exchange, never a
    # shuffle of the fact table for the dim joins
    assert inspect.exchange_count(df) <= 1, inspect.formatted_plan(df)


def test_anti_join_no_cartesian(spark, sf_dir):
    fn, _ = QUERIES["customers_no_orders"]
    df = fn(spark, sf_dir)
    assert not inspect.has_cartesian(df)


def test_single_pass_battery_no_shuffle(spark, sf_dir):
    """The multi-rule failure log is a pure scan+project+explode — zero
    shuffles (the reference needed one pass per rule)."""
    fn, _ = QUERIES["failure_log"]
    df = fn(spark, sf_dir)
    assert inspect.exchange_count(df) == 0, inspect.formatted_plan(df)


def test_window_chain_reuses_shuffle(spark, sf_dir):
    """Sessionize + per-session agg partition by the same key → exactly
    one hash exchange on user_id."""
    fn, _ = QUERIES["spell_durations"]
    df = fn(spark, sf_dir)
    n = inspect.exchange_count(df)
    assert n <= 2, inspect.formatted_plan(df)


def test_exact_dup_shuffle_key_excludes_text(spark, sf_dir):
    """The exact-dup window must partition on the 128-bit hash pair only —
    the document text must NOT appear inside any Exchange hashpartitioning
    expression (it would double the shuffled bytes on the widest column)."""
    import re

    from inspectehr_spark.pipeline.run import flag_exact_duplicates
    from inspectehr_spark.tables import table

    df = flag_exact_duplicates(table(spark, sf_dir, "documents"), "text", "doc_id")
    plan = inspect.formatted_plan(df)
    parts = re.findall(r"hashpartitioning\(([^\n]*)", plan)
    assert parts, plan
    for args in parts:
        # the window keys project to _w0/_w1 longs (xxhash64 outputs);
        # the text attribute itself must never be a partitioning argument
        assert not re.search(r"\btext#\d", args), args


def test_episode_window_chain_single_entity_shuffle(spark, sf_dir):
    """characterise_episodes runs four entity-keyed windows; the chain must
    reuse ONE hash exchange on the entity (hashpartitioning(nhs) satisfies
    every (nhs, ts) clustering requirement) — no per-window re-shuffles on
    composite keys."""
    import re

    fn, _ = QUERIES["episode_table"]
    plan = inspect.formatted_plan(fn(spark, sf_dir))
    args = re.findall(r"Arguments: hashpartitioning\(([^,)]+)[,)]", plan)
    keys = {a.split("#")[0] for a in args}
    assert "nhs" in keys, keys
    # no exchange keyed on a composite starting with the start/end columns
    assert not any(k.startswith("epi_") for k in keys), keys


def test_minhash_signature_no_shuffle(spark, sf_dir):
    """The banded MinHash signature is scan → project (one aggregate pass)
    → explode: zero KEYED shuffles. The single permitted exchange is the
    keyless round-robin input-parallelism guard (tables.parallel_scan —
    a no-op at production scan widths)."""
    fn, _ = QUERIES["minhash_band_signature"]
    df = fn(spark, sf_dir)
    assert inspect.keyed_exchange_count(df) == 0, inspect.formatted_plan(df)
    assert inspect.exchange_count(df) <= 1, inspect.formatted_plan(df)


def test_minhash_queries_leave_no_persisted_rdd(spark, sf_dir):
    """The MinHash queries carry the signature through the band join
    instead of persisting it: building and collecting them leaves the
    session's persisted RDDs as they were."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for name in ("minhash_lsh_pairs", "minhash_lsh_pairs_fast",
                 "minhash_band_signature"):
        QUERIES[name][0](spark, sf_dir).collect()
        assert jsc.getPersistentRDDs().size() == before, name


def test_ivf_assignment_zero_shuffle(spark, sf_dir):
    """IVF assignment is a literal-array argmax projection (VERDICT r2 #1):
    the plan must contain NO Exchange keyed on vec_id between assignment
    and the probe filter — in fact no join and no hash exchange at all
    (scan → project → filter → TakeOrderedAndProject)."""
    import re

    fn, _ = QUERIES["ivf_topk"]
    df = fn(spark, sf_dir)
    assert not inspect.has_cartesian(df)
    plan = inspect.formatted_plan(df)
    args = re.findall(r"hashpartitioning\(([^,)]+)[,)]", plan)
    assert not any(a.split("#")[0] == "vec_id" for a in args), args
    # the old crossJoin+row_number shape is gone entirely
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_comparison_battery_single_scan(spark, sf_dir):
    """The wide comparison battery is one scan + one aggregate exchange —
    the extract-dict formulation planned 36 scans / 72 exchanges."""
    fn, _ = QUERIES["comparison_failures"]
    df = fn(spark, sf_dir)
    plan = inspect.formatted_plan(df)
    # AQE prints the plan twice (initial + final); per printout: 1 scan
    assert plan.count("Scan parquet") <= 2, plan
    assert inspect.exchange_count(df) <= 1, plan


def test_keep_drop_two_exchanges_max(spark, sf_dir):
    """Decision join: failure-log agg (1 exchange on doc_id) + join against
    the universe — AQE may broadcast the agg side, never more than the agg
    exchange + one join exchange."""
    fn, _ = QUERIES["keep_drop"]
    df = fn(spark, sf_dir)
    assert inspect.exchange_count(df) <= 3, inspect.formatted_plan(df)


def test_periodicity_failures_single_entity_shuffle(spark, sf_dir):
    """The per-event periodicity decomposition shares ONE hash exchange on
    the entity between its count window and its lead window."""
    import re

    fn, _ = QUERIES["periodicity_failures"]
    plan = inspect.formatted_plan(fn(spark, sf_dir))
    args = re.findall(r"Arguments: hashpartitioning\(([^,)]+)[,)]", plan)
    keys = [a.split("#")[0] for a in args]
    assert keys.count("user_id") <= 1, keys
    assert inspect.exchange_count(fn(spark, sf_dir)) <= 1


def test_webrules_projections_zero_shuffle(spark, sf_dir):
    """segment_dup_stats and line_scrub are pure per-row projections —
    no KEYED Exchange anywhere in their plans (word_dup_stats carries the
    keyless round-robin input-parallelism exchange, see parallel_scan)."""
    for name in ("word_dup_stats", "line_scrub"):
        fn, _ = QUERIES[name]
        df = fn(spark, sf_dir)
        assert inspect.keyed_exchange_count(df) == 0, (
            name, inspect.formatted_plan(df),
        )
        assert inspect.exchange_count(df) <= 1, (
            name, inspect.formatted_plan(df),
        )


def test_dedup_segments_corpus_hash_keyed(spark, sf_dir):
    """Corpus-scope segment dedup partitions its survivorship window by
    the xxhash64 pair, never the raw segment text."""
    from inspectehr_spark.operators.webrules import dedup_segments
    from inspectehr_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    plan = inspect.formatted_plan(
        dedup_segments(docs, "doc_id", "text", sep=" ", scope="corpus")
    )
    import re

    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        if "xxhash64" in m:
            continue
        assert "seg#" not in m, m


def test_segment_line_lengths_zero_shuffle(spark, sf_dir):
    """The segment length profile is a pure per-row projection."""
    fn, _ = QUERIES["segment_line_lengths"]
    df = fn(spark, sf_dir)
    assert inspect.exchange_count(df) == 0, inspect.formatted_plan(df)


def test_near_dup_survivors_broadcast_verdict(spark, sf_dir):
    """The survivorship verdict joins the (tiny) loser set back onto the
    full embedding table via broadcast — the wide table never shuffles
    for the verdict, mirroring the pipeline's broadcast dup strategy."""
    fn, _ = QUERIES["near_dup_survivors"]
    df = fn(spark, sf_dir)
    assert inspect.has_broadcast_join(df)
    assert not inspect.has_cartesian(df)
    plan = inspect.formatted_plan(df)
    import re

    # no exchange may be keyed on the embedding payload
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "embedding#" not in m, m


def test_asof_nearest_single_exchange(spark, sf_dir):
    """Nearest-mode as-of evaluates BOTH carry directions over one
    union: a single hash partitioning on the key, no join node, no
    candidate-set blowup."""
    fn, _ = QUERIES["asof_nearest_view"]
    df = fn(spark, sf_dir)
    assert not inspect.has_cartesian(df)
    plan = inspect.formatted_plan(df)
    import re

    keys = {
        m
        for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if "_k#" in m
    }
    # the union's window exchange is the only _k-keyed partitioning
    assert len(keys) <= 1, keys


def test_dataset_split_zero_shuffle(spark, sf_dir):
    """Split assignment is a pure projection — no Exchange anywhere."""
    fn, _ = QUERIES["dataset_split"]
    df = fn(spark, sf_dir)
    assert inspect.exchange_count(df) == 0, inspect.formatted_plan(df)


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark gram set joins via broadcast; the corpus TEXT never
    keys an exchange — only int64 gram hashes (the tiny benchmark-side
    distinct) and the doc-id aggregation of hit rows shuffle."""
    fn, _ = QUERIES["decontaminate"]
    df = fn(spark, sf_dir)
    assert inspect.has_broadcast_join(df)
    assert not inspect.has_cartesian(df)
    plan = inspect.formatted_plan(df)
    import re

    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in m, m


def test_boilerplate_scrub_broadcast_and_hash_keyed(spark, sf_dir):
    """The frequent-segment set joins back via BROADCAST (the corpus side
    sees zero join exchange), and no exchange is keyed on raw segment
    text — only the xxhash64 pair and the doc id."""
    import re

    fn, _ = QUERIES["boilerplate_scrub"]
    df = fn(spark, sf_dir)
    assert inspect.has_broadcast_join(df)
    assert not inspect.has_cartesian(df)
    plan = inspect.formatted_plan(df)
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        if "xxhash64" in m:
            continue
        assert "seg#" not in m, m


def test_shingle_dup_coverage_hash_keyed(spark, sf_dir):
    """Every exchange in the coverage metric is keyed by the 8-byte gram
    hash or the doc id — gram text never partitions."""
    import re

    fn, _ = QUERIES["shingle_dup_coverage"]
    plan = inspect.formatted_plan(fn(spark, sf_dir))
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        keys = [a.split("#")[0].strip() for a in m.split(",")]
        for k in keys:
            if k.isdigit():  # trailing numPartitions operand
                continue
            assert k in ("gh", "doc_id", "_gh"), (k, m)


def test_temperature_sample_broadcast_rates_no_wide_corpus_shuffle(spark, sf_dir):
    """The per-group rate table joins back BROADCAST; the only hash
    exchanges are the two tiny aggregations (group counts + the scalar
    normalizer) — the corpus itself is never shuffled, so the op stays
    scan-speed at 10^12 docs."""
    fn, _ = QUERIES["temperature_sample"]
    df = fn(spark, sf_dir)
    assert inspect.has_broadcast_join(df)
    assert not inspect.has_cartesian(df)
    assert "SortMergeJoin" not in inspect.formatted_plan(df)
    assert inspect.exchange_count(df) <= 2, inspect.formatted_plan(df)


def test_semdedup_broadcast_centroids_and_verdict(spark, sf_dir):
    """SemDeDup's wide-table joins (centroid onto corpus, loser-set onto
    corpus) are both broadcast; cluster-keyed work (rank window + pair
    kernel) shuffles on the small cell key only, never a cartesian."""
    fn, _ = QUERIES["semdedup_verdicts"]
    df = fn(spark, sf_dir)
    assert inspect.has_broadcast_join(df)
    assert not inspect.has_cartesian(df)


def test_dsir_broadcast_ratio_table_and_hash_keyed_exchanges(spark, sf_dir):
    """DSIR's corpus-side joins (the <=B-row micro-ratio table) are
    broadcast; wide exchanges key on the feature bucket or the doc id
    only — document text never partitions."""
    import re

    fn, _ = QUERIES["dsir_logw"]
    df = fn(spark, sf_dir)
    assert inspect.has_broadcast_join(df)
    plan = inspect.formatted_plan(df)
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        keys = [a.split("#")[0].strip() for a in m.split(",")]
        for k in keys:
            if k.isdigit():
                continue
            # _is_tgt is a boolean aggregation key introduced by the r6
            # single-pass restructure (one conditional agg covers both the
            # target and corpus distributions) — it is not text.
            assert k in ("bucket", "doc_id", "_is_tgt"), (k, m)


def test_lang_quality_deciles_broadcast_thresholds(spark, sf_dir):
    """The per-language threshold table joins back BROADCAST and the only
    hash exchange is the tiny percentile agg — no percent_rank window
    sort over the (skewed) language partition, no corpus shuffle."""
    fn, _ = QUERIES["lang_quality_deciles"]
    df = fn(spark, sf_dir)
    assert inspect.has_broadcast_join(df)
    assert not inspect.has_cartesian(df)
    plan = inspect.formatted_plan(df)
    assert "Window" not in plan, plan
    assert inspect.exchange_count(df) <= 2, plan


def test_substring_dup_spans_hash_keyed_exchanges(spark, sf_dir):
    """Every exchange in the span detector keys on the window hash or the
    doc id — the text itself never enters a shuffle key."""
    import re

    fn, _ = QUERIES["substring_dup_spans"]
    plan = inspect.formatted_plan(fn(spark, sf_dir))
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        keys = [a.split("#")[0].strip() for a in m.split(",")]
        for k in keys:
            if k.isdigit():
                continue
            assert k in ("_h", "doc_id"), (k, m)


def test_pii_profile_pure_projection(spark, sf_dir):
    """Typed PII counts are scan → project: zero exchanges, zero UDFs —
    scan-speed at any corpus size."""
    fn, _ = QUERIES["pii_profile"]
    df = fn(spark, sf_dir)
    assert inspect.exchange_count(df) == 0, inspect.formatted_plan(df)
    assert "Python" not in inspect.formatted_plan(df)


def test_lang_token_fertility_single_bounded_agg(spark, sf_dir):
    """Fertility is one partial agg over a language-bounded key — a
    single exchange, no joins."""
    fn, _ = QUERIES["lang_token_fertility"]
    df = fn(spark, sf_dir)
    assert inspect.exchange_count(df) <= 1, inspect.formatted_plan(df)


def test_band_cap_bounds_hot_band_map_side(spark, sf_dir):
    """The hot-bucket cap (dedup.cap_buckets under dedup.band_pairs) plans
    as a Partial WindowGroupLimit directly below the exchange that
    shuffles by (band_id, band_key): a hot band ships at most `cap` rows
    per map partition, the bound on boilerplate skew."""
    import re

    for name in ("minhash_lsh_pairs", "simhash_hamming_pairs",
                 "minhash_lsh_pairs_fast"):
        plan = inspect.formatted_plan(QUERIES[name][0](spark, sf_dir))
        details = {
            int(m.group(1)): m.group(2)
            for m in re.finditer(
                r"^\((\d+)\) (\w+.*\n(?:(?!\(\d+\) ).*\n)*)", plan, re.M
            )
        }
        capped = [
            (int(ex), int(wgl))
            for ex, wgl in re.findall(
                r"\+- Exchange \((\d+)\)\n[ :|]*\+- WindowGroupLimit \((\d+)\)",
                plan,
            )
        ]
        band_keyed = [
            (ex, wgl) for ex, wgl in capped
            if re.search(r"Arguments: hashpartitioning\(band_id#\d+L?, band_key#",
                         details[ex])
            and re.search(r"\[band_id#\d+L?, band_key#\d+L?\], .*, Partial",
                          details[wgl])
        ]
        assert band_keyed, (name, plan)
