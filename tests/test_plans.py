"""Physical-plan regression tests: the scale contract, pinned.

These assert the plan *shapes* that make the engine viable at 100 TB —
they fail if a refactor introduces an extra shuffle, loses a broadcast,
or breaks scan pruning/pushdown.
"""

from __future__ import annotations

from mapreduce_hadoop_spark.operators import analytics, histogram, sessionize
from mapreduce_hadoop_spark.plans.checks import (
    plan_counts,
    pushed_filters,
    read_schema,
)


def test_sessionize_is_single_shuffle(spark, sf_dir):
    # The entire window sessionization (lag, session ids, per-session agg)
    # must run on ONE data shuffle: the hash partition by taxi. The final
    # groupBy(taxi, session_id) is satisfied by the same partitioning.
    df = sessionize.trips_window_query(spark, sf_dir)
    c = plan_counts(df)
    assert c["exchange"] == 1, c
    assert c["sort"] == 1, c  # both Window ops share one sort


def test_dimension_joins_broadcast(spark, sf_dir):
    df = analytics.revenue_by_nation(spark, sf_dir)
    c = plan_counts(df)
    assert c["sort_merge_join"] == 0, c
    assert c["broadcast_hash_join"] >= 3, c


def test_histogram_scans_single_column(spark, sf_dir):
    # The histogram derives everything from `value`; the parquet scan must
    # prune to exactly that column.
    df = histogram.histogram_query(spark, sf_dir)
    assert read_schema(df).startswith("value:double")
    c = plan_counts(df)
    assert c["hash_aggregate"] == 2, c  # partial + final (combiner automatic)


def test_pricing_filter_pushed_to_scan(spark, sf_dir):
    df = analytics.pricing_summary(spark, sf_dir)
    assert "LessThan(l_shipdate" in pushed_filters(df)
    # Unused columns (l_orderkey, l_partkey, ...) must not be read.
    assert "l_orderkey" not in read_schema(df)


def test_range_join_is_equi_join(spark, sf_dir):
    # The bin-then-refine formulation must plan as a hash/merge equi-join —
    # never a nested-loop or cartesian over the inequality.
    from mapreduce_hadoop_spark.operators.temporal import (
        views_before_purchase_range_join,
    )

    c = plan_counts(views_before_purchase_range_join(spark, sf_dir))
    assert c["cartesian"] == 0 and c["nested_loop_join"] == 0, c
    assert c["broadcast_hash_join"] + c["sort_merge_join"] >= 1, c


def test_asof_join_is_single_shuffle(spark, sf_dir):
    # Tagged-union + window: one hash exchange on the key, one sort — the
    # whole point of the formulation vs. a range join.
    from mapreduce_hadoop_spark.operators.relational_ext import purchase_asof_view

    c = plan_counts(purchase_asof_view(spark, sf_dir))
    assert c["exchange"] == 1 and c["sort"] == 1, c
    assert c["cartesian"] == 0 and c["nested_loop_join"] == 0, c


def test_cube_expands_in_one_pass(spark, sf_dir):
    # cube() must plan a single Expand + partial/final agg over ONE shuffle,
    # not one aggregation job per grouping set.
    from mapreduce_hadoop_spark.operators.relational_ext import events_cube

    c = plan_counts(events_cube(spark, sf_dir))
    assert c["expand"] == 1 and c["exchange"] == 1, c
    assert c["hash_aggregate"] == 2, c


def test_ivf_never_cartesian(spark, sf_dir):
    # Centroid scoring is a broadcast nested-loop over a 16-row side (bounded
    # by construction); an unbroadcast CartesianProduct would be quadratic.
    from mapreduce_hadoop_spark.operators.similarity import topk_ivf

    c = plan_counts(topk_ivf(spark, sf_dir))
    assert c["cartesian"] == 0, c
    assert c["broadcast_exchange"] >= 1, c


def test_cleanse_pipeline_single_scan(spark, sf_dir):
    # Cleanse + unpivot + dedup must read the source ONCE: the unpivot is an
    # explode, and the dup-injection fixture is a row multiplier, not a
    # self-union (which would scan twice).
    from mapreduce_hadoop_spark.operators.segments import clean_positions_query
    from mapreduce_hadoop_spark.plans.checks import executed_plan

    plan = executed_plan(clean_positions_query(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    # orderBy + limit must plan TakeOrderedAndProject (bounded heap), not a
    # global Sort of the whole table.
    from mapreduce_hadoop_spark.operators.analytics import global_top_orders
    from mapreduce_hadoop_spark.plans.checks import executed_plan

    plan = executed_plan(global_top_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_window_breadth_single_shuffle(spark, sf_dir):
    # Two window specs sharing the partition key: one hash exchange, two
    # sorts (one per ordering) — never a shuffle per window.
    from mapreduce_hadoop_spark.operators.relational_ext import (
        customer_balance_windows,
    )

    c = plan_counts(customer_balance_windows(spark, sf_dir))
    assert c["exchange"] == 1, c
    assert c["window"] == 2 and c["sort"] == 2, c


def test_grouping_sets_single_expand(spark, sf_dir):
    # Two aggregation grains from ONE scan: a single Expand feeding one
    # partial+final aggregate pair — not two separate groupBys.
    from mapreduce_hadoop_spark.operators.relational_ext import events_grouping_sets

    c = plan_counts(events_grouping_sets(spark, sf_dir))
    assert c["expand"] == 1, c
    assert c["exchange"] == 1, c


def test_semi_anti_no_fact_duplication(spark, sf_dir):
    # Existence tests must plan as semi/anti joins (probe side never
    # re-expanded by match multiplicity) — not inner join + distinct.
    from mapreduce_hadoop_spark.operators.relational_ext import (
        customer_order_semi_anti,
    )
    from mapreduce_hadoop_spark.plans.checks import executed_plan

    plan = executed_plan(customer_order_semi_anti(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan[:2000]
    c = plan_counts(customer_order_semi_anti(spark, sf_dir))
    assert c["cartesian"] == 0 and c["nested_loop_join"] == 0, c


def test_stratified_sample_map_side(spark, sf_dir):
    # The per-class hash filter is a pure map-side predicate: zero shuffles.
    from mapreduce_hadoop_spark.operators.relational_ext import (
        events_stratified_sample,
    )

    c = plan_counts(events_stratified_sample(spark, sf_dir))
    assert c["exchange"] == 0, c


def test_document_chunks_map_only(spark, sf_dir):
    # The 1->N chunk explode is a narrow transformation: zero shuffles.
    from mapreduce_hadoop_spark.operators.textops import document_chunks

    c = plan_counts(document_chunks(spark, sf_dir))
    assert c["exchange"] == 0, c


def test_parity_sql_single_shuffle(spark, sf_dir):
    # The JVM parity fold is groupBy(taxi) -> fold: exactly one shuffle
    # (the hash aggregate's exchange on taxi), no join, no window sort.
    from mapreduce_hadoop_spark.operators import gps, sessionize

    df = sessionize.sessionize_parity_sql(gps.positions(spark, sf_dir))
    df.collect()
    c = plan_counts(df)
    assert c["exchange"] == 1, c
    assert c["sort_merge_join"] == 0, c
    assert c["window"] == 0, c


def test_text_normalize_and_repetition_map_only(spark, sf_dir):
    # Scan-time cleaning stages: pure projection. text_normalize is
    # exchange-free; repetition_score (per-doc shingle fold, CPU-bound)
    # allows exactly widen_to_cores' guarded round-robin — and no
    # aggregate/join exchange ever.
    from mapreduce_hadoop_spark.operators import textops

    for q, max_ex in ((textops.text_normalize, 0), (textops.repetition_score, 1)):
        df = q(spark, sf_dir)
        df.collect()
        c = plan_counts(df)
        assert c["exchange"] <= max_ex, (q.__name__, c)
        assert c["hash_aggregate"] == 0, (q.__name__, c)


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    # The benchmark shingle set is eval-suite-sized; the corpus side must
    # join it by broadcast (no sort-merge, no corpus-wide shuffle for the
    # join itself — the only exchange is the final doc_id aggregation).
    from mapreduce_hadoop_spark.operators import dedup

    df = dedup.contamination_check(spark, sf_dir)
    c = plan_counts(df)
    assert c["broadcast_hash_join"] >= 1, c
    assert c["sort_merge_join"] == 0, c


def test_domain_mix_is_map_only_over_corpus(spark, sf_dir):
    # The rate relation is |sources|-sized and broadcast; the corpus scan
    # itself must not shuffle (the only exchanges belong to the tiny
    # counts->total aggregation feeding the broadcast).
    from mapreduce_hadoop_spark.operators import corpus

    df = corpus.corpus_domain_mix(spark, sf_dir)
    c = plan_counts(df)
    assert c["broadcast_hash_join"] >= 1, c
    assert c["sort_merge_join"] == 0, c


def test_hot_paths_whole_stage_codegen(spark, sf_dir):
    # The reference-parity pipeline and the relational flagships must stay
    # inside whole-stage codegen (JVM-compiled operators), not fall back to
    # interpreted evaluation — the "stay JVM-side" scale contract.
    from mapreduce_hadoop_spark.operators.analytics import pricing_summary
    from mapreduce_hadoop_spark.plans.checks import executed_plan

    from mapreduce_hadoop_spark.operators.dedup import span_dedup_stats
    from mapreduce_hadoop_spark.operators.similarity import embedding_quantize_int8
    from mapreduce_hadoop_spark.operators.textops import gopher_rules

    for q in (histogram.histogram_query, analytics.pricing_summary,
              sessionize.trips_window_query, gopher_rules,
              span_dedup_stats, embedding_quantize_int8):
        df = q(spark, sf_dir)
        df.collect()  # AQE prints codegen stage markers only once final
        plan = executed_plan(df)
        # "*(n)" prefixes are WholeStageCodegen stage ids in plan strings.
        assert "*(" in plan, (q.__name__, plan[:1200])


def test_pii_scrub_is_map_only(spark, sf_dir):
    # Redaction is a narrow projection: zero shuffles, scan-bandwidth at
    # any corpus size (measured scan-bound, so it skips widen_to_cores).
    from mapreduce_hadoop_spark.operators.textops import pii_scrub

    c = plan_counts(pii_scrub(spark, sf_dir))
    assert c["exchange"] == 0, c


def test_vocab_topk_is_heap_not_sort(spark, sf_dir):
    # Corpus vocabulary: the final top-K must be TakeOrderedAndProject
    # (per-partition heaps), and the token aggregation must have a
    # map-side partial phase so Zipf-hot tokens never cross the shuffle
    # as raw occurrences.
    from mapreduce_hadoop_spark.operators.textops import vocab_topk
    from mapreduce_hadoop_spark.plans.checks import executed_plan

    df = vocab_topk(spark, sf_dir)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    c = plan_counts(df)
    assert c["hash_aggregate"] >= 2, c  # partial + final at minimum
    assert c["window"] == 0, c


def test_correlated_subquery_decorrelates(spark, sf_dir):
    # The correlated scalar subquery must compile to ONE aggregate + ONE
    # join over orders (Catalyst decorrelation) — a per-row subquery would
    # surface as a nested-loop/cartesian and die at scale.
    from mapreduce_hadoop_spark.operators.sqlapi import (
        sql_orders_above_customer_avg,
    )

    c = plan_counts(sql_orders_above_customer_avg(spark, sf_dir))
    assert c["cartesian"] == 0 and c["nested_loop_join"] == 0, c
    assert c["hash_aggregate"] >= 1, c
    assert c["broadcast_hash_join"] + c["sort_merge_join"] == 1, c


def test_reconcile_joins_aggregates_not_facts(spark, sf_dir):
    # Full-outer reconciliation: both fact tables aggregate to one row
    # per key BEFORE the join — the join input must be the aggregates
    # (4 HashAggregates: partial+final per side), and full outer on
    # equal-sized keyed inputs plans as a sort-merge join.
    from mapreduce_hadoop_spark.operators.analytics import (
        customer_activity_reconcile,
    )

    c = plan_counts(customer_activity_reconcile(spark, sf_dir))
    assert c["hash_aggregate"] == 4, c
    assert c["cartesian"] == 0 and c["nested_loop_join"] == 0, c


def test_weighted_sample_is_topk_not_global_sort(spark, sf_dir):
    # The K-row weighted sample must plan as TakeOrderedAndProject
    # (per-partition heaps + K-row merge), never a full global sort or a
    # single-partition window over the corpus.
    from mapreduce_hadoop_spark.operators.corpus import corpus_weighted_sample
    from mapreduce_hadoop_spark.plans.checks import executed_plan

    df = corpus_weighted_sample(spark, sf_dir)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    c = plan_counts(df)
    assert c["window"] == 0, c


def test_domain_quota_single_window_pass(spark, sf_dir):
    # Per-source top-N: one source shuffle, one Window pass — and Spark's
    # rank-limit pushdown (WindowGroupLimit Partial before the exchange)
    # must hold, so each map task ships at most N rows per source instead
    # of its whole partition.
    from mapreduce_hadoop_spark.operators.corpus import corpus_domain_quota
    from mapreduce_hadoop_spark.plans.checks import executed_plan

    df = corpus_domain_quota(spark, sf_dir)
    c = plan_counts(df)
    assert c["exchange"] == 1, c
    assert c["cartesian"] == 0 and c["nested_loop_join"] == 0, c
    plan = executed_plan(df)
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_concurrency_plans_sessionize_once(spark, sf_dir):
    # Both sweep-line deltas come from ONE pass over the trips relation
    # (explode of a 2-struct array): the sessionize subtree (2 Window
    # nodes over 1 taxi shuffle) plans exactly once, plus the bucket
    # groupBy exchange and the single-partition cumsum window. A start/
    # stop union of two selects would double the sessionize subtree
    # (>=5 Window nodes) — the regression this test pins out.
    from mapreduce_hadoop_spark.operators.temporal import trips_concurrency

    df = trips_concurrency(spark, sf_dir)
    df.collect()  # finalize AQE so the executed plan is the real one
    c = plan_counts(df)
    assert c["window"] == 3, c
    assert c["exchange"] == 3, c


def test_gopher_rules_map_only(spark, sf_dir):
    # Every Gopher signal folds over the in-row token array: zero
    # shuffles, scan bandwidth at any corpus size.
    from mapreduce_hadoop_spark.operators.textops import (
        gopher_rules,
        gopher_rules_from,
    )
    from mapreduce_hadoop_spark.sources.tables import load_table, widen_to_cores

    c = plan_counts(gopher_rules_from(load_table(spark, sf_dir, "documents")))
    assert c["exchange"] == 0, c
    # The registry query widens a narrower-than-cores scan with AT MOST one
    # round-robin exchange ahead of the fold (none once the scan is already
    # >= cores wide — the cluster-scale case; see widen_to_cores).
    c = plan_counts(gopher_rules(spark, sf_dir))
    assert c["exchange"] <= 1, c
    # The guard itself: an already-wide relation passes through untouched.
    wide = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    assert widen_to_cores(wide) is wide


def test_parquet_scan_width_metadata_estimate(spark, sf_dir):
    # The metadata-driven width check (round 8: replaces the per-call
    # .rdd plan materialization): a single-row-group testdata file must
    # report narrow (it genuinely executes on ~1 core without the
    # exchange), and the estimate never exceeds the byte-split bound.
    from mapreduce_hadoop_spark.sources.tables import (
        load_table,
        parquet_scan_width,
        widen_to_cores,
    )

    cores = spark.sparkContext.defaultParallelism
    path = f"{sf_dir}/documents.parquet"
    w = parquet_scan_width(spark, path)
    assert 1 <= w < cores, w
    # And widen_to_cores(path=...) therefore inserts the exchange:
    df = widen_to_cores(load_table(spark, sf_dir, "documents"), path=path)
    assert df.rdd.getNumPartitions() == cores
    # Missing/odd paths are UNKNOWN (None), not narrow — the caller must
    # fall back to a width source that can see the files:
    assert parquet_scan_width(spark, f"{sf_dir}/definitely_missing") is None
    # file:// is local and listable; same answer as the bare path.
    assert parquet_scan_width(spark, f"file://{path}") == w


def test_parquet_scan_width_remote_scheme_never_narrow(spark, sf_dir):
    # The 100 TB deployment reads from a remote filesystem the driver's OS
    # cannot list. The width check must report UNKNOWN there, and
    # widen_to_cores must then trust the datasource's own split count —
    # NEVER assume narrow, which would round-robin-exchange the full
    # table in every widen consumer (gopher, repetition, fingerprints,
    # language-id, vocab).
    from mapreduce_hadoop_spark.sources.tables import (
        load_table,
        parquet_scan_width,
        widen_to_cores,
    )

    for remote in ("s3a://bucket/tbl.parquet", "hdfs://nn:8020/w/t.parquet",
                   "abfss://c@a.dfs.example/t.parquet"):
        assert parquet_scan_width(spark, remote) is None, remote

    cores = spark.sparkContext.defaultParallelism
    # Already-wide relation + unlistable path: passes through untouched
    # (the fallback sees >= cores datasource splits, so no exchange).
    wide = load_table(spark, sf_dir, "documents").repartition(cores)
    assert widen_to_cores(wide, path="s3a://bucket/tbl.parquet") is wide
    # Narrow relation + unlistable path: the .rdd fallback still widens.
    narrow = load_table(spark, sf_dir, "documents").coalesce(1)
    out = widen_to_cores(narrow, path="s3a://bucket/tbl.parquet")
    assert out.rdd.getNumPartitions() == cores


def test_span_dedup_two_shuffles_no_joins(spark, sf_dir):
    # One exchange on span hash (first-occurrence window) + one for the
    # per-doc rollup; spans are hashed longs before either, and there is
    # no join anywhere in the plan.
    from mapreduce_hadoop_spark.operators.dedup import span_dedup_stats

    df = span_dedup_stats(spark, sf_dir)
    c = plan_counts(df)
    assert c["exchange"] == 2, c
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_events_funnel_single_user_shuffle(spark, sf_dir):
    # The three stage window-mins and the per-user rollup all share one
    # user_id exchange; the only other exchange is the final 3-row report.
    from mapreduce_hadoop_spark.operators.temporal import events_funnel

    c = plan_counts(events_funnel(spark, sf_dir))
    assert c["exchange"] == 2, c
    assert c["window"] == 3, c


def test_topk_filtered_plan_identity_post_retirement(spark, duck, sf_dir):
    """``similarity_topk_filtered`` RETIRED round 17 (size policy's tenth
    exercise — registry.py candidate list). The retirement condition,
    pinned here in the same commit: the filtered plan IS the
    hash-verified ``similarity_topk_bruteforce`` plan (re-verified on the
    driver cadence) plus exactly ONE broadcast left-semi join — the
    pre-filter composition — with no extra shuffle, sort, or window; the
    lang predicate reaches the documents parquet scan; and the full
    row-for-row DuckDB oracle parity the driver used to re-verify stays
    verified locally."""
    from mapreduce_hadoop_spark.operators.similarity import (
        TOPK_FILTERED_ORACLE,
        topk_bruteforce,
        topk_filtered,
    )
    from mapreduce_hadoop_spark.plans.checks import executed_plan, plan_counts

    f = topk_filtered(spark, sf_dir)
    b = topk_bruteforce(spark, sf_dir)
    cf, cb = plan_counts(f), plan_counts(b)
    # Plan identity: one extra broadcast exchange + one extra broadcast
    # hash join (the semi); every other node count unchanged.
    extra = {"broadcast_exchange": 1, "broadcast_hash_join": 1}
    for k in cb:
        assert cf[k] == cb[k] + extra.get(k, 0), (k, cf, cb)
    plan = executed_plan(f)
    assert "LeftSemi" in plan, plan
    # The metadata predicate is pushed to the documents parquet scan
    # (pre-filter: the candidate set shrinks BEFORE any scoring).
    assert "EqualTo(lang,en)" in plan, plan
    # Row-for-row oracle parity (what the driver's hash row verified).
    sdf = f.toPandas()
    odf = duck.execute(TOPK_FILTERED_ORACLE).df()
    key = lambda df: sorted(
        tuple(r) for r in df[sorted(df.columns)].itertuples(index=False, name=None)
    )
    assert key(sdf) == key(odf) and len(sdf) > 0


def test_spann_candidate_side_single_exchange(spark, sf_dir):
    """Round 18: the SPANN twins' duplicate-collapse aggregate and rank
    window must share ONE query_id exchange — the dropDuplicates used to
    insert its own (query_id, vec_id) exchange and the window then
    re-exchanged by query_id. hashpartitioning(query_id) satisfies the
    (query_id, vec_id) clustered distribution, so the fold is free."""
    import re

    from mapreduce_hadoop_spark.operators.similarity import topk_ivf_spann_fixed
    from mapreduce_hadoop_spark.plans.checks import executed_plan

    plan = executed_plan(topk_ivf_spann_fixed(spark, sf_dir))
    shuffles = re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)
    assert len(shuffles) == 1, shuffles
    assert "query_id" in shuffles[0] and "vec_id" not in shuffles[0], shuffles


def test_topk_lsh_dedups_narrow_rows_single_exchange(spark, sf_dir):
    """Round 18: topk_lsh projects the cosine BEFORE the duplicate
    collapse (each copy of a pair carries the same vectors, hence the
    same cosine), so the only data shuffle moves (query_id, vec_id,
    cosine) — never the v[64] payloads — and the dedup shares the rank
    window's query_id exchange."""
    import re

    from mapreduce_hadoop_spark.operators.similarity import topk_lsh
    from mapreduce_hadoop_spark.plans.checks import executed_plan

    plan = executed_plan(topk_lsh(spark, sf_dir))
    shuffles = re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)
    assert len(shuffles) == 1, shuffles
    assert "query_id" in shuffles[0] and "vec_id" not in shuffles[0], shuffles


def test_simhash_filter_carries_no_hash_chain(spark, sf_dir):
    """Round 18: the zero-shingle guard runs as a token-count test on the
    raw text. The old ``size(hs) > 0`` filter was pushed below the Arrow
    signature fold and re-evaluated the ENTIRE shingle+md5 chain once in
    the Filter and again as the UDF input (guide §4.4's duplication in
    JVM-expression form). Pin: no Filter condition in the signature plan
    mentions md5 (ADVICE r18: condition-shape matching loosened to
    exactly that invariant, read through the public explain API)."""
    from mapreduce_hadoop_spark.operators import dedup
    from mapreduce_hadoop_spark.plans.checks import filter_conditions

    conditions = filter_conditions(dedup.simhash_signatures(spark, sf_dir))
    assert conditions  # the token-count guard must still exist
    assert not any("md5" in c for c in conditions), conditions


def test_token_count_prefilter_equals_nonempty_shingles(spark):
    """The ``nonempty`` prefilter's predicate (``size(tokens) >= 3``) must
    agree with ``size(shingles) > 0`` on every corner: NULL text, empty
    string, <3 tokens, repeated tokens (distinct collapses to fewer
    shingles but never to zero), and empty tokens from double spaces."""
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.functions import text as T

    rows = [
        (1, None),
        (2, ""),
        (3, "a"),
        (4, "a b"),
        (5, "a b c"),
        (6, "a a a a"),
        (7, "  a b"),
        (8, "x y z w v"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        (F.size(T.tokens("text")) >= 3).alias("p"),
        (F.size(T.shingles("text")) > 0).alias("q"),
    ).collect()
    for r in out:
        assert bool(r.p) == bool(r.q), r


def test_setops_single_membership_aggregate(spark, sf_dir):
    """Round 18: UNION/INTERSECT/EXCEPT over the two segment key sets is
    ONE membership aggregate — one customer scan, one c_nationkey
    exchange. The set-operator formulation planned six exchanges over
    three scans (no branch reusable). The labeled rows derive in-row."""
    from mapreduce_hadoop_spark.operators.relational_ext import (
        segment_customer_setops,
    )
    from mapreduce_hadoop_spark.plans.checks import executed_plan, plan_counts

    df = segment_customer_setops(spark, sf_dir)
    c = plan_counts(df)
    assert c["exchange"] == 1, c
    assert c["sort_merge_join"] == 0 and c["broadcast_hash_join"] == 0, c
    assert executed_plan(df).count("Scan parquet") == 1


def test_tfidf_single_tokenize_pass(spark, sf_dir):
    """Round 18: df comes from count() OVER (PARTITION BY term) on the tf
    relation — the old tf.join(dfreq) re-planned the whole tokenize+tf
    subtree under dfreq, so the corpus explode ran twice. Pin: exactly
    one Generate (the token explode) and no join in the plan."""
    from mapreduce_hadoop_spark.operators.textops import tfidf_top_terms
    from mapreduce_hadoop_spark.plans.checks import executed_plan, plan_counts

    df = tfidf_top_terms(spark, sf_dir)
    plan = executed_plan(df)
    assert plan.count("Generate explode") == 1, plan.count("Generate explode")
    c = plan_counts(df)
    assert c["sort_merge_join"] == 0 and c["broadcast_hash_join"] == 0, c


def test_near_dup_lsh_band_exchanges_carry_no_vectors(spark, sf_dir):
    """Round 19 (VERDICT r18 order 1): the banded-LSH candidate pass is
    id-only — NO exchange in the whole plan moves the v[64] payload or
    the norm; vectors re-attach to the surviving id pairs for the exact
    verify (broadcast/hash joins, candidate-pair-sized). The pre-r19
    plan shuffled v + norm on BOTH sides of the band self-join."""
    import re

    from mapreduce_hadoop_spark.operators.similarity import near_dup_cosine_lsh
    from mapreduce_hadoop_spark.plans.checks import formatted_plan

    plan = formatted_plan(near_dup_cosine_lsh(spark, sf_dir))
    exchanges = re.findall(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    assert exchanges, plan
    for cols in exchanges:
        assert " v#" not in " " + cols and "norm#" not in cols, cols


def test_clean_docs_anti_join_never_exchanges_the_corpus(spark, sf_dir):
    """Round 19 (VERDICT r18 order 2): the near-dup anti-join is
    cost-based on the MATERIALIZED near-dup count. Below the threshold
    (every test scale) the plain anti-join plans as a STATIC
    BroadcastHashJoin LeftAnti from the cache's real stats — no SMJ, no
    corpus-side doc_id exchange at all."""
    from mapreduce_hadoop_spark.operators import dedup
    from mapreduce_hadoop_spark.operators.corpus import corpus_clean_stats
    from mapreduce_hadoop_spark.plans.checks import formatted_plan

    dedup.unpersist_intermediates()
    plan = formatted_plan(corpus_clean_stats(spark, sf_dir))
    dedup.unpersist_intermediates()
    assert "BroadcastHashJoin LeftAnti" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_clean_docs_bloom_branch_shape_and_equivalence(spark, sf_dir, monkeypatch):
    """The over-threshold branch (Bloom-negative bypass): forced via the
    threshold, its plan must be the Union of a join-free bypass and a
    residual anti-join whose doc_id exchanges carry ONLY bloom-positive
    rows (probe column in the exchange input), and its OUTPUT must equal
    the broadcast branch row-for-row — the two branches are the same
    query at different data sizes."""
    import re

    from mapreduce_hadoop_spark.operators import corpus, dedup
    from mapreduce_hadoop_spark.plans.checks import formatted_plan

    dedup.unpersist_intermediates()
    expected = {tuple(r) for r in corpus.corpus_clean_stats(spark, sf_dir).collect()}
    dedup.unpersist_intermediates()
    monkeypatch.setattr(corpus, "CORPUS_BLOOM_MIN_NDS", 0)
    df = corpus.corpus_clean_stats(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Union" in plan, plan[:1500]
    assert "LeftAnti" in plan, plan[:1500]
    for m in re.finditer(
        r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\nArguments: hashpartitioning\(doc_id",
        plan,
    ):
        assert "bloom_hit" in m.group(1), m.group(1)
    got = {tuple(r) for r in df.collect()}
    dedup.unpersist_intermediates()
    assert got == expected


def test_bloom_min_nds_follows_broadcast_threshold(spark):
    """The Bloom threshold never exceeds what the session can broadcast:
    4M ids at the default 64 MB, fewer under a smaller threshold, 0 with
    broadcasting off."""
    from mapreduce_hadoop_spark.operators import corpus

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        assert corpus.bloom_min_nds(spark) == corpus.CORPUS_BLOOM_MIN_NDS == 4_000_000
        for value, want in (("1MB", 65_536), ("16k", 1_024), ("-1", 0)):
            spark.conf.set(key, value)
            assert corpus.bloom_min_nds(spark) == want, value
    finally:
        spark.conf.set(key, saved)


def test_clean_docs_broadcast_off_takes_bloom_branch(spark, sf_dir):
    """A broadcast threshold below the Bloom dial: the near-dup ids cannot
    broadcast, so clean_docs must plan the Bloom bypass (doc_id exchanges
    carry only bloom-positive rows) rather than a corpus-wide sort-merge
    anti-join, with the default run's output."""
    import re

    from mapreduce_hadoop_spark.operators import corpus, dedup
    from mapreduce_hadoop_spark.plans.checks import formatted_plan

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    dedup.unpersist_intermediates()
    expected = {tuple(r) for r in corpus.corpus_clean_stats(spark, sf_dir).collect()}
    dedup.unpersist_intermediates()
    spark.conf.set(key, "-1")
    try:
        df = corpus.corpus_clean_stats(spark, sf_dir)
        plan = formatted_plan(df)
        assert "Union" in plan, plan[:1500]
        exchanges = re.findall(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\nArguments: hashpartitioning\(doc_id",
            plan,
        )
        assert exchanges, plan[:1500]
        assert all("bloom_hit" in cols for cols in exchanges), exchanges
        got = {tuple(r) for r in df.collect()}
    finally:
        dedup.unpersist_intermediates()
        spark.conf.set(key, saved)
    assert got == expected
