"""Physical-plan assertions: the scale contract (SURVEY.md §7.3 M6).

Correctness says the answer is right; these tests pin that each query
compiles to the plan that survives a 100x scale-up — filters reach the
parquet scan, scans are column-pruned, small dims broadcast, partial
aggregation precedes the (single) shuffle, global top-k never sorts the
whole input.
"""

from __future__ import annotations

import os
import re

import pytest

from hadoop_map_reduce_spark.plans import REGISTRY


def plan_of(spark, sf_dir, name) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_partial_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange hashpartitioning") == 1  # exactly one shuffle
    # Column pruning: l_comment-free table, but orderkey etc must be gone.
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and "l_orderkey" not in m.group(1)


def test_q3_broadcasts_and_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan  # dims broadcast, no shuffle join
    assert "TakeOrderedAndProject(limit=10" in plan  # top-k, not global sort
    assert "GreaterThan(l_shipdate" in plan


def test_q5_star_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3  # all dims broadcast


def test_bigram_single_shuffle_pruned_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "bigram_count")
    assert "ReadSchema: struct<text:string>" in plan  # only the text column
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan
    # tokenize must run once per row: no Filter node duplicating it.
    assert "+- Filter" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_lineitems")
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_minhash_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # equi-join banding only


def test_embedding_neardup_no_nested_loop(spark, sf_dir):
    """Round-1 finding: the registered exact near-dup ran the id_a<id_b
    θ-join (BroadcastNestedLoopJoin). The block-grid formulation must keep
    it equi-join only."""
    plan = plan_of(spark, sf_dir, "embedding_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_single_key_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_asof")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Merge formulation: union + one window sort on the key; at most the
    # two union inputs' exchanges feed a single keyed sort.
    assert plan.count("Exchange hashpartitioning") <= 2


def test_projection_pruning_scalar_query(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "doc_token_stats")
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m
    cols = m.group(1)
    assert "doc_id" in cols and "text" in cols
    assert "lang" not in cols and "source" not in cols  # pruned


def test_ngram_jaccard_is_postings_join(spark, sf_dir):
    """Inverted-index formulation: the pairs come from an equi-join on the
    shingle, never a cartesian/nested-loop expansion."""
    plan = plan_of(spark, sf_dir, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_stats_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "corpus_stats_by_lang")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan  # map-side combine before the one shuffle


def test_new_tpch_shapes_no_nested_loop(spark, sf_dir):
    for name in (
        "q2_min_cost_supplier",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q11_important_parts",
        "q15_top_supplier",
        "q16_supplier_count",
        "q21_waiting_supplier",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q7_q9_dims_broadcast(spark, sf_dir):
    """DataFrame-surface star joins must broadcast every dim even with
    cold stats (explicit hints, like q3/q5)."""
    for name, n_dims in (("q7_volume_shipping", 4), ("q9_product_profit", 3)):
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("BroadcastHashJoin") >= n_dims, name


def test_broadcast_under_aqe_threshold_in_q3_even_when_cold(spark, sf_dir):
    """The customer dim carries an explicit broadcast hint: the plan must
    not degrade to a shuffle join if stats are missing."""
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "SortMergeJoin" not in plan


def test_llm_pipeline_queries_no_quadratic_joins(spark, sf_dir):
    """The round-2 LLM-pipeline additions must all stay equi-join shaped:
    a nested-loop anywhere here becomes O(n^2) over the corpus at scale.
    tfidf is allowed exactly one BroadcastNestedLoopJoin — the deliberate
    crossJoin of the single-row corpus count."""
    for name, bnlj_budget in (
        ("tfidf_top_terms", 1),
        ("contamination_pairs", 0),
        ("dedup_fuzzy_levenshtein", 0),
        ("similarity_ivf", 0),
        ("mix_sources_weighted", 0),
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastNestedLoopJoin") <= bnlj_budget, name


def test_curation_cap_prunes_text_and_single_shuffle(spark, sf_dir):
    """Per-source capping must never read the text column (the bulk of
    the table) and needs exactly the one window shuffle on source."""
    plan = plan_of(spark, sf_dir, "curation_cap_per_source")
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and "text" not in m.group(1)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_pack_token_chunks_single_shuffle(spark, sf_dir):
    """Context packing is one window shuffle on source — a global-sort
    formulation (rangepartitioning) would serialize the corpus."""
    plan = plan_of(spark, sf_dir, "pack_token_chunks")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_salted_agg_two_phase(spark, sf_dir):
    """The salted rollup is exactly two shuffles: (key, salt) partial,
    then key final; scan pruned to the two needed columns."""
    plan = plan_of(spark, sf_dir, "agg_salted_hot_key")
    assert plan.count("Exchange hashpartitioning") == 2
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and m.group(1).count(":") == 2  # event_type, value only


def test_sketch_hll_one_expand_no_join(spark, sf_dir):
    """Grouping-sets HLL rollup: one Expand feeding aggregation, no join
    anywhere (the exact and approx distinct ride the same pass)."""
    plan = plan_of(spark, sf_dir, "sketch_hll_rollup")
    assert "Expand" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_grid_blas_matches_fold_blocked(spark, sf_dir):
    """The registered near-dup plan (grid cells + BLAS matmul) must stay
    bit-identical to the fold reference ``cosine_neardup_pairs``: the
    round-6 margin on this corpus (>=1e-12 from any boundary) absorbs
    summation-order noise, so any mismatch means a real regression, not
    float drift."""
    from hadoop_map_reduce_spark.operators.similarity import (
        cosine_neardup_grid_blas,
        cosine_neardup_pairs,
    )
    from hadoop_map_reduce_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    fold = sorted(map(tuple, cosine_neardup_pairs(emb, 0.4).collect()))
    blas = sorted(map(tuple, cosine_neardup_grid_blas(emb, 0.4).collect()))
    assert fold == blas
    assert len(fold) > 0


def test_grid_blas_matches_reference_on_crafted_vectors(spark):
    """Grid BLAS equals the θ-join reference on the edge cases: a pair
    whose cosine is exactly 0.96 (inclusive threshold), a duplicate and
    a scaled copy (sim 1.0), a zero and a null vector (never pair), an
    id past 32 bits, fewer rows than the 8 grid blocks (empty cells),
    and an exact round-6 tie (half away from zero, as SQL ROUND)."""
    from hadoop_map_reduce_spark.operators.similarity import (
        cosine_neardup_grid_blas,
        cosine_neardup_pairs,
    )

    big = 10**12
    df = spark.createDataFrame(
        [
            (1, [3.0, 4.0, 0.0]),
            (2, [4.0, 3.0, 0.0]),
            (5, [1.0, 2.0, 2.0]),
            (6, [1.0, 2.0, 2.0]),
            (big, [2.0, 4.0, 4.0]),
            (7, [0.0, 0.0, 0.0]),
            (8, None),
        ],
        "vec_id long, embedding array<double>",
    )
    eleven_15ths, two_thirds = 0.733333, 0.666667
    sims = {
        (1, 2): 0.96,
        (1, 5): eleven_15ths, (1, 6): eleven_15ths, (1, big): eleven_15ths,
        (2, 5): two_thirds, (2, 6): two_thirds, (2, big): two_thirds,
        (5, 6): 1.0, (5, big): 1.0, (6, big): 1.0,
    }
    for t in (0.5, 0.96, 1.0):
        ref = sorted(map(tuple, cosine_neardup_pairs(df, t).collect()))
        grid = sorted(map(tuple, cosine_neardup_grid_blas(df, t).collect()))
        assert grid == ref, t
        assert ref == sorted((a, b, v) for (a, b), v in sims.items() if v >= t)

    # Integer counts whose sim is the exact tie 109/128 = 0.8515625:
    # SQL ROUND gives 0.851563, half-to-even would give 0.851562.
    tie = spark.createDataFrame(
        [
            (1, [15.0, 5.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0]),
            (2, [6.0, 3.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 3.0, 2.0, 1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    ref = cosine_neardup_pairs(tie, 0.85).collect()
    grid = cosine_neardup_grid_blas(tie, 0.85).collect()
    assert list(map(tuple, grid)) == list(map(tuple, ref)) == [(1, 2, 0.851563)]


def test_pagerank_no_cartesian_partial_agg(spark, sf_dir):
    """Each PageRank iteration must be an equi-join + map-side-combined
    aggregation — a nested-loop anywhere would be quadratic in edges."""
    plan = plan_of(spark, sf_dir, "graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan


def test_passage_dedup_single_agg_shuffle_pruned(spark, sf_dir):
    """Passage report: per-doc distinct before the explode (array_distinct
    inside the projection), exactly one aggregation exchange keyed by
    passage, the scan pruned to just text, and tokenization evaluated
    once per row (no pushed Filter duplicating the split)."""
    plan = plan_of(spark, sf_dir, "curation_passage_dedup")
    assert "ReadSchema: struct<text:string>" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan
    assert "+- Filter" not in plan.split("Exchange")[-1]


def test_pii_scrub_no_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "curation_pii_scrub")
    assert "Exchange" not in plan  # pure per-row projection


def test_merge_upsert_broadcast_anti_join(spark, sf_dir):
    """The CDC merge must anti-join the small change batch via broadcast
    (map-only pass over the big target), never shuffle-join or nested-loop."""
    plan = plan_of(spark, sf_dir, "merge_upsert_orders")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_timeseries_queries_no_quadratic_joins(spark, sf_dir):
    """Gap-fill, funnel, and retention are all equi-join + aggregate
    shapes; any nested-loop here would be quadratic over events at scale."""
    for name in ("events_gapfill", "events_funnel", "events_retention"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_gapfill_prunes_events_scan(spark, sf_dir):
    """The gap-fill rollup must read only (ts, value) from events — the
    spine generation reuses the same pruned scan."""
    plan = plan_of(spark, sf_dir, "events_gapfill")
    for m in re.finditer(r"ReadSchema: struct<([^>]*)", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"ts", "value"}, cols


def test_hash_sample_is_scan_side_filter(spark, sf_dir):
    """The md5-bucket sample predicate must run in the scan stage: one
    aggregate exchange only, no join, no extra shuffle for the filter."""
    plan = plan_of(spark, sf_dir, "sample_hash_bucket")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg pair under AQE


def test_dq_audit_single_scan(spark, sf_dir):
    """Every constraint in the audit must ride one scan of the table —
    adding rules must not add scans or joins."""
    for name in ("dq_orders_audit", "dq_documents_audit"):
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("FileScan") == 1, name
        assert "Join" not in plan, name


def test_window_count_distinct_single_exchange(spark, sf_dir):
    """The distinct-window emulation's two window passes must share one
    o_custkey hash exchange (they differ only in sort order)."""
    plan = plan_of(spark, sf_dir, "window_count_distinct")
    assert plan.count("Exchange hashpartitioning") == 1


def test_triangles_all_equi_joins(spark, sf_dir):
    """Degree-ordered triangle counting is only scale-safe if every join
    (edge build, degree attach, wedge, closing) stays an equi-join."""
    plan = plan_of(spark, sf_dir, "graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_incremental_no_cartesian(spark, sf_dir):
    """Incremental admission = banded-minhash candidates + anti-join;
    nothing may degrade to a nested loop."""
    plan = plan_of(spark, sf_dir, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_codegen_single_shuffle(spark, sf_dir):
    """The z-value must stay a pure integer Column expression (no
    Python), leaving one 64-key aggregate as the only exchange."""
    plan = plan_of(spark, sf_dir, "layout_zorder_clusters")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_parquet_aggregate_pushdown_v2(spark, sf_dir):
    """COUNT/MIN/MAX over a bare scan can be answered from parquet
    footer metadata alone (no row reads) via the DSv2 reader — the
    100-TB 'how many rows do we have' query costs one footer pass per
    file. Session-scoped confs on a sibling session; the engine default
    keeps the v1 reader for everything else."""
    from pyspark.sql import functions as F

    s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    df = s2.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]" in plan
    [row] = agg.collect()
    assert row.n_rows > 0 and row.min_key <= row.max_key


def test_training_manifest_text_never_shuffles(spark, sf_dir):
    """The end-to-end manifest pipeline must keep document text in the
    scan stage: every exchange key is a digest or an id (at 100 TB the
    intermediates are manifests, not the corpus)."""
    plan = plan_of(spark, sf_dir, "pipeline_training_manifest")
    assert "hashpartitioning(text" not in plan
    assert "hashpartitioning(cast(text" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_per_group_window_group_limit(spark, sf_dir):
    """Group-wise top-k must plan as WindowGroupLimit (Partial before the
    exchange): each map task forwards at most k rows per key into the
    shuffle, so the per-group sort never materializes a full group — the
    property that makes QUALIFY-style queries viable at 100 TB."""
    plan = plan_of(spark, sf_dir, "topk_per_group")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # map-side limit, not only reduce-side
    exchanges = plan.count("Exchange hashpartitioning")
    assert exchanges == 1


def test_events_histogram_single_tiny_shuffle(spark, sf_dir):
    """Histogram plan: scan reads only (value), partial agg before one
    10-row exchange, no UDFs — pure codegen."""
    plan = plan_of(spark, sf_dir, "events_histogram")
    assert "ReadSchema: struct<value:double>" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_window_ntile_single_exchange(spark, sf_dir):
    """The ntile window and the (segment, quartile) rollup must share
    one exchange: the groupBy keys extend the window partition key, so
    Spark reuses the same hash partitioning for both operators."""
    plan = plan_of(spark, sf_dir, "window_ntile")
    assert plan.count("Exchange hashpartitioning") == 1


def test_apply_cdc_deletes_broadcast_anti_join(spark, sf_dir):
    """Full CDC apply (with tombstones) keeps merge_upsert's shape: one
    broadcast LEFT ANTI join on the batch's key projection over the big
    target — no shuffle of the target, no nested loop."""
    plan = plan_of(spark, sf_dir, "merge_apply_cdc_deletes")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_strategy_hints_honored(spark, sf_dir):
    """All three physical join strategies are selectable per-join via
    hints — the manual override lane when size-based planning guesses
    wrong (e.g. a filtered dim whose stats overestimate): merge ->
    SortMergeJoin, shuffle_hash -> ShuffledHashJoin (no sort, wins when
    one side is modest and memory fits), broadcast -> BroadcastHashJoin."""
    from hadoop_map_reduce_spark.session import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    expect = {
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "broadcast": "BroadcastHashJoin",
    }
    for hint, node in expect.items():
        plan = (
            o.join(c.hint(hint), o.o_custkey == c.c_custkey)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert node in plan, (hint, node)


def test_quality_lm_score_text_never_shuffles(spark, sf_dir):
    """The LM quality filter must shuffle token keys and doc ids only —
    never whole text; the single nested-loop node is the 1-row
    continuation-vocabulary scalar broadcast, nothing data-sized."""
    plan = plan_of(spark, sf_dir, "quality_lm_score")
    assert "hashpartitioning(text" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bitmap_distinct_two_narrow_shuffles(spark, sf_dir):
    """The bitmap exact-distinct plan: partial bitmap construction
    before the first exchange (map-side OR-merge of 4 KB bitmaps), two
    exchanges total, and no Expand node — the operator exists to avoid
    COUNT DISTINCT's shuffle of every distinct key."""
    plan = plan_of(spark, sf_dir, "agg_bitmap_distinct")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_bitmap_construct_agg" in plan
    assert "Expand" not in plan


def test_interval_overlap_is_banded_equi_join(spark, sf_dir):
    """Unkeyed interval overlap must candidate-generate via the bucket
    equi-join, never a nested-loop θ-join."""
    plan = plan_of(spark, sf_dir, "join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_single_entity_key_exchange(spark, sf_dir):
    """Gaps-and-islands SCD2: every window and the run aggregation key on
    o_custkey — one hash exchange of the orders scan, no join."""
    plan = plan_of(spark, sf_dir, "scd2_status_history")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_transition_probs_partial_agg_before_exchange(spark, sf_dir):
    """Markov transitions: the pair count aggregates map-side before its
    shuffle; no join anywhere (row totals via window, not self-join)."""
    plan = plan_of(spark, sf_dir, "events_transition_probs")
    assert "Join" not in plan
    assert "partial_count" in plan


def test_twap_single_user_exchange(spark, sf_dir):
    """TWAP: lead window and final aggregate share the user_id
    partitioning — the window's exchange is reused, no second shuffle of
    the spans."""
    plan = plan_of(spark, sf_dir, "timeseries_twap")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_incremental_refresh_two_partials_one_merge(spark, sf_dir):
    """Delta maintenance: both branches partial-aggregate before their
    exchanges; the merge is an aggregation of partials, not a rescan."""
    plan = plan_of(spark, sf_dir, "incremental_agg_refresh")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Join" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """At 100 TB a selective dim filter should semi-join-reduce the fact
    scan before the shuffle. Spark 4 injects a runtime Bloom filter
    (bloom_filter_agg on the filtered side, might_contain on the fact
    side) for shuffle joins; pin that the engine's configs don't break
    the injection. Thresholds are test-scoped: local parquet is far
    below the 10 GB application-side default."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        assert "SortMergeJoin" in plan  # the shape the filter exists for
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ewma_single_group_exchange(spark, sf_dir):
    """The recurrence runs in one applyInPandas group pass: exactly one
    hash exchange on user_id, nothing else."""
    plan = plan_of(spark, sf_dir, "timeseries_ewma")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_token_lift_broadcast_scalars_only(spark, sf_dir):
    """Association mining: the only nested-loop joins are the two
    single-row scalar broadcasts (corpus/pair totals, same budget as
    tfidf); unigram lookups broadcast-hash, pairs never cartesian."""
    plan = plan_of(spark, sf_dir, "token_lift_pairs")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert plan.count("BroadcastHashJoin") >= 2


def test_winsorized_mean_broadcast_quartiles(spark, sf_dir):
    """Quartile table (one row per type) broadcasts back onto the scan;
    two aggregation exchanges total, no shuffle join."""
    plan = plan_of(spark, sf_dir, "agg_winsorized_mean")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_containment_is_postings_equi_join(spark, sf_dir):
    """dedup_containment: candidates come from the shingle-postings
    equi-join (one hash key), never a cartesian/nested-loop pair scan;
    only doc_id and text are read."""
    plan = plan_of(spark, sf_dir, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and "source" not in m.group(1) and "lang" not in m.group(1)


def test_hybrid_rrf_broadcasts_query_vector(spark, sf_dir):
    """search_hybrid_rrf: the 1-row query vector and the tiny df/doc-count
    sides broadcast; no cartesian beyond those single-row broadcasts; the
    lexical side filters terms at the scan side of the explode."""
    plan = plan_of(spark, sf_dir, "search_hybrid_rrf")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row qvec/n_docs crossJoin
    # Lexical branch reads only (doc_id, text); vector branch (vec_id,
    # embedding) — label/source never scanned.
    m = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert m and all("label" not in g and "source" not in g for g in m)


def test_quantize_int8_is_shuffle_free(spark, sf_dir):
    """embedding_quantize_int8: pure per-row Column folds — no exchange
    of any kind in the plan."""
    plan = plan_of(spark, sf_dir, "embedding_quantize_int8")
    assert "Exchange" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m and "label" not in m.group(1)


def test_k_anonymity_partial_agg_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dq_k_anonymity")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan


def test_decontaminate_broadcasts_bench_grams(spark, sf_dir):
    """curation_decontaminate_13gram: the benchmark gram table
    broadcasts; the train corpus is never shuffled on text."""
    plan = plan_of(spark, sf_dir, "curation_decontaminate_13gram")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # text may appear only below the exchange (gram explode), never as
    # a shuffle key; exchanges must key on doc_id/gram-derived cols.
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)", plan):
        assert "text" not in m.group(1)


def test_reservoir_hash_uses_window_group_limit(spark, sf_dir):
    """sample_reservoir_hash: rank<=3 plans as WindowGroupLimit
    (per-partition top-k heaps before the exchange)."""
    plan = plan_of(spark, sf_dir, "sample_reservoir_hash")
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_single_partition_detector_sensitivity(spark, sf_dir):
    """Canary for the plancheck analysis itself: a genuine global
    row_number with no rank filter (nothing the optimizer can push a
    limit through) MUST be flagged, and its TakeOrdered twin must not —
    if a Spark upgrade changes the plan node names/wrappers and blinds
    the walk, this fails before the registry sweep silently goes
    green."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hadoop_map_reduce_spark.plancheck import (
        unbounded_single_partition_exchanges,
    )
    from hadoop_map_reduce_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    bad = orders.withColumn("rk", F.row_number().over(w))
    bad.collect()
    assert unbounded_single_partition_exchanges(bad)

    good = orders.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    ).limit(5).withColumn("rk", F.row_number().over(w))
    good.collect()
    assert unbounded_single_partition_exchanges(good) == []


def test_round4_rank_queries_no_unbounded_single_partition(spark, sf_dir):
    """The round-3 weak trio (search_hybrid_rrf, search_rank_docs,
    token_lift_pairs) re-planned as TakeOrdered top-k + bounded-input
    rank: no Exchange SinglePartition over an unbounded input anywhere
    in the executed plan (tools/plan_sweep.py proves the same property
    registry-wide; this pins the fixed queries in CI)."""
    from hadoop_map_reduce_spark.plancheck import (
        unbounded_single_partition_exchanges,
    )

    for name in (
        "search_hybrid_rrf",
        "search_rank_docs",
        "token_lift_pairs",
    ):
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        offenders = unbounded_single_partition_exchanges(df)
        assert offenders == [], f"{name}: {offenders}"


def test_phash_neardup_hash_scan_cached_and_banded_once(spark, sf_dir):
    """phash_near_dup's hash table feeds both join sides: the executed
    plan must read it through the one-slot cache (InMemoryTableScan on
    every consumer) so the mapInPandas decode/hash scan runs once, and
    banding must be a single explode, not a per-band union re-scan."""
    df = REGISTRY["multimodal_phash_neardup"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert "Union" not in plan
    assert plan.count("Generate explode") >= 2  # one banding per side


def test_dsir_broadcasts_distributions_and_prunes(spark, sf_dir):
    """curation_dsir_score: the 256-row ppm table broadcasts into the
    scoring join (never shuffle the corpus against it) and the scan
    reads only the three needed columns. Round-11: raw and target
    distributions are FUSED into one conditional aggregation, so the
    plan carries exactly ONE broadcast hash join (previously two)."""
    p = plan_of(spark, sf_dir, "curation_dsir_score")
    assert p.count("BroadcastHashJoin") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in p
    assert "CartesianProduct" not in p
    assert all(
        "Inner" not in seg[:40]
        for seg in p.split("BroadcastNestedLoopJoin")[1:]
    )


def test_global_shuffle_partitioned_windows_only(spark, sf_dir):
    """pack_global_shuffle: every window is partitioned (the whole
    point — no global sort), offsets broadcast, scan pruned to doc_id."""
    p = plan_of(spark, sf_dir, "pack_global_shuffle")
    assert "SinglePartition" not in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "ReadSchema: struct<doc_id:bigint>" in p


def test_salted_join_salts_both_sides(spark, sf_dir):
    """join_salted_skew: the join condition includes the salt column on
    both sides and the replicated side explodes a sequence."""
    p = plan_of(spark, sf_dir, "join_salted_skew")
    assert "_salt" in p
    assert "Generate explode" in p or "explode(sequence" in p


def test_manifest_diff_single_gate_scan(spark, sf_dir):
    """manifest_diff: the gate projection is computed once (one-slot
    cache), so exactly one InMemoryTableScan pair feeds the diff join —
    not two re-derivations of the tokenizer pipeline."""
    p = plan_of(spark, sf_dir, "manifest_diff")
    assert "InMemoryTableScan" in p
    # The expensive tokenizer regex must not appear in the join plan
    # itself (it lives only inside the cached relation).
    assert "regexp_extract_all" not in p.split("InMemoryRelation")[0]


# Spark jobs each query runs while its plan is built, warm (schemas
# already inferred), on the sf0.001 tables. The five non-graph board
# queries build with no job at all; k-core's jobs are all eager
# checkpoints whose counters carry every count the peel reads. Job
# counts do not drift between runs, so the pin is exact.
_CONSTRUCT_JOBS = {
    "bigram_count": 0,
    "q3_shipping_priority": 0,
    "multimodal_phash_neardup": 0,
    "similarity_topk": 0,
    "text_quality": 0,
    "graph_kcore_bounded": 11,
    "graph_kcore_converged": 11,
}


def test_construct_jobs_are_checkpoints_only(spark, sf_dir, monkeypatch):
    import hadoop_map_reduce_spark.checkpoint as ckpt
    from hadoop_map_reduce_spark.operators import caching

    # A plan another query left cached (the triangle queries keep the
    # co-purchase edges in a cache slot) would serve k-core's edge build
    # and change its job count: pin the counts against an empty cache.
    spark.catalog.clearCache()
    caching._SLOTS.clear()
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    in_checkpoints = 0
    real = ckpt.local_checkpoint

    def counted(df, **counters):
        nonlocal in_checkpoints
        before = scheduler.numTotalJobs()
        try:
            return real(df, **counters)
        finally:
            in_checkpoints += scheduler.numTotalJobs() - before

    monkeypatch.setattr(ckpt, "local_checkpoint", counted)
    got = {}
    for name in _CONSTRUCT_JOBS:
        REGISTRY[name].fn(spark, sf_dir)  # cold build: infers schemas
        in_checkpoints = 0
        before = scheduler.numTotalJobs()
        REGISTRY[name].fn(spark, sf_dir)
        got[name] = scheduler.numTotalJobs() - before
        assert got[name] == in_checkpoints, name
    if os.path.basename(os.path.normpath(sf_dir)) == "sf0.001":
        assert got == _CONSTRUCT_JOBS
    else:
        assert all(got[n] == 0 for n in got if "kcore" not in n), got
