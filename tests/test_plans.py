"""Physical-plan guardrails (SURVEY.md §4): these tests pin the
*scale* properties — pushdown, pruning, broadcast, top-k — that the
value-level oracle can't see. A regression here is a 100-TB regression
even when results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from direct_kafka_stream_spark import QUERIES
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.plans import inspect

from tests.conftest import SF_DIR


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["q_filter"].spark(spark, SF_DIR)
    pushed = inspect.pushed_filters(df)
    assert "l_quantity" in pushed
    assert "l_returnflag" in pushed


def test_projection_prunes_scan_columns(spark):
    df = QUERIES["q_project"].spark(spark, SF_DIR)
    rs = inspect.read_schema(df)
    assert "l_extendedprice" in rs
    assert "l_shipdate" not in rs  # unreferenced column never read
    assert "l_returnflag" not in rs


def test_multiway_join_broadcasts_dims(spark):
    df = QUERIES["q_join_multiway"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    # the date filter must prune orders before the fact join
    assert "1997" in plan or "o_orderdate" in inspect.pushed_filters(df)


def test_limit_is_topk_not_global_sort(spark):
    df = QUERIES["q_limit"].spark(spark, SF_DIR)
    assert inspect.plan_contains(df, "TakeOrderedAndProject")


def test_hot_path_is_codegen(spark):
    """The TPC-H-Q1-shaped aggregate must run inside whole-stage
    codegen (JVM, vectorized), not interpreted."""
    df = QUERIES["q_agg_group"].spark(spark, SF_DIR)
    assert inspect.codegen_stage_count(df) >= 1


def test_semi_join_planned(spark):
    df = QUERIES["q_join_semi"].spark(spark, SF_DIR)
    assert inspect.plan_contains(df, "LeftSemi")


def test_partition_pruning_shape(spark):
    """Filters on the broadcast side reduce the build side before the
    exchange — region filter must sit under the broadcast, not above
    the join."""
    r = load_table(spark, SF_DIR, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, SF_DIR, "nation")
    df = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    pushed = inspect.pushed_filters(df)
    assert "r_name" in pushed


def test_asof_join_is_single_shuffle(spark):
    """The as-of join must plan as ONE hash shuffle on the key (union +
    running window), never a quadratic range join — the property that
    makes it survive 100 TB."""
    df = QUERIES["q_join_asof"].spark(spark, SF_DIR)
    assert inspect.exchange_count(df) == 1
    assert "NestedLoop" not in inspect.physical_plan(df)


def test_q18_broadcasts_filtered_aggregate(spark):
    """Q18's HAVING-filtered order set must broadcast into the orders
    join (no second fact shuffle) and the final top-k must be
    TakeOrdered, not a global sort."""
    df = QUERIES["q_tpch_q18"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert inspect.plan_contains(df, "TakeOrderedAndProject")


def test_correlated_subquery_decorrelates(spark):
    """Catalyst must rewrite the Q17 correlated subquery into an
    aggregate + join (no per-row subquery execution): the plan contains
    a join and a partial/final aggregate pair, not a Subquery node per
    row."""
    df = QUERIES["q_subquery_correlated"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "Join" in plan
    assert "HashAggregate" in plan


def test_q21_decorrelates_to_semi_and_anti(spark):
    """Q21's EXISTS/NOT EXISTS must become semi/anti joins — a
    per-row subquery execution would be quadratic in lineitem."""
    df = QUERIES["q_tpch_q21"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q19_disjunction_prunes_before_join(spark):
    """Q19's OR-of-conjunctions must not force a cartesian product;
    the equi key (p_partkey = l_partkey) stays the join key with the
    disjunction as a post-join (or pushed) filter."""
    df = QUERIES["q_tpch_q19"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q4_exists_is_semi_join(spark):
    df = QUERIES["q_tpch_q4"].spark(spark, SF_DIR)
    assert inspect.plan_contains(df, "LeftSemi")


def test_q8_star_broadcasts_all_dims(spark):
    """Seven-table star: every dimension join must broadcast; the only
    shuffle joins allowed are between fact-sized inputs."""
    df = QUERIES["q_tpch_q8"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_tfidf_broadcasts_dims_onto_tf(spark):
    """df (vocab-sized) and N (single row) must broadcast back onto
    the term-frequency table — re-shuffling tf on word would double
    the fact-sized exchanges."""
    df = QUERIES["q_text_tfidf"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2


def test_rag_retrieve_is_topk_with_broadcast_query_vector(spark):
    df = QUERIES["q_rag_retrieve"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_upsert_merge_single_key_shuffle(spark):
    """The MERGE emulation must plan as one full-outer join on the key
    — no cartesian, no double shuffle of the base table."""
    df = QUERIES["q_upsert_merge"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan


def test_aqe_converts_q18_join_to_broadcast_at_runtime(spark):
    """Q18 carries no static broadcast hint (its big-orders set grows
    with SF) — AQE must convert the join to broadcast AT RUNTIME when
    the filtered aggregate turns out small. This is the mechanism that
    makes the no-hint policy safe at every scale."""
    df = QUERIES["q_tpch_q18"].spark(spark, SF_DIR)
    df.collect()  # finalize the AQE plan of THIS execution
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final or "BroadcastQueryStage" in final


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime Bloom-filter injection: when a selective dim filters a
    shuffle join, Spark builds a bloom filter from the dim keys and
    applies it to the fact scan — row-level runtime pruning that cuts
    the shuffled fact volume at 100 TB. Off by default below size
    thresholds (it only pays when the fact side is huge); this test
    lowers the thresholds to pin that the engine wires it up."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = inspect.physical_plan(j)
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q5_snowflake_broadcasts_fixed_dims(spark):
    """Q5's nation/region joins (fixed 25/5-row tables at any SF) must
    be broadcasts; the date filter must push into the orders scan; and
    the 6-table cycle must never degrade to a cartesian product."""
    df = QUERIES["q_tpch_q5"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "o_orderdate" in inspect.pushed_filters(df)


def test_q17_shares_partkey_exchange(spark):
    """Q17's per-part average and the probe join both key on
    l_partkey: the plan must be all hash joins/aggregates (no nested
    loop), with the part filter pushed to the scan."""
    df = QUERIES["q_tpch_q17"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "p_brand" in inspect.pushed_filters(df)


def test_q22_anti_join_on_date_scoped_orders(spark):
    """Q22's NOT EXISTS must decorrelate to an anti join over the
    date-filtered orders, with the o_orderdate predicate pushed down so
    the anti-join build side shrinks before the shuffle."""
    df = QUERIES["q_tpch_q22"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "LeftAnti" in plan
    assert "o_orderdate" in inspect.pushed_filters(df)


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval-gram set (fixed-size at any corpus scale) must reach
    the training-side scan as a broadcast — a shuffled join here would
    move the whole corpus's grams."""
    df = QUERIES["q_decontaminate"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mix_sample_is_single_pass_over_corpus(spark):
    """q_mix_sample's rate table is domain-count-sized and broadcasts
    onto the scan; the per-doc uniform draw is a stateless filter, so
    the sampled corpus is produced without shuffling document rows."""
    df = QUERIES["q_mix_sample"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    # the only exchanges allowed are inside the tiny rate aggregation
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_bm25_is_topk_with_broadcast_stats(spark):
    """BM25 must plan as broadcast joins for the term-df and corpus
    stats plus a top-k heap — never a global sort of scored docs."""
    df = QUERIES["q_rag_bm25"].spark(spark, SF_DIR)
    assert inspect.has_broadcast_join(df)
    assert inspect.plan_contains(df, "TakeOrderedAndProject")


def test_quantile_bins_scaled_has_no_ntile_window(spark):
    """The scale-safe binning must assign bins with a broadcast of 9
    boundary doubles and a per-row comparison — the plan may not
    contain the global NTILE window the exact form uses."""
    df = QUERIES["q_quantile_bins_scaled"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "ntile(10)" not in plan  # ("ntile" alone matches percentile)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_islands_ranged_local_window_is_bucket_partitioned(spark):
    """Phase 1's island window must hash-partition by bucket (parallel
    per key range), not run on a single global partition."""
    df = QUERIES["q_islands_ranged"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "hashpartitioning(bucket" in plan


def test_skyline_broadcasts_bounded_frontier(spark):
    """The skyline must join the fact against a BROADCAST of the
    distinct-size-bounded frontier table — never a dominance
    self-join of the fact (which is O(n²))."""
    df = QUERIES["q_skyline"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert inspect.has_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_pagerank_contrib_broadcasts_bounded_tables(spark):
    """One PageRank step: the outdegree and vertex-count tables are
    nation-bounded and must broadcast; the only shuffles are the fact
    key joins."""
    df = QUERIES["q_pagerank_step"].spark(spark, SF_DIR)
    assert inspect.has_broadcast_join(df)


def test_triangle_join_stays_bucket_scoped(spark):
    """Edge generation must join on the LSH bucket id (bucket-scoped
    candidate pairs), never a corpus cross join."""
    df = QUERIES["q_triangle_count"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan


def test_zonemap_is_single_agg_no_window(spark):
    """The zone map is one map-side-combined aggregation to a
    months-sized table — no window, no join."""
    df = QUERIES["q_zonemap_prune"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert inspect.codegen_stage_count(df) >= 1


def test_concurrent_peak_window_is_day_partitioned(spark):
    """The sweep-line running sum must hash-partition by day (bounded
    at 86400 rows per partition by the per-second pre-aggregation) —
    never a global single-partition ORDER BY time."""
    df = QUERIES["q_concurrent_peak"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "hashpartitioning(day" in plan


def test_corr_matrix_is_one_aggregate_no_join(spark):
    """All six correlations fuse into ONE aggregation pass over the
    fact scan — no self-joins, no repeated scans."""
    df = QUERIES["q_corr_matrix"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "Join" not in plan
    # formatted plans print each node twice (tree + detail section)
    assert plan.count("(1) Scan parquet") == 1 and "(2) Scan" not in plan


def test_ewma_weights_are_broadcast(spark):
    """The literal (1-alpha)^lag weight table must broadcast onto the
    days-bounded self-join; the fact table shuffles once (the daily
    aggregate)."""
    df = QUERIES["q_ewma"].spark(spark, SF_DIR)
    assert inspect.has_broadcast_join(df)


def test_dedup_fuzzy_has_no_cartesian(spark):
    """Fuzzy-dup candidates must come from the blocking-key self-join
    — a corpus cross join followed by a Levenshtein filter would be
    O(n^2) at any scale."""
    df = QUERIES["q_dedup_fuzzy"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_weighted_is_topk_heap_then_bounded_window(spark):
    """A-ES selection must plan as TakeOrderedAndProject (distributed
    k-heap); the rn window may only run AFTER the limit, over k rows
    — never a global ROW_NUMBER over the corpus."""
    df = QUERIES["q_sample_weighted"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_winsorize_broadcasts_percentile_table(spark):
    """The |types|-sized percentile table must broadcast onto the
    fact scan — winsorization is two aggregation passes, not a
    fact-fact shuffle join."""
    df = QUERIES["q_winsorize"].spark(spark, SF_DIR)
    assert inspect.has_broadcast_join(df)


def test_embed_quantize_broadcasts_dim_scales(spark):
    """The 64-row per-dimension scale table must broadcast back onto
    the exploded vector stream; the fact never shuffles for the
    quantize pass."""
    df = QUERIES["q_embed_quantize"].spark(spark, SF_DIR)
    assert inspect.has_broadcast_join(df)


def test_dau_mau_has_no_nested_loop_range_join(spark):
    """The trailing-30-day MAU must come from the sequence-explode
    fan-out + day-keyed distinct count — never a nested-loop range
    join of user-days against the day table."""
    df = QUERIES["q_dau_mau"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the sequence explode


def test_pivot_multi_agg_is_single_pass(spark):
    """Explicit pivot values: one scan, one grouped aggregate with 10
    conditional accumulators — no distinct-values pre-query, no join."""
    df = QUERIES["q_pivot_multi_agg"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "Join" not in plan
    assert "(2) Scan" not in plan


def test_hll_harmonic_sum_is_integer_exact(spark):
    """The HLL register table must aggregate bucket-keyed and the
    harmonic sum must be the scaled integer BIGINT sum (LongType), not
    a float accumulation."""
    df = QUERIES["q_hll_manual"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan


def test_bloom_bits_and_sketch_broadcast(spark):
    """The <=4096-row bit set must broadcast onto the probe stream —
    the probe side never shuffles on the bit id."""
    df = QUERIES["q_bloom_manual"].spark(spark, SF_DIR)
    assert inspect.has_broadcast_join(df)


def test_interval_overlap_is_bucket_equijoin(spark):
    """Interval candidates must join on the time bucket (equi-join);
    a nested-loop range join over the raw intervals is quadratic."""
    df = QUERIES["q_interval_overlap"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cross_source_join_is_rare_gram_blocked(spark):
    """The contamination pair join must be gram-keyed with the rare-
    gram (df <= 10) filter applied BEFORE pairing — no cartesian, no
    unblocked doc-doc join."""
    df = QUERIES["q_dedup_cross_source"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan


def test_jsd_vocab_is_broadcast(spark):
    """The top-200 vocabulary must broadcast onto the token stream;
    divergence arithmetic runs on the vocab-bounded count table."""
    df = QUERIES["q_jsd"].spark(spark, SF_DIR)
    assert inspect.has_broadcast_join(df)


def test_concurrent_peak_is_single_scan(spark):
    """Both sweep-line endpoints must come from ONE fact scan (struct
    explode) — the union-of-two-projections form reads the fact
    twice."""
    df = QUERIES["q_concurrent_peak"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "(2) Scan" not in plan


def test_lateness_runmax_windows_are_block_partitioned(spark):
    """The exact global running max must be stitched from block-
    partitioned windows — hashpartitioning on blk, never one global
    unpartitioned frame over the event stream (the blocks-table
    window is blocks-sized, which is the bounded exception)."""
    df = QUERIES["q_lateness_watermark"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "hashpartitioning(blk" in plan


def test_join_pit_is_locf_not_range_join(spark):
    """The point-in-time join must plan as the union + customer-keyed
    LOCF window (hash exchanges on the customer key) — never a
    nested-loop interval join of fact against dimension versions."""
    df = QUERIES["q_join_pit"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(custkey" in plan


def test_ndcg_windows_are_order_keyed(spark):
    """Both nDCG rank windows must partition by l_orderkey — a global
    (unpartitioned) rank window would single-partition the corpus."""
    df = QUERIES["q_ndcg"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "hashpartitioning(l_orderkey" in plan
    # no operator anywhere in this plan may run under SinglePartition —
    # both rank windows and every aggregate are order- or
    # priority-keyed (q_ndcg has no legitimately-global stage)
    assert "SinglePartition" not in plan


def test_mann_whitney_has_no_global_row_window(spark):
    """The rank-sum must come from the bin-stitched prefix: the only
    unpartitioned window runs over the BOUNDED bins table (after the
    per-value aggregate), never over raw events."""
    df = QUERIES["q_mann_whitney"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    # per-value aggregation precedes any window
    assert plan.index("HashAggregate") < plan.index("Window")


def test_class_metrics_centroids_broadcast(spark):
    """The 10-row centroid table must broadcast (nested-loop against a
    broadcast side is the intended 10x projection expansion) — a
    shuffle-based join here would re-partition the corpus."""
    df = QUERIES["q_class_metrics"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_table_checksum_is_single_aggregate(spark, monkeypatch):
    """One scan, one partition-keyed aggregate — the checksum must not
    sort or window anything. Round 12: locally the size-gated
    spread_scan adds one repartition exchange (the fixture scan cannot
    split); with the gate off (the 100 TB shape) the plan must still be
    a single exchange."""
    df = QUERIES["q_table_checksum"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "Window" not in plan
    assert "Sort" not in plan.replace("SortAggregate", "")
    assert inspect.exchange_count(df) <= 2

    from direct_kafka_stream_spark import io as dks_io

    monkeypatch.setattr(dks_io, "_SPREAD_BYTES_PER_CORE", 0)
    df_scale = QUERIES["q_table_checksum"].spark(spark, SF_DIR)
    assert inspect.exchange_count(df_scale) <= 1


def test_welch_ttest_has_no_shuffle(spark):
    """Two scalar moment rollups crossed: partial aggregation happens
    map-side; no hash exchange of detail rows may appear."""
    df = QUERIES["q_welch_ttest"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "hashpartitioning" not in plan


def test_epoch_shuffle_sorts_per_shard_only(spark):
    """The epoch shuffle must window per shard (256-way partitioned),
    never globally."""
    df = QUERIES["q_epoch_shuffle"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan


def test_sentence_stats_is_pure_projection(spark):
    """Higher-order array functions only: no exchange, no explode —
    the whole operator must be a stateless map over the scan."""
    df = QUERIES["q_sentence_stats"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert inspect.exchange_count(df) == 0
    assert "Generate" not in plan  # no explode

def test_link_predict_topk_avoids_global_sort(spark):
    """The final top-20 must lower to TakeOrderedAndProject, and the
    candidate generation must be an equi-join on the shared endpoint
    (wedge join), never a cartesian scan."""
    df = QUERIES["q_link_predict"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_kendall_reduces_to_grid_before_pairs(spark):
    """The tau-b pair mass must come from the bounded cell grid: the
    detail scan aggregates (HashAggregate) BEFORE the nested-loop pair
    join, and no unbounded cartesian appears."""
    df = QUERIES["q_kendall_grid"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # cells^2, broadcast side
    # the pair join's build side is the broadcast GRID (an aggregate),
    # never a raw lineitem scan: the qa < qb condition appears as the
    # join predicate, proving cells join cells
    assert "(qa" in plan and "qb" in plan


def test_tfidf_cosine_pairs_via_term_join(spark):
    """Candidate pairs must come from the word-keyed equi join of the
    df-banded inverted index — never a document cross join."""
    df = QUERIES["q_tfidf_cosine"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    # the pair join itself is a word-keyed hash/merge join; the only
    # nested-loop joins are 1-row broadcast crosses (the N scalar)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin Inner" not in plan


def test_gini_binned_has_no_single_partition(spark):
    """The binned-Lorenz scale variant exists to kill the global
    ordering: every window and aggregate must stay nation-keyed."""
    df = QUERIES["q_gini_binned"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(n_name" in plan


def test_cusum_windows_are_keyed(spark):
    """The prefix windows over the days-bounded series must carry the
    non-foldable bounded key (no unpartitioned WindowExec)."""
    df = QUERIES["q_cusum"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    # the bounded key is projected to a _wN column; both window specs
    # must partition by it (spec starts with _w, not with the order
    # column alone)
    assert "windowspecdefinition(_w" in plan
    assert "windowspecdefinition(day#" not in plan


def test_no_unpartitioned_window_in_any_registered_query(registry_pass):
    """Registry-wide window hygiene: NO registered query may compile
    to a Window node with an empty partitionSpec. Detail-row windows
    must be data-keyed; bounded (bins-sized) frames must carry
    exprs.bounded_window_key so WindowExec's "No Partition Defined"
    warning stays a real alarm instead of ~250 lines of noise."""
    flagged = {n: r.windows for n, r in registry_pass.items() if r.windows}
    assert not flagged, (
        f"{len(flagged)} queries compile unpartitioned Window nodes: "
        + "; ".join(f"{n} ({len(b)})" for n, b in sorted(flagged.items()))
    )


def test_naive_bayes_weight_grid_broadcasts(spark):
    """The lang x vocab weight grid and the class priors must reach
    the per-doc scoring as broadcasts — a shuffle join there would
    repartition the corpus by word."""
    df = QUERIES["q_naive_bayes"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 3


def test_auc_pr_aggregates_scores_before_sweep(spark):
    """The AUC sweep must run over the DISTINCT-score table (a
    HashAggregate precedes every Window) — ranking raw per-doc rows
    would make the cumulative windows corpus-sized."""
    df = QUERIES["q_auc_pr"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert plan.index("HashAggregate") < plan.index("Window")
    assert "CartesianProduct" not in plan


def test_mix_token_budget_windows_by_source(spark):
    """The budget-fill cumulative window must partition by source —
    the only exchange of doc-sized rows is source-keyed."""
    df = QUERIES["q_mix_token_budget"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "hashpartitioning(source" in plan


def test_embed_diversity_never_joins_pairs(spark):
    """The closed-form identity must keep the plan pair-free: no
    self-join of the embeddings table (the only join is the
    labels-sized rollup merge)."""
    df = QUERIES["q_embed_diversity"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_silhouette_centroids_broadcast(spark):
    """The labels x d centroid grid must reach the per-vector scoring
    as a broadcast (10-row table), never a shuffle join of the
    embedding corpus."""
    df = QUERIES["q_silhouette_approx"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_permutation_test_explodes_then_combines(spark):
    """The replicate fan-out must be an in-row explode (Generate) with
    a map-side-combinable aggregate — never a shuffle of the ×64
    expanded rows keyed on anything data-sized."""
    df = QUERIES["q_permutation_test"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "Generate" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q1_is_one_pass_partial_agg(spark, monkeypatch):
    """Q1 must be scan → partial agg → single exchange → final agg:
    the map-side combine collapses each partition to ≤6 group rows, so
    exactly one data exchange (hashpartitioning on the group keys) and
    no join appears. Round 12: locally the size-gated spread_scan adds
    one repartition exchange (single-row-group fixture scan); with the
    gate off (the 100 TB shape) the single-exchange pin still holds."""
    df = QUERIES["q_tpch_q1"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    # "Exchange (n)" is the tree form; the detail section repeats the
    # node as "(n) Exchange", so count tree occurrences only
    assert plan.count("Exchange (") <= 2
    assert "Join" not in plan
    assert "HashAggregate" in plan

    from direct_kafka_stream_spark import io as dks_io

    monkeypatch.setattr(dks_io, "_SPREAD_BYTES_PER_CORE", 0)
    df_scale = QUERIES["q_tpch_q1"].spark(spark, SF_DIR)
    plan_scale = inspect.physical_plan(df_scale)
    assert plan_scale.count("Exchange (") == 1
    assert "Join" not in plan_scale


def test_join_bloom_prefilters_before_the_join(spark):
    """The bloom probe must reach the fact scan side BEFORE the join
    (a Filter with the map-probe below the join), the bloom itself
    must arrive by broadcast, and the final join stays an equi hash
    join — never a cartesian product."""
    df = QUERIES["q_join_bloom"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    # try_element_at compiles to element_at(..., failOnError=false);
    # Catalyst folds the probe into the 1-row bloom attach join's
    # condition, which is exactly "filter before the equi join"
    assert "element_at(bf" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bloom broadcast
    assert "CartesianProduct" not in plan
    # tree order: the bloom attach (probe) sits BELOW the equi join
    assert plan.index("BroadcastHashJoin") < plan.index(
        "BroadcastNestedLoopJoin"
    )


def test_textrank_partitions_by_document(spark):
    """Every window/aggregate in TextRank is doc-keyed — the per-doc
    top-1 window must hashpartition on doc_id, never SinglePartition."""
    df = QUERIES["q_textrank"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "hashpartitioning(doc_id" in plan
    assert "SinglePartition" not in plan


def test_holt_reduces_before_the_pandas_stage(spark):
    """Holt's recursion must run AFTER the daily reduction: the
    FlatMapGroupsInPandas (or mapGroups arrow) node consumes the
    aggregated day series, not the raw fact — the aggregate appears
    below the pandas node in the plan."""
    df = QUERIES["q_holt_linear"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "HashAggregate" in plan
    # the aggregate (daily reduction) is a descendant of the pandas
    # stage: it appears after it in the top-down formatted plan
    assert plan.index("FlatMapGroupsInPandas") < plan.rindex("HashAggregate")


def test_bucket_join_has_no_exchange(spark):
    """q_bucket_join's layout contract: with broadcast disabled, the
    join over the two bucketed tables is a SortMergeJoin with ZERO
    Exchange below it — the bucket layout replaced the shuffle. (The
    formatted plan lists leaves first, so "below the join" is BEFORE
    the SortMergeJoin line; the final agg above it still shuffles its
    handful of priority groups.)"""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["q_bucket_join"].spark(spark, SF_DIR)
        plan = inspect.physical_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import re

    assert "SortMergeJoin" in plan
    # formatted node ids are bottom-up (leaves lowest): every Exchange
    # must sit ABOVE the join (the final agg's group shuffle), never
    # below it where the bucket layout did the work
    join_id = int(re.search(r"\((\d+)\) SortMergeJoin", plan).group(1))
    exchange_ids = [int(m) for m in re.findall(r"\((\d+)\) Exchange", plan)]
    assert all(e > join_id for e in exchange_ids), (join_id, exchange_ids)
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_partition_prune_pushes_partition_filters(spark):
    """q_partition_prune's scan must carry non-empty PartitionFilters
    on the day range — pruning resolved at planning time."""
    df = QUERIES["q_partition_prune"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "PartitionFilters: [" in plan
    seg = plan[plan.index("PartitionFilters: [") :]
    head = seg[: seg.index("]")]
    assert "day" in head and "2024-01-08" in head


def test_exchange_reuse_single_shuffle(spark):
    """q_exchange_reuse: the monthly aggregate feeding both the detail
    rows and the global total is shuffled once — the second consumer
    is a ReusedExchange. Pinned with AQE off (the static planner's
    ReuseExchangeAndSubquery rule); under AQE the same dedup happens
    at runtime via shuffle-stage reuse but is not visible as a plan
    node."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    # build FIRST (the registry callable re-applies tune_session, which
    # turns AQE back on), then disable AQE for the lazy planning pass
    df = QUERIES["q_exchange_reuse"].spark(spark, SF_DIR)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = inspect.physical_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in plan


def test_item_cf_reuses_the_basket_exchange(spark):
    """q_item_cf does not persist its baskets: every reference hangs off
    one repartition("u") exchange, which AQE reads back as a
    ReusedExchange (operators/models.py). At this scale the executed final
    plan carries 5 ReusedExchange nodes: the basket shuffle, one join
    shuffle and three reads of one broadcast."""
    df = QUERIES["q_item_cf"].spark(spark, SF_DIR)
    df.collect()  # finalize the AQE plan of THIS execution
    final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    reused = [line for line in final.splitlines() if "ReusedExchange" in line]
    assert len(reused) == 5
    assert sum("REPARTITION_BY_COL" in line for line in reused) == 1


def test_cogroup_asof_single_exchange_per_side(spark):
    """q_cogroup_asof: one hash exchange per input side feeding the
    FlatMapCoGroupsInPandas node — no extra shuffles around the
    per-key compute."""
    import re

    df = QUERIES["q_cogroup_asof"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    # the formatted plan prints each node twice (tree + detail); count
    # the numbered detail entries
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_map_in_arrow_is_shuffle_free(spark):
    """q_map_in_arrow: a pure scan → ArrowEvalPython/MapInArrow stage —
    zero exchanges."""
    df = QUERIES["q_map_in_arrow"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "Exchange" not in plan


def test_pandas_api_lowers_without_python_nodes(spark):
    """q_pandas_api: the pandas-on-Spark program must lower to pure
    Catalyst aggregates — no Python evaluation nodes and no
    AttachDistributedSequence (the index generator that would force a
    single-partition pass) anywhere in the plan."""
    df = QUERIES["q_pandas_api"].spark(spark, SF_DIR)
    plan = inspect.physical_plan(df)
    assert "HashAggregate" in plan
    for bad in ("EvalPython", "AttachDistributedSequence", "MapInPandas"):
        assert bad not in plan, bad


def test_expand_census_is_closed(registry_pass):
    """Expand multiplies every input row once per projection, so an
    UNINTENDED Expand over a fact table is a hot-path bug even when
    values stay correct (q_agg_approx's mixed countDistinct +
    approx_count_distinct aggregate planned one over all of lineitem —
    3.7 s vs 1.3 s at sf0.1 — until its round-10 rewrite to a
    pre-aggregated, Expand-free form). Pin the census: exactly this
    set of queries may carry Expand, each because its SEMANTICS are a
    row-multiplying projection (multi-distinct aggregates, ROLLUP /
    CUBE / GROUPING SETS, overlapping sliding-window assignment,
    UNPIVOT, and the profiling/stats queries built on those shapes).
    A new name in this set means either a deliberate new grouping-sets
    query (extend the pin) or an accidental plan regression (fix the
    query)."""
    expected = {
        "q_agg_distinct",
        "q_agg_rollup",
        "q_agg_cube",
        "q_agg_gsets",
        "q_win_sliding",
        "q_retention",
        "q_unpivot",
        "q_grouping_id",
        "q_profile_table",
        "q_zorder_key",
        "q_domain_stats",
    }
    # the pass takes no census of BUILD_RUNS_JOBS (conftest.QueryRecord)
    got = {n for n, r in registry_pass.items() if r.expand}
    assert got == expected, got.symmetric_difference(expected)
