"""Plan-shape regression tests: the scale posture of each headline operator
is asserted against the physical plan, so a refactor that silently degrades
a plan (lost broadcast, detached pushdown, global sort instead of top-k)
fails loudly."""

from __future__ import annotations

import pyspark.sql.functions as F

from paas_auditor_spark.queries import (
    q_knn_bruteforce,
    q_pricing_summary,
    q_raw_events_page,
    q_regional_revenue,
    q_top_revenue_orders,
    q_unshipped_events,
)

from plan_asserts import assert_plan_contains, assert_plan_lacks, physical_plan


def test_unshipped_events_is_topk_with_pushdown(spark, sf_dir):
    df = q_unshipped_events(spark, sf_dir)
    plan = assert_plan_contains(df, "TakeOrderedAndProject", "PushedFilters")
    # single stage: no shuffle exchange anywhere in the ship query
    assert "Exchange" not in plan


def test_raw_events_page_is_topk(spark, sf_dir):
    df = q_raw_events_page(spark, sf_dir)
    assert_plan_contains(df, "TakeOrderedAndProject")
    assert_plan_lacks(df, "Sort ")  # no global sort for a bounded page


def test_pricing_summary_partial_agg(spark, sf_dir):
    df = q_pricing_summary(spark, sf_dir)
    plan = assert_plan_contains(df, "HashAggregate", "PushedFilters")
    # map-side partial aggregation before the exchange
    assert plan.index("HashAggregate") < plan.rindex("HashAggregate")
    # shipdate filter reaches the parquet scan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_joins_broadcast_small_dims(spark, sf_dir):
    assert_plan_contains(
        q_top_revenue_orders(spark, sf_dir), "BroadcastHashJoin"
    )
    assert_plan_contains(
        q_regional_revenue(spark, sf_dir), "BroadcastHashJoin"
    )


def test_knn_broadcasts_queries(spark, sf_dir):
    df = q_knn_bruteforce(spark, sf_dir)
    assert_plan_contains(df, "BroadcastNestedLoopJoin")


def test_no_python_udfs_in_relational_path(spark, sf_dir):
    # every reference-parity query is pure JVM expressions: no Python
    # evaluation nodes anywhere
    for fn in (q_unshipped_events, q_pricing_summary, q_top_revenue_orders):
        assert_plan_lacks(fn(spark, sf_dir), "BatchEvalPython", "ArrowEvalPython")


def test_approx_distinct_accuracy(spark, sf_dir):
    """HLL++ at rsd=0.01 must land within 2% of the exact counts."""
    from paas_auditor_spark.queries import REGISTRY

    row = REGISTRY["approx_distinct_users"].fn(spark, sf_dir).first()
    from paas_auditor_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    exact_users = events.select("user_id").distinct().count()
    exact_events = events.select("event_id").distinct().count()
    assert abs(row["approx_users"] - exact_users) <= max(2, 0.02 * exact_users)
    assert abs(row["approx_events"] - exact_events) <= 0.02 * exact_events


def test_hll_sketch_union_consistent_with_exact(spark, sf_dir):
    """Daily Datasketches-HLL sketches unioned across days estimate the
    same distinct-user cardinality as an exact count (±3%) — the
    re-aggregability contract the mergeable-sketch rollup relies on."""
    from paas_auditor_spark.queries import REGISTRY
    from paas_auditor_spark.sources.tables import load_table

    row = REGISTRY["hll_mergeable_sketch"].fn(spark, sf_dir).first()
    events = load_table(spark, sf_dir, "events")
    exact = events.select("user_id").distinct().count()
    assert abs(row["distinct_users_via_union"] - exact) <= max(3, 0.03 * exact)
    assert row["n_events"] == events.count()


def test_salted_join_equals_plain_join(spark):
    """Salting must not change join results (inner and left), including
    unmatched-left rows and duplicate small-side keys."""
    from paas_auditor_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", "hot", "cold")]
        + [("orphan", 999)],
        "k string, v long",
    )
    small = spark.createDataFrame(
        [("hot", 1.0), ("cold", 2.0), ("unused", 3.0)], "k string, w double"
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, big.join(small, on="k", how=how).collect())
        )
        salted = sorted(
            map(tuple, salted_join(big, small, on="k", how=how).collect())
        )
        assert salted == plain, how


def test_brand_nation_broadcasts_both_dims(spark, sf_dir):
    from paas_auditor_spark.queries import q_brand_nation_revenue

    plan = assert_plan_contains(
        q_brand_nation_revenue(spark, sf_dir), "BroadcastHashJoin"
    )
    assert plan.count("BroadcastHashJoin") >= 2


def test_pricing_summary_prunes_columns(spark, sf_dir):
    # the scan must not read lineitem columns the query never touches
    df = q_pricing_summary(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_partkey" not in read_schema[0]
    assert "l_suppkey" not in read_schema[0]


def test_order_priority_counts_semi_join_pushdown(spark, sf_dir):
    from paas_auditor_spark.queries import q_order_priority_counts

    df = q_order_priority_counts(spark, sf_dir)
    plan = assert_plan_contains(df, "LeftSemi")
    # the returnflag filter reaches the lineitem parquet scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_promo_revenue_broadcasts_part(spark, sf_dir):
    from paas_auditor_spark.queries import q_promo_revenue

    plan = assert_plan_contains(
        q_promo_revenue(spark, sf_dir), "BroadcastHashJoin", "HashAggregate"
    )
    # partial agg before the final single-group agg
    assert plan.index("HashAggregate") < plan.rindex("HashAggregate")


def test_top_supplier_broadcasts_scalar_max(spark, sf_dir):
    from paas_auditor_spark.queries import q_top_supplier

    assert_plan_contains(
        q_top_supplier(spark, sf_dir), "BroadcastHashJoin"
    )


def test_returned_item_customers_topk_and_broadcast(spark, sf_dir):
    from paas_auditor_spark.queries import q_returned_item_customers

    plan = assert_plan_contains(
        q_returned_item_customers(spark, sf_dir),
        "TakeOrderedAndProject",
        "BroadcastHashJoin",
    )
    assert "EqualTo(l_returnflag,R)" in plan


def test_interval_join_avoids_nested_loop(spark, sf_dir):
    """The binned range join must run as an equi-join on the bin key — a
    BETWEEN theta join would degenerate to BroadcastNestedLoopJoin, which
    is exactly what the operator exists to avoid."""
    from paas_auditor_spark.queries import q_interval_join

    plan = assert_plan_contains(q_interval_join(spark, sf_dir), "Join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_small_quantity_revenue_single_scan_window(spark, sf_dir):
    """Q17 decorrelation as a window aggregate: ONE lineitem scan and one
    partkey shuffle (the agg+self-join form scans twice with no exchange
    reuse because the two branches prune different columns)."""
    import re

    from paas_auditor_spark.queries import q_small_quantity_revenue

    plan = physical_plan(q_small_quantity_revenue(spark, sf_dir))
    assert "Window" in plan
    # formatted explain lists each node twice (tree + details): 1 scan = 2
    assert len(re.findall(r"Scan parquet", plan)) == 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_min_cost_supplier_single_scan_window(spark, sf_dir):
    # Q2-shape correlated min decorrelates to ONE window over ONE lineitem
    # scan — a second FileScan of lineitem would mean the correlated
    # subquery re-scanned the fact table.
    from paas_auditor_spark.queries import q_min_cost_supplier

    df = q_min_cost_supplier(spark, sf_dir)
    plan = assert_plan_contains(df, "Window", "BroadcastHashJoin")
    assert plan.count("lineitem.parquet") == 1


def test_important_parts_no_driver_collect_scalar(spark, sf_dir):
    # Q11-shape global-total comparison stays in-plan: the 1-row total is
    # broadcast-joined, not collected to the driver.
    from paas_auditor_spark.queries import q_important_parts

    df = q_important_parts(spark, sf_dir)
    assert_plan_contains(df, "BroadcastNestedLoopJoin")


def test_lone_returned_supplier_no_fact_self_join(spark, sf_dir):
    # Q21-shape EXISTS/NOT-EXISTS pair decorrelates into a per-order
    # aggregate joined back on the SAME l_orderkey partitioning (the
    # lines↔per-order join is sort-merge on co-partitioned keys — the
    # scale-correct shape, since BOTH sides are order-cardinality at
    # 100 TB); the correlated form would instead re-scan lineitem per
    # branch.  supplier broadcasts; no nested-loop anywhere.
    from paas_auditor_spark.queries import q_lone_returned_supplier

    df = q_lone_returned_supplier(spark, sf_dir)
    plan = assert_plan_contains(
        df, "BroadcastHashJoin", "HashAggregate", "TakeOrderedAndProject"
    )
    assert_plan_lacks(df, "BroadcastNestedLoopJoin", "CartesianProduct")
    # exactly one sort-merge join (lines ↔ per-order), on the order key —
    # formatted explain names each node twice (tree + detail section)
    assert plan.count("SortMergeJoin") == 2


def test_tfidf_broadcasts_df_side(spark, sf_dir):
    # the document-frequency side aggregates to term cardinality and
    # broadcasts; no sort-merge join of two fact-sized sides.
    from paas_auditor_spark.queries import q_tfidf_top_terms

    df = q_tfidf_top_terms(spark, sf_dir)
    assert_plan_contains(df, "BroadcastHashJoin", "Window")
    assert_plan_lacks(df, "SortMergeJoin")


def test_repetition_ratio_stays_jvm_side(spark, sf_dir):
    from paas_auditor_spark.queries import q_repetition_ratio

    df = q_repetition_ratio(spark, sf_dir)
    assert_plan_lacks(
        df, "BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas"
    )


def test_curation_ops_stay_jvm_side(spark, sf_dir):
    # chunking, scrubbing and index build are pure JVM expressions — no
    # Python evaluation nodes in any of them
    from paas_auditor_spark.queries import (
        q_doc_chunks,
        q_inverted_index,
        q_pii_scrub,
    )

    for fn in (q_doc_chunks, q_pii_scrub, q_inverted_index):
        assert_plan_lacks(
            fn(spark, sf_dir),
            "BatchEvalPython",
            "ArrowEvalPython",
            "FlatMapsInPandas",
        )


def test_inverted_index_single_shuffle(spark, sf_dir):
    # one term-keyed exchange feeds the posting-list aggregate; the sort
    # is on the already-small head-term output
    from paas_auditor_spark.queries import q_inverted_index

    df = q_inverted_index(spark, sf_dir)
    plan = assert_plan_contains(df, "HashAggregate")
    assert plan.count("Exchange hashpartitioning") <= 2  # agg + distinct step


def test_bm25_broadcasts_df_not_doclen(spark, sf_dir):
    # the |Q|-row document-frequency frame broadcasts; the corpus-sized
    # doc-length frame must NOT (it shuffle-joins on the id).  The only
    # BroadcastNestedLoopJoins allowed are the Cross-type 1-row stat
    # frames (N, avgdl ride in-plan) — a CONDITIONED BNLJ would mean a
    # theta join over the corpus.
    import re

    from paas_auditor_spark.queries import q_bm25_search

    df = q_bm25_search(spark, sf_dir)
    plan = assert_plan_contains(df, "BroadcastHashJoin")
    # formatted explain puts the node header and its detail block apart:
    # every BNLJ block must read "Join type: Cross" (unconditioned 1-row)
    for m in re.finditer(r"BroadcastNestedLoopJoin\n[^(]*", plan):
        assert "Join type: Cross" in m.group(0), m.group(0)


def test_quantize_and_zorder_stay_jvm_side(spark, sf_dir):
    # SQ8 round-trip metrics and the Morton interleave are pure column
    # expressions — no Python evaluation nodes
    from paas_auditor_spark.queries import q_embedding_quantize, q_zorder_key

    for fn in (q_embedding_quantize, q_zorder_key):
        assert_plan_lacks(
            fn(spark, sf_dir),
            "BatchEvalPython",
            "ArrowEvalPython",
            "FlatMapsInPandas",
        )


def test_zorder_key_is_topk(spark, sf_dir):
    from paas_auditor_spark.queries import q_zorder_key

    assert_plan_contains(q_zorder_key(spark, sf_dir), "TakeOrderedAndProject")


def test_mad_outliers_broadcasts_group_stats(spark, sf_dir):
    # per-type median/MAD frames are tiny and broadcast back onto the
    # facts; the fact table never shuffles on anything but event_type
    from paas_auditor_spark.queries import q_mad_outliers

    df = q_mad_outliers(spark, sf_dir)
    assert_plan_contains(df, "BroadcastHashJoin")


def test_heavy_hitters_single_merge_exchange(spark, sf_dir):
    # MG partials run in the scan stage; the only exchange is the
    # capacity-bounded summary merge (plus the final top-k)
    from paas_auditor_spark.queries import q_heavy_hitters

    df = q_heavy_hitters(spark, sf_dir)
    plan = assert_plan_contains(df, "MapInPandas", "TakeOrderedAndProject")
    assert plan.count("Exchange hashpartitioning") <= 1


def test_argmax_agg_has_no_window_sort(spark, sf_dir):
    # the aggregate argmax must plan as partial+final HashAggregate (or
    # ObjectHashAggregate) with no ranking window and no per-partition
    # sort of the fact table
    from paas_auditor_spark.queries import q_argmax_agg

    df = q_argmax_agg(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Aggregate" in plan


def test_shuffle_hash_hint_avoids_sort(spark, sf_dir):
    # fact-to-fact joins default to sort-merge; the shuffle_hash hint
    # drops both sort passes — the right trade when one side hashes into
    # memory per partition and the output needs no sort order
    from paas_auditor_spark.sources.tables import load_table

    # (at test scale orders broadcasts by default, so pin each strategy
    # with its hint and compare the plan shapes)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    smj = li.join(
        orders.hint("merge"), li.l_orderkey == orders.o_orderkey
    )
    shj = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    smj_plan = smj._jdf.queryExecution().executedPlan().toString()
    shj_plan = shj._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in smj_plan and "Sort " in smj_plan
    assert "ShuffledHashJoin" in shj_plan and "Sort " not in shj_plan


def test_table_profile_approx_has_no_expand(spark, sf_dir):
    # multi-column exact NDV forces an Expand (input x n_cols); the HLL
    # variant must profile every column in one pass without it
    from paas_auditor_spark.queries import (
        q_table_profile,
        q_table_profile_approx,
    )

    exact_plan = (
        q_table_profile(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    approx_plan = (
        q_table_profile_approx(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan  # the cost the approx variant removes
    assert "Expand" not in approx_plan


def test_corpus_ops_stay_jvm_side_with_partial_agg(spark, sf_dir):
    """segment_dedup / lm_perplexity / temperature_sample are pure JVM
    expression plans (no Python nodes), and the term-keyed aggregations
    partial-aggregate map-side before their exchange."""
    from paas_auditor_spark.queries import (
        q_lm_perplexity,
        q_segment_dedup,
        q_temperature_sample,
    )

    for fn in (q_segment_dedup, q_lm_perplexity, q_temperature_sample):
        df = fn(spark, sf_dir)
        assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython", "PythonUDF")
    plan = q_lm_perplexity(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # partial + final HashAggregate pairs around the term shuffles
    assert plan.count("HashAggregate") >= 4


def test_semantic_dedup_single_shuffle_no_join(spark, sf_dir):
    """Cluster assignment is the Arrow matmul (r8 — one ArrowEvalPython,
    never a row-at-a-time BatchEvalPython) plus ONE k-row broadcast join
    that re-computes the winning centroid's cosine JVM-side for exact
    oracle parity; the only corpus SHUFFLE is still the cluster groupBy
    feeding the vectorized per-cluster prune (FlatMapGroupsInPandas),
    and no sort-merge join or window touches the corpus."""
    from paas_auditor_spark.operators import similarity
    from paas_auditor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = similarity.semantic_dedup(emb, k=8, threshold=0.4)
    plan = assert_plan_contains(df, "FlatMapGroupsInPandas")
    assert "ArrowEvalPython" in plan  # the vectorized assignment
    assert "BroadcastHashJoin" in plan  # k-row centroid cosine re-join
    assert "SortMergeJoin" not in plan, plan
    assert_plan_lacks(df, "BatchEvalPython", "Window")


def test_ivfpq_decodes_without_join_and_reranks_shortlist(spark, sf_dir):
    """PQ decode is a narrow map (codebook literals — no join attaches
    the reconstruction), probes broadcast, and the ONLY Python in the
    plan is the Arrow-batched assignment matmul (nearest_lists_udf, the
    r8 replacement for the HOF argmin that scaled O(n_centroids·dim)
    interpreted work per row) — never a row-at-a-time BatchEvalPython."""
    from paas_auditor_spark.queries import q_knn_ivfpq

    df = q_knn_ivfpq(spark, sf_dir)
    plan = assert_plan_contains(df, "BroadcastHashJoin")
    assert_plan_lacks(df, "BatchEvalPython")
    assert "ArrowEvalPython" in plan  # the vectorized assignment
    # candidate ranking + final re-rank are bounded per-query windows,
    # not global sorts over the corpus
    assert "TakeOrderedAndProject" in plan or "Window" in plan


def test_new_ops_stay_jvm_side(spark, sf_dir):
    """Round-5 additions are pure JVM expression plans: no Python eval
    nodes in triangle counting, span dedup, DSIR, or BPE pair counting."""
    from paas_auditor_spark.queries import (
        q_dsir_sample,
        q_duplicate_spans,
        q_triangle_count,
    )

    for fn in (q_triangle_count, q_duplicate_spans, q_dsir_sample):
        assert_plan_lacks(
            fn(spark, sf_dir), "BatchEvalPython", "ArrowEvalPython"
        )


def test_dsir_broadcasts_distribution_tables(spark, sf_dir):
    """The two ≤1024-row bucket-distribution tables and both 1-row totals
    reach the per-doc join as broadcasts — the corpus-sized side never
    shuffles for them."""
    from paas_auditor_spark.queries import q_dsir_sample

    assert_plan_contains(q_dsir_sample(spark, sf_dir), "BroadcastHashJoin")


def test_duplicate_spans_semi_join_marking(spark, sf_dir):
    """Span marking is a semi join against the duplicated-gram set (skew
    splittable), not a count-over-window on the gram key."""
    from paas_auditor_spark.queries import q_duplicate_spans

    df = q_duplicate_spans(spark, sf_dir)
    assert_plan_contains(df, "LeftSemi")


def test_bloom_probe_is_join_free_codegen_filter(spark, sf_dir):
    """The Bloom decontamination probe must be a plain Filter over the
    gram stream — no join attaching the filter (a BroadcastNestedLoopJoin
    condition is evaluated interpreted), no Python nodes, and the only
    join in the plan is the final per-doc left join of the tiny hit
    table."""
    from paas_auditor_spark.queries import q_bloom_decontaminate

    df = q_bloom_decontaminate(spark, sf_dir)
    assert_plan_lacks(
        df, "BroadcastNestedLoopJoin", "BatchEvalPython", "ArrowEvalPython"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the probe itself lives in a Filter node mentioning getbit
    assert "getbit" in plan and "Filter" in plan


def test_token_entropy_broadcasts_scalars_not_vocab_stream(spark, sf_dir):
    """Source totals and the grand total attach as broadcasts; the token
    stream aggregates once (map-side combined) before any join."""
    from paas_auditor_spark.queries import q_token_entropy

    df = q_token_entropy(spark, sf_dir)
    assert_plan_contains(df, "BroadcastHashJoin")
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython")


def test_hard_negatives_streams_corpus_broadcasts_queries(spark, sf_dir):
    """The label-inequality nested loop must build on the (small) query
    batch; the corpus side streams.  BuildRight with the query relation
    on the right is the broadcast we want."""
    from paas_auditor_spark.queries import q_hard_negatives

    df = q_hard_negatives(spark, sf_dir)
    plan = assert_plan_contains(df, "BroadcastNestedLoopJoin")
    assert "BuildRight" in plan


def test_skew_audit_single_count_shuffle_topk(spark, sf_dir):
    """One key-count shuffle, stats attached as a broadcast, bounded
    top-k (no global sort)."""
    from paas_auditor_spark.queries import q_skew_audit

    df = q_skew_audit(spark, sf_dir)
    assert_plan_contains(df, "TakeOrderedAndProject")
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython")


def test_chat_assembly_sorts_in_group_not_globally(spark, sf_dir):
    """The transcript ordering is array_sort inside the aggregate; the
    only Sort node is the bounded final orderBy, and no window runs."""
    from paas_auditor_spark.queries import q_chat_assembly

    df = q_chat_assembly(spark, sf_dir)
    assert_plan_lacks(df, "Window", "BatchEvalPython", "ArrowEvalPython")


def test_corpus_report_no_window_no_python(spark, sf_dir):
    """All per-doc signals fold in one narrow pass; the lang argmax is
    max(struct) — no Window node, no Python nodes, lang table joins
    back broadcast."""
    from paas_auditor_spark.queries import q_corpus_report

    df = q_corpus_report(spark, sf_dir)
    assert_plan_lacks(df, "Window", "BatchEvalPython", "ArrowEvalPython")
    assert_plan_contains(df, "BroadcastHashJoin")


def test_epoch_shuffle_head_is_topk_not_global_sort(spark, sf_dir):
    """The permutation head materializes as TakeOrderedAndProject; the
    row_number window runs only over the post-limit 20 rows."""
    from paas_auditor_spark.queries import q_epoch_shuffle

    df = q_epoch_shuffle(spark, sf_dir)
    assert_plan_contains(df, "TakeOrderedAndProject")


def test_span_removal_no_window_in_reassembly(spark, sf_dir):
    """remove_duplicate_spans reassembles cleaned text with
    array_sort(collect_list) inside the per-doc aggregate — the
    chat_assembly pattern — so the whole plan must carry NO Window node
    (duplicate_spans' interval sweep is the measuring twin; the removal
    path never needs it) and no Python nodes."""
    from paas_auditor_spark.queries import q_span_removal

    df = q_span_removal(spark, sf_dir)
    assert_plan_lacks(df, "Window", "BatchEvalPython", "ArrowEvalPython")


def test_hybrid_rrf_arms_are_topk_not_global_sort(spark, sf_dir):
    """Each retrieval arm cuts to top-50 via TakeOrderedAndProject
    (per-partition top-k + 50-row merge); the single-partition rank
    windows and the fusion join then run over 50-row relations, so the
    corpus never passes through a global sort."""
    from paas_auditor_spark.queries import q_hybrid_search_rrf

    df = q_hybrid_search_rrf(spark, sf_dir)
    plan = assert_plan_contains(df, "TakeOrderedAndProject")
    assert "Sort [s" not in plan  # no full global sort of either arm


def test_bloom_pruned_join_filters_fact_at_the_scan(spark, sf_dir):
    """The runtime-filter prune must sit DIRECTLY over the fact scan —
    no Python nodes, and no Exchange between the probe Filter and the
    lineitem scan it guards — so at scale every join/aggregation
    shuffle above it sees only the admitted fraction.  Asserted
    line-by-line on the executed plan: the xxhash64/getbit Filter's
    subtree reaches the lineitem parquet scan without crossing a
    shuffle (a hoisted probe would put an Exchange in between)."""
    from paas_auditor_spark.queries import q_bloom_pruned_join

    df = q_bloom_pruned_join(spark, sf_dir)
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan and "getbit" in plan
    lines = plan.splitlines()
    probe_i = next(i for i, l in enumerate(lines) if "getbit" in l)
    scan_i = next(
        i
        for i, l in enumerate(lines)
        if i > probe_i and ("Scan parquet" in l or "FileScan" in l)
    )
    assert "lineitem" in lines[scan_i]  # it guards the FACT side
    assert not any(
        "Exchange" in lines[j] for j in range(probe_i, scan_i)
    ), "bloom probe was hoisted above a shuffle — no longer a map-side prune"


def test_quantile_sketch_readoff_is_sketch_sized(spark, sf_dir):
    """Everything after the histogram build runs over constant-sized
    relations: no Python nodes, the totals/cumulative sides ride
    broadcasts, and — the load-bearing claim — NO parquet scan appears
    in the read-off plan at all: the raw events scan lives entirely
    behind the sketch's localCheckpoint (Scan ExistingRDD), so every
    relation the read-off touches is ≤ n_bins × n_probs rows."""
    from paas_auditor_spark.queries import q_quantile_sketch

    df = q_quantile_sketch(spark, sf_dir)
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # totals/cum broadcasts
    assert "Scan ExistingRDD" in plan  # the checkpointed sketch
    assert "Scan parquet" not in plan and "FileScan" not in plan


def test_quality_prune_no_window_and_broadcast(spark, sf_dir):
    """The percentile gate must stay aggregate + broadcast-join: a
    per-source window sort would funnel each source's whole corpus
    through one task."""
    from paas_auditor_spark.queries import q_quality_prune

    df = q_quality_prune(spark, sf_dir)
    assert_plan_contains(df, "BroadcastHashJoin")
    assert_plan_lacks(df, "Window")


def test_rolling_distinct_users_broadcasts_spine(spark, sf_dir):
    """The day spine rides as the broadcast side of the range join; the
    corpus-sized relation is never sorted or nested-loop-probed on the
    streaming side of anything bigger."""
    from paas_auditor_spark.queries import q_rolling_distinct_users

    df = q_rolling_distinct_users(spark, sf_dir)
    assert_plan_contains(df, "BroadcastNestedLoopJoin")
    assert_plan_lacks(df, "CartesianProduct")


def test_ewma_daily_single_key_shuffle(spark, sf_dir):
    """The EWMA fold is one groupBy(key) over the daily rollup: no
    window, no per-row Python."""
    from paas_auditor_spark.queries import q_ewma_daily

    df = q_ewma_daily(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas"):
        assert node not in plan


def test_join_size_estimate_never_joins_fact_rows(spark, sf_dir):
    """The pre-flight estimator joins per-key COUNT relations — the
    fact table itself must never reach a join input (that would be the
    quadratic join we are trying to avoid running)."""
    from paas_auditor_spark.queries import q_join_size_estimate

    df = q_join_size_estimate(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every join input is downstream of an aggregate: the plan's joins
    # appear above (earlier in the tree than) the scans only via
    # HashAggregate nodes, so a partial agg precedes the first join
    assert plan.index("HashAggregate") < plan.index("Join")


def test_final_wave_plan_shapes(spark, sf_dir):
    """Plan pins for the late round-6 queries: topk cuts are
    TakeOrderedAndProject (no global sort) and nothing drops to
    Python evaluation."""
    from paas_auditor_spark.queries import REGISTRY

    for name in ("session_paths", "skipgram_pairs", "ql_search"):
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, name
    for name in (
        "kaplan_meier_retention",
        "user_activity_features",
        "negative_samples",
        "embedding_isotropy",
        "centroid_classifier_eval",
    ):
        plan = (
            REGISTRY[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, (name, node)


def test_sharded_twins_plan_pins(spark, sf_dir):
    """r12 (VERDICT r11 #4): the per-ingest-batch deployment twins'
    docstring claims are plan-asserted — the batch range predicate
    reaches the parquet scan (PushedFilters) and neither twin pays a
    sort-merge join (the persisted model/filter is probed via
    broadcast-semi / map-side literal, never shuffled)."""
    from paas_auditor_spark.queries import REGISTRY

    for name in ("lm_perplexity_sharded", "bloom_decontaminate_sharded"):
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "SortMergeJoin" not in plan, name
        assert "GreaterThanOrEqual(doc_id,16)" in plan, name
        assert "LessThan(doc_id,272)" in plan, name
