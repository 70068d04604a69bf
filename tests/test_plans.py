"""Physical-plan checks that need more than operator counts.

The operator counts of every graded query's pre-AQE plan are pinned in
PLANS.json (tests/test_scale_plans.py::test_plan_signatures_match_committed).
The guards here check what those counts cannot see: filters pushed to
and columns pruned at the scan, partial aggregates, partition keys,
window specs, UDF names, plans AQE finalizes at execution, and frames
built outside ``queries()``.
"""

from __future__ import annotations

from spark_ij_spark.operators import dedup, event_windows, pipeline, relational

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _only_hot_set_bnlj(plan: str) -> None:
    """A nested-loop join in the postings pipeline is only the
    shingle-cap hot-set attach: a broadcast cross join of the bounded
    1-row collect_set of hot shingles. Its flavor (BroadcastNestedLoopJoin
    BuildRight Cross, never an Inner BNLJ with a residual condition)
    is pinned in PLANS.json."""
    n = plan.count("BroadcastNestedLoopJoin")
    if n:
        assert "collect_set" in plan  # the 1-row hot-set build side


def test_q6_filters_pushed_to_scan(spark):
    plan = _plan(relational.q6_forecast_revenue(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    assert "PushedFilters: []" not in plan


def test_q6_column_pruning(spark):
    plan = _plan(relational.q6_forecast_revenue(spark, SF_DIR))
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    # revenue query needs only 4 lineitem columns; pruning must drop the rest
    assert "l_returnflag" not in scan and "l_partkey" not in scan


def test_q1_whole_stage_codegen_no_python(spark):
    df = relational.q1_pricing_summary(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan on execution
    plan = _plan(df)
    # '*(n)' prefixes mark whole-stage-codegen spans in plan strings
    assert "*(1)" in plan and "isFinalPlan=true" in plan
    assert "EvalPython" not in plan  # pure JVM path


def test_simhash_pigeonhole_equi_join(spark):
    plan = _plan(dedup.q_dedup_simhash(spark, SF_DIR))
    _only_hot_set_bnlj(plan)


def test_exact_dedup_partial_aggregation(spark):
    plan = _plan(dedup.q_dedup_exact(spark, SF_DIR))
    # map-side combine: two HashAggregates around one shuffle on the hash key
    assert "partial_min" in plan and "Exchange hashpartitioning" in plan


def test_stratified_sample_single_shuffle(spark):
    """Per-stratum rank = the salted two-stage pair of hash-partition
    exchanges ((lang, salt) then lang over the bounded survivors — see
    PIPE_SALTS), no join."""
    plan = _plan(pipeline.q_pipeline_stratified_sample(spark, SF_DIR))
    assert "pmod" in plan


def test_fused_op_chain_single_arrow_hop(spark):
    """A 3-op fused chain must plan as ONE ArrowEvalPython node AND one
    UDF invocation. (Spark 4.1 already collapses chained dependent
    Arrow UDFs into a single node, but still evaluates k separate UDFs
    there — each paying an image binary pack/unpack cycle; the fused
    chain holds the ndarray in Python across ops, measured ~20% faster
    on a 3-op chain.)"""
    from spark_ij_spark.operators.images import create_empty_images, run_all

    df = create_empty_images(spark, "p", imgs=4, width=8, height=8)
    chain = [("Add Noise", ""), ("Multiply...", "value=2"), ("Median...", "radius=1")]
    fused = _plan(run_all(df, chain))
    assert fused.count("ArrowEvalPython") == 1
    assert fused.count("_udf") == 1  # one fused UDF, not a 3-deep chain
    unfused = df
    for cmd, args in chain:
        unfused = run_all(unfused, cmd, args)
    assert _plan(unfused).count("_udf") == 3  # the shape fusion removes


def test_ops_stage_runs_the_op_chain_once(spark):
    """``image_files``' ops stage (a fused chain read by image_stats and
    image_histogram) lists the chain's UDF call once: the reductions
    take ``image.data``/``image.dtype``, so Spark does not chain the op
    UDF into each of them, where the worker would run it once per
    output. tools/plan_sweep's repeated-call guard passes it."""
    from plan_sweep import forbidden, signature

    from spark_ij_spark.operators.images import (
        create_empty_images,
        image_histogram,
        image_stats,
        run_all,
    )

    df = create_empty_images(spark, "p", imgs=4, width=8, height=8)
    chain = [("Add Noise", ""), ("Multiply...", "value=2")]
    stage = (
        run_all(df, chain)
        .withColumn("stats", image_stats("image"))
        .withColumn("hist", image_histogram("image"))
    )
    plan = _plan(stage)
    assert not forbidden(signature(plan))
    assert plan.count("_udf(image#") == 1


def test_img_sweep_multiply_single_arrow_hop(spark):
    """Sweep fan-out + op + mean must fuse into one Python hop: the
    fan-out is one in-stage JVM generate and op+mean share one UDF."""
    from spark_ij_spark.operators import image_queries

    plan = _plan(image_queries.q_img_sweep_multiply(spark, SF_DIR))
    # ONE fused op+mean UDF; the only other Python hop is the image
    # PRODUCER (pack_pixels). Never a separate node for the swept op
    # (run_op_with_args_col's `_udf`) or a standalone mean UDF.
    assert plan.count("op_mean") == 1
    assert "_udf" not in plan and "img_mean" not in plan
    # the constant parameter list fans out in-stage: no broadcast of a
    # parallelized list, and no exchange between the image producer and
    # the output (the producer's own group-by sits below it)
    assert "Generate inline" in plan
    for node in ("BroadcastExchange", "BroadcastNestedLoopJoin", "Scan ExistingRDD"):
        assert node not in plan, node
    fan_out = plan.split("pack_pixels", 1)[0]
    assert "Generate inline" in fan_out and "Exchange" not in fan_out


def test_q7_q9_q10_broadcast_dims_no_python(spark):
    """The wide TPC-H-style join trees keep nation lookups broadcast,
    filters pushed to the scans, and never leave the JVM."""
    for q in (
        relational.q7_nation_volume,
        relational.q9_profit_by_nation,
        relational.q10_returned_items,
    ):
        plan = _plan(q(spark, SF_DIR))
        assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan, (
            q.__name__
        )


def test_q19_disjunction_stays_hash_join(spark):
    """OR-of-ANDs with a common equi-conjunct must still plan as a
    hash join (Catalyst factors the join key out of the disjunction),
    not a nested-loop join over the disjunction."""
    df = relational.q19_disjunctive_revenue(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # part carries no broadcast hint (it scales with SF — round-8
    # policy); the equi-join factoring shows statically as a sort-merge
    # join, and AQE's runtime sizes turn it into a broadcast at test SF.
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_json_props_jvm_side_partial_agg(spark):
    """JSON path extraction stays in codegen (no Python UDF) and the
    aggregate partial-aggregates before its single exchange."""
    plan = _plan(relational.q_json_props(spark, SF_DIR))
    assert "get_json_object" in plan
    assert "partial" in plan.lower()


def test_stats_moments_single_exchange_no_builtin_corr(spark):
    """Moments derive from exact decimal power sums in one shuffle;
    Spark's order-dependent corr/stddev aggregates must not appear."""
    plan = _plan(relational.q_stats_moments(spark, SF_DIR))
    assert "corr(" not in plan and "stddev" not in plan


def test_rollup_single_fact_scan(spark):
    """The rollup hierarchy must scan events ONCE (hourly persist) and
    derive daily/monthly from in-memory partials."""
    df = event_windows.q_events_rollup(spark, SF_DIR)
    df.collect()  # materialize the persisted hourly frame
    plan = _plan(df)
    # all three levels root at the cached hourly frame (the plan text
    # repeats the cache's parquet lineage, so count cache reads, not
    # scan strings)
    assert plan.count("TableCacheQueryStage") == 3
    assert "EvalPython" not in plan


def test_q2_q12_q16_q20_shapes(spark):
    """The four round-6 TPC-H shapes: dims broadcast, filters pushed to
    the parquet scans, all-JVM plans, and never a cartesian / nested
    loop (Q2's min-cost equality and Q20's half-sum threshold are
    decorrelated into equi-joins)."""
    for q in (
        relational.q2_min_cost_supplier,
        relational.q12_priority_shipping,
        relational.q16_supplier_part_count,
        relational.q20_dominant_supplier,
    ):
        df = q(spark, SF_DIR)
        # static auto-broadcast is off session-wide (plan-time size
        # estimates lie at scale — see session.get_spark); the
        # broadcast decision is AQE's from TRUE runtime sizes, so
        # finalize the plan by executing before asserting it.
        df.collect()
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, q.__name__
        assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan, (
            q.__name__
        )
        assert "EvalPython" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_covariance_single_partial_agg_shuffle(spark):
    """Covariance partials: one Arrow-batched partial-Gram hop (d²
    rows per BATCH — no per-row explode) then ONE keyed exchange
    carrying O(d² x partitions) rows — no join, no Generate."""
    from spark_ij_spark.operators import clustering

    plan = _plan(clustering.q_embed_covariance(spark, SF_DIR))
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_transitions_no_join_two_keyed_shuffles(spark):
    """Transition matrix: lag window keyed on user_id, partial-agg
    shuffle to the tiny (from,to) matrix, window normalization over
    that matrix — no join, no Python, fact table scanned once."""
    from spark_ij_spark.operators import event_windows

    plan = _plan(event_windows.q_events_transitions(spark, SF_DIR))
    assert "partial" in plan.lower()


def test_er_blocked_equi_join_no_cartesian(spark):
    """Entity resolution: records collapse via one partial-agg shuffle,
    candidates come from a hash equi-join on the block key — never a
    cartesian/nested-loop all-pairs — and scoring stays JVM-side."""
    from spark_ij_spark.operators import entity

    plan = _plan(entity.q_er_fuzzy_parts(spark, SF_DIR))
    assert "partial" in plan.lower()  # map-side combine on the agg


def test_incremental_dedup_band_equi_join_no_cartesian(spark):
    """Delta-vs-corpus probe: band equi-join between the two sides,
    never an all-pairs product, JVM-side throughout."""
    plan = _plan(dedup.q_dedup_incremental(spark, SF_DIR))
    _only_hot_set_bnlj(plan)


def test_bpe_pairs_map_only_partial_agg(spark):
    """BPE pair counts: double explode stays codegen (no Python, no
    join); the groupBy partial-aggregates map-side before exchange."""
    from spark_ij_spark.operators import text

    plan = _plan(text.q_text_bpe_pairs(spark, SF_DIR))
    assert "partial_count" in plan or "partial" in plan.lower()


def test_zorder_map_only_zvalue_no_join(spark):
    """Z-order stats: the Morton interleave is a pure codegen integer
    expression; the grid bounds ride along as a 1-row broadcast
    aggregate (the ONLY join), so the sole single-partition pass left
    is the intrinsic ntile range-split — the old MIN/MAX OVER ()
    funneled the whole table through one reducer a second time."""
    from spark_ij_spark.operators import layout

    plan = _plan(layout.q_zorder_stats(spark, SF_DIR))
    # One data scan + one bounds-aggregate scan; the bounds pass is
    # parallel partial-agg, not a global window.
    assert plan.count("windowspecdefinition") == 1


def test_pagerank_keyed_joins_no_cartesian(spark):
    """PageRank (production, LSH-edged since r9): every iteration is a
    src-keyed equi-join + dst-keyed partial agg, and edge generation
    is the band equi-join + candidate-only verify — the entire graded
    plan is JVM-side Catalyst, zero Python. The exact twin keeps the
    cogrouped block-matmul edge baseline, whose only BNLJ is the
    O(EMBED_BLOCKS)-row block-replication broadcast (condition on the
    block-id column ob)."""
    from spark_ij_spark.operators import dedup

    # the exact twin's loop output no longer carries the edge
    # generator's lineage (deg is checkpointed), so assert the
    # cogrouped block-matmul shape on the EDGE frame itself
    plan_edges = _plan(dedup.q_dedup_embedding(spark, SF_DIR))
    for line in plan_edges.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "ob#" in line, line


def test_phrase_search_filters_postings_before_join(spark):
    """Phrase search: the token filter reaches below the join (each
    side scans only its term's postings — plan shows the token
    equality filters), adjacency is an equi-join, no cartesian, no
    Python."""
    from spark_ij_spark.operators import text

    plan = _plan(text.q_text_phrase_search(spark, SF_DIR))
    for term in text.PHRASE:
        assert term in plan  # the per-term posting filters survive


def test_calibrated_mix_broadcast_budgets_one_window(spark):
    """Calibrated mix: O(tiers) budgets and O(tiers·2^MIX_RANGE_BITS)
    bucket offsets join back broadcast; the corpus walk is ONE window
    keyed by (tier, b) — the r11 order-aligned bucket decomposition
    (4096 strata, no per-tier single-reducer sort) — and the corpus is
    never joined big-to-big or globally sorted."""
    import re

    from spark_ij_spark.operators import pipeline

    plan = _plan(pipeline.q_pipeline_calibrated_mix(spark, SF_DIR))
    # the corpus window's exchange must carry the order-aligned bucket
    # key, not bare tier (which would be a 4-reducer straggler at scale)
    assert re.search(r"hashpartitioning\(tier#\d+, b#\d+L?, ", plan)


def test_weighted_sample_single_shuffle_no_join(spark):
    """ES weighted sampling: draw key is map-only codegen; selection
    is the salted two-stage per-stratum window pair (see PIPE_SALTS) —
    no join, no global sort of the corpus, no Python."""
    from spark_ij_spark.operators import pipeline

    plan = _plan(pipeline.q_pipeline_weighted_sample(spark, SF_DIR))
    assert "pmod" in plan


def test_skew_profile_single_fact_scan(spark):
    """Join-key skew profile: the fact table is scanned once into a
    partial-aggregating groupBy; the 1-row totals frame comes back as
    a broadcast (BNLJ of one row, by design), never re-shuffling or
    globally sorting the key histogram."""
    from spark_ij_spark.operators import profile

    plan = _plan(profile.q_join_key_skew(spark, SF_DIR))
    assert "partial_count" in plan or "partial" in plan.lower()


def test_triangles_equi_joins_only(spark):
    """Forward triangle counting: every join (wedge + closure) must be
    an equi-join — a cartesian wedge product is the scale failure the
    degree orientation exists to prevent."""
    plan = _plan(dedup.q_dedup_triangles(spark, SF_DIR))
    _only_hot_set_bnlj(plan)


def test_q18_aqe_broadcasts_post_having_agg(spark):
    """Q18: after the HAVING collapses the orderkey aggregate, AQE
    must convert the orders/customer joins to broadcasts at runtime —
    a static sort-merge on the full orders table would shuffle data
    the filter already discarded."""
    df = relational.q18_large_volume_customers(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan


def test_compaction_broadcast_calibration_metadata_window(spark):
    """Compaction plan: the per-source target attaches as a broadcast
    (calibrate-then-apply), the window runs on the aggregated manifest
    (below both Window inputs sits a HashAggregate, never the raw
    scan), and everything stays JVM-side."""
    from spark_ij_spark.operators import layout

    plan = _plan(layout.q_layout_compaction(spark, SF_DIR))
    # the Window's input subtree must contain the manifest aggregate
    w = plan.index("Window")
    assert "HashAggregate" in plan[w:]


def test_session_paths_user_keyed_windows_only(spark):
    """Session paths: the gaps-and-islands windows and the visit
    collect all key on user_id — no global window, no Python hop."""
    plan = _plan(event_windows.q_events_session_paths(spark, SF_DIR))
    assert "windowspecdefinition(user_id" in plan


def test_padding_waste_map_only_no_join(spark):
    """Padding audit: token count + granularity explode are map-only;
    the only shuffle is the O(granularities) aggregate."""
    plan = _plan(pipeline.q_pipeline_padding_waste(spark, SF_DIR))
    assert "Generate explode" in plan


def test_lsh_member_index_counts_join_is_broadcast(spark):
    """The per-(t,bucket) occupancy join inside the LSH member index
    (round-10 candidate budget) must plan as a broadcast hash join —
    the counts side is provably bounded (≤ 2^NBITS × NTABLES rows);
    dropping the explicit hint would re-shuffle the corpus-sized
    bucket frame on (t,bucket) for a ≤2048-row side."""
    from spark_ij_spark.operators import similarity

    # plan the member index ALONE: in the full query another legitimate
    # broadcast hint could mask a dropped counts hint (round-10 review)
    mem_plan = _plan(
        similarity._lsh_member_index(similarity.lsh_buckets(spark, SF_DIR))
    )
    assert "BroadcastHashJoin" in mem_plan
    assert "SortMergeJoin" not in mem_plan and "ShuffledHashJoin" not in mem_plan
    plan = _plan(similarity.q_ann_lsh(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_recursive_hierarchy_conf_is_session_scoped(spark):
    """q_recursive_hierarchy self-provisions cteRecursionRowLimit to
    the Int max (its recursion frame is corpus-linear and trips the
    1e6 default at 10x data) — but on an ISOLATED memoized child
    session, so the caller's safety valve stays default for every
    other query (r11 review: the conf is read at execution time, so
    an unscoped set would have disabled the valve session-wide).
    Also pins that the partition-independence axis reaches the child:
    runtime shuffle-partition changes on the parent must propagate
    (newSession only merges builder-time conf)."""
    from spark_ij_spark.operators import relational as rel

    default_limit = spark.conf.get("spark.sql.cteRecursionRowLimit")
    df = rel.q_recursive_hierarchy(spark, SF_DIR)
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == default_limit
    child = df.sparkSession
    assert child is not spark
    assert child.conf.get("spark.sql.cteRecursionRowLimit") == str(2**31 - 1)
    # memoized: a second build reuses the same child session
    assert rel.q_recursive_hierarchy(spark, SF_DIR).sparkSession is child
    # runtime conf propagation (the --partitions axis)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        df2 = rel.q_recursive_hierarchy(spark, SF_DIR)
        assert df2.sparkSession.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
