"""Plan-shape regression tests: pin the physical properties each operator
was designed for.  These encode real pathologies found while profiling
(see git log: single-partition prep, inferred-constraint recompute, filter
inlining) so they cannot silently return."""

from __future__ import annotations


from cloudcomputing_flink_application_spark.plans.inspect import (
    count_in_plan,
    distinct_exchange_count,
    optimized_plan,
    physical_plan,
    scan_filters_containing,
)
from cloudcomputing_flink_application_spark.operators import dedup as _dedup
from cloudcomputing_flink_application_spark.operators import similarity as _sim
from cloudcomputing_flink_application_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _docs_op(op):
    return lambda spark, sf: op(spark.read.parquet(f"{sf}/documents.parquet"))


def _embs_op(op):
    return lambda spark, sf: op(spark.read.parquet(f"{sf}/embeddings.parquet"))


#: r7 consolidation: these operators left the registry (they are covered by
#: the method-keyed union entries) but their plan properties stay pinned
#: individually here.
COMPONENTS = {
    "dedup_minhash_lsh": _docs_op(_dedup.minhash_lsh_dedup),
    "dedup_ngram_jaccard": _docs_op(_dedup.ngram_jaccard_dedup),
    "dedup_embedding_cosine": _embs_op(_dedup.embedding_cosine_dedup),
    "ann_cosine_topk": _embs_op(_sim.cosine_topk),
    "ann_cosine_topk_ivf": _embs_op(_sim.cosine_topk_ivf),
}


def _fn(name):
    return REGISTRY[name].fn if name in REGISTRY else COMPONENTS[name]


def test_q_speed_filter_and_pruning_reach_scan(spark):
    df = REGISTRY["q_speed"].fn(spark, SF)
    plan = physical_plan(df)
    # column pruning: the events scan must read only the derivation inputs
    read_schemas = [l for l in plan.split("\n") if "ReadSchema" in l]
    assert read_schemas and all(
        "props" not in l and "event_type" not in l and "value" not in l
        for l in read_schemas
    ), read_schemas


def test_q_cong_single_aggregate_no_extra_shuffle(spark):
    df = REGISTRY["q_cong"].fn(spark, SF)
    # one hash-partitioning exchange for the day-window aggregate; partial
    # aggregation handles the rest map-side (the reference needed a
    # parallelism-1 windowAll here)
    assert count_in_plan(df, "hashpartitioning", physical=True) == 1


def test_heavy_exprs_never_in_scan_filters(spark):
    # the InferFiltersFromConstraints pathology: md5/array pipelines dragged
    # into scan-side isnotnull filters
    for name in (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "text_fingerprint",
        "pipe_decontam",
        "pipe_contam_report",
        "pipe_repetition",
    ):
        df = _fn(name)(spark, SF)
        assert scan_filters_containing(df, "md5") == 0, name


def test_pair_ops_have_pushdown_barrier(spark):
    # jaccard/cosine predicates must stay above the Window barrier, not
    # inline into join conditions (4x per-pair recompute)
    for name, heavy in (
        ("dedup_ngram_jaccard", "array_intersect"),
        ("dedup_minhash_lsh", "array_intersect"),
    ):
        df = _fn(name)(spark, SF)
        plan = optimized_plan(df)
        join_lines = [l for l in plan.split("\n") if "Join" in l and heavy in l]
        assert not join_lines, f"{name}: {heavy} leaked into a join condition"


def test_topk_broadcasts_queries(spark):
    df = _fn("ann_cosine_topk")(spark, SF)
    assert count_in_plan(df, "BroadcastExchange", physical=True) >= 1


def test_pair_ops_repartition_before_projection(spark):
    # per-doc array prep must not run on the single-partition scan
    for name in (
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_embedding_cosine",
        "pipe_decontam",
        "pipe_contam_report",
        "pipe_repetition",
    ):
        df = _fn(name)(spark, SF)
        assert count_in_plan(df, "REPARTITION_BY_NUM", physical=True) >= 1, name


def test_all_queries_compile(spark):
    # every registry entry must at least produce an executable plan
    for name, q in REGISTRY.items():
        df = q.fn(spark, SF)
        assert physical_plan(df), name


def test_ngram_big_corpus_path_is_shuffle_join(spark):
    # Above the broadcast row gate the join must become a shuffle equi-join
    # on the block key — broadcasting a 100 TB corpus is an OOM, not a plan.
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from cloudcomputing_flink_application_spark.operators.dedup import (
        ngram_jaccard_dedup,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = ngram_jaccard_dedup(docs, broadcast_max_bytes=0)
        plan = physical_plan(df)
        assert "SortMergeJoin" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ivf_codebook_aggregates_once(spark):
    # The IVF codebook (full-corpus min_by aggregation) feeds BOTH the
    # vector-assignment and the query-probe broadcasts, and Spark gives the
    # two consumers NO exchange reuse (measured: 0 ReusedExchange in the
    # unpersisted executed plan).  The persist() makes the second consumer
    # an InMemoryTableScan; without it the whole-corpus aggregation runs
    # twice — this test pins the cache, i.e. that both broadcast sides read
    # the cached codebook instead of re-aggregating.
    from cloudcomputing_flink_application_spark.operators import similarity

    try:
        df = _fn("ann_cosine_topk_ivf")(spark, SF)
        plan = physical_plan(df)
        assert plan.count("InMemoryTableScan") >= 2, plan
    finally:
        similarity.release_cached()


def test_shipping_priority_topk_without_global_window(spark):
    # The Q3 top-k must plan as TakeOrderedAndProject (distributed partial
    # top-k); a global row_number window here would drag every qualifying
    # order through one task (the token_freq pathology).
    df = REGISTRY["olap_shipping_priority"].fn(spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_large_orders_topk_and_pruned_fact_scan(spark):
    # Q18 shape: the top-k must be a distributed TakeOrderedAndProject (no
    # global sort), joins must stay hash/broadcast (no cartesian), and the
    # lineitem scan must be pruned to exactly the aggregate's two columns.
    df = REGISTRY["olap_large_orders"].fn(spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_large_orders_aqe_runtime_broadcast_of_having_side(spark):
    # The regression canary the Q18 docstring claims: with STATIC broadcast
    # disabled (the 100 TB situation — no input relation fits the static
    # threshold), AQE must still see the post-HAVING aggregate's runtime
    # size and convert the orders join from sort-merge to broadcast-hash.
    # Executed-plan check: the initial plan carries the SMJ, the final
    # adaptive plan must not.
    static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    adaptive = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
        df = REGISTRY["olap_large_orders"].fn(spark, SF)
        df.collect()
        plan = physical_plan(df)
        assert "isFinalPlan=true" in plan, plan
        final, _, initial = plan.partition("== Initial Plan ==")
        assert "SortMergeJoin" in initial, plan  # static planner's choice
        assert "SortMergeJoin" not in final, plan  # AQE re-planned it away
        # both joins end broadcast: the runtime-sized HAVING side + customer
        assert final.count("BroadcastHashJoin") == 2, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", static)
        if adaptive is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", adaptive)


def test_range_count_is_banded_equi_join_not_nested_loop(spark):
    # The ±window self-join must decompose into a bucket equi-join; a
    # BroadcastNestedLoopJoin here means the band blocking regressed to
    # an all-pairs range predicate.
    df = REGISTRY["ts_range_count"].fn(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_span_stats_partial_agg_count_no_hot_hash_window(spark):
    # The span pass's occurrence count must be a groupBy (map-side
    # PARTIAL aggregation collapses a boilerplate hot window-hash per
    # task; AQE can skew-split the semi-join probe) and NOT a
    # count-over-window partitioned by h — window aggregates get no
    # partial agg and AQE cannot split a window partition, so one
    # corpus-wide license-header hash would become a straggler task
    # (r6 VERDICT).  The only Window node allowed is the per-doc
    # coverage window (partitioned by doc_id).  The md5 window pipeline
    # must still never inline into scan-side filters.
    import re

    from cloudcomputing_flink_application_spark.operators.pipeline import (
        dup_span_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = dup_span_stats(docs)
    plan = physical_plan(df)
    assert scan_filters_containing(df, "md5") == 0
    for m in re.finditer(r"Window \[.*?\], \[(\w+)#", plan):
        assert m.group(1) == "doc_id", f"Window partitioned by {m.group(1)}:\n{plan}"
    # the h-count reaches the exchange pre-collapsed: a partial_count
    # keyed by h must exist somewhere in the plan tree
    assert re.search(r"HashAggregate\(keys=\[h#\d+\], functions=\[partial_count", plan), plan
    # exchange budget: h (count agg + semi-join probe side), doc_id
    # (coverage window + fused groupBy) — the pathology pinned out is a
    # FIFTH row-sized exchange (groupBy re-exchange after the window)
    assert count_in_plan(df, "hashpartitioning", physical=True) <= 4, plan


def test_olap_star_shapes_single_fact_shuffle(spark):
    # Q5/Q7: every dimension broadcasts and the fact side shuffles at most
    # once (the final small-key aggregate); no cartesian anywhere.
    from cloudcomputing_flink_application_spark.operators.olap import (
        local_supplier_volume,
        nation_trade_volume,
    )

    for fn in (local_supplier_volume, nation_trade_volume):
        df = fn(spark, SF)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, plan
        assert count_in_plan(df, "hashpartitioning", physical=True) <= 1, plan


def test_disjunctive_predicate_decomposes_to_scans(spark):
    # Q19's OR-of-ANDs spans both join sides; Catalyst must derive pushed
    # per-table predicates (the brand union on part) rather than
    # evaluating the whole disjunction post-join only.
    from cloudcomputing_flink_application_spark.operators.olap import (
        disjunctive_revenue,
    )

    df = disjunctive_revenue(spark, SF)
    plan = physical_plan(df)
    part_scans = [
        l for l in plan.split("\n") if "PushedFilters" in l and "p_brand" in l
    ]
    assert part_scans, plan
    li_scans = [
        l for l in plan.split("\n") if "PushedFilters" in l and "l_quantity" in l
    ]
    assert li_scans, plan


def test_r7_composed_queries_plan_shapes(spark):
    # The r7 composed registry entries must not cost more than their
    # components: no cartesian anywhere; the span composition SHARES the
    # persisted window rows between its stats and scrub arms (>= 2
    # InMemoryTableScans) instead of re-exploding; the OLAP suite's only
    # nested-loop join is Q22's one-row scalar-subquery broadcast; exchange
    # budgets pin the no-extra-shuffle property with slack for AQE.
    # Plan shapes depend on what the CacheManager currently holds (an
    # earlier test's persisted frame substitutes InMemoryTableScans and
    # changes exchange counts), so pin a CLEAN cache state first.
    spark.catalog.clearCache()
    _dedup.release_cached()
    _sim.release_cached()

    budgets = {  # name -> (max hashpartitioning, max BroadcastNestedLoopJoin)
        "text_span_scrub": (5, 0),
        "pipe_prep": (8, 3),       # 3 BNLJ = the scalar/vocab 1-row broadcasts
        # r8: the union grew Q6/Q10/Q14/Q17 arms — Q10 adds its
        # per-customer aggregate exchange, Q17 its per-part window
        # exchange; Q6/Q14 are single-row aggregates with no row-sized
        # exchange.  r9: the fourteen-arm union measures 17 exchanges
        # (over the r8 five: Q20's pair agg + slice window + name agg,
        # Q21's orderkey window + name agg, Q8's fact-fact orderkey
        # join + year agg, Q15's suppkey agg, Q16's two-phase distinct
        # agg, Q9's fact-fact join + (nation,year) agg) — ceiling 18
        # (one spare).
        "olap_suite_extra": (18, 1),
        # r15: the tokset-keyed collapse (one group window replacing the
        # text-keyed one) nests persisted frames, and every consumer
        # re-renders each cachedPlan — substring counts became render
        # counts, so this row pins DISTINCT exchanges instead
        # (plan_id-deduped): 2 real hashpartitioning exchanges measured
        # at construction (the rest sit behind persisted subtrees /
        # AQE), generous ceiling 10 for cache-state variation.
        "dedup_text_pairs": (10, 0),
    }
    try:
        for name, (max_ex, max_bnlj) in budgets.items():
            df = REGISTRY[name].fn(spark, SF)
            plan = physical_plan(df)
            assert "CartesianProduct" not in plan, name
            if name == "dedup_text_pairs":
                got_ex = distinct_exchange_count(df)
            else:
                got_ex = count_in_plan(df, "hashpartitioning", physical=True)
            assert got_ex <= max_ex, (name, got_ex, plan)
            assert plan.count("BroadcastNestedLoopJoin") <= max_bnlj, (name, plan)
        span = REGISTRY["text_span_scrub"].fn(spark, SF)
        assert physical_plan(span).count("InMemoryTableScan") >= 2
    finally:
        _dedup.release_cached()
        _sim.release_cached()


def test_r8_olap_shapes_pushdown_and_single_fact_shuffle(spark):
    # Q6: the pure filter-aggregate — all three predicates reach the
    # parquet scan; the only exchange is the single-row final aggregate.
    from cloudcomputing_flink_application_spark.operators.olap import (
        forecast_revenue,
        promo_revenue_share,
        returned_item_revenue,
        small_quantity_revenue,
    )

    df = forecast_revenue(spark, SF)
    plan = physical_plan(df)
    pushed = [l for l in plan.split("\n") if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), plan
    assert any("l_quantity" in l for l in pushed), plan
    # the discount band pushes via its SARGable envelope (the exact
    # cents band is a round+cast residual no scan can take)
    assert any("l_discount" in l for l in pushed), plan
    assert "hashpartitioning" not in plan, plan  # single-row agg only

    # Q10: quarter + returnflag pushed; one row-sized shuffle (the
    # per-customer aggregate); customer/nation broadcast; top-k is
    # TakeOrderedAndProject, never a global Sort.
    df = returned_item_revenue(spark, SF)
    plan = physical_plan(df)
    assert any(
        "PushedFilters" in l and "l_returnflag" in l for l in plan.split("\n")
    ), plan
    assert count_in_plan(df, "hashpartitioning", physical=True) <= 1, plan
    assert "TakeOrderedAndProject" in plan, plan

    # Q14: month pushed to the fact scan, part broadcast, ONE single-row
    # aggregate pass (numerator and denominator in the same agg).
    df = promo_revenue_share(spark, SF)
    plan = physical_plan(df)
    assert any(
        "PushedFilters" in l and "l_shipdate" in l for l in plan.split("\n")
    ), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning" not in plan, plan

    # Q17: the brand broadcast gates the ONE fact scan; the
    # decorrelated per-part window shuffles only the brand slice (one
    # hashpartitioning exchange on partkey).
    df = small_quantity_revenue(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert count_in_plan(df, "hashpartitioning", physical=True) <= 1, plan
    assert "CartesianProduct" not in plan, plan
    # ONE lineitem scan (the r8 review caught the join-back form
    # scanning the fact twice)
    assert plan.count("lineitem.parquet") == 1, plan


def test_r9_olap_decorrelation_plan_shapes(spark):
    # Q20 (nested IN over a correlated aggregate): ONE fact scan with
    # the ship window AND the p_name prefix pushed (StringStartsWith
    # reaches the part scan); the correlated per-part total is a window
    # over the (part, supplier) AGGREGATE slice — so of the <=3
    # exchanges only the pair groupBy is corpus-sized, and the fact is
    # never scanned twice.
    from cloudcomputing_flink_application_spark.operators.olap import (
        dominant_suppliers,
        waiting_suppliers,
    )

    df = dominant_suppliers(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    pushed = [l for l in plan.split("\n") if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), plan
    assert any("StringStartsWith(p_name" in l for l in pushed), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert count_in_plan(df, "hashpartitioning", physical=True) <= 3, plan

    # Q21 (chained EXISTS/NOT EXISTS self-reference): ONE lineitem scan
    # — the per-order distinct-supplier counts are window aggregates, so
    # the self-reference never reads the fact twice; orders arrives
    # pruned (status pushed) and projected; top-k is
    # TakeOrderedAndProject, never a global sort; supplier/nation
    # broadcast.
    df = waiting_suppliers(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert any(
        "PushedFilters" in l and "o_orderstatus,F" in l
        for l in plan.split("\n")
    ), plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert count_in_plan(df, "hashpartitioning", physical=True) <= 2, plan

    # Q8 (seven-table star, nation joined twice): one scan of EACH fact,
    # type filter broadcast into lineitem, date window pushed to orders,
    # everything else broadcast; the only exchanges are the fact-fact
    # orderkey join (one hash partitioning per side — neither fact is
    # broadcastable at scale) and the two-row year aggregate.
    from cloudcomputing_flink_application_spark.operators.olap import (
        market_share,
    )

    df = market_share(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("orders.parquet") == 1, plan
    assert any(
        "PushedFilters" in l and "o_orderdate" in l for l in plan.split("\n")
    ), plan
    assert "CartesianProduct" not in plan, plan
    assert count_in_plan(df, "hashpartitioning", physical=True) <= 3, plan


def test_r9b_olap_shapes_plan_pins(spark):
    from cloudcomputing_flink_application_spark.operators.olap import (
        nation_profit,
        supplier_counts,
        top_supplier,
    )

    # Q15 (scalar-max subquery): revenue0 computed ONCE — one lineitem
    # scan, ship window pushed; the global max is an empty-partition
    # window over the dimension-sized per-supplier aggregate (a
    # SinglePartition exchange, never a hash shuffle); supplier broadcast.
    df = top_supplier(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert any(
        "PushedFilters" in l and "l_shipdate" in l for l in plan.split("\n")
    ), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert count_in_plan(df, "hashpartitioning", physical=True) <= 1, plan

    # Q16 (count-distinct + NOT IN): part slice broadcast into the one
    # fact scan, blacklist as a broadcast LEFT ANTI (never a shuffle),
    # distinct aggregation's two-phase exchange only.
    df = supplier_counts(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert count_in_plan(df, "hashpartitioning", physical=True) <= 2, plan

    # Q9 (profit star): name-substring filter pushed to the part scan,
    # part/supplier/nation broadcast, the orderkey fact-fact join (both
    # sides exchange) + the tiny (nation, year) aggregate.
    df = nation_profit(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("orders.parquet") == 1, plan
    assert any(
        "StringContains(p_name" in l for l in plan.split("\n")
    ), plan
    assert "CartesianProduct" not in plan, plan
    assert count_in_plan(df, "hashpartitioning", physical=True) <= 3, plan


def test_r11_profile_and_pack_plan_shapes(spark):
    """r11 second block: the profile pair prunes the documents scan to
    its two derivation inputs, the sketch twin's distinct aggregation is
    map-side partial (HLL merge states, not token rows, cross the
    exchange), and SemDeDup's pre-collapse aggregates partially too."""
    from cloudcomputing_flink_application_spark.operators import (
        dedup as _dd,
        textstats as _ts,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for op in (_ts.corpus_profile, _ts.corpus_profile_exact):
        plan = physical_plan(op(docs))
        read_schemas = [l for l in plan.split("\n") if "ReadSchema" in l]
        # column pruning: lang / n_chars never read (profile derives
        # lengths from text and groups by source)
        assert read_schemas and all(
            "lang" not in l and "n_chars" not in l for l in read_schemas
        ), (op.__name__, read_schemas)
    sketch_plan = physical_plan(_ts.corpus_profile(docs))
    # the HLL aggregation is two-phase: partial_hll_sketch_agg runs below
    # the source exchange on BOTH branches (doc hashes and the exploded
    # token stream) — sketch states cross the exchange, token rows do not
    assert sketch_plan.count("partial_hll_sketch_agg") >= 2, sketch_plan[:2000]

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    # the exact-cohort pre-collapse is a hash aggregate (partial_min
    # map-side), never a window sort over the (cluster, hash) cohort.
    # Pin the REP-MAP stage directly: inside the full operator the CC
    # checkpoint truncates this stage out of the executed plan, so a
    # whole-operator assertion would match the keep-rule's min and pass
    # vacuously (r11 review).
    from cloudcomputing_flink_application_spark.operators import similarity as _sim2

    base = _sim2._normed(embs)
    asg = _sim2._assign_to_centroids(
        base, _sim2._twolevel_seeds(base, _sim2.SUBK), keep_score=True
    )
    rep_plan = physical_plan(_dd._semantic_rep_map(asg))
    assert "partial_min" in rep_plan.lower(), rep_plan[:2000]
    # the cohort min must never be a window function — asg legitimately
    # carries the assignment's arank row_number window (twice: the rep
    # map self-joins), so pin the precise property instead of "no
    # Window anywhere": no Window node computes a min
    win_min_lines = [
        l for l in rep_plan.split("\n") if "Window" in l and "min(" in l
    ]
    assert not win_min_lines, win_min_lines


def test_r12_chunk_then_bin_plan_shapes(spark):
    """r12 chunk-then-bin: the piece split prunes the documents scan to
    its three inputs (doc_id, source, text — lang/n_chars never read),
    and the FFD packer's Arrow exchange carries only the NARROW item
    rows (no text column crosses into the applyInPandas stage; piece
    text joins back outside the packer)."""
    from cloudcomputing_flink_application_spark.operators import (
        pipeline as _pl,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical_plan(_pl.chunk_oversize_docs(docs))
    read_schemas = [l for l in plan.split("\n") if "ReadSchema" in l]
    assert read_schemas and all(
        "lang" not in l and "n_chars" not in l for l in read_schemas
    ), read_schemas

    bins_plan = physical_plan(_pl.pack_bins_chunked(docs))
    # the one FlatMapGroupsInPandas stage consumes (doc_id, piece,
    # source, pack_key, n_tok) only — grep the stage's argument list
    # for a text column leak
    pandas_lines = [
        l for l in bins_plan.split("\n") if "FlatMapGroupsInPandas" in l
    ]
    assert pandas_lines and all("text" not in l for l in pandas_lines), (
        pandas_lines
    )


def test_suite_extra_sql_arms_equal_dsl(spark, sf_dir):
    """r14 optimization round: the registry suite_extra arms are built as
    one Spark-SQL statement each (construction-cost fix — ~8.5k py4j
    round trips of Column-DSL building per rebuild became 14 JVM-side
    parses); this pins every SQL arm row-for-row and dtype-for-dtype
    against its Column-DSL reference twin, so a dialect slip in a
    statement cannot ship silently (the DSL twins keep their own DuckDB
    parity gates in test_offregistry_parity.py).  Also verified at
    sf0.01 and sf0.1 when introduced (0 differing rows, all 14 arms)."""
    from cloudcomputing_flink_application_spark.operators import olap

    sql_arms = olap.suite_extra_arms(spark, sf_dir)
    dsl_arms = olap.suite_extra_arms(spark, sf_dir, dsl=True)
    assert list(sql_arms) == list(dsl_arms)
    for name, dsl_df in dsl_arms.items():
        sql_df = sql_arms[name]
        assert [
            (f.name, f.dataType.simpleString()) for f in sql_df.schema.fields
        ] == [
            (f.name, f.dataType.simpleString()) for f in dsl_df.schema.fields
        ], name
        assert sql_df.exceptAll(dsl_df).count() == 0, name
        assert dsl_df.exceptAll(sql_df).count() == 0, name


def test_suite_extra_equals_its_arm_trace(spark, sf_dir):
    """r14 (VERDICT r13 #2): bench.py's per-arm stderr trace times
    ``olap.suite_extra_arms``; this pins that the registry union IS
    exactly those fourteen arms, so the trace attributes the real row's
    cost (a drifted arm can't hide outside the trace, and the trace
    can't time a frame the union doesn't ship)."""
    from cloudcomputing_flink_application_spark.operators import olap
    from tests.conftest import rows_set

    arms = olap.suite_extra_arms(spark, sf_dir)
    assert list(arms) == [
        "q5_local_volume", "q7_trade_volume", "q19_disjunctive",
        "q22_idle", "q6_forecast", "q10_returned", "q14_promo",
        "q17_smallqty", "q20_dominant", "q21_waiting", "q8_mktshare",
        "q15_topsupp", "q16_suppcnt", "q9_profit",
    ]
    union_rows = rows_set(olap.suite_extra(spark, sf_dir))
    arm_rows = set()
    for df in arms.values():
        arm_rows |= rows_set(df)
    assert union_rows == arm_rows
    # every arm contributes (a degenerate empty arm would make the
    # trace silently under-attribute)
    shapes = {r[0] for r in union_rows}
    assert shapes == set(arms)


def test_olap_scan_memoization(spark, sf_dir):
    """r14 (VERDICT r13 #2 adjudication): the olap_suite_extra creep was
    plan CONSTRUCTION — 49 repeated spark.read.parquet calls per build
    at ~135 ms each.  _scan memoizes one scan DataFrame per (session,
    path); different dirs stay distinct, and correctness is covered by
    the unchanged oracle parity over the whole family."""
    from cloudcomputing_flink_application_spark.operators import olap
    from tests.conftest import TESTDATA

    a = olap._scan(spark, sf_dir, "nation")
    assert olap._scan(spark, sf_dir, "nation") is a
    other = olap._scan(spark, f"{TESTDATA}/sf0.01", "nation")
    assert other is not a
    assert a.count() == other.count() == 25


def test_distinct_exchange_count_reads_bracketed_partitioning(spark, monkeypatch):
    # a partitioning expression with brackets (arr[0]) used to hide the
    # exchange's plan_id, so the count read 0 and any budget passed
    import pytest
    from pyspark.sql import functions as F

    from cloudcomputing_flink_application_spark.plans import inspect

    df = (
        spark.range(8)
        .select(F.array(F.col("id"), F.col("id") + 1).alias("arr"))
        .repartition(4, F.col("arr")[0])
    )
    assert "Exchange hashpartitioning" in physical_plan(df)
    assert distinct_exchange_count(df) == 1
    # an exchange whose id cannot be read is an error, not a zero
    monkeypatch.setattr(
        inspect, "physical_plan", lambda _df: "+- Exchange hashpartitioning(x#1, 4)\n"
    )
    with pytest.raises(ValueError, match="plan_id"):
        distinct_exchange_count(df)
