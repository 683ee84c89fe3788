"""Plan-shape regression tests: the scale design is asserted from the
physical plan, not inferred from small-data timings.

Each test pins a property that matters at 100 TB:
- the flagship rollup broadcasts the closure dim and shuffles the fact
  stream exactly once (for the final aggregation);
- filters and column pruning reach the parquet scans;
- per-document (map-only) operators have ZERO shuffles;
- LSH candidate generation shuffles on the bucket key only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ibis_olap_aggregation_spark import queries as q
from ibis_olap_aggregation_spark.plans import inspect as pi
from ibis_olap_aggregation_spark.session import load_table


def test_rollup_broadcasts_dim_and_prunes_fact_scan(spark, sf_small):
    df = q.QUERIES["hierarchy_geo_rollup_orders"](spark, sf_small)
    assert pi.has_broadcast_join(df), "closure dim must broadcast-join"
    # orders scan reads only the columns the query needs
    for cols in pi.scan_columns(df):
        if "o_custkey" in cols:
            assert "o_comment" not in cols and len(cols) <= 4, cols
    # fact-side shuffles after the (cached) dim build: the group-by agg,
    # the two-phase COUNT(DISTINCT) expansion, and the final sort = 4.
    # Never a shuffle per join (the closure join is broadcast).
    assert pi.count_exchanges(df, executed=True) <= 4, pi.physical_plan(
        df, executed=True
    )


def test_shuffled_rollup_has_no_broadcast_and_matches_broadcast_twin(
    spark, sf_small
):
    """hierarchy_geo_rollup_orders_shuffled (broadcast_dim=False): the
    10M-node-hierarchy regime where the closure is past broadcast
    reach. Pinned: ZERO BroadcastExchange anywhere in the plan (every
    dim attach is a sort-merge join) and the rows are bit-identical to
    the broadcast flagship."""
    df_s = q.QUERIES["hierarchy_geo_rollup_orders_shuffled"](spark, sf_small)
    # the EXECUTING plan: the cached dim's stored build lineage (display
    # only — the cache is read, its broadcasts never run) and the AQE
    # initial plan are stripped first
    plan = pi._strip_non_executing(pi.physical_plan(df_s, executed=True))
    assert "BroadcastExchange" not in plan, plan
    assert plan.count("SortMergeJoin") >= 3, plan
    df_b = q.QUERIES["hierarchy_geo_rollup_orders"](spark, sf_small)
    assert [tuple(r) for r in df_s.collect()] == [
        tuple(r) for r in df_b.collect()
    ]


def test_rollup_auto_regime_probes_row_count(spark, sf_small, monkeypatch):
    """broadcast_dim='auto' picks broadcast under the row cap and
    sort-merge above it (cap forced to 1 to simulate a 10M-node dim)."""
    from ibis_olap_aggregation_spark import rollup as r
    from ibis_olap_aggregation_spark import session

    dim = q._geo_dim(spark, sf_small).aggregation_dim
    orders = load_table(spark, sf_small, "orders")

    def build():
        return r.hierarchical_rollup_additive(
            orders,
            dim,
            "o_custkey",
            sum_cols=[("o_totalprice", "s")],
            broadcast_dim="auto",
        )

    assert pi.has_broadcast_join(build())
    monkeypatch.setattr(session, "DIM_BROADCAST_ROW_CAP", 1)
    plan = pi._strip_non_executing(pi.physical_plan(build(), executed=True))
    assert "BroadcastExchange" not in plan, plan


def test_filter_pushdown_reaches_scan(spark, sf_small):
    li = load_table(spark, sf_small, "lineitem")
    df = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    pushed = pi.pushed_filters(df)
    assert any("GreaterThan(l_quantity" in p for p in pushed), pushed
    assert pi.scan_columns(df) == [["l_orderkey", "l_quantity"]]


def test_map_only_operators_have_no_shuffle(spark, sf_small):
    for name in ("text_token_stats", "text_quality_score", "text_fingerprint",
                 "dedup_minhash_signatures", "multimodal_media_features"):
        df = q.QUERIES[name](spark, sf_small)
        assert pi.count_exchanges(df) == 0, f"{name} should be map-only"


def test_lsh_candidates_shuffle_on_bucket_only(spark, sf_small):
    # cached sub-bucket plans from earlier tests get substituted by
    # plan-equality and reprint their lineage, inflating text counts —
    # clear for a deterministic plan
    spark.catalog.clearCache()
    df = q.QUERIES["dedup_minhash_lsh_candidates"](spark, sf_small)
    # window sizing + sub-bucket groupBy collapse onto the band-bucket
    # key; the salt self-join broadcasts the compact sub-bucket table;
    # pair groupBy is the last shuffle. Never a corpus self-join.
    assert pi.count_exchanges(df) <= 3, pi.physical_plan(df)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rollup_is_codegened(spark, sf_small):
    df = q.QUERIES["hierarchy_geo_rollup_orders"](spark, sf_small)
    assert pi.codegen_stage_count(df) >= 2


def test_pipeline_map_only_operators_have_no_shuffle(spark, sf_small):
    for name in ("text_repetition_signals", "text_chunk_documents",
                 "text_redact_patterns"):
        df = q.QUERIES[name](spark, sf_small)
        assert pi.count_exchanges(df) == 0, f"{name} should be map-only"


def test_samplers_single_aggregation_shuffle(spark, sf_small):
    # at most the one groupBy exchange (a single-partition input at this
    # sf can satisfy the aggregation with none at all)
    for name in ("sample_split_assign", "sample_domain_weighted"):
        df = q.QUERIES[name](spark, sf_small)
        assert pi.count_exchanges(df) <= 1, f"{name}: one groupBy shuffle"


def test_additive_rollup_has_no_expand(spark, sf_small):
    """The leaf-grain rollup replaces the countDistinct-with-other-aggs
    Expand plan (which doubles the shuffled row count) with independent
    single-purpose aggregation branches."""
    df = q.QUERIES["hierarchy_part_rollup_lineitem"](spark, sf_small)
    assert "Expand" not in pi.physical_plan(df)
    assert pi.has_broadcast_join(df)


def test_semantic_dedup_joins_are_equi(spark, sf_small):
    """SemDeDup's PAIR GENERATION must join equi on the cluster id — a
    cartesian/nested-loop pair join is the all-pairs anti-pattern. The
    centroid SCORER's broadcast nested-loop (build side = the k-row
    centroid-array table) is the one sanctioned non-equi join: its
    output is |vectors| x k, bounded by the centroid count, so the
    guard asserts every BNLJ in the plan broadcasts the centroid
    arrays and none sits between two vector-sized relations."""
    plan = pi.physical_plan(q.QUERIES["dedup_semantic_ivf"](spark, sf_small))
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin (Build\w+), (\w+)", plan):
        build, jtype = m.groups()
        # the scorer's shape and nothing else: k centroid arrays
        # broadcast on the right of a Cross
        assert (build, jtype) == ("BuildRight", "Cross"), plan
    # the broadcast build side must be the centroid-array aggregate
    # (collect_list of (dim, cval) structs), never a vector-sized table
    if "BroadcastNestedLoopJoin" in plan:
        assert "collect_list" in plan


def test_containment_never_all_pairs(spark, sf_small):
    plan = pi.physical_plan(q.QUERIES["dedup_minhash_containment"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q19_disjunction_pushes_to_scans(spark, sf_small):
    """Q19's OR-of-brackets: Catalyst must extract the per-side residual
    disjunctions and push them into both parquet scans."""
    df = q.QUERIES["tpch_q19_disjunctive_revenue"](spark, sf_small)
    pushed = " ".join(pi.pushed_filters(df))
    assert "Or(" in pushed, pushed


def test_gapfill_grid_broadcasts_into_fact_join(spark, sf_small):
    """The dense grid (hours x types — data-size-independent) must be
    the broadcast side of the final left join; the fact table must
    never shuffle for that join."""
    df = q.QUERIES["events_gapfill_hourly"](spark, sf_small)
    assert pi.has_broadcast_join(df), pi.physical_plan(df)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan  # 1-row bounds x types is BNLJ/broadcast


def test_affinity_pairs_join_is_equi_on_orderkey(spark, sf_small):
    """Basket self-join must co-partition on l_orderkey (pair cost ~
    per-basket square) — never a cartesian/broadcast-nested-loop over
    items."""
    df = q.QUERIES["affinity_part_pairs_topk"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # top-20 via per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in pi.physical_plan(df, executed=True)


def test_rfm_has_no_single_partition_window(spark, sf_small):
    """All three global ntiles must run through the range-partitioned
    ranker: no window may execute on a single partition spanning the
    whole customer table (SinglePartition only for sub-window-width
    inputs ranked in ONE range partition is fine — assert instead that
    no `ntile` window function appears at all)."""
    df = q.QUERIES["customer_rfm_segments"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "ntile(" not in plan, plan


def test_span_dedup_shuffles_on_key_and_doc_only(spark, sf_small):
    """Span dedup: exactly the documented two shuffle families (span-key
    window + doc-grain regroup); the document text itself is never
    joined pairwise."""
    df = q.QUERIES["dedup_exact_substring_spans"](spark, sf_small)
    assert pi.count_exchanges(df) <= 2, pi.physical_plan(df)


def test_time_rollup_broadcasts_closure_and_prunes_orders(spark, sf_small):
    df = q.QUERIES["hierarchy_time_rollup"](spark, sf_small)
    assert pi.has_broadcast_join(df), "closure slice must broadcast-join"
    for cols in pi.scan_columns(df):
        if "o_custkey" in cols:
            # only the join key, the date, and the measure are read
            assert set(cols) <= {"o_custkey", "o_orderdate", "o_totalprice"}, cols
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan


def test_shard_manifest_single_aggregation_shuffle(spark, sf_small):
    # map-side-combined groupBy on the md5 shard id: exactly one exchange
    df = q.QUERIES["sample_shard_manifest"](spark, sf_small)
    assert pi.count_exchanges(df, executed=True) == 1, pi.physical_plan(
        df, executed=True
    )


def test_session_features_single_user_shuffle(spark, sf_small):
    # both windows AND the final (user_id, session_seq) groupBy must ride
    # ONE hash exchange on user_id (hash on a prefix satisfies the
    # superset clustering requirement) — a second shuffle here would
    # re-move the whole event stream at scale
    df = q.QUERIES["window_session_features"](spark, sf_small)
    assert pi.count_exchanges(df, executed=True) == 1, pi.physical_plan(
        df, executed=True
    )


def test_zorder_skipping_only_intended_broadcast_fanout(spark, sf_small):
    # the probe-grid fanout (128 stat rows x 32 probes) is an intended
    # tiny broadcast nested loop; there must be no CartesianProduct and
    # no OTHER nested-loop join in the plan
    spark.catalog.clearCache()
    df = q.QUERIES["layout_zorder_file_skipping"](spark, sf_small)
    plan = pi.physical_plan(df, executed=True)
    assert "CartesianProduct" not in plan
    # <= 2: the fanout subtree PRINTS twice because the file-stats
    # lineage is referenced by both the hits and n_files branches (same
    # duplicated-lineage artifact the dedup plane-fanout test documents)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:2000]


def test_pretoken_and_frame_sample_map_only(spark, sf_small):
    for name in ("text_pretoken_count", "multimodal_frame_sample"):
        df = q.QUERIES[name](spark, sf_small)
        assert pi.count_exchanges(df) == 0, f"{name} should be map-only"


def test_unpivot_expands_map_side_single_agg_shuffle(spark, sf_small):
    df = q.QUERIES["unpivot_measures_long"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "Expand" in plan, "unpivot should compile to an Expand node"
    # Expand happens map-side; the only shuffle is the final aggregation
    # (elided entirely when the sf0.001 scan is a single partition)
    assert pi.count_exchanges(df) <= 1, plan


def test_incremental_dedup_joins_are_equi(spark, sf_small):
    spark.catalog.clearCache()
    df = q.QUERIES["dedup_incremental_new_docs"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidate generation joins bands on (band_id, band_hash) — never
    # a new-batch x corpus cross pair
    assert "band_hash" in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_small):
    """Spark's runtime bloom-filter join pruning — the 100 TB lever that
    drops non-matching fact rows BEFORE the shuffle when the other side
    is selectively filtered. At production scale it fires out of the box
    (application-side scan >= 10 GiB, creation side <= 10 MiB); test
    scans are far below the gate, so this pins the behavior with the
    thresholds scoped down — if an engine upgrade or a session conf
    change silently disables the rewrite, this fails."""
    keep = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: broadcast joins don't need the filter
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ord_ = load_table(spark, sf_small, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_small, "lineitem")
        j = (
            li.join(ord_, li.l_orderkey == ord_.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, sf_small, tmp_path):
    """Dynamic partition pruning — the second runtime 100 TB lever: a
    fact table partitioned on the join column scans ONLY the partitions
    the (attribute-filtered) dimension selects, discovered at runtime
    via a broadcast subquery. Pinned on a year-partitioned orders copy
    joined to an attribute-filtered year dim."""
    import os

    from ibis_olap_aggregation_spark.sources.io import write_partitioned

    orders = load_table(spark, sf_small, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = os.path.join(str(tmp_path), "orders_p")
    write_partitioned(orders, path, ["o_year"])
    fact = spark.read.parquet(path)
    ydim = spark.createDataFrame(
        [(y, "recent" if y >= 1997 else "old") for y in range(1992, 1999)],
        "o_year int, era string",
    )
    j = (
        fact.join(F.broadcast(ydim.filter("era = 'recent'")), "o_year")
        .groupBy("o_year")
        .count()
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_burst_cap_window_is_composite_partitioned(spark, sf_small):
    """The rank window must partition by (user_id, minute bucket) — a
    per-user unbounded window would put a whole user's history in one
    task at 100 TB; a global window would be a single-partition cliff."""
    plan = pi.physical_plan(q.QUERIES["events_burst_cap"](spark, sf_small))
    assert "row_number()" in plan
    # window partition spec carries both keys
    import re

    m = re.search(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert m and "user_id" in m.group(1) and "_minute" in m.group(1), plan


def test_benchmark_contamination_broadcasts_eval_keys(spark, sf_small):
    """The train-side probe must hash-join a BROADCAST benchmark key
    set — shuffling the train shingles against the (small) benchmark
    would move the corpus for nothing."""
    df = q.QUERIES["dedup_benchmark_contamination"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_part_sketch_rollup_no_expand_and_broadcast_closure(spark, sf_small):
    """The sketch branch must not trigger the Expand-based distinct plan
    (the whole point of the sketch), and both branches take the closure
    via broadcast."""
    df = q.QUERIES["agg_approx_distinct_part_rollup"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "hll_sketch_agg" in plan
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_join_registry_query_has_no_join_exchange(spark, sf_small):
    """source_bucketed_join: the SMJ over two tables bucketed on the
    join key must read bucket files directly — its only Exchange is the
    downstream groupBy on c_mktsegment (a different key), never one on
    the join inputs. The write-once shuffle is the whole point."""
    df = q.QUERIES["source_bucketed_join"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(o_custkey" not in plan, plan
    assert "Exchange hashpartitioning(c_custkey" not in plan, plan
    # exactly the aggregation shuffle survives
    assert pi.count_exchanges(df) <= 1, plan
    # bucket layout reaches the scan
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan


def test_lca_pairs_is_dim_sized_and_fact_free(spark, sf_small):
    """hierarchy_lca_nation_pairs never touches a fact table: every
    scan in the plan is dimension input (region/nation/customer via
    the node seed) — no orders/lineitem columns anywhere — and the
    pair window partitions by the pair key, not a single partition."""
    df = q.QUERIES["hierarchy_lca_nation_pairs"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "o_orderkey" not in plan and "l_orderkey" not in plan
    # the per-pair argmax window is keyed (no global single-partition window)
    assert "SinglePartition" not in plan, plan


def test_pq_adc_broadcasts_codebook_no_cartesian(spark, sf_small):
    """sim_pq_adc_topk: codebook (128 rows) and LUT broadcast; the
    top-10 is a distributed TakeOrdered, not a corpus-wide
    single-partition sort; and nothing materializes a corpus x corpus
    cartesian (the broadcast nested-loop attaches are single-row/
    codebook-sized sides only)."""
    df = q.QUERIES["sim_pq_adc_topk"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_pit_join_is_equi_keyed_not_nested_loop(spark, sf_small):
    """scd2_point_in_time_join: the interval predicate must ride as a
    RESIDUAL filter on a user_id equi-join — a planner that fell back
    to BroadcastNestedLoop/Cartesian for the range condition would be
    quadratic at scale. All windows partition by user_id (never a
    single-partition sort of the event stream)."""
    df = q.QUERIES["scd2_point_in_time_join"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan
    assert "SinglePartition" not in plan, plan


def test_scd2_dim_build_windows_are_user_partitioned(spark, sf_small):
    df = q.QUERIES["scd2_user_tier_dim"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "SinglePartition" not in plan, plan


def test_pagerank_has_no_cartesian_and_caches_edges(spark, sf_small):
    """graph_pagerank_copurchase: the single-row N attaches broadcast;
    nothing materializes a node x node or edge x edge cartesian, and
    the edge list is served from the tracked cache (InMemoryTableScan)
    instead of re-running the O(k^2) pair build per iteration."""
    df = q.QUERIES["graph_pagerank_copurchase"](spark, sf_small)
    plan = pi.physical_plan(df, executed=True)
    assert "CartesianProduct" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    from ibis_olap_aggregation_spark.session import release_query_caches

    release_query_caches()


def test_pareto_frontier_broadcasts_price_verdict(spark, sf_small):
    """pareto_frontier_parts: the price-grain verdict table (distinct
    prices) broadcast-joins back onto parts — the fact-side scan is
    never shuffled for the join — and the part scan is pruned to the
    4 needed columns."""
    df = q.QUERIES["pareto_frontier_parts"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    for cols in pi.scan_columns(df):
        assert len(cols) <= 4, cols


def test_triangle_clustering_no_cartesian_caches_edges(spark, sf_small):
    """graph_triangle_clustering: the wedge enumeration must stay
    equi-keyed (no cartesian/nested-loop anywhere) and the distinct
    edge list must serve from the tracked cache, not re-run the pair
    self-join for each of its four consumers."""
    df = q.QUERIES["graph_triangle_clustering"](spark, sf_small)
    plan = pi.physical_plan(df, executed=True)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    from ibis_olap_aggregation_spark.session import release_query_caches

    release_query_caches()


def test_triangle_clustering_join_regime_switch(spark, sf_small, monkeypatch):
    """The adjacency attach is edge-list-sized in total payload, so it
    broadcasts only below TRIANGLE_BROADCAST_EDGE_CAP; above the cap
    the enumeration runs as sort-merge joins. Both regimes are pinned
    from the plan AND produce identical output (the switch changes the
    physical strategy, never the triangle set)."""
    from ibis_olap_aggregation_spark.operators import graph as g
    from ibis_olap_aggregation_spark.session import release_query_caches

    df_b = q.QUERIES["graph_triangle_clustering"](spark, sf_small)
    plan_b = pi.physical_plan(df_b)
    # BroadcastHashJoin, not BroadcastExchange: join SELECTION is in
    # sparkPlan; the exchange operator is only inserted by
    # EnsureRequirements (executedPlan). The old assertion passed by
    # accident — the pre-rewrite pair build's cached InMemoryRelation
    # printed an executed build plan (display-only) that happened to
    # contain the exchange string.
    assert "BroadcastHashJoin" in plan_b, plan_b
    rows_b = [tuple(r) for r in df_b.collect()]
    release_query_caches()

    monkeypatch.setattr(g, "TRIANGLE_BROADCAST_EDGE_CAP", 1)
    df_m = q.QUERIES["graph_triangle_clustering"](spark, sf_small)
    plan_m = pi.physical_plan(df_m)
    # both adjacency attaches run as sort-merge joins in the large
    # regime (the node-sized degree attach at the end may still
    # auto-broadcast — that one IS node-sized and stays legal)
    assert plan_m.count("SortMergeJoin") >= 2, plan_m
    rows_m = [tuple(r) for r in df_m.collect()]
    release_query_caches()
    assert rows_b == rows_m


def test_trimmed_mean_broadcasts_bounds(spark, sf_small):
    """agg_trimmed_mean: the per-group percentile bounds (group-count
    rows) broadcast back onto the fact stream — the big side is never
    re-shuffled for the bounds attach."""
    df = q.QUERIES["agg_trimmed_mean"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    for cols in pi.scan_columns(df):
        assert set(cols) <= {"l_returnflag", "l_extendedprice"}, cols


def test_lift_filters_pairs_before_support_joins(spark, sf_small):
    """affinity_rules_lift: the min-support filter must land on the
    pair aggregate BEFORE the support attaches (both of which
    broadcast), so the post-aggregation stream is pruned early."""
    df = q.QUERIES["affinity_rules_lift"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the >= 5 cut appears as a Filter on the count aggregate, upstream
    # of the broadcast joins (string order in the tree: joins print
    # above their children)
    assert "(n_both" in plan or "count(1)#" in plan, plan


def test_salted_join_partitions_on_flag_and_salt(spark, sf_small):
    """skew_salted_join: the join exchange must partition on BOTH the
    logical key and the salt (that IS the skew cut), and the 3-row dim
    side must not be broadcast (the hint pins the shuffle join the
    pattern exists for)."""
    df = q.QUERIES["skew_salted_join"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "BroadcastHashJoin" not in plan, plan
    import re as _re

    # the SMJ's key lists carry the distribution requirement — its
    # exchanges partition on exactly these keys
    smj = _re.search(r"SortMergeJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert smj, plan
    left_keys, right_keys = smj.group(1), smj.group(2)
    assert "l_returnflag" in left_keys and "salt" in left_keys, plan
    assert "rf" in right_keys and "salt" in right_keys, plan


def test_round9_pair_generators_are_equi_joined(spark, sf_small):
    """Every round-9 operator that generates pairs must do it through
    an EQUI join (bucket keys, band keys, doc keys, node keys) — never
    a cartesian/nested-loop. The interval overlap join additionally
    pins its residual-filter shape: the overlap predicate must not be
    the JOIN condition (that would be the all-pairs theta join)."""
    for name in (
        "interval_overlap_pairs",
        "multimodal_phash_neardup",
        "graph_degree_assortativity",
        "emb_covariance_top_pairs",
        "text_pmi_cooccurrence",
    ):
        df = q.QUERIES[name](spark, sf_small)
        plan = pi.physical_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
    from ibis_olap_aggregation_spark.session import release_query_caches

    release_query_caches()


def test_pagerank_join_regime_switch(spark, sf_small, monkeypatch):
    """graph_pagerank_copurchase: the rank vector (and the part-name
    decorate) is NODE-sized, so it broadcasts only below
    PAGERANK_BROADCAST_NODE_CAP; above the cap every node-sized attach
    runs as a sort-merge join — no ~320 MB broadcast re-shipped per
    iteration on a 20M-part graph. Both regimes are pinned from the
    plan AND produce identical output."""
    from ibis_olap_aggregation_spark.operators import graph as g
    from ibis_olap_aggregation_spark.session import release_query_caches

    df_b = q.QUERIES["graph_pagerank_copurchase"](spark, sf_small)
    plan_b = pi.physical_plan(df_b)
    assert "BroadcastExchange" in plan_b, plan_b
    rows_b = [tuple(r) for r in df_b.collect()]
    release_query_caches()

    monkeypatch.setattr(g, "PAGERANK_BROADCAST_NODE_CAP", 1)
    df_m = q.QUERIES["graph_pagerank_copurchase"](spark, sf_small)
    plan_m = pi.physical_plan(df_m)
    # the final decorate joins run as sort-merge in the large regime
    # (the per-iteration joins live behind the iteration pins and are
    # exercised by the output equality); the cap probe rides the
    # already-collected n_nodes, so no extra job is added either way
    assert plan_m.count("SortMergeJoin") >= 1, plan_m
    assert "BroadcastExchange" not in pi._strip_non_executing(plan_m), plan_m
    rows_m = [tuple(r) for r in df_m.collect()]
    release_query_caches()
    assert rows_b == rows_m


def test_tpch_q2_dim_join_regime_switch(spark, sf_small, monkeypatch):
    """tpch_q2: supplier (SFx10k) and the filtered part probe (SFx200k)
    are SF-LINEAR sides, so they broadcast only below
    queries.DIM_BROADCAST_ROW_CAP (bounded row-count probe via
    queries.dim_side) and attach as sort-merge joins above it —
    nation/region keep their unconditional broadcasts (constant 25/5
    rows). Both regimes pinned from the plan AND identical output."""
    df_b = q.QUERIES["tpch_q2_min_cost_supplier"](spark, sf_small)
    plan_b = pi.physical_plan(df_b)
    assert "BroadcastHashJoin" in plan_b, plan_b
    rows_b = [tuple(r) for r in df_b.collect()]

    import ibis_olap_aggregation_spark.session as sess

    monkeypatch.setattr(sess, "DIM_BROADCAST_ROW_CAP", 1)
    df_m = q.QUERIES["tpch_q2_min_cost_supplier"](spark, sf_small)
    plan_m = pi.physical_plan(df_m)
    # supplier + part attaches run as sort-merge in the large regime
    # (two supplier attaches — costs is built once but referenced on
    # both sides of the min-cost self-join — plus the part probe);
    # nation/region broadcasts (constant-size) legitimately remain
    assert plan_m.count("SortMergeJoin") >= 2, plan_m
    rows_m = [tuple(r) for r in df_m.collect()]
    assert rows_b == rows_m


def test_copurchase_cosine_support_regime_switch(spark, sf_small, monkeypatch):
    """graph_copurchase_cosine: the per-part support aggregate is
    NODE-sized (SF-linear, PageRank's rank-vector shape), so both
    attaches broadcast only below PAGERANK_BROADCAST_NODE_CAP and run
    as sort-merge joins above it. Both regimes pinned from the plan
    AND identical output."""
    from ibis_olap_aggregation_spark.operators import graph as g
    from ibis_olap_aggregation_spark.session import release_query_caches

    df_b = q.QUERIES["graph_copurchase_cosine"](spark, sf_small)
    plan_b = pi.physical_plan(df_b)
    assert "BroadcastHashJoin" in plan_b, plan_b
    rows_b = [tuple(r) for r in df_b.collect()]
    release_query_caches()

    monkeypatch.setattr(g, "PAGERANK_BROADCAST_NODE_CAP", 1)
    df_m = q.QUERIES["graph_copurchase_cosine"](spark, sf_small)
    plan_m = pi.physical_plan(df_m)
    # both support attaches run as sort-merge; the pair build's
    # lineitem self-join is UN-hinted (Catalyst/AQE sizes it from real
    # statistics — broadcast at sf0.001, sort-merge at scale), so it is
    # legitimately allowed to stay a broadcast join here
    assert plan_m.count("SortMergeJoin") >= 2, plan_m
    rows_m = [tuple(r) for r in df_m.collect()]
    release_query_caches()
    assert rows_b == rows_m


def test_range_search_plan_broadcasts_query_sides_only(spark, sf_small):
    """sim_range_search (round 12): candidates come from the bucket
    equi-join against the BROADCAST query-signature set — never a
    cartesian pair enumeration — and the only other broadcast is the
    explicitly N_QUERIES-filtered query-vector side; the corpus streams
    through sort/hash joins. Also: the embeddings scan is pruned to the
    columns used."""
    df = q.QUERIES["sim_range_search"](spark, sf_small)
    plan = pi._strip_non_executing(pi.physical_plan(df, executed=True))
    assert "CartesianProduct" not in plan, plan
    assert pi.has_broadcast_join(df)
    for cols in pi.scan_columns(df):
        assert "vec_id" in cols and len(cols) <= 3, cols


def test_kaplan_meier_plan_pushes_type_filters_and_prunes(spark, sf_small):
    """events_survival_kaplan_meier: the signup/purchase event_type
    filters reach the parquet scans (PushedFilters), the scans read
    only (user_id, ts, event_type), and the single-partition cumulative
    window runs at DAY grain only (after the day aggregation), never on
    the event stream."""
    df = q.QUERIES["events_survival_kaplan_meier"](spark, sf_small)
    pushed = " ".join(pi.pushed_filters(df))
    assert "event_type" in pushed, pushed
    for cols in pi.scan_columns(df):
        assert set(cols) <= {"user_id", "ts", "event_type"}, cols
    # the global windows sit above a HashAggregate on `day` — assert the
    # day agg exists (window input is day-grain, calendar-bounded)
    plan = pi.physical_plan(df)
    assert "Window" in plan and "day" in plan, plan


def test_pack_sequences_prunes_text_and_shuffles_on_shard_only(spark, sf_small):
    """pipeline_pack_sequences: the docstring's scale claims, pinned —
    the documents scan reads ONLY (doc_id, n_chars) (text never leaves
    the footer), and the single shuffle is the shard-partitioned window
    (+ the final pack aggregation on the same grain)."""
    df = q.QUERIES["pipeline_pack_sequences"](spark, sf_small)
    assert pi.scan_columns(df) == [["doc_id", "n_chars"]], pi.scan_columns(df)
    plan = pi.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert pi.count_exchanges(df) <= 2, pi.physical_plan(df)


def test_mixture_weights_prune_to_footer_columns(spark, sf_small):
    """text_mixture_temperature_weights: text is never read (lang +
    n_chars only), and the unpartitioned windows sit above the lang
    aggregate (bounded-enum rows), not the document stream — asserted
    by the HashAggregate appearing below the Window in the plan."""
    df = q.QUERIES["text_mixture_temperature_weights"](spark, sf_small)
    for cols in pi.scan_columns(df):
        assert set(cols) <= {"lang", "n_chars", "doc_id"}, cols
        assert "text" not in cols
    plan = pi.physical_plan(df)
    win = plan.find("Window")
    agg = plan.rfind("HashAggregate")
    assert win != -1 and agg > win, plan


def test_bloom_semi_probe_side_never_shuffles_before_prune(spark, sf_small):
    """join_bloom_pruned_semi: the three bloom stages are BROADCAST
    left-semi joins (the probe stream is never exchanged for them) and
    the lineitem scan is pruned to the five columns used."""
    df = q.QUERIES["join_bloom_pruned_semi"](spark, sf_small)
    plan = pi._strip_non_executing(pi.physical_plan(df, executed=True))
    import re as _re

    semis = _re.findall(r"BroadcastHashJoin .*LeftSemi", plan)
    from ibis_olap_aggregation_spark.operators.relational import BLOOM_K

    assert len(semis) >= BLOOM_K, plan
    for cols in pi.scan_columns(df):
        if "l_orderkey" in cols:
            assert set(cols) == {
                "l_orderkey",
                "l_returnflag",
                "l_extendedprice",
                "l_discount",
            }, cols


def test_adamic_adar_wedge_join_is_equi_no_cartesian(spark, sf_small):
    """graph_adamic_adar: the wedge self-join is an equi-join on the
    center key (the a < c ordering rides as a post-join filter), so the
    plan contains no cartesian/broadcast-nested-loop stage."""
    df = q.QUERIES["graph_adamic_adar"](spark, sf_small)
    plan = pi._strip_non_executing(pi.physical_plan(df, executed=True))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_copurchase_pair_build_is_two_exchanges(spark, sf_small):
    """copurchase_pairs: the basket-array pair build shuffles exactly
    twice (the EXPLICIT full-width order-key repartition, shared with
    the basket aggregation per the one-exchange idiom, then the pair
    key for the weights) — the self-join form it replaced paid a third
    exchange for the distinct plus a join re-shuffle, and a caller's
    own adjacent repartition now COLLAPSES into the build's (r14: the
    explicit width pins the O(k²) explode stage at the configured
    shuffle parallelism instead of AQE's byte-coalesced task count).
    The pair explode itself must sit map-side between the two (no join
    operator at all)."""
    from ibis_olap_aggregation_spark.operators.graph import (
        copurchase_pairs,
        order_items_raw,
    )

    # a caller-side repartition must NOT survive as a third exchange:
    # CollapseRepartition folds it into the build's own order-key
    # repartition (adjacent exchanges, the later one wins)
    items = order_items_raw(spark, sf_small).repartition(8, "l_partkey")
    df = copurchase_pairs(items)
    # 2 = the build's order-key repartition + the pair exchange;
    # executed=True: sparkPlan is pre-EnsureRequirements and shows no
    # inserted exchanges at all
    assert pi.count_exchanges(df, executed=True) == 2, pi.physical_plan(
        df, executed=True
    )
    plan = pi.physical_plan(df, executed=True)
    assert "Join" not in plan, plan
    # the order-key exchange is the explicit full-width repartition
    # (REPARTITION_BY_NUM), not an AQE-coalescible ENSURE_REQUIREMENTS
    assert "REPARTITION_BY_NUM" in plan, plan


def test_funnel_conversion_is_one_fact_scan(spark, sf_small):
    """events_funnel_conversion_rate: the docstring's 1-scan claim,
    pinned — the textbook 4-aggregate/3-join decomposition read the
    event table SEVEN times; the chained conditional-MIN window form
    must keep exactly one scan, with all three windows partitioned on
    user_id (never an empty/global partition spec)."""
    df = q.QUERIES["events_funnel_conversion_rate"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in spec, plan


def test_vad_segments_python_stages_are_map_only(spark, sf_small):
    """multimodal_audio_vad_segments: both Arrow stages (WAV pack,
    window energies) run BEFORE any exchange — payload bytes never
    shuffle — and the islands window partitions by doc_id."""
    df = q.QUERIES["multimodal_audio_vad_segments"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert plan.count("MapInPandas") == 2, plan
    # plan strings print top-down (sink first): everything after the
    # LAST (deepest) python stage is its input subtree — no Exchange
    # may appear below it (tiny sf plans elide exchanges entirely, so
    # assert on the subtree, not on exchange positions)
    below_python = plan[plan.rfind("MapInPandas"):]
    assert "Exchange" not in below_python, plan
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "doc_id" in spec, plan


def test_rfm_user_aggregate_feeds_ranker_via_cache(spark, sf_small):
    """events_rfm_segments: the quintiles must come from the two-pass
    ranker's closed-form path, never a global NTILE window — pinned by
    the absence of the ntile window function in the plan."""
    df = q.QUERIES["events_rfm_segments"](spark, sf_small)
    from ibis_olap_aggregation_spark.session import release_query_caches

    plan = pi.physical_plan(df)
    release_query_caches()
    assert "ntile" not in plan, plan


def test_scd2_late_merge_joins_ride_user_id_no_cartesian(spark, sf_small):
    """scd2_late_arriving_update_merge: the affected-user scoping must
    plan as broadcast/hash SEMI and ANTI joins on user_id — never a
    nested-loop — and every SCD2 window partitions by user_id (no
    global window ever sees the fact stream)."""
    df = q.QUERIES["scd2_late_arriving_update_merge"](spark, sf_small)
    from ibis_olap_aggregation_spark.session import release_query_caches

    plan = pi.physical_plan(df)
    release_query_caches()
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in spec, plan


def test_hilbert_fold_is_map_side_and_three_rankings(spark, sf_small):
    """layout_hilbert_vs_zorder_skipping: both curve keys are pure
    map-side expressions — the plan carries NO python stage and no
    join for the hilbert key (the fold is unrolled projections, not a
    lookup), and the only windows are the rankers' bounded
    per-partition row_numbers."""
    df = q.QUERIES["layout_hilbert_vs_zorder_skipping"](spark, sf_small)
    from ibis_olap_aggregation_spark.session import release_query_caches

    plan = pi.physical_plan(df)
    release_query_caches()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    # the hilbert key must NOT introduce a join (a 1024-cell lookup
    # would): the three-layout plan carries exactly the join count of
    # the two-layout zorder sibling (probe grid + n_files attach) —
    # zero joins per added curve
    zplan = pi.physical_plan(
        q.QUERIES["layout_zorder_file_skipping"](spark, sf_small)
    )
    release_query_caches()
    n_joins = sum(plan.count(j) for j in
                  ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                   "BroadcastNestedLoopJoin", "CartesianProduct"))
    z_joins = sum(zplan.count(j) for j in
                  ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                   "BroadcastNestedLoopJoin", "CartesianProduct"))
    assert n_joins == z_joins, (n_joins, z_joins, plan)
    # two scan references per layout (the two-pass ranker reads its
    # input twice pre-execution; the query_cache materializes at run
    # time) — 3 layouts, never more
    assert plan.count("Scan parquet") <= 6, plan


def test_curriculum_schedule_prunes_and_bounded_windows(spark, sf_small):
    """pipeline_curriculum_mixture_schedule: the survivor election is
    the only corpus-sized shuffle (window on the content hash); the
    stage table joins as a broadcast; the per-stage windows run over
    the |langs| x 3 aggregate only — pinned by the window specs being
    either the md5 hash (survivor) or stage_id/global over the
    post-aggregate rows."""
    df = q.QUERIES["pipeline_curriculum_mixture_schedule"](spark, sf_small)
    plan = pi.physical_plan(df)
    # a keyless cross against a broadcast literal plans as
    # BroadcastNestedLoopJoin (no hash keys to build) — the BROADCAST
    # part is what matters; a CartesianProduct (both sides partitioned)
    # would be the scale hazard
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the documents scan must not read doc text columns it doesn't need
    for cols in pi.scan_columns(df):
        if "n_chars" in cols:
            assert "url" not in cols, cols


def test_t_closeness_single_scan_cached_grid(spark, sf_small):
    """privacy_t_closeness_audit: ONE customer scan — the (QI, band)
    aggregate is cached and every downstream side (class list, band
    distribution, total, grid fill) derives from it; the grid crosses
    are broadcasts, the only window partitions by the QI class, and
    nothing touches python."""
    df = q.QUERIES["privacy_t_closeness_audit"](spark, sf_small)
    from ibis_olap_aggregation_spark.session import release_query_caches

    plan = pi.physical_plan(df)
    release_query_caches()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    # every parquet scan in the tree is the cached (QI, band) build's
    # customer scan, pruned to the three columns it needs (the cache's
    # build plan is TEXTUALLY repeated under each InMemoryTableScan, so
    # scan-counting is meaningless — pin reuse + pruning instead)
    assert "InMemoryTableScan" in plan, plan
    import re

    for m in re.findall(r"FileScan parquet.*?ReadSchema: (\S+)", plan):
        assert "c_acctbal" in m and "c_name" not in m, m
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "nat" in spec and "seg" in spec, plan


def test_hll_single_exchange_no_python(spark, sf_small):
    """sketch_hll_portable_registers: the distinct on (grp, key) is the
    only fact-sized exchange; the hash/bucket/rank math is whole-stage
    expression work (no python stage), the spine/register/estimate
    joins are constant-size broadcasts, and the orders scan is read
    once through the cache."""
    df = q.QUERIES["sketch_hll_portable_registers"](spark, sf_small)
    from ibis_olap_aggregation_spark.session import release_query_caches

    plan = pi.physical_plan(df)
    release_query_caches()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    # the cached distinct feeds register + exact branches (cache build
    # text repeats under each InMemoryTableScan — pin reuse + pruning,
    # not scan counts); the orders scan reads exactly the two columns
    assert "InMemoryTableScan" in plan, plan
    import re

    for m in re.findall(r"FileScan parquet.*?ReadSchema: (\S+)", plan):
        assert "o_custkey" in m and "o_totalprice" not in m, m
    assert "BroadcastHashJoin" in plan, plan
    # the only fact-grain exchange is the distinct's (grp, key) hash
    # partitioning — no exchange on bucket/register columns
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "key" in ex or "grp" in ex, ex


def test_asof_backward_is_join_free_single_user_exchange(spark, sf_small):
    """join_asof_backward: the as-of is a union + ONE user_id window —
    NO join operator of any kind may appear (the all-pairs candidate
    set the oracle materializes must never exist engine-side), no
    python stage, and the only exchanges are the user_id hash
    partitioning plus the output sort's range partitioning."""
    df = q.QUERIES["join_asof_backward"](spark, sf_small)
    plan = pi.physical_plan(df, executed=True)
    for op in ("Join", "CartesianProduct", "MapInPandas", "BatchEvalPython"):
        assert op not in plan, (op, plan)
    import re

    hashed = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert hashed and all("user_id" in ex for ex in hashed), plan
    # exactly two EXECUTING shuffles: the user_id window partitioning
    # and the output sort's range partitioning (the executed-plan text
    # repeats exchanges in its Initial Plan section — count via the
    # stripped helper, not findall)
    assert pi.count_exchanges(df, executed=True) <= 2, plan
    # the events scan is pruned to the four columns the as-of needs
    for m in re.findall(r"FileScan parquet.*?ReadSchema: (\S+)", plan):
        assert "user_id" in m and "props" not in m, m


def test_cms_takeordered_and_broadcast_probe(spark, sf_small):
    """sketch_cms_heavy_hitters: the exact top-10 is TakeOrdered
    (per-partition heaps + a 10-row driver merge — never a global
    sort-exchange of the key space), the probe join is a BROADCAST
    hash join of the 40-row probe table against the 2048-row counter
    table, and the hash/bucket math is whole-stage expression work."""
    df = q.QUERIES["sketch_cms_heavy_hitters"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "TakeOrdered" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    # the lineitem scan reads exactly the key column
    import re

    for m in re.findall(r"FileScan parquet.*?ReadSchema: (\S+)", plan):
        assert "l_partkey" in m and "l_extendedprice" not in m, m


def test_hdr_quantiles_register_grain_windows(spark, sf_small):
    """sketch_hdr_quantiles: the coding is whole-stage expression work
    (no python stage), every window partitions by grp (the register
    table's bounded-enum grain — never a global unpartitioned window),
    and the orders scan reads exactly the two columns it needs."""
    df = q.QUERIES["sketch_hdr_quantiles"](spark, sf_small)
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "grp" in spec, plan
    for m in re.findall(r"FileScan parquet.*?ReadSchema: (\S+)", plan):
        assert "o_totalprice" in m and "o_orderdate" not in m, m
