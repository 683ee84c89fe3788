"""Regime pins for the round-11 session.dim_side probe sites beyond the
query-level switches in test_plans.py: the hierarchy BUILD (prepare_nodes
leaf mark, closure sort-order attach), the sketch-rollup attaches and
the incremental-maintenance ops must produce IDENTICAL output whether
the probe picks broadcast (default at test scale) or the sort-merge
regime (DIM_BROADCAST_ROW_CAP forced to 1 — the 10M-node-dim path).
"""

from __future__ import annotations

import ibis_olap_aggregation_spark.session as sess
from ibis_olap_aggregation_spark.fixtures import geo_nodes
from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension
import pytest
from ibis_olap_aggregation_spark import rollup as R
from ibis_olap_aggregation_spark.plans import inspect as pi
from ibis_olap_aggregation_spark.session import load_tables
from pyspark.sql import functions as F


def _build(spark, sf_small):
    t = load_tables(spark, sf_small, ("region", "nation", "customer"))
    return HierarchyDimension(
        geo_nodes(t["region"], t["nation"], t["customer"]),
        dimension_name="geo",
        sort_key_col="node_id",
        flatten_levels=4,
    )


def _canon(df):
    cols = sorted(df.columns)
    rows = [tuple(r) for r in df.select(*cols).collect()]
    # None-safe total order (nullable attribute columns)
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


def test_dim_build_identical_across_probe_regimes(spark, sf_small, monkeypatch):
    base_rep = _canon(_build(spark, sf_small).reporting_dim)
    base_agg = _canon(_build(spark, sf_small).aggregation_dim)
    monkeypatch.setattr(sess, "DIM_BROADCAST_ROW_CAP", 1)
    merged = _build(spark, sf_small)
    assert _canon(merged.reporting_dim) == base_rep
    assert _canon(merged.aggregation_dim) == base_agg


def test_dim_side_probe_memoized_per_plan_and_cap(spark, sf_small, monkeypatch):
    """One count job per (plan, cap): re-constructing the SAME logical
    side hits the memo; changing the cap (the forced-regime test hook)
    or clearing the memo takes a fresh probe."""
    sess.clear_dim_side_memo()
    t = load_tables(spark, sf_small, ("nation",))

    def probes():
        return sess.DIM_SIDE_PROBE_STATS["probes"]

    def hits():
        return sess.DIM_SIDE_PROBE_STATS["hits"]

    p0, h0 = probes(), hits()
    side = t["nation"].select("n_nationkey", "n_name")
    sess.dim_side(side)
    assert (probes(), hits()) == (p0 + 1, h0)
    # fresh DataFrame object, same logical plan -> memo hit, no new job
    sess.dim_side(t["nation"].select("n_nationkey", "n_name"))
    assert (probes(), hits()) == (p0 + 1, h0 + 1)
    # different plan -> fresh probe
    sess.dim_side(t["nation"].select("n_nationkey"))
    assert probes() == p0 + 2
    # forced cap (monkeypatch hook) -> fresh probe, and regime flips
    monkeypatch.setattr(sess, "DIM_BROADCAST_ROW_CAP", 1)
    forced = sess.dim_side(side)
    assert probes() == p0 + 3
    assert "UnresolvedHint merge" in forced._jdf.queryExecution().logical().toString()
    monkeypatch.undo()
    # default-cap verdict was memoized independently of the forced one
    bcast = sess.dim_side(side)
    assert probes() == p0 + 3
    assert "UnresolvedHint broadcast" in bcast._jdf.queryExecution().logical().toString()
    sess.clear_dim_side_memo()
    sess.dim_side(side)
    assert probes() == p0 + 4


def test_probe_memo_never_caches_data_identityless_plans(spark):
    """Code-review r12 finding (empirically confirmed): createDataFrame
    frames canonicalize to 'LogicalRDD [none#0L]' with NO data identity
    — two same-schema local frames hash to one key, so a memoized
    verdict from a 3-row frame would certify a 50-row (or 50M-row)
    frame as broadcast-safe. Such plans must never be memoized: every
    probe_small call on them runs a fresh probe."""
    sess.clear_dim_side_memo()
    small = spark.createDataFrame([(i,) for i in range(3)], "k bigint")
    big = spark.createDataFrame([(i,) for i in range(50)], "k bigint")
    p0 = sess.DIM_SIDE_PROBE_STATS["probes"]
    assert sess.probe_small(small, 10) is True
    assert sess.probe_small(big, 10) is False  # would be True on a stale hit
    assert sess.probe_small(small, 10) is True
    assert sess.DIM_SIDE_PROBE_STATS["probes"] == p0 + 3  # no memoization
    assert len(sess._DIM_SIDE_MEMO) == 0


def test_probe_memo_invalidated_by_table_writes(spark, sf_small, tmp_path):
    """Overwriting a path invalidates the probe memo: a dim that GREW
    past the cap at the same path must be re-probed, not served the
    stale broadcast verdict (io write paths call _invalidate_probe_memo)."""
    from ibis_olap_aggregation_spark.sources.io import write_table

    sess.clear_dim_side_memo()
    path = str(tmp_path / "grown_dim")
    write_table(spark.range(5).selectExpr("id AS k"), path)
    side = spark.read.parquet(path)
    sess.dim_side(side)
    assert len(sess._DIM_SIDE_MEMO) >= 1
    # overwrite in place -> memo dropped -> next dim_side re-probes
    write_table(spark.range(7).selectExpr("id AS k"), path)
    assert len(sess._DIM_SIDE_MEMO) == 0
    p0 = sess.DIM_SIDE_PROBE_STATS["probes"]
    sess.dim_side(spark.read.parquet(path))
    assert sess.DIM_SIDE_PROBE_STATS["probes"] == p0 + 1


def test_maintenance_ops_identical_across_probe_regimes(
    spark, sf_small, monkeypatch
):
    dim = _build(spark, sf_small)
    agg = dim.aggregation_dim
    some_nation = agg.filter(
        (F.col("ancestor_level_number") == 2) & (F.col("net_level") == 0)
    ).select("ancestor_node_id").first()[0]
    nations = [
        r[0]
        for r in agg.filter(
            (F.col("descendant_level_number") == 2) & (F.col("net_level") == 0)
        )
        .select("descendant_node_id")
        .limit(2)
        .collect()
    ]

    removed_b = _canon(dim.remove_subtree_from_closure(some_nation))
    moved_b = _canon(dim.move_subtree_in_closure(nations[0], nations[1]))

    monkeypatch.setattr(sess, "DIM_BROADCAST_ROW_CAP", 1)
    assert _canon(dim.remove_subtree_from_closure(some_nation)) == removed_b
    assert _canon(dim.move_subtree_in_closure(nations[0], nations[1])) == moved_b


def test_cache_if_probing_caches_only_on_memo_miss(spark, sf_small):
    """ADVICE r11 #4: a derived side routed with cache_if_probing=True
    is query-cached exactly when the probe will actually execute (memo
    miss) — the probe's execution then feeds the join. On a memo hit
    there is no probe to amortize and the side must come back uncached
    (an unconditional cache measured slower on warm invocations)."""
    from ibis_olap_aggregation_spark.session import release_query_caches

    sess.clear_dim_side_memo()
    release_query_caches()
    t = load_tables(spark, sf_small, ("nation",))
    derived = t["nation"].groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n")
    )

    p0 = sess.DIM_SIDE_PROBE_STATS["probes"]
    side = sess.dim_side(derived, cache_if_probing=True)
    assert sess.DIM_SIDE_PROBE_STATS["probes"] == p0 + 1
    assert derived.storageLevel.useMemory  # miss -> cached
    release_query_caches()
    assert not derived.storageLevel.useMemory  # registry released it

    # same logical plan again: memo hit -> probe skipped, NOT re-cached
    derived2 = t["nation"].groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    h0 = sess.DIM_SIDE_PROBE_STATS["hits"]
    sess.dim_side(derived2, cache_if_probing=True)
    assert sess.DIM_SIDE_PROBE_STATS["hits"] == h0 + 1
    assert sess.DIM_SIDE_PROBE_STATS["probes"] == p0 + 1
    assert not derived2.storageLevel.useMemory


def _probes():
    return sess.DIM_SIDE_PROBE_STATS["probes"]


def _jobs(spark, group, fn):
    """Spark jobs ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _sketch(facts, closure):
    return R.hierarchical_rollup_sketch(facts, closure, "o_custkey", "o_orderkey")


def _broadcasts(df) -> bool:
    """Whether the executed plan broadcasts (a cached closure's own
    build plan is not executed by the rollup, so it is left out)."""
    return "BroadcastExchange" in pi._strip_non_executing(
        pi.physical_plan(df, executed=True)
    )


@pytest.mark.parametrize("materialize", [False, True])
def test_dim_build_runs_no_probe(spark, sf_small, regime, materialize):
    """Both walks know the node count before the leaf join is planned,
    so a build resolves every attach regime without a probe job."""
    t = load_tables(spark, sf_small, ("region", "nation", "customer"))
    p0 = _probes()
    dim = HierarchyDimension(
        geo_nodes(t["region"], t["nation"], t["customer"]),
        sort_key_col="node_id",
        materialize=materialize,
    )
    dim.reporting_dim.count()
    dim.aggregation_dim.count()
    assert _probes() == p0
    dim.unpersist()


def test_rollups_on_built_dim_run_no_probe(spark, sf_small, regime):
    """A built dim's closure carries its row count, so the sketch
    rollup, an "auto" rollup and finalize resolve their one regime
    verdict without a probe job; the sketch rollup runs at most 5
    jobs."""
    dim = _build(spark, sf_small)
    agg = dim.aggregation_dim
    orders = load_tables(spark, sf_small, ("orders",))["orders"]
    partials = R.hierarchical_rollup_partials(
        orders, agg, "o_custkey", sum_cols=[("o_totalprice", "s")]
    ).cache()
    partials.count()
    p0 = _probes()
    assert _jobs(spark, f"sketch_{regime}", lambda: _sketch(orders, agg).collect()) <= 5
    R.hierarchical_rollup_additive(
        orders, agg, "o_custkey", sum_cols=[("o_totalprice", "s")], broadcast_dim="auto"
    ).collect()
    R.finalize_rollup_partials(partials, agg, sum_aliases=["s"]).collect()
    assert _probes() == p0
    partials.unpersist()
    dim.unpersist()


def test_loaded_closure_probes_once_and_picks_same_regime(
    spark, sf_small, tmp_path, monkeypatch
):
    """A closure read back by ``HierarchyDimension.load`` carries no row
    count: its rollup probes exactly once and lands on the regime the
    built closure's noted count picks, under either cap."""
    dim = _build(spark, sf_small)
    dim.save(str(tmp_path))
    _, loaded = HierarchyDimension.load(spark, str(tmp_path))
    orders = load_tables(spark, sf_small, ("orders",))["orders"]
    sess.clear_dim_side_memo()
    p0 = _probes()
    rolled = _sketch(orders, loaded)
    assert _probes() == p0 + 1
    assert _broadcasts(rolled)
    assert _broadcasts(_sketch(orders, dim.aggregation_dim))
    monkeypatch.setattr(sess, "DIM_BROADCAST_ROW_CAP", 1)
    assert not _broadcasts(_sketch(orders, loaded))
    assert not _broadcasts(_sketch(orders, dim.aggregation_dim))
    dim.unpersist()
