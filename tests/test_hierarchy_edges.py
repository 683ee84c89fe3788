"""Hierarchy edge-case semantics (SURVEY.md §7.5.6) + metamorphic
properties (§5.3). The reference handles these silently (empty dims,
dropped rows); we pin the same-but-explicit semantics with tests.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension
from ibis_olap_aggregation_spark.rollup import hierarchical_rollup

SCHEMA = (
    "node_id string, node_natural_key bigint, node_name string,"
    " level_name string, parent_node_id string"
)


def _dim(spark, rows, **kw):
    return HierarchyDimension(
        spark.createDataFrame(rows, SCHEMA), materialize=False, **kw
    )


def test_no_root_yields_empty_dims(spark):
    """All nodes have parents (broken FK, cycle-free but rootless): the
    walk anchors on is_root and finds nothing — both dims empty,
    matching the reference's silent-empty behavior (ref :118). (A
    rootless 2-cycle raises instead; see test_bad_input_same_verdict.)"""
    d = _dim(spark, [("a", 1, "A", "L", "missing"), ("b", 2, "B", "L", "a")])
    assert d.reporting_dim.count() == 0
    assert d.aggregation_dim.count() == 0


def test_orphan_subtree_dropped(spark):
    """Nodes unreachable from any root are not walked (ref :121-131
    drops them the same way): they appear in neither dim."""
    rows = [
        ("r", 1, "Root", "Top", None),
        ("c", 2, "Child", "Leaf", "r"),
        ("orphan", 3, "Orphan", "Leaf", "missing-parent"),
    ]
    d = _dim(spark, rows)
    walked = {r.node_id for r in d.reporting_dim.collect()}
    assert walked == {"r", "c"}
    closure_nodes = {
        r.descendant_node_id for r in d.aggregation_dim.collect()
    }
    assert "orphan" not in closure_nodes


def test_facts_without_leaf_dropped_by_inner_join(spark):
    """Facts keyed to no hierarchy node vanish from the rollup (inner
    join, ref main.py:36) — and total counts prove exactly which."""
    rows = [
        ("r", 1, "Root", "Top", None),
        ("c", 100, "Child", "Leaf", "r"),
    ]
    d = _dim(spark, rows)
    facts = spark.createDataFrame(
        [(100, 5.0), (999, 7.0)], "k bigint, v double"
    )
    out = hierarchical_rollup(
        facts,
        d.aggregation_dim,
        "k",
        [F.count(F.lit(1)).alias("n")],
        group_keys=("ancestor_node_name",),
        sort=False,
    )
    got = {r.ancestor_node_name: r.n for r in out.collect()}
    # fact 999 dropped; fact 100 counted under its leaf and the root
    assert got == {"Root": 1, "Child": 1}


def test_rollup_requires_ancestor_node_id(spark):
    """Every rollup aggregates on the compact ancestor id: a closure
    without it is rejected up front, not rolled up some other way."""
    d = _dim(spark, [("r", 1, "Root", "Top", None)])
    facts = spark.createDataFrame([(1, 5.0)], "k bigint, v double")
    with pytest.raises(ValueError, match="ancestor_node_id"):
        hierarchical_rollup(
            facts,
            d.aggregation_dim.drop("ancestor_node_id"),
            "k",
            [F.count(F.lit(1)).alias("n")],
            group_keys=("ancestor_node_name",),
        )


def test_single_node_hierarchy(spark):
    d = _dim(spark, [("r", 1, "Root", "Top", None)])
    rep = d.reporting_dim.collect()
    assert len(rep) == 1 and rep[0].is_root and rep[0].is_leaf
    clo = d.aggregation_dim.collect()
    assert len(clo) == 1 and clo[0].net_level == 0


def test_closure_properties(spark):
    """Metamorphic invariants (SURVEY.md §5.3): closure size = sum of
    depths; self-pairs at net_level 0; net_level >= 0; depth-first sort
    puts every parent before all its descendants."""
    rows = [
        ("r", 1, "Root", "Top", None),
        ("a", 2, "A", "Mid", "r"),
        ("b", 3, "B", "Mid", "r"),
        ("a1", 4, "A1", "Leaf", "a"),
        ("a2", 5, "A2", "Leaf", "a"),
        ("b1", 6, "B1", "Leaf", "b"),
    ]
    d = _dim(spark, rows, sort_key_col="node_natural_key")
    clo = d.aggregation_dim.collect()
    # depths: r=1, a=b=2, a1=a2=b1=3 -> sum = 1+2+2+3+3+3 = 14
    assert len(clo) == 14
    assert sum(1 for r in clo if r.net_level == 0) == 6  # self-pairs
    assert all(r.net_level >= 0 for r in clo)
    rep = {r.node_id: r for r in d.reporting_dim.collect()}
    for r in clo:
        if r.net_level > 0:
            assert (
                rep[r.ancestor_node_id].node_sort_order
                < rep[r.descendant_node_id].node_sort_order
            )


_CYCLE_ROWS = [
    ("r", 1, "Root", "Top", None),
    ("c", 2, "Child", "Leaf", "r"),
    # detached 3-cycle: never root-reachable, so the walk can't loop on
    # it — but a materialized build must NAME it instead of silently
    # shrinking the dim
    ("x", 7, "X", "L", "z"),
    ("y", 8, "Y", "L", "x"),
    ("z", 9, "Z", "L", "y"),
]


def test_cycle_detected_when_materialized(spark, regime):
    """A cycle in parent_node_id is data corruption: both walks raise an
    explicit cycle error on a materialized build (each walk classifies
    the rows it never reached)."""
    with pytest.raises(ValueError, match="cycle detected"):
        HierarchyDimension(
            spark.createDataFrame(_CYCLE_ROWS, SCHEMA),
            sort_key_col="node_natural_key",
            materialize=True,
        )


def test_orphans_still_silent_when_materialized(spark):
    """Orphan subtrees (missing parent id) keep the reference's silent
    drop semantics on a materialized build too."""
    rows = [
        ("r", 1, "Root", "Top", None),
        ("c", 2, "Child", "Leaf", "r"),
        ("o1", 3, "O1", "L", "missing"),
        ("o2", 4, "O2", "L", "o1"),
    ]
    d = HierarchyDimension(
        spark.createDataFrame(rows, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=True,
    )
    assert {r.node_id for r in d.reporting_dim.collect()} == {"r", "c"}
    d.unpersist()


_ROOT = ("r", 1, "Root", "Top", None)
_BAD_INPUTS = {
    # case -> (rows, build kwargs, the error message, or None for an
    # orphan chain the build drops silently, keeping r and c)
    "dup_interior": (
        [_ROOT, ("a", 2, "A", "Mid", "r"), ("a", 3, "A again", "Mid", "r"),
         ("a1", 4, "A1", "Leaf", "a")],
        {}, "duplicate node_id in hierarchy input: 'a'",
    ),
    "dup_leaf": (
        [_ROOT, ("a", 2, "A", "Mid", "r"), ("a1", 3, "A1", "Leaf", "a"),
         ("a1", 4, "A1 again", "Leaf", "r")],
        {}, "duplicate node_id in hierarchy input: 'a1'",
    ),
    "null_id": (
        [_ROOT, ("a", 2, "A", "Leaf", "r"), (None, 3, "Nameless", "Leaf", "r")],
        {}, "NULL node_id in hierarchy input",
    ),
    # the tie puts the NULL id into the sibling sort's tiebreak
    "null_id_sort_tie": (
        [_ROOT, ("a", 2, "A", "Leaf", "r"), (None, 2, "Nameless", "Leaf", "r")],
        {}, "NULL node_id in hierarchy input",
    ),
    "detached_cycle": (
        _CYCLE_ROWS, {}, "cycle detected in parent_node_id: 'x', 'y', 'z'",
    ),
    "self_parent": (
        [_ROOT, ("c", 2, "C", "Leaf", "r"), ("s", 3, "S", "L", "s")],
        {}, "cycle detected in parent_node_id: 's'",
    ),
    "under_cycle": (
        [_ROOT, ("x", 2, "X", "L", "y"), ("y", 3, "Y", "L", "x"),
         ("u", 4, "U", "L", "x"), ("u2", 5, "U2", "Leaf", "u")],
        {}, "cycle detected in parent_node_id: 'u', 'u2', 'x', 'y'",
    ),
    "orphan_chain": (
        [_ROOT, ("c", 2, "C", "Leaf", "r"), ("o1", 3, "O1", "L", "missing"),
         ("o2", 4, "O2", "Leaf", "o1")],
        {}, None,
    ),
    "over_deep_chain": (
        [("n0", 0, "N0", "L", None)]
        + [(f"n{i}", i, f"N{i}", "L", f"n{i - 1}") for i in range(1, 6)],
        {"max_depth": 3}, "hierarchy deeper than max_depth=3 (raise max_depth)",
    ),
}


@pytest.mark.parametrize("materialize", [False, True])
@pytest.mark.parametrize("case", sorted(_BAD_INPUTS))
def test_bad_input_same_verdict(spark, regime, case, materialize):
    """Every bad input gets one verdict on both walks and for both
    ``materialize`` values: duplicate ids, NULL ids, cycles (a node that
    is its own parent and nodes under a cycle included) and over-deep
    trees raise with the same message, naming the ids; an orphan chain
    is dropped silently."""
    rows, kw, message = _BAD_INPUTS[case]
    nodes = spark.createDataFrame(rows, SCHEMA)

    def build():
        return HierarchyDimension(
            nodes, sort_key_col="node_natural_key", materialize=materialize, **kw
        )

    if message is None:
        d = build()
        assert (d._compact is not None) == (regime == "local")
        assert sorted(r.node_id for r in d.reporting_dim.collect()) == ["c", "r"]
        assert d.aggregation_dim.count() == 3
        d.unpersist()
        return
    with pytest.raises(ValueError) as err:
        build()
    assert str(err.value) == message


def test_deep_tree_raises_depth_not_cycle(spark, monkeypatch):
    """A legit depth-5 chain under max_depth=3 must raise the DEPTH
    error (and never claim a cycle) under both walks."""
    rows = [("n0", 0, "N0", "L", None)] + [
        (f"n{i}", i, f"N{i}", "L", f"n{i-1}") for i in range(1, 6)
    ]
    for limit in (HierarchyDimension._LOCAL_WALK_LIMIT, 0):  # local, doubling
        monkeypatch.setattr(HierarchyDimension, "_LOCAL_WALK_LIMIT", limit)
        with pytest.raises(ValueError, match="deeper than max_depth"):
            HierarchyDimension(
                spark.createDataFrame(rows, SCHEMA),
                sort_key_col="node_natural_key",
                max_depth=3,
                materialize=True,
            )


def test_strategies_agree(spark, regime):
    """Both walks produce the same dims, with or without materialize:
    the walk is chosen by node count alone."""
    rows = [
        ("r", 1, "Root", "Top", None),
        ("a", 2, "A", "Mid", "r"),
        ("a1", 3, "A1", "Leaf", "a"),
        ("b", 4, "B", "Leaf", "r"),
    ]
    for materialize in (False, True):
        d = HierarchyDimension(
            spark.createDataFrame(rows, SCHEMA),
            sort_key_col="node_natural_key",
            materialize=materialize,
        )
        assert (d._compact is not None) == (regime == "local")
        rep = sorted(
            (r.node_id, r.level_number, r.node_sort_order)
            for r in d.reporting_dim.collect()
        )
        assert rep == [("a", 2, 2), ("a1", 3, 3), ("b", 2, 4), ("r", 1, 1)]
        d.unpersist()


def test_empty_node_table_yields_empty_dims(spark):
    """A node table with no rows walks to two empty dims."""
    d = HierarchyDimension(spark.createDataFrame([], SCHEMA))
    assert d.reporting_dim.count() == 0
    assert d.aggregation_dim.count() == 0
    d.unpersist()


def test_arrow_unsupported_attribute_takes_doubling_walk(spark):
    """Arrow cannot carry an interval column, so the node table cannot
    be fetched for the local walk: the build takes the doubling walk and
    gives the same closure and sort order as the same nodes without the
    column."""
    rows = [
        ("r", 1, "Root", "Top", None),
        ("a", 2, "A", "Mid", "r"),
        ("a1", 3, "A1", "Leaf", "a"),
        ("b", 4, "B", "Leaf", "r"),
    ]
    plain = spark.createDataFrame(rows, SCHEMA)
    with_interval = plain.withColumn(
        "tenure", F.expr("make_interval(0, 0, 0, cast(node_natural_key as int))")
    )
    got = HierarchyDimension(with_interval, sort_key_col="node_natural_key")
    want = HierarchyDimension(plain, sort_key_col="node_natural_key")
    assert got._compact is None and want._compact is not None

    def order(d):
        return sorted(
            tuple(r) for r in d.reporting_dim.select("node_id", "node_sort_order").collect()
        )

    assert got.aggregation_dim.count() == want.aggregation_dim.count() == 8
    assert order(got) == order(want)
    got.unpersist()
    want.unpersist()


def test_misestimated_input_never_direct_fetched(spark, monkeypatch):
    """A Generate (explode) plan reports its tiny pre-explosion child
    size, so the stats-gated fast path would pull every exploded row to
    the driver before any bound applied. The gate must detect the unsafe
    estimate and take the count probe, which routes an over-limit node
    table to the distributed walk without ever calling
    _fetch_local_table."""
    fetches = []
    real_fetch = HierarchyDimension._fetch_local_table
    monkeypatch.setattr(
        HierarchyDimension,
        "_fetch_local_table",
        staticmethod(lambda df: fetches.append(1) or real_fetch(df)),
    )
    # 30 seed rows explode to 300k nodes (> _LOCAL_WALK_LIMIT) under a
    # kilobytes-sized plan estimate; depth-2 star forest so the
    # distributed walk itself converges in two rounds
    per = 10_000
    nodes = (
        spark.range(30)
        .select(F.explode(F.expr(f"sequence(id * {per}, id * {per} + {per - 1})")).alias("i"))
        .select(
            F.col("i").cast("string").alias("node_id"),
            F.col("i").cast("bigint").alias("node_natural_key"),
            F.col("i").cast("string").alias("node_name"),
            F.lit("L").alias("level_name"),
            F.when(
                F.col("i") % per != 0, (F.col("i") - (F.col("i") % per)).cast("string")
            ).alias("parent_node_id"),
        )
    )
    dim = HierarchyDimension(
        nodes,
        dimension_name="exploded",
        max_depth=32,
        flatten_levels=2,
        compute_sort_order=False,
    )
    assert not fetches, "mis-estimated input was fetched to the driver"
    assert dim._compact is None  # the doubling walk ran
    # the walk is still correct: every node reaches the closure
    assert dim.aggregation_dim.filter("net_level = 0").count() == 30 * per


def test_additive_rollup_equals_generic_on_skewed_facts(spark):
    """hierarchical_rollup_additive must stay bit-identical to the
    generic path on a HOT-KEY fact table (one leaf carries ~90% of the
    rows, with heavy duplicate values under the COUNT(DISTINCT) column)
    — pinning the Expand-free leaf-grain distinct path under exactly the
    skew it exists to absorb."""
    from ibis_olap_aggregation_spark.rollup import (
        hierarchical_rollup,
        hierarchical_rollup_additive,
    )

    nodes = spark.createDataFrame(
        [
            ("root", None, "Root", "Total", None),
            ("a", None, "A", "Cat", "root"),
            ("b", None, "B", "Cat", "root"),
            ("a1", 1, "A1", "Leaf", "a"),
            ("a2", 2, "A2", "Leaf", "a"),
            ("b1", 3, "B1", "Leaf", "b"),
        ],
        "node_id string, node_natural_key bigint, node_name string,"
        " level_name string, parent_node_id string",
    )
    dim = HierarchyDimension(nodes, dimension_name="skewdim")
    # 90k facts on leaf 1 (hot), 5k each on 2 and 3; customer ids repeat
    # heavily (100 distinct under the hot key, 50 under the others)
    facts = (
        spark.range(100_000)
        .select(
            F.when(F.col("id") < 90_000, F.lit(1))
            .when(F.col("id") < 95_000, F.lit(2))
            .otherwise(F.lit(3))
            .alias("k"),
            (F.col("id") % F.when(F.col("id") < 90_000, 100).otherwise(50)).alias(
                "cust"
            ),
            (F.col("id") % 7).cast("double").alias("amount"),
        )
    )
    generic = hierarchical_rollup(
        facts,
        dim.aggregation_dim,
        "k",
        [
            F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("s"),
            F.countDistinct("cust").alias("d"),
            F.count(F.lit(1)).alias("n"),
        ],
    ).toPandas()
    additive = hierarchical_rollup_additive(
        facts,
        dim.aggregation_dim,
        "k",
        sum_cols=[("amount", "s")],
        count_alias="n",
        distinct_cols=[("cust", "d")],
    ).toPandas()
    import pandas as pd

    cols = sorted(generic.columns)
    assert sorted(additive.columns) == cols
    g = generic[cols].sort_values(cols).reset_index(drop=True)
    a = additive[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, g, check_dtype=False, check_exact=True)
    # sanity: the root aggregates everything
    root = g[g.ancestor_node_name == "Root"].iloc[0]
    assert root.n == 100_000 and root.d == 100
