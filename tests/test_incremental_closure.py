"""Incremental closure maintenance: appending leaves, deleting a
subtree or moving one must equal a full rebuild of the edited node
table, in both walk regimes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension

SCHEMA = (
    "node_id string, node_natural_key bigint, node_name string,"
    " level_name string, parent_node_id string"
)

BASE = [
    ("r", 1, "Root", "Top", None),
    ("a", 2, "A", "Mid", "r"),
    ("b", 3, "B", "Mid", "r"),
    ("a1", 4, "A1", "Leaf", "a"),
]
NEW = [
    ("a2", 5, "A2", "Leaf", "a"),
    ("b1", 6, "B1", "Leaf", "b"),
]


def _key(r):
    # is_leaf included: parents gaining their first child must have the
    # flag flipped in the extended closure, exactly as a rebuild would;
    # so are both sort orders, which must stay dense depth-first
    return (r.ancestor_node_id, r.descendant_node_id, r.net_level,
            r.ancestor_level_number, r.descendant_level_number,
            r.ancestor_is_leaf, r.descendant_is_leaf,
            r.ancestor_node_sort_order, r.descendant_node_sort_order)


def test_incremental_matches_full_rebuild(spark, regime):
    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    extended = base_dim.extend_closure_with_leaves(
        spark.createDataFrame(NEW, SCHEMA)
    )
    full_dim = HierarchyDimension(
        spark.createDataFrame(BASE + NEW, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    got = {_key(r) for r in extended.collect()}
    want = {_key(r) for r in full_dim.aggregation_dim.collect()}
    assert got == want
    # delta size: each new leaf at depth 3 adds depth(leaf)=3 rows
    assert len(got) == len({_key(r) for r in base_dim.aggregation_dim.collect()}) + 6


def test_incremental_duplicate_id_raises(spark):
    """Appending a node id the closure already holds, or one repeated in
    the batch, would give the rebuild two rows for one node: it raises
    and names the id."""
    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    again = [("a1", 9, "A1 again", "Leaf", "b")]
    with pytest.raises(ValueError, match="'a1'"):
        base_dim.extend_closure_with_leaves(spark.createDataFrame(again, SCHEMA))
    twice = [("b1", 6, "B1", "Leaf", "b"), ("b1", 7, "B1 again", "Leaf", "b")]
    with pytest.raises(ValueError, match="'b1'"):
        base_dim.extend_closure_with_leaves(spark.createDataFrame(twice, SCHEMA))


def test_incremental_missing_parent_raises(spark):
    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    orphan = [("z1", 9, "Z1", "Leaf", "nope")]
    with pytest.raises(ValueError, match="parent not in existing closure"):
        base_dim.extend_closure_with_leaves(
            spark.createDataFrame(orphan, SCHEMA)
        ).collect()


def test_incremental_rollup_correct(spark):
    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    extended = base_dim.extend_closure_with_leaves(
        spark.createDataFrame(NEW, SCHEMA)
    )
    facts = spark.createDataFrame(
        [(4, 1.0), (5, 10.0), (6, 100.0)], "k bigint, v double"
    )
    from ibis_olap_aggregation_spark.rollup import hierarchical_rollup

    out = hierarchical_rollup(
        facts,
        extended,
        "k",
        [F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s")],
        group_keys=("ancestor_node_id",),
        sort=False,
    )
    got = {r.ancestor_node_id: r.s for r in out.collect()}
    assert got == {"r": 111.0, "a": 11.0, "b": 100.0, "a1": 1.0, "a2": 10.0, "b1": 100.0}


def test_subtree_delete_matches_full_rebuild(spark, regime):
    """Removing subtree 'a' from r(a(a1,a2), b(b1)) must equal rebuilding
    from the surviving node rows."""
    full = HierarchyDimension(
        spark.createDataFrame(BASE + NEW, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    got = {_key(r) for r in full.remove_subtree_from_closure("a").collect()}
    survivors = [r for r in BASE + NEW if r[0] not in ("a", "a1", "a2")]
    rebuilt = HierarchyDimension(
        spark.createDataFrame(survivors, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    want = {_key(r) for r in rebuilt.aggregation_dim.collect()}
    assert got == want


def test_subtree_delete_flips_parent_to_leaf(spark):
    """A parent whose ONLY child subtree is removed becomes a leaf again
    on every remaining row, exactly as a rebuild would flag it."""
    rows = [
        ("r", 1, "Root", "Top", None),
        ("a", 2, "A", "Mid", "r"),
        ("a1", 3, "A1", "Leaf", "a"),
    ]
    dim = HierarchyDimension(
        spark.createDataFrame(rows, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    kept = dim.remove_subtree_from_closure("a").collect()
    assert {(r.ancestor_node_id, r.descendant_node_id) for r in kept} == {("r", "r")}
    assert all(r.ancestor_is_leaf and r.descendant_is_leaf for r in kept)


def test_subtree_delete_root_empties_closure(spark):
    dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    assert dim.remove_subtree_from_closure("r").count() == 0


def test_subtree_delete_unknown_node_raises(spark):
    dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    with pytest.raises(ValueError, match="not in closure"):
        dim.remove_subtree_from_closure("nope")


def test_subtree_delete_then_rollup_conserves(spark):
    """End-to-end: facts joined through the pruned closure roll up only
    surviving leaves, and the root total equals their sum."""
    from ibis_olap_aggregation_spark.rollup import hierarchical_rollup

    full = HierarchyDimension(
        spark.createDataFrame(BASE + NEW, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    pruned = full.remove_subtree_from_closure("a")
    facts = spark.createDataFrame(
        [(4, 10.0), (5, 20.0), (6, 40.0)], "k bigint, v double"
    )  # keys 4,5 live under the removed 'a'; only 6 (b1) survives
    out = hierarchical_rollup(
        facts,
        pruned,
        "k",
        [F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s")],
        descendant_key_col="descendant_node_natural_key",
        group_keys=("ancestor_node_name",),
        sort=False,
    )
    got = {r.ancestor_node_name: r.s for r in out.collect()}
    assert got == {"Root": 40.0, "B": 40.0, "B1": 40.0}


def _rebuild(spark, rows):
    return HierarchyDimension(
        spark.createDataFrame(rows, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    ).aggregation_dim


def test_move_subtree_matches_full_rebuild(spark, regime):
    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    moved = base_dim.move_subtree_in_closure("a", "b")
    # rebuild with a reparented under b (a and a1 both one level deeper)
    rebuilt_rows = [
        ("r", 1, "Root", "Top", None),
        ("a", 2, "A", "Mid", "b"),
        ("b", 3, "B", "Mid", "r"),
        ("a1", 4, "A1", "Leaf", "a"),
    ]
    got = {_key(r) for r in moved.collect()}
    want = {_key(r) for r in _rebuild(spark, rebuilt_rows).collect()}
    assert got == want


def test_move_leaf_flips_old_parent_back_to_leaf(spark):
    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    # a1 is a's only child: moving it under b must make a a leaf again
    moved = base_dim.move_subtree_in_closure("a1", "b")
    rebuilt_rows = [
        ("r", 1, "Root", "Top", None),
        ("a", 2, "A", "Mid", "r"),
        ("b", 3, "B", "Mid", "r"),
        ("a1", 4, "A1", "Leaf", "b"),
    ]
    got = {_key(r) for r in moved.collect()}
    want = {_key(r) for r in _rebuild(spark, rebuilt_rows).collect()}
    assert got == want


def test_move_rollup_correct_after_reparent(spark):
    from ibis_olap_aggregation_spark.rollup import hierarchical_rollup

    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    moved = base_dim.move_subtree_in_closure("a", "b")
    facts = spark.createDataFrame([(4, 7.0)], "k bigint, v double")
    out = hierarchical_rollup(
        facts,
        moved,
        "k",
        [F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s")],
    )
    vals = {r.ancestor_node_name: r.s for r in out.collect()}
    # a1's 7.0 now rolls through b (and no longer ONLY through a->r)
    assert vals["B"] == 7.0 and vals["A"] == 7.0 and vals["Root"] == 7.0


def test_move_guards(spark):
    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    with pytest.raises(ValueError, match="not in closure"):
        base_dim.move_subtree_in_closure("zz", "b")
    with pytest.raises(ValueError, match="new parent 'zz'"):
        base_dim.move_subtree_in_closure("a", "zz")
    with pytest.raises(ValueError, match="cycle"):
        base_dim.move_subtree_in_closure("a", "a1")
    with pytest.raises(ValueError, match="cycle"):
        base_dim.move_subtree_in_closure("r", "a1")


def test_update_attributes_matches_full_rebuild(spark):
    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    updates = spark.createDataFrame(
        [("a", "A-renamed", "Division"), ("a1", "A1-renamed", "Leaf")],
        "node_id string, node_name string, level_name string",
    )
    updated = base_dim.update_node_attributes(updates)
    rebuilt_rows = [
        ("r", 1, "Root", "Top", None),
        ("a", 2, "A-renamed", "Division", "r"),
        ("b", 3, "B", "Mid", "r"),
        ("a1", 4, "A1-renamed", "Leaf", "a"),
    ]

    def key(r):
        return (r.ancestor_node_id, r.descendant_node_id, r.net_level,
                r.ancestor_node_name, r.descendant_node_name,
                r.ancestor_level_name, r.descendant_level_name)

    got = {key(r) for r in updated.collect()}
    want = {key(r) for r in _rebuild(spark, rebuilt_rows).collect()}
    assert got == want


def test_update_attributes_rejects_structural_columns(spark):
    base_dim = HierarchyDimension(
        spark.createDataFrame(BASE, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    bad = spark.createDataFrame(
        [("a", "r2")], "node_id string, parent_node_id string"
    )
    with pytest.raises(ValueError, match="subset of"):
        base_dim.update_node_attributes(bad)


def test_structural_maintenance_leaves_no_cache_entry(spark, regime):
    """The dim each structural method rebuilds is never handed to the
    caller, so nobody could unpersist it: with materialize=False nothing
    may stay cached, on either walk."""
    from ibis_olap_aggregation_spark import queries

    spark.catalog.clearCache()
    # the registry's memoized dims just lost their cache: drop them so
    # later callers rebuild cached ones (plan tests expect cached dims)
    queries._DIM_CACHE.clear()
    dim = HierarchyDimension(
        spark.createDataFrame(BASE + NEW, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    leaf = [("a3", 7, "A3", "Leaf", "a")]
    dim.extend_closure_with_leaves(spark.createDataFrame(leaf, SCHEMA)).collect()
    dim.remove_subtree_from_closure("b").collect()
    dim.move_subtree_in_closure("a1", "b").collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
