"""Property-based hierarchy tests (SURVEY.md §5.3): random trees, with
the closure invariants that must hold for EVERY shape:

- closure size = sum over nodes of depth(n)
- exactly one self-pair per node, net_level = 0
- net_level equals ancestor/descendant depth delta, always >= 0
- depth-first sort: each parent precedes its descendants, and a node's
  descendant block is contiguous
- rollup conservation: root's SUM equals the sum over all facts that
  joined any leaf

Few examples (Spark round-trips are seconds each), but each example is
a whole random tree — this is where shape bugs (unary chains, stars,
deep combs) surface that fixture tests never draw.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension
from ibis_olap_aggregation_spark.rollup import hierarchical_rollup

SCHEMA = (
    "node_id string, node_natural_key bigint, node_name string,"
    " level_name string, parent_node_id string"
)


@st.composite
def random_tree(draw):
    """Random tree as a parent-pointer list: node i (1-based) attaches to
    a uniformly chosen earlier node — guarantees acyclicity and a single
    root; covers chains, stars and everything between."""
    n = draw(st.integers(min_value=1, max_value=24))
    parents = [None] + [
        draw(st.integers(min_value=1, max_value=i)) for i in range(1, n)
    ]
    return parents


def _depths(parents):
    depth = {}
    for i in range(1, len(parents) + 1):
        d, j = 1, i
        while parents[j - 1] is not None:
            j = parents[j - 1]
            d += 1
        depth[i] = d
    return depth


@pytest.mark.parametrize("x", [0])  # pytest collection anchor
@given(parents=random_tree())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_closure_invariants_random_trees(spark, x, parents):
    rows = [
        (
            str(i),
            i,
            f"n{i}",
            "L",
            str(parents[i - 1]) if parents[i - 1] is not None else None,
        )
        for i in range(1, len(parents) + 1)
    ]
    dim = HierarchyDimension(
        spark.createDataFrame(rows, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    depth = _depths(parents)
    clo = dim.aggregation_dim.collect()
    assert len(clo) == sum(depth.values())
    self_pairs = [r for r in clo if r.ancestor_node_id == r.descendant_node_id]
    assert len(self_pairs) == len(parents)
    for r in clo:
        assert r.net_level == depth[int(r.descendant_node_id)] - depth[
            int(r.ancestor_node_id)
        ]
        assert r.net_level >= 0

    rep = dim.reporting_dim.collect()
    order = {int(r.node_id): r.node_sort_order for r in rep}
    assert sorted(order.values()) == list(range(1, len(parents) + 1))
    # descendants form a contiguous block right after their ancestor
    children_count = {}
    for r in clo:
        children_count.setdefault(int(r.ancestor_node_id), 0)
        children_count[int(r.ancestor_node_id)] += 1
    for r in rep:
        nid = int(r.node_id)
        block = [
            order[int(c.descendant_node_id)]
            for c in clo
            if int(c.ancestor_node_id) == nid
        ]
        assert min(block) == order[nid]
        assert max(block) - min(block) + 1 == len(block)  # contiguous


@given(parents=random_tree(), seed=st.integers(min_value=0, max_value=10**6))
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rollup_conservation_random_trees(spark, parents, seed):
    """Root total == sum of all facts landing on any node (additive
    measure conservation through the closure join)."""
    n = len(parents)
    rows = [
        (
            str(i),
            i,
            f"n{i}",
            "L",
            str(parents[i - 1]) if parents[i - 1] is not None else None,
        )
        for i in range(1, n + 1)
    ]
    dim = HierarchyDimension(
        spark.createDataFrame(rows, SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    # deterministic pseudo-random facts on node keys (some miss: key n+1)
    facts = [((seed + 7 * k) % (n + 1) + 1, float(k + 1)) for k in range(12)]
    fdf = spark.createDataFrame(facts, "k bigint, v double")
    out = hierarchical_rollup(
        fdf,
        dim.aggregation_dim,
        "k",
        [F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s")],
        group_keys=("ancestor_node_id", "ancestor_level_number"),
        sort=False,
    ).collect()
    root_total = next(
        (r.s for r in out if r.ancestor_level_number == 1), 0.0
    )
    joined_total = sum(v for k, v in facts if k <= n)
    assert root_total == pytest.approx(joined_total)


@pytest.mark.parametrize("x", [0])  # pytest collection anchor
@given(parents=random_tree(), data=st.data())
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_move_subtree_equals_rebuild_random_trees(spark, x, parents, data):
    """Reparent equivalence on RANDOM shapes: moving any non-root node
    under any target outside its own subtree must equal a rebuild of
    the edited adjacency list (chains, stars, combs — the shapes where
    the level-shift arithmetic of move_subtree_in_closure could slip)."""
    n = len(parents)
    if n < 3:
        return
    node = data.draw(st.integers(min_value=2, max_value=n), label="node")

    # subtree membership in the python model
    def in_subtree(t, root):
        j = t
        while j is not None:
            if j == root:
                return True
            j = parents[j - 1]
        return False

    candidates = [t for t in range(1, n + 1) if not in_subtree(t, node)]
    if not candidates:
        return
    target = data.draw(st.sampled_from(candidates), label="target")

    def rows(pl):
        return [
            (str(i), i, f"n{i}", "L", str(pl[i - 1]) if pl[i - 1] else None)
            for i in range(1, n + 1)
        ]

    dim = HierarchyDimension(
        spark.createDataFrame(rows(parents), SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    )
    moved = dim.move_subtree_in_closure(str(node), str(target))
    edited = list(parents)
    edited[node - 1] = target
    rebuilt = HierarchyDimension(
        spark.createDataFrame(rows(edited), SCHEMA),
        sort_key_col="node_natural_key",
        materialize=False,
    ).aggregation_dim

    def key(r):
        return (r.ancestor_node_id, r.descendant_node_id, r.net_level,
                r.ancestor_level_number, r.descendant_level_number,
                r.ancestor_is_leaf, r.descendant_is_leaf,
                r.ancestor_node_sort_order, r.descendant_node_sort_order)

    assert {key(r) for r in moved.collect()} == {
        key(r) for r in rebuilt.collect()
    }
