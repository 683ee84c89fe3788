"""Golden-output tests on the reference's grocery fixture.

Expected values re-derived from the reference by executing its generated
SQL on DuckDB (SURVEY.md Appendix A; reference main.py:35-55,
classes/hierarchy_dimension_table.py). Sibling order follows the
deterministic natural-key convention (SURVEY.md §7.5.1).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ibis_olap_aggregation_spark.fixtures import grocery_facts, grocery_nodes
from ibis_olap_aggregation_spark.functions.scalar import indented
from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension
from ibis_olap_aggregation_spark.rollup import hierarchical_rollup

# (node_name, level_name, level_number, sort, sum_sales, sum_qty, distinct_cust, n_facts)
GOLDEN = [
    ("All Products", "Total Products", 1, 1, 33.00, 24.0, 5, 8),
    ("Produce", "Category", 2, 2, 10.00, 16.0, 4, 5),
    ("Spinach", "UPC", 3, 3, 8.00, 14.0, 4, 4),
    ("Tomatoes", "UPC", 3, 4, 2.00, 2.0, 1, 1),
    ("Candy", "Category", 2, 5, 23.00, 8.0, 3, 3),
    ("Hershey Bar", "UPC", 3, 6, 18.00, 6.0, 2, 2),
    ("Nerds", "UPC", 3, 7, 5.00, 2.0, 1, 1),
]


def _dim(spark):
    return HierarchyDimension(grocery_nodes(spark), dimension_name="product")


def test_reporting_dim(spark):
    dim = _dim(spark)
    rep = dim.reporting_dim.orderBy("node_sort_order").collect()
    assert [r.node_name for r in rep] == [g[0] for g in GOLDEN]
    assert [r.level_number for r in rep] == [g[2] for g in GOLDEN]
    assert [r.node_sort_order for r in rep] == list(range(1, 8))
    roots = [r.node_name for r in rep if r.is_root]
    leaves = sorted(r.node_name for r in rep if r.is_leaf)
    assert roots == ["All Products"]
    assert leaves == ["Hershey Bar", "Nerds", "Spinach", "Tomatoes"]
    # flattened path columns: Spinach's root-to-self path
    spinach = next(r for r in rep if r.node_name == "Spinach")
    assert spinach.level_1_node_name == "All Products"
    assert spinach.level_2_node_name == "Produce"
    assert spinach.level_3_node_name == "Spinach"
    assert spinach.level_4_node_name is None
    assert spinach.level_1_level_number == 1
    # node_json struct carries level_number + node_sort_order (ref :141-143)
    assert spinach.node_json.level_number == 3
    assert spinach.node_json.node_natural_key == 101


def test_closure_shape(spark):
    dim = _dim(spark)
    clo = dim.aggregation_dim.collect()
    # 17 rows = 7 self-pairs + root->6 + Produce->2 + Candy->2 (Appendix A)
    assert len(clo) == 17
    assert sum(1 for r in clo if r.net_level == 0) == 7
    for r in clo:
        assert r.net_level == r.descendant_level_number - r.ancestor_level_number
        assert r.net_level >= 0
        if r.net_level == 0:
            assert r.ancestor_node_id == r.descendant_node_id
    root_desc = sorted(
        r.descendant_node_name for r in clo if r.ancestor_node_name == "All Products"
    )
    assert len(root_desc) == 7  # root reaches every node incl itself


def test_flagship_rollup_golden(spark):
    dim = _dim(spark)
    facts = grocery_facts(spark)
    agg = dim.aggregation_dim.withColumns(
        {
            "ancestor_node_name": indented("ancestor_node_name", "ancestor_level_number"),
            "ancestor_level_name": indented("ancestor_level_name", "ancestor_level_number"),
        }
    )
    out = hierarchical_rollup(
        facts,
        agg,
        "product_id",
        [
            F.sum("sales_amount").alias("sum_sales_amount"),
            F.sum("unit_quantity").alias("sum_unit_quantity"),
            F.countDistinct("customer_id").alias("distinct_customer_count"),
            F.count(F.lit(1)).alias("count_of_fact_records"),
        ],
    ).collect()
    assert len(out) == 7
    for row, g in zip(out, GOLDEN):
        name, level, lvl_num, _, s_amt, s_qty, d_cust, n = g
        pad = "-" * ((lvl_num - 1) * 7)
        assert row.ancestor_node_name == pad + name
        assert row.ancestor_level_name == pad + level
        assert abs(row.sum_sales_amount - s_amt) < 1e-9
        assert abs(row.sum_unit_quantity - s_qty) < 1e-9
        assert row.distinct_customer_count == d_cust
        assert row.count_of_fact_records == n
    # the load-bearing property: COUNT(DISTINCT) is non-additive (4+3 != 5)
    by_name = {r.ancestor_node_name.lstrip("-"): r for r in out}
    assert (
        by_name["Produce"].distinct_customer_count
        + by_name["Candy"].distinct_customer_count
        != by_name["All Products"].distinct_customer_count
    )


def test_cycle_detection(spark):
    nodes = spark.createDataFrame(
        [("a", 1, "A", "L", "b"), ("b", 2, "B", "L", "a")],
        "node_id string, node_natural_key int, node_name string, "
        "level_name string, parent_node_id string",
    )
    import pytest

    # every build NAMES the cycle, materialized or not
    for materialize in (True, False):
        with pytest.raises(ValueError, match="cycle detected.*'a', 'b'"):
            HierarchyDimension(nodes, max_depth=5, materialize=materialize)

    cyc = spark.createDataFrame(
        [("r", 0, "R", "L", None), ("a", 1, "A", "L", "b"), ("b", 2, "B", "L", "a")],
        "node_id string, node_natural_key int, node_name string, "
        "level_name string, parent_node_id string",
    )
    # a cycle unreachable from the root raises too, not a silent drop
    for materialize in (True, False):
        with pytest.raises(ValueError, match="cycle detected"):
            HierarchyDimension(cyc, max_depth=5, materialize=materialize)

    # a chain deeper than max_depth raises (the reference's CTEs would
    # only stop at DuckDB's recursion limit)
    chain = [("n0", 0, "N0", "L", None)] + [
        (f"n{i}", i, f"N{i}", "L", f"n{i - 1}") for i in range(1, 8)
    ]
    deep = spark.createDataFrame(
        chain,
        "node_id string, node_natural_key int, node_name string, "
        "level_name string, parent_node_id string",
    )
    with pytest.raises(ValueError, match="max_depth"):
        HierarchyDimension(deep, max_depth=5)
    assert HierarchyDimension(deep, max_depth=8).reporting_dim.count() == 8
