"""Optimization-round-14 focused tests: internals changed for speed must
keep their outputs bit-identical to the unoptimized paths."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ibis_olap_aggregation_spark.operators.ranking import global_row_number

SF = "/root/testdata/sf0.001"


def test_bucket_ranker_matches_sampled_ranker(spark):
    """The deterministic-bucket fast path (layout file-skipping ops) must
    produce exactly the ranks of the sampled-range path on a total
    order, including a skewed/clustered key distribution."""
    df = spark.range(0, 7001).select(
        (F.col("id") % 97).alias("k"),  # clustered leading key
        ((F.col("id") * 37) % 7001).alias("t"),  # unique tiebreak
    )
    sampled = global_row_number(df, ["k", "t"], "rk").orderBy("k", "t")
    bucketed = global_row_number(
        df,
        ["k", "t"],
        "rk",
        bucket=(F.expr("(k * 16) DIV 97"), 16),
    ).orderBy("k", "t")
    a = [(r["k"], r["t"], r["rk"]) for r in sampled.collect()]
    b = [(r["k"], r["t"], r["rk"]) for r in bucketed.collect()]
    assert a == b
    ranks = sorted(r[2] for r in b)
    assert ranks == list(range(1, 7002))  # dense 1-based permutation


def test_bucket_ranker_rejects_overflowing_bucket_expr(spark):
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="not a valid coarse bucketing"):
        global_row_number(df, ["k"], "rk", bucket=(F.col("k"), 10)).collect()


def _messy_nodes(spark):
    """Small forest with every walk edge case: multiple roots, null and
    non-null sort keys, an orphan subtree (missing parent), uneven
    depths, and sibling ties broken by node_id."""
    rows = [
        # node_id, node_natural_key, node_name, parent_node_id
        ("r2", 20, "root-two", None),
        ("r1", 10, "root-one", None),
        ("a", 2, "alpha", "r1"),
        ("b", 1, "beta", "r1"),
        ("c", None, "gamma-nullkey", "r1"),
        ("a1", 5, "alpha-kid", "a"),
        ("a2", 4, "alpha-kid2", "a"),
        ("a2x", 9, "grandkid", "a2"),
        ("z", 7, "under-root-two", "r2"),
        ("orph", 99, "orphan-child", "missing-parent"),
    ]
    return spark.createDataFrame(
        rows, "node_id string, node_natural_key long, node_name string, parent_node_id string"
    )


def test_local_walk_matches_doubling_walk(spark, monkeypatch):
    """The driver-local walk must give exactly the doubling walk's
    reporting dim — attributes, level numbers, dense DFS sort order, the
    node_json struct and every flattened level column — and the same
    closure, on a forest exercising null sort keys, orphans, multi-root
    ordering, and sibling ties."""
    from ibis_olap_aggregation_spark.hierarchy import HierarchyDimension

    nodes = _messy_nodes(spark)
    local = HierarchyDimension(nodes, dimension_name="m", flatten_levels=3)
    # force the doubling walk: no node table is small enough to fetch
    monkeypatch.setattr(HierarchyDimension, "_LOCAL_WALK_LIMIT", 0)
    doubling = HierarchyDimension(nodes, dimension_name="m", flatten_levels=3)
    assert local._compact is not None and doubling._compact is None

    def rows(d):
        levels = [c for c in d.reporting_dim.columns if re.match(r"level_\d+_", c)]
        out = d.reporting_dim.select(
            "node_id", "node_name", "level_number", "node_sort_order",
            F.to_json("node_json").alias("json"), *levels,
        ).collect()
        return sorted(tuple(r) for r in out)

    a, b = rows(local), rows(doubling)
    assert a == b
    # orphan dropped, other 9 nodes walked, dense 1-based DFS ranks
    assert len(a) == 9
    assert sorted(r[3] for r in a) == list(range(1, 10))

    def closure(d):
        return sorted(
            tuple(r) for r in d.aggregation_dim.select(
                "ancestor_node_id", "descendant_node_id", "net_level",
                "ancestor_node_sort_order", "descendant_node_sort_order",
            ).collect()
        )

    assert closure(local) == closure(doubling)


def test_map_side_ranker_matches_window_ranker(spark):
    """The r14 map-side IVF ranker (per-row array_sort comparator +
    posexplode) must reproduce the old crossJoin + row_number window
    ordering exactly — cosines, labels AND ranks — and element 1 of the
    per-row `_ranked` structs (the assignment kmeans/semantic-dedup read
    off their own row) must equal the ranked view's rk=1 row."""
    from pyspark.sql import Window

    from ibis_olap_aggregation_spark.operators.similarity import (
        _DOT,
        _NORM,
        _ivf_centroids,
        _ivf_exploded,
        _ivf_ranked_structs,
        _ivf_score_rank_array,
        centroid_arrays,
    )
    from ibis_olap_aggregation_spark.session import load_table

    e = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    cent = _ivf_centroids(_ivf_exploded(e))

    # the old window shape, reconstructed as the independent witness
    cent_arr = centroid_arrays(cent).withColumn(
        "_cnorm", F.expr(_NORM.format(a="cvec"))
    )
    ev = e.withColumn("_vnorm", F.expr(_NORM.format(a="v")))
    scored = ev.crossJoin(F.broadcast(cent_arr)).withColumn(
        "dot", F.expr(_DOT.format(a="v", b="cvec"))
    )
    cos = F.round(F.col("dot") / (F.col("_vnorm") * F.col("_cnorm")), 6)
    w = Window.partitionBy("vec_id").orderBy(cos.desc(), "c_label")
    old = (
        scored.withColumn("cosine", cos)
        .withColumn("rk", F.row_number().over(w))
        .select("vec_id", "label", "c_label", "cosine", "rk")
    )

    new = _ivf_score_rank_array(e, cent)
    a = sorted(tuple(r) for r in old.collect())
    b = sorted(tuple(r) for r in new.collect())
    assert a == b and len(a) > 0

    # per-row assignment == ranked rk=1
    assigned = sorted(
        (r["vec_id"], r["cl"])
        for r in _ivf_ranked_structs(e, cent)
        .select("vec_id", F.element_at("_ranked", 1)["c_label"].alias("cl"))
        .collect()
    )
    rk1 = sorted(
        (r["vec_id"], r["c_label"])
        for r in new.filter("rk = 1").collect()
    )
    assert assigned == rk1
