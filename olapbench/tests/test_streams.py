"""Seeded inputs and operation streams are deterministic."""

import itertools

import numpy as np
import pytest

import datagen
import oracle
import workloads as W
from ibis_olap_aggregation_spark.fixtures import GEO_NODES_SQL


@pytest.fixture(scope="module")
def geo_tree(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("data"))
    datagen.write_tables(datagen.make_tables(7, 0.002), d)
    rollups = oracle.RollupOracle(d)
    try:
        return oracle.Tree(rollups.nodes(GEO_NODES_SQL))
    finally:
        rollups.close()


def _rounds(name, seed, tree, n=3, tag="timed"):
    return list(itertools.islice(W.op_rounds(W.WORKLOADS[name], seed, tree, tag), n))


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_same_seed_same_stream(name, geo_tree):
    assert _rounds(name, 5, geo_tree) == _rounds(name, 5, geo_tree)
    assert _rounds(name, 5, geo_tree) != _rounds(name, 6, geo_tree)
    assert _rounds(name, 5, geo_tree) != _rounds(name, 5, geo_tree, tag="warmup")


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_every_round_runs_each_class_once(name, geo_tree):
    wl = W.WORKLOADS[name]
    class_keys = {k for _, c in wl.classes for k in c}
    classes = sorted((kind, tuple(sorted(c.items()))) for kind, c in wl.classes)
    for rnd in _rounds(name, 3, geo_tree):
        drawn = sorted((op.kind, tuple((k, v) for k, v in op.params if k in class_keys)) for op in rnd)
        assert drawn == classes


def test_coverage_ops_add_each_missing_class_once(geo_tree):
    cover = W.coverage_ops(W.WORKLOADS["dim_build"], 5, geo_tree)
    assert sorted(op.p.get("change", op.kind) for op in cover) == sorted(
        ["extend", "remove", "move", "update", "delta", "rollup"]
    )
    assert cover == W.coverage_ops(W.WORKLOADS["dim_build"], 5, geo_tree)
    assert [op.kind for op in W.coverage_ops(W.WORKLOADS["rollup_serving"], 5, geo_tree)] == ["maintain"] * 5


def test_generated_tables_are_deterministic():
    a, b = datagen.make_tables(3, 0.002), datagen.make_tables(3, 0.002)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(datagen.make_tables(4, 0.002)["orders"])
    for shape in datagen.SYNTHETIC_SHAPES:
        x = datagen.synthetic_nodes(shape, np.random.default_rng(1))
        assert x.equals(datagen.synthetic_nodes(shape, np.random.default_rng(1)))
        assert x.num_rows == datagen.SYNTHETIC_SHAPES[shape][0]


def test_synthetic_trees_have_their_shape():
    depth = {
        shape: max(oracle.Tree(datagen.synthetic_nodes(shape, np.random.default_rng(2)).to_pylist()).depth.values())
        for shape in datagen.SYNTHETIC_SHAPES
    }
    assert depth["binary"] == 14
    assert depth["chain"] == 256
    assert depth["random"] <= datagen.SYNTHETIC_SHAPES["random"][1]
