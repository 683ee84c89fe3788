"""Result checks: correct results pass, corrupted ones are counted failed."""

from types import SimpleNamespace

import pyarrow as pa
import pytest

import oracle
import run
import workloads as W
from tracing import Tracer

NODES = [
    ("n0", None, "All Products", "Total", None),
    ("n10", None, "Produce", "Category", "n0"),
    ("n101", 101, "Spinach", "UPC", "n10"),
    ("n102", 102, "Tomatoes", "UPC", "n10"),
    ("n20", None, "Candy", "Category", "n0"),
    ("n201", 201, "Hershey Bar", "UPC", "n20"),
]


@pytest.fixture
def tree():
    return oracle.Tree([dict(zip(oracle.NODE_COLS, n)) for n in NODES])


def _closure_table(rows):
    cols = list(zip(*rows))
    return pa.table({c: list(v) for c, v in zip(oracle.CLOSURE_CHECK_COLS, cols)})


def _reporting(orders: dict, tree):
    ids = list(orders)
    return pa.table(
        {
            "node_id": ids,
            "parent_node_id": [tree.nodes[i]["parent_node_id"] for i in ids],
            "level_number": [tree.depth[i] for i in ids],
            "node_sort_order": [orders[i] for i in ids],
        }
    )


PREORDER = {"n0": 1, "n10": 2, "n101": 3, "n102": 4, "n20": 5, "n201": 6}


def test_closure_rows_and_size(tree):
    rows = tree.closure_rows()
    assert len(rows) == tree.closure_size() == 1 + 2 * 2 + 3 * 3
    # the leaf n201's ancestors, net levels 2, 1, 0
    assert sorted(r[-1] for r in rows if r[7] == "n201") == [0, 1, 2]


def test_closure_check_catches_corruption(tree):
    rows = tree.closure_rows()
    oracle.check_closure(_closure_table(list(reversed(rows))), rows)  # order-insensitive
    bad = list(rows)
    bad[3] = bad[3][:-1] + (bad[3][-1] + 1,)
    with pytest.raises(oracle.Mismatch):
        oracle.check_closure(_closure_table(bad), rows)
    with pytest.raises(oracle.Mismatch):
        oracle.check_closure(_closure_table(rows[1:]), rows)


def test_edits_match_a_rebuild(tree):
    moved = tree.edited(parent=("n101", "n20"))
    assert moved.nodes["n101"]["parent_node_id"] == "n20"
    assert "n101" in moved.children["n20"]
    assert moved.edited(parent=("n101", "n10")).closure_rows() == tree.closure_rows()
    assert set(tree.edited(drop=["n10"]).nodes) == {"n0", "n20", "n201"}
    assert tree.edited(rename={"n20": "Sweets"}).nodes["n20"]["node_name"] == "Sweets"


def test_reporting_check_wants_dense_depth_first_order(tree):
    assert oracle.check_reporting(_reporting(PREORDER, tree), tree)[3] == "n101"
    swapped = dict(PREORDER, n101=5, n20=3)  # n20 between n10's children
    with pytest.raises(oracle.Mismatch):
        oracle.check_reporting(_reporting(swapped, tree), tree)
    with pytest.raises(oracle.Mismatch):
        oracle.check_reporting(_reporting(dict(PREORDER, n201=7), tree), tree)


def test_rollup_check_catches_wrong_measures():
    by_order = {1: "n0", 2: "n10", 3: "n101"}
    expected = {"n0": (10.5, 3), "n10": (7.5, 2), "n101": (7.5, 2)}

    def result(vals):
        return pa.table(
            {
                "ancestor_node_sort_order": [1, 2, 3],
                "sum_price": [v[0] for v in vals],
                "n_facts": [v[1] for v in vals],
            }
        )

    oracle.check_rollup(result(list(expected.values())), by_order, ["sum_price", "n_facts"], expected)
    with pytest.raises(oracle.Mismatch):
        oracle.check_rollup(result([(10.5, 3), (7.5, 2), (7.51, 2)]), by_order, ["sum_price", "n_facts"], expected)
    approx = {"n0": (1000,), "n10": (500,), "n101": (2,)}
    est = pa.table({"ancestor_node_sort_order": [1, 2, 3], "n_distinct": [1040, 490, 3]})
    oracle.check_rollup(est, by_order, ["n_distinct"], approx, rel_tol=0.08)
    with pytest.raises(oracle.Mismatch):
        oracle.check_rollup(est, by_order, ["n_distinct"], approx, rel_tol=0.01)


def test_runner_counts_corrupted_and_raising_operations_as_failed(tree, monkeypatch):
    expected = tree.closure_rows()

    class FakeKind:
        @staticmethod
        def prepare(ctx, op):
            return None

        @staticmethod
        def run(ctx, op, inputs, counters):
            mode = op.p["mode"]
            if mode == "raise":
                raise RuntimeError("engine error")
            rows = list(expected)
            if mode == "corrupt":
                rows[0] = ("n999",) + rows[0][1:]
            return _closure_table(rows)

        @staticmethod
        def check(ctx, op, inputs, result):
            oracle.check_closure(result, expected)

    monkeypatch.setitem(W.KINDS, "fake", FakeKind)
    runner = run.Runner(SimpleNamespace(tracer=Tracer(enabled=False), spark=None), jvm=None)
    for i, mode in enumerate(("good", "corrupt", "raise")):
        runner.execute(W.Op("fake", (("mode", mode),)), f"t{i}")
    assert [r.ok for r in runner.records] == [True, False, False]
    assert "Mismatch" in runner.records[1].error
    assert all(r.latency > 0 for r in runner.records)
