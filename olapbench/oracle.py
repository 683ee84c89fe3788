"""Reference answers computed without the engine.

Hierarchies are walked in plain Python from the adjacency list (the
edited node table, for maintenance operations); rollup measures come from
DuckDB over the same parquet files, joined to that Python closure. Results
are compared order-insensitively.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

NODE_COLS = ("node_id", "node_natural_key", "node_name", "level_name", "parent_node_id")
# closure columns checked for maintenance results; node_sort_order is left
# out because maintenance leaves it NULL (or gapped) by contract
_ATTRS = ("node_id", "node_natural_key", "node_name", "level_name", "is_root", "is_leaf", "level_number")
CLOSURE_CHECK_COLS = tuple(
    f"{side}_{c}" for side in ("ancestor", "descendant") for c in _ATTRS
) + ("net_level",)


class Mismatch(AssertionError):
    """An engine result that differs from the reference answer."""


class Tree:
    """An adjacency list with each node's depth, leaf flag and root path."""

    def __init__(self, nodes: list[dict]):
        self.nodes = {n["node_id"]: n for n in nodes}
        self.children: dict[str, list[str]] = {}
        for n in nodes:
            if n["parent_node_id"] is not None:
                self.children.setdefault(n["parent_node_id"], []).append(n["node_id"])
        self.depth: dict[str, int] = {}
        for nid in self.nodes:
            chain, x = [], nid
            while x is not None and x not in self.depth:
                chain.append(x)
                if len(chain) > len(self.nodes):
                    raise ValueError("cycle in parent_node_id")
                x = self.nodes[x]["parent_node_id"]
                if x is not None and x not in self.nodes:
                    raise ValueError(f"orphan node {chain[-1]!r}")
            d = 0 if x is None else self.depth[x]
            for c in reversed(chain):
                d += 1
                self.depth[c] = d

    def path(self, nid: str) -> list[str]:
        out = []
        while nid is not None:
            out.append(nid)
            nid = self.nodes[nid]["parent_node_id"]
        return out[::-1]

    def subtree(self, nid: str) -> list[str]:
        out, stack = [], [nid]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(self.children.get(x, ()))
        return out

    def attrs(self, nid: str) -> tuple:
        n = self.nodes[nid]
        return (
            nid,
            n["node_natural_key"],
            n["node_name"],
            n["level_name"],
            n["parent_node_id"] is None,
            nid not in self.children,
            self.depth[nid],
        )

    def closure_rows(self) -> list[tuple]:
        """Sorted closure rows in CLOSURE_CHECK_COLS order."""
        rows = []
        for d in self.nodes:
            d_attrs = self.attrs(d)
            for a in self.path(d):
                rows.append(self.attrs(a) + d_attrs + (self.depth[d] - self.depth[a],))
        rows.sort(key=_sort_key)
        return rows

    def closure_size(self) -> int:
        return sum(self.depth.values())

    def edited(self, *, add=(), drop=(), parent=None, rename=None) -> "Tree":
        """A copy with nodes added, subtrees dropped, one node re-parented
        (``parent=(node_id, new_parent_id)``) or names replaced."""
        gone = {x for nid in drop for x in self.subtree(nid)}
        nodes = [dict(n) for nid, n in self.nodes.items() if nid not in gone]
        for n in nodes:
            if parent and n["node_id"] == parent[0]:
                n["parent_node_id"] = parent[1]
            if rename and n["node_id"] in rename:
                n["node_name"] = rename[n["node_id"]]
        return Tree(nodes + [dict(n) for n in add])


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, v) for v in row)


def table_rows(tbl: pa.Table, cols) -> list[tuple]:
    return list(zip(*(tbl.column(c).to_pylist() for c in cols)))


def check_closure(result: pa.Table, expected: list[tuple]) -> None:
    got = table_rows(result, CLOSURE_CHECK_COLS)
    got.sort(key=_sort_key)
    if len(got) != len(expected):
        raise Mismatch(f"closure has {len(got)} rows, expected {len(expected)}")
    if got != expected:
        bad = next(i for i, (g, e) in enumerate(zip(got, expected)) if g != e)
        raise Mismatch(f"closure row differs: {got[bad]} != {expected[bad]}")


def check_reporting(rows: pa.Table, tree: Tree) -> dict[int, str]:
    """Check a fetched reporting dim (node_id, parent_node_id,
    level_number, node_sort_order) against the tree: same nodes, same
    depths, and a sort order that is dense 1..N and a depth-first
    preorder. Returns sort order -> node id."""
    ids = rows.column("node_id").to_pylist()
    if len(ids) != len(tree.nodes) or set(ids) != set(tree.nodes):
        raise Mismatch(f"reporting dim has {len(ids)} nodes, expected {len(tree.nodes)}")
    for nid, lvl in zip(ids, rows.column("level_number").to_pylist()):
        if lvl != tree.depth[nid]:
            raise Mismatch(f"node {nid!r} at level {lvl}, expected {tree.depth[nid]}")
    by_order = dict(zip(rows.column("node_sort_order").to_pylist(), ids))
    if sorted(by_order) != list(range(1, len(ids) + 1)):
        raise Mismatch("node_sort_order is not dense 1..N")
    stack: list[str] = []
    for k in range(1, len(ids) + 1):
        nid = by_order[k]
        parent = tree.nodes[nid]["parent_node_id"]
        while stack and stack[-1] != parent:
            stack.pop()
        if parent is not None and not stack:
            raise Mismatch(f"node_sort_order is not depth-first at {nid!r}")
        stack.append(nid)
    return by_order


# -- DuckDB rollups -----------------------------------------------------------


class RollupOracle:
    """DuckDB over the benchmark's parquet files plus registered closures
    (ancestor_node_id, descendant_node_natural_key)."""

    def __init__(self, data_dir: str, tables=("orders", "lineitem", "region", "nation", "customer", "part")):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def nodes(self, sql: str) -> list[dict]:
        return self.con.execute(sql).fetch_arrow_table().to_pylist()

    def register_closure(self, name: str, tree: Tree) -> None:
        anc, key = [], []
        for d, n in tree.nodes.items():
            if n["node_natural_key"] is None:
                continue
            for a in tree.path(d):
                anc.append(a)
                key.append(n["node_natural_key"])
        self.con.register(
            name,
            pa.table({"ancestor_node_id": anc, "descendant_node_natural_key": pa.array(key, pa.int64())}),
        )

    def rollup(self, closure: str, fact: str, key: str, measures: str, where: str = "TRUE") -> dict:
        """node id -> tuple of measures, for nodes with at least one fact."""
        rows = self.con.execute(
            f"SELECT c.ancestor_node_id, {measures} FROM {fact} f "
            f"JOIN {closure} c ON f.{key} = c.descendant_node_natural_key "
            f"WHERE {where} GROUP BY 1"
        ).fetchall()
        return {r[0]: tuple(r[1:]) for r in rows}

    def close(self) -> None:
        self.con.close()


def check_rollup(result: pa.Table, by_order: dict[int, str], measures: list[str], expected: dict, rel_tol: float = 0.0) -> None:
    """Compare an engine rollup (keyed by ancestor_node_sort_order) with
    the oracle's per-node measures. ``rel_tol`` > 0 allows estimates
    (HLL) within that relative error plus one."""
    orders = result.column("ancestor_node_sort_order").to_pylist()
    got = {by_order.get(o): vals for o, vals in zip(orders, table_rows(result, measures))}
    if len(got) != len(orders) or None in got:
        raise Mismatch("rollup rows do not map one-to-one onto hierarchy nodes")
    if got.keys() != expected.keys():
        raise Mismatch(f"rollup covers {len(got)} nodes, expected {len(expected)}")
    for nid, vals in got.items():
        exp = expected[nid]
        if rel_tol:
            ok = all(abs(g - e) <= rel_tol * e + 1 for g, e in zip(vals, exp))
        else:
            ok = vals == exp
        if not ok:
            raise Mismatch(f"node {nid!r}: {vals} != {exp}")
